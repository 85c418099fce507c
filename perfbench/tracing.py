"""Tracing for the traced run (``--trace 1``).

Two sources, neither of which changes program code:

- **Spans** from this benchmark's own files: :class:`Tracer` wraps the
  public layer functions that ``plans.wave`` calls (looked up through
  that module's globals and the classes it instantiates) and
  ``TableIO.commit_wave``. A span records name, start, end, parent and
  the op (wave or batch) it belongs to. Layer functions build
  lazy plans, so their spans measure driver-side plan construction;
  executor work is read from the event log.
- **Spark's event log**, enabled as plain uncompressed single-file JSON
  and parsed by :func:`parse_event_log` with stdlib ``json``. Plan
  nodes are mapped to layers by operator and Python-function name; SQL
  metric updates from task ends and driver updates are summed once per
  accumulator. Only executions and jobs started inside the measured
  intervals count.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``on_call(args,
        kwargs, result)`` may record what the call saw."""
        orig = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out)
            return out

        setattr(owner, attr, spanned)
        self._restore.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def totals(self) -> dict[str, float]:
        """Self time per span name (duration minus covered child time)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


def wrap_wave_layers(tracer: Tracer, hooks: dict) -> None:
    """Span every layer entry point ``plans.wave`` calls in the
    benchmark's configuration; ``hooks`` maps an entry point's name to an
    ``on_call`` recorder."""
    import crawlers_spark.plans.wave as wave
    from crawlers_spark.operators.dedup import BloomShards
    from crawlers_spark.sources.tables import SnapshotParquetIO

    for attr, layer in (
        ("apply_politeness", "politeness"),
        ("with_salt", "frontier"),
        ("select_wave_topk", "frontier"),
        ("robots_flag", "robots"),
        ("fetch_split", "fetch"),
        ("extract_page_outputs", "extract"),
        ("with_canonical_url", "canonicalize"),
    ):
        tracer.wrap(wave, attr, f"{layer}.{attr}", hooks.get(attr))
    tracer.wrap(BloomShards, "filter_unseen", "dedup.filter_unseen")
    tracer.wrap(BloomShards, "update", "dedup.update")
    tracer.wrap(SnapshotParquetIO, "stage", "tables.stage")
    tracer.wrap(SnapshotParquetIO, "commit_wave", "tables.commit_wave", hooks.get("commit_wave"))


def event_log_file(log_dir: Path) -> Path | None:
    files = [p for p in log_dir.iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
    return files[0] if len(files) == 1 else None


# --------------------------------------------------------------- parsing

_SQL_START = "SparkListenerSQLExecutionStart"
_SQL_AQE = "SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACC = "SparkListenerDriverAccumUpdates"
_WANTED = (_SQL_START, _SQL_AQE, _DRIVER_ACC, '"SparkListenerJobStart"', '"SparkListenerTaskEnd"')

# Python-function name → layer, for the Python-boundary operators
_PY_LAYERS = (
    ("MapInPandas", "gate(", "robots"),
    ("MapInPandas", "_both(", "extract"),
    ("FlatMapCoGroupsInPandas", "probe(", "dedup"),
    ("FlatMapGroupsInPandas", "make(", "dedup_update"),
    ("FlatMapGroupsInPandas", "orify(", "dedup_update"),
    ("ArrowEvalPython", "canonicalize_udf(", "canonicalize"),
)
_PY_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "bytes_to_python",
    "number of output rows": "rows",
}


def _scale(metric_type: str) -> float:
    return {"timing": 1e-3, "nsTiming": 1e-9}.get(metric_type, 1.0)


def _metric(node: dict, name: str) -> dict | None:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return m
    return None


def _subtree(node: dict, stop=lambda n: False):
    for c in node.get("children", []):
        yield c
        if not stop(c):
            yield from _subtree(c, stop)


def _reads_pages_index(node: dict) -> bool:
    return any(
        n["nodeName"].startswith("Scan") and "pages_index" in n["simpleString"]
        for n in _subtree(node, lambda n: n["nodeName"].endswith("Join"))
    )


class _PlanIndex:
    """accumulator id → (layer key, scale) for every metric a layer uses."""

    def __init__(self):
        self.acc: dict[int, tuple[str, float]] = {}

    def add(self, node: dict, key: str, metric_name: str) -> None:
        m = _metric(node, metric_name)
        if m is not None:
            self.acc[m["accumulatorId"]] = (key, _scale(m["metricType"]))

    def walk(self, node: dict, codegen: dict | None = None) -> None:
        name, simple = node["nodeName"], node["simpleString"]
        if name.startswith("WholeStageCodegen"):
            codegen = node
        for op, fn, layer in _PY_LAYERS:
            if name == op and fn in simple:
                for metric, suffix in _PY_METRICS.items():
                    self.add(node, f"{layer}.{suffix}", metric)
        if name.endswith("Join") and _reads_pages_index(node):
            if "LeftAnti" in simple:
                self.add(node, "fetch.misses", "number of output rows")
            elif "Inner" in simple:
                self.add(node, "fetch.hits", "number of output rows")
                if codegen is not None:
                    self.add(codegen, "fetch.exec_s", "duration")
                for ex in _subtree(node, lambda n: n["nodeName"] in ("Exchange", "BroadcastExchange")
                                   or n["nodeName"].endswith("Join")):
                    if ex["nodeName"] == "Exchange":
                        self.add(ex, "fetch.shuffle_bytes", "shuffle bytes written")
        if name == "FlatMapCoGroupsInPandas" and "probe(" in simple:
            for ex in _subtree(node, lambda n: n["nodeName"] == "Exchange"):
                if ex["nodeName"] == "Exchange":
                    self.add(ex, "dedup.shuffle_bytes", "shuffle bytes written")
        if name == "Window":
            # the stage sorting each per-host rank window (shuffle read +
            # sort): the executor side of the salted top-k
            for c in node.get("children", []):
                if c["nodeName"].startswith("WholeStageCodegen"):
                    self.add(c, "frontier.exec_s", "duration")
        for c in node.get("children", []):
            # an InputAdapter's children run outside this codegen stage
            self.walk(c, None if name == "InputAdapter" else codegen)


def parse_event_log(path: Path, intervals: list[tuple[int, int]]) -> dict[str, float]:
    """Layer totals over the executions/jobs that started inside
    ``intervals`` (epoch-ms pairs), plus ``jobs`` and ``tasks``."""

    def inside(t: int) -> bool:
        return any(a <= t <= b for a, b in intervals)

    index = _PlanIndex()
    execs: set[int] = set()
    stages: set[int] = set()
    jobs = tasks = 0
    acc_sum: dict[int, float] = defaultdict(float)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            head = line[:120]
            if not any(w in head for w in _WANTED):
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith(_SQL_START):
                if inside(e["time"]):
                    execs.add(e["executionId"])
                    index.walk(e["sparkPlanInfo"])
            elif ev.endswith(_SQL_AQE):
                if e["executionId"] in execs:
                    index.walk(e["sparkPlanInfo"])
            elif ev.endswith(_DRIVER_ACC):
                for acc_id, value in e["accumUpdates"]:
                    acc_sum[acc_id] += value
            elif ev == "SparkListenerJobStart":
                if inside(e["Submission Time"]):
                    jobs += 1
                    stages.update(e["Stage IDs"])
            elif ev == "SparkListenerTaskEnd":
                if e["Stage ID"] in stages:
                    tasks += 1
                for a in e["Task Info"].get("Accumulables", []):
                    # SQL metric updates are logged as decimal strings
                    try:
                        acc_sum[a["ID"]] += float(a.get("Update"))
                    except (TypeError, ValueError):
                        pass
    out: dict[str, float] = defaultdict(float)
    for acc_id, (key, scale) in index.acc.items():
        out[key] += acc_sum.get(acc_id, 0.0) * scale
    out["jobs"] = jobs
    out["tasks"] = tasks
    return dict(out)
