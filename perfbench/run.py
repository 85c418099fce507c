"""Crawl benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload <crawl_paced|seen_dedup>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine runs on ``local[nproc]``
with pinned shuffle partitions, driver memory and local dirs (see
``common``). A run sets up (session start, seeded inputs, one warm op),
then repeats the workload's op (a wave or a batch) while the next one
should end inside ``--seconds``, checks every output, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of BENCHMARK.json untraced, the
per-layer metrics with ``--trace 1``. The line before it is a JSON
report: run environment, per-op timings, exact funnel counts, and with
tracing each layer metric next to the end-to-end metric it should move
and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import platform
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import (  # noqa: E402
    DRIVER_MEMORY, ROOT, SHUFFLE_PARTITIONS, WORK, Clock, Session, cores, fresh_dir, median,
    program_present,
)

WORKLOADS = ("crawl_paced", "seen_dedup")

# per-layer metric → (workload that exercises it, end-to-end metric it
# should move there). On the other workloads it should not move.
LAYER_MAP = {
    "wave.plan_build_s": ("crawl_paced", "op_s_p50"),
    "wave.stage_wave_out_s": ("crawl_paced", "op_s_p50"),
    "wave.followup_s": ("crawl_paced", "op_s_p50"),
    "wave.stage_frontier_filter_s": ("crawl_paced", "op_s_p50"),
    "wave.spark_jobs": ("crawl_paced", "op_s_p50"),
    "wave.tasks": ("crawl_paced", "op_s_p50"),
    "tables.commit_s": ("crawl_paced", "op_s_p50"),
    "tables.staged_files": ("crawl_paced", "op_s_p50"),
    "tables.staged_bytes": ("crawl_paced", "op_s_p50"),
    "frontier.exec_s": ("crawl_paced", "op_s_p50"),
    "robots.python_s": ("crawl_paced", "op_s_p50"),
    "fetch.hits": ("crawl_paced", "urls_per_s"),
    "fetch.misses": ("crawl_paced", "urls_per_s"),
    "fetch.shuffle_bytes": ("crawl_paced", "urls_per_s"),
    "fetch.exec_s": ("crawl_paced", "urls_per_s"),
    "extract.python_s": ("crawl_paced", "urls_per_s"),
    "extract.bytes_to_python": ("crawl_paced", "urls_per_s"),
    "extract.offers": ("crawl_paced", "urls_per_s"),
    "extract.links": ("crawl_paced", "urls_per_s"),
    "dedup.probe_s": ("seen_dedup", "urls_per_s"),
    "dedup.maybe_seen": ("seen_dedup", "urls_per_s"),
    "dedup.prefilter_pass_ratio": ("seen_dedup", "urls_per_s"),
    "dedup.python_s": ("seen_dedup", "urls_per_s"),
    "dedup.bytes_to_python": ("seen_dedup", "urls_per_s"),
    "dedup.shuffle_bytes": ("seen_dedup", "urls_per_s"),
    "dedup.update_s": ("seen_dedup", "dedup.insert_urls_per_s"),
    "dedup.insert_urls_per_s": ("seen_dedup", "dedup.insert_urls_per_s"),
    "canonicalize.python_s": ("seen_dedup", "urls_per_s"),
    "canonicalize.bytes_to_python": ("seen_dedup", "urls_per_s"),
    "session.peak_rss_mb": ("every workload", "setup_s"),
}

# event-log totals reported per op (wave or batch)
_PER_OP = {
    "wave.spark_jobs": "jobs",
    "wave.tasks": "tasks",
    "frontier.exec_s": "frontier.exec_s",
    "robots.python_s": "robots.python_s",
    "fetch.hits": "fetch.hits",
    "fetch.misses": "fetch.misses",
    "fetch.shuffle_bytes": "fetch.shuffle_bytes",
    "fetch.exec_s": "fetch.exec_s",
    "extract.python_s": "extract.python_s",
    "extract.bytes_to_python": "extract.bytes_to_python",
    "dedup.python_s": "dedup.python_s",
    "dedup.bytes_to_python": "dedup.bytes_to_python",
    "dedup.shuffle_bytes": "dedup.shuffle_bytes",
    "canonicalize.python_s": "canonicalize.python_s",
    "canonicalize.bytes_to_python": "canonicalize.bytes_to_python",
}

MAX_CONSECUTIVE_FAILURES = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _cpu_ceiling() -> dict:
    """Same-day hardware ceiling from scripts/bench_cpuburn.py (no Spark):
    1 → nproc process scaling of the extraction instruction mix."""
    from scripts.bench_cpuburn import run_level

    n = cores()
    one, many = run_level(32, 1), run_level(32, n)
    return {"procs": [1, n], "tasks_per_sec": [one["tasks_per_sec"], many["tasks_per_sec"]],
            f"ceiling_1to{n}": round(many["tasks_per_sec"] / one["tasks_per_sec"] / n, 3)}


def _load_workload(name: str):
    import importlib

    return importlib.import_module(name).Workload


def run(args) -> int:
    sys.path.insert(0, str(ROOT))
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    work = fresh_dir(WORK / args.workload)
    report: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            "master": f"local[{cores()}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_memory": DRIVER_MEMORY, "spark_local_dirs": str(work / "spark-local"),
            "python": platform.python_version(),
        },
    }
    if args.trace:
        # before the JVM starts: the calibration forks worker processes
        report["env"]["cpuburn"] = _cpu_ceiling()

    Workload = _load_workload(args.workload)
    clock = Clock()
    tracer = None
    session = Session(work, event_log_dir=fresh_dir(work / "eventlog") if args.trace else None)
    try:
        wl = Workload(work, args.seed, clock)
        wl.prepare()  # seed-independent fixture generation, cached like a build
        t0 = time.perf_counter()
        wl.spark = session.start()
        import pyspark

        report["env"]["pyspark"] = pyspark.__version__
        session_s = time.perf_counter() - t0
        if args.trace:
            from tracing import Tracer, wrap_wave_layers

            tracer = wl.tracer = Tracer()
            wrap_wave_layers(tracer, wl.trace_hooks() if hasattr(wl, "trace_hooks") else {})
        # one set-up per run: its cost is mostly one-time (JVM start, JIT,
        # Python worker start), which a repeat inside the process would skip
        t0 = time.perf_counter()
        wl.setup()
        input_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + input_s + warm_s
        report["setup"] = {"session_s": session_s, "input_s": input_s, "warm_s": warm_s}

        # closed loop, one client: the next op starts when the last is
        # done, if it should also end inside the window (at least one op)
        failed_ops = streak = i = 0
        t_start = time.perf_counter()
        took: list[float] = []
        while streak < MAX_CONSECUTIVE_FAILURES:
            if took and time.perf_counter() - t_start + median(took) > args.seconds:
                break
            if tracer is not None:
                tracer.op = i
            t0 = time.perf_counter()
            try:
                wl.op(i)
                streak = 0
            except Exception:
                traceback.print_exc()
                failed_ops += 1
                streak += 1
            took.append(time.perf_counter() - t0)
            i += 1
        if args.trace and hasattr(wl, "trace_counts"):
            wl.trace_counts()
        checks, failed_checks = wl.check()
        if not wl.ops:
            print("no op completed", file=sys.stderr)
            return 1
        e2e = {**wl.end_to_end(), "setup_s": setup_s}
        attempted = i + checks
        failed = failed_ops + failed_checks
        report.update({
            "ops": wl.ops, "funnel": wl.funnel, "end_to_end": e2e,
            "ops_failed_ratio": failed / attempted,
        })
        if args.trace:
            metrics, ev = _layer_metrics(wl, work, clock, session)
            tracer.dump(work / "spans.json")
            report["layers"] = {
                k: {"value": v, "unit": units[k], "workload": LAYER_MAP[k][0], "moves": LAYER_MAP[k][1]}
                for k, v in metrics.items()
            }
            report["span_self_s"] = tracer.totals()
            report["event_log_totals"] = ev
            report["tracing_overhead"] = _overhead(args.workload, e2e, wl.ops)
        else:
            metrics = e2e
            (WORK / f"{args.workload}.untraced.json").write_text(
                json.dumps({"end_to_end": e2e, "ops": wl.ops}))
    finally:
        if tracer is not None:
            tracer.unwrap()
        session.close()

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in names},
    }))
    return 0


def _layer_metrics(wl, work: Path, clock: Clock, session: Session) -> tuple[dict, dict]:
    from tracing import event_log_file, parse_event_log

    n = len(wl.ops)
    out = {k: 0.0 for k in LAYER_MAP}
    out["session.peak_rss_mb"] = session.peak_rss_mb()
    # the context must stop for the event log to be complete
    session.close()
    log = event_log_file(work / "eventlog")
    ev = parse_event_log(log, clock.intervals) if log is not None else {}
    for k, src in _PER_OP.items():
        out[k] = ev.get(src, 0.0) / n
    out.update(wl.layer_metrics())
    return out, ev


def _overhead(workload: str, traced: dict, ops: list[dict]) -> dict:
    """Traced against the last untraced run of the same workload in this
    checkout: end-to-end metrics side by side, and the median per-op
    time ratio over the ops both runs measured (same op index)."""
    p = WORK / f"{workload}.untraced.json"
    if not p.exists():
        return {"untraced": None, "note": "run with --trace 0 first"}
    untraced = json.loads(p.read_text())
    before = {o["op"]: o["s"] for o in untraced["ops"]}
    ratios = [o["s"] / before[o["op"]] for o in ops if o["op"] in before]
    return {
        "end_to_end": {k: {"traced": v, "untraced": untraced["end_to_end"][k]}
                       for k, v in traced.items()},
        "op_time_ratio_p50": median(ratios) if ratios else None,
        "ops_compared": len(ratios),
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not program_present():
        print("perfbench: crawlers_spark/ and fixtures/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
