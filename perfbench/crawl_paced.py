"""``crawl_paced``: the serial wave loop, ``CrawlEngine.run``, on the
synthetic web, one wave at a time with one client (closed loop).

A wave fetches 0 to ~150 rows but costs seconds: the cost is the driver
barrier and fixed per-job cost, not operator compute. Set-up bootstraps
the crawl and runs wave 1, then keeps a copy of the committed state.
Each op resumes a new engine on a fresh copy of it and runs wave 2 (150
selected, 143 fetched, 139 offers; the first wave to probe the seen-set
filter): the same wave every time, so ops are alike whatever number of
them fits in the window. Resuming from committed state is the engine's
kill/resume path, which must reproduce the wave exactly. The committed
state of every op is checked after the timed loop.
"""

from __future__ import annotations

import json
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from common import WORK, fresh_dir, median
from crawlers_spark.plans.wave import CrawlConfig, CrawlEngine
from fixtures.gen_pages import ensure_fixture

FIXTURE_PAGES = 300
# as in scripts/run_crawl.py
HOT_HOSTS = {"src0.example": 4, "src1.example": 4}
TIMED_WAVE = 2
# compared byte for byte against the oracle rows (and source ↔ src_source)
OFFER_FIELDS = ("title", "company", "location", "salary",
                "description", "publication_ts", "extracted_text")


class Workload:
    def __init__(self, work: Path, seed: int, clock):
        self.work, self.seed, self.clock = work, seed, clock
        self.spark = self.tracer = None
        self.ops: list[dict] = []
        self.funnel: list[dict] = []
        self.engines: list[CrawlEngine] = []
        # traced runs: frames the current wave planned, per-op frames
        # for the funnel, and what each commit published
        self._frames: dict = {}
        self._pending: list = []
        self._commits: dict[int, dict] = {}

    # ------------------------------------------------------------ setup
    def prepare(self) -> None:
        """The generated synthetic web, cached across runs."""
        self.fx = ensure_fixture(FIXTURE_PAGES, base=WORK / "fixtures")

    def _engine(self, state: Path) -> CrawlEngine:
        spark = self.spark
        eng = CrawlEngine(
            spark,
            str(self.inp / "pages.parquet"),
            json.loads((self.inp / "seeds.json").read_text()),
            spark.read.parquet(str(self.inp / "robots.parquet")),
            spark.read.parquet(str(self.inp / "politeness.parquet")),
            state,
            CrawlConfig(hot_hosts=HOT_HOSTS),
        )
        self.engines.append(eng)
        return eng

    def setup(self) -> None:
        """Seeded input copy, engine construction (pages index) and the
        seed frontier commit."""
        self.inp = _seeded_copy(self.fx, self.work / "input", self.seed)
        self._engine(fresh_dir(self.work / "state" / "base")).bootstrap()

    def warm(self) -> None:
        """Wave 1: JIT, Python workers and the first filter shards. Its
        committed state is what every op resumes from."""
        eng = self.engines[-1]
        eng.run(max_waves=TIMED_WAVE - 1)
        self.base = eng.io.root

    # ----------------------------------------------------------- measure
    def op(self, i: int) -> None:
        state = self.work / "state" / f"op{i}"
        shutil.copytree(self.base, state)
        eng = self._engine(state)
        stats, dt = self.clock.timed(eng.run, max_waves=TIMED_WAVE)
        st = stats[-1]
        if st["quiesced"] or st["wave"] != TIMED_WAVE:
            raise RuntimeError(f"expected wave {TIMED_WAVE} to run, got {st}")
        profile = {k: v for k, v in eng.wave_profile[-1].items() if k not in ("wave", "fetched")}
        self.ops.append({"op": i, "s": dt, "fetched": st["fetched"], "offers": st["offers"],
                         "frontier": st["frontier"], "profile": profile})
        if self.tracer is not None:
            self._pending.append((eng, st["frontier"], dict(self._frames)))

    # ----------------------------------------------------------- tracing
    def trace_hooks(self) -> dict:
        """Record the frames whose row counts make the funnel, and the
        staged files and duration of each commit."""

        def robots_seen(args, kwargs, out):
            self._frames["flagged"] = out

        def fetch_seen(args, kwargs, out):
            self._frames["unseen"] = args[0]

        return {"robots_flag": robots_seen, "fetch_split": fetch_seen,
                "commit_wave": self._on_commit}

    def _on_commit(self, args, kwargs, out) -> None:
        io, wave, table_files = args[0], args[1], args[2]
        if wave != TIMED_WAVE:
            return
        files = [p for rels in table_files.values() for rel in rels
                 for p in (io.root / rel).rglob("*.parquet")]
        span = next(s for s in reversed(self.tracer.spans) if s["name"] == "tables.commit_wave")
        self._commits[self.tracer.op] = {
            "s": span["end"] - span["start"], "files": len(files),
            "bytes": sum(p.stat().st_size for p in files),
        }

    def trace_counts(self) -> None:
        """The funnel of each timed wave: frontier → selected →
        robots-denied → seen-dropped → fetched (+ missed) → offers/links.
        Counted after the timed loop from the frames each wave planned;
        they are rooted in files that stay on disk, so the counts are
        the wave's."""
        sc = self.spark.sparkContext
        sc.setJobDescription("perfbench:funnel")
        try:
            for eng, frontier, frames in self._pending:
                flagged = frames["flagged"]
                selected = flagged.count()
                denied = flagged.where(~F.col("robots_ok")).count()
                unseen = frames["unseen"].count()
                kinds = _kind_counts(eng, TIMED_WAVE)
                fetched = kinds.get("page", 0)
                self.funnel.append({
                    "wave": TIMED_WAVE, "frontier": frontier, "selected": selected,
                    "robots_denied": denied, "seen_dropped": selected - denied - unseen,
                    "fetched": fetched, "missed": unseen - fetched,
                    "offers": kinds.get("offer", 0), "links": kinds.get("link", 0),
                })
        finally:
            sc.setJobDescription(None)

    # ------------------------------------------------------------ checks
    def check(self) -> tuple[int, int]:
        """(checks attempted, checks failed) over the committed state of
        every op: no offer outside the reachable set, each byte-equal to
        its oracle row (the rule of tests/test_crawl_e2e.py); no url
        fetched twice; no robots-disallowed url fetched."""
        expected = _rows(pq.read_table(self.inp / "expected_offers.parquet"))
        reachable = {r["url"]: r for r in expected if not _disallowed(r["url"], r["source"])}
        attempted = failed = 0
        first = None
        for eng in self.engines[1:]:
            pages, offers = _committed(eng)
            keys = [p["url_canon"] for p in pages]
            got = {o["url"]: o for o in offers}
            first = set(got) if first is None else first
            attempted += 4
            failed += len(keys) != len(set(keys))
            failed += any(_disallowed(p["url_canon"], p["src_source"]) for p in pages)
            failed += len(got) != len(offers) or any(
                _offer_differs(o, reachable.get(u)) for u, o in got.items())
            # resuming the same state must reproduce the same wave
            failed += set(got) != first
        return attempted, failed

    # ----------------------------------------------------------- metrics
    def end_to_end(self) -> dict[str, float]:
        walls = [o["s"] for o in self.ops]
        return {
            "urls_per_s": sum(o["fetched"] for o in self.ops) / sum(walls),
            "op_s_p50": median(walls),
        }

    def layer_metrics(self) -> dict[str, float]:
        n = len(self.ops)

        def seg(*names):
            return median([sum(o["profile"].get(s, 0.0) for s in names) for o in self.ops])

        commits = [self._commits[o["op"]] for o in self.ops]
        return {
            "wave.plan_build_s": seg("plan_build"),
            "wave.stage_wave_out_s": seg("stage_wave_out"),
            "wave.followup_s": seg("followup_shards_join", "followup_build",
                                   "out_footers", "followup_launch"),
            "wave.stage_frontier_filter_s": seg("stage_frontier_filter"),
            "tables.commit_s": median([c["s"] for c in commits]),
            "tables.staged_files": median([c["files"] for c in commits]),
            "tables.staged_bytes": median([c["bytes"] for c in commits]),
            "extract.offers": sum(o["offers"] for o in self.ops) / n,
            "extract.links": sum(f["links"] for f in self.funnel) / n,
        }


def _offer_differs(got: dict, expected: dict | None) -> bool:
    return expected is None or got["src_source"] != expected["source"] or any(
        got[f] != expected[f] for f in OFFER_FIELDS)


def _disallowed(url: str, source: str) -> bool:
    """robots.txt of even-numbered hosts disallows /private/."""
    return "/private/" in url and int(source[3:]) % 2 == 0


def _seeded_copy(fx: Path, out: Path, seed: int) -> Path:
    """The benchmark's own copy of the fixture with the row order of
    pages.parquet and seeds.json permuted by ``seed``. The rows, and so
    the work and the expected outputs, stay the same."""
    fresh_dir(out)
    rng = random.Random(seed)
    pages = pq.read_table(fx / "pages.parquet")
    order = list(range(pages.num_rows))
    rng.shuffle(order)
    pq.write_table(pages.take(order), out / "pages.parquet", row_group_size=2048)
    seeds = json.loads((fx / "seeds.json").read_text())
    rng.shuffle(seeds)
    (out / "seeds.json").write_text(json.dumps(seeds))
    for name in ("robots.parquet", "politeness.parquet", "expected_offers.parquet"):
        shutil.copyfile(fx / name, out / name)
    return out


def _rows(table: pa.Table) -> list[dict]:
    """Rows as dicts with timestamps as epoch microseconds, so an INT96
    Spark write and the oracle's timestamp[us, UTC] compare equal."""
    cols = {}
    for name in table.column_names:
        col = table[name]
        if pa.types.is_timestamp(col.type):
            col = pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64())
        cols[name] = col
    return pa.table(cols).to_pylist()


def _committed(eng: CrawlEngine) -> tuple[list[dict], list[dict]]:
    """Committed page and offer rows, read from disk without Spark."""
    pages, offers = [], []
    for d in eng.io.committed_dirs("wave_out"):
        for kind, out in (("page", pages), ("offer", offers)):
            for f in sorted((Path(d) / f"kind={kind}").glob("*.parquet")):
                out.extend(_rows(pq.read_table(f)))
    return pages, offers


def _kind_counts(eng: CrawlEngine, wave: int) -> dict[str, int]:
    """Rows per wave_out kind of one committed wave, from parquet footers."""
    out: dict[str, int] = {}
    for rel in eng.io.wave_meta(wave)["tables"].get("wave_out", []):
        for kdir in (eng.io.root / rel).glob("kind=*"):
            k = kdir.name.split("=", 1)[1]
            out[k] = out.get(k, 0) + sum(
                pq.ParquetFile(f).metadata.num_rows for f in kdir.glob("*.parquet"))
    return out
