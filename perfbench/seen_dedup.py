"""``seen_dedup``: batches of raw discovered URLs, canonicalized and
probed against a larger seen set, then merged into the filter shards
(closed loop, one client; writes run beside reads).

URLs come from a grammar: skewed hosts (a cubic draw over ``N_HOSTS``),
and per-row noise that canonicalization must undo — upper-case host,
explicit default port, tracking parameters plus a fragment, a dot
segment, or reordered query parameters. About 2% of a batch's rows
re-discover a seen URL; the rest are fresh ids never issued before, so
the unseen count of a batch is known by construction. The seed picks
each row's raw spelling; which URLs a batch holds does not depend on
it, so the work, the filter bits and the funnel counts repeat across
seeds. The filter uses the engine's default shard sizes
(``CrawlConfig``).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from common import fresh_dir, median
from crawlers_spark.functions.canonicalize import with_canonical_url
from crawlers_spark.operators.dedup import BLOOM_SCHEMA, BloomShards, anti_join_seen
from crawlers_spark.plans.wave import CrawlConfig

SEEN_KEYS = 250_000
BATCH = 100_000
N_HOSTS = 2_000
SEEN_SHARE = 50  # one row in SEEN_SHARE re-discovers a seen url


def _canonical(id_col):
    """The canonical url of an id: skewed host, and a sorted query on
    every fifth id."""
    u = F.pmod(F.xxhash64(id_col, F.lit("host")), F.lit(1 << 24)) / float(1 << 24)
    host = F.concat(F.lit("h"), F.floor(F.pow(u, 3) * N_HOSTS).cast("string"), F.lit(".example"))
    path = F.concat(F.lit("/p/"), id_col.cast("string"))
    query = F.when(
        F.pmod(id_col, F.lit(5)) == 0,
        F.concat(F.lit("?a="), F.pmod(id_col, F.lit(7)).cast("string"), F.lit("&b=1")),
    ).otherwise(F.lit(""))
    return host, path, query


def _raw(id_col, noise_col):
    """One raw spelling of the id's url; canonicalizes to ``_canonical``."""
    host, path, query = _canonical(id_col)
    reordered = F.when(query == "", F.lit("")).otherwise(
        F.concat(F.lit("?b=1&a="), F.pmod(id_col, F.lit(7)).cast("string"))
    )
    sep = F.when(query == "", F.lit("?")).otherwise(F.lit("&"))
    return (
        F.when(noise_col == 4, F.concat(F.lit("https://"), F.upper(host), path, query))
        .when(noise_col == 5, F.concat(F.lit("https://"), host, F.lit(":443"), path, query))
        .when(noise_col == 6, F.concat(F.lit("https://"), host, path, query, sep,
                                       F.lit("utm_source=feed&gclid=x1#top")))
        .when(noise_col == 7, F.concat(F.lit("https://"), host, F.lit("/x/.."), path, query))
        .when(noise_col == 3, F.concat(F.lit("https://"), host, path, reordered))
        .otherwise(F.concat(F.lit("https://"), host, path, query))
    )


class Workload:
    def __init__(self, work: Path, seed: int, clock):
        self.work, self.seed, self.clock = work, seed, clock
        self.spark = self.tracer = None
        self.ops: list[dict] = []
        self.funnel: list[dict] = []
        self.mismatched = 0
        self.version = 0

    def prepare(self) -> None:
        """Nothing to build: the inputs are generated in set-up."""

    def setup(self) -> None:
        """Seen set written as the engine writes it, and its filter shards."""
        cfg = CrawlConfig()
        self.filter = BloomShards(cfg.bloom_shards, cfg.bloom_bits_per_shard, cfg.bloom_hashes)
        fresh_dir(self.work / "state")
        ids = self.spark.range(SEEN_KEYS).select(F.col("id"))
        host, path, query = _canonical(F.col("id"))
        seen = ids.select(F.concat(F.lit("https://"), host, path, query).alias("url_canon"))
        seen.write.parquet(str(self.work / "state" / "seen"))
        self.seen = self.spark.read.schema("url_canon string").parquet(str(self.work / "state" / "seen"))
        self.version = 0
        self._write_shards(self.filter.update(None, self.seen, 0))

    def _write_shards(self, df) -> None:
        path = self.work / "state" / f"shards{self.version:04d}"
        df.write.parquet(str(path))
        self.shards = self.spark.read.schema(BLOOM_SCHEMA).parquet(str(path))

    def _batch(self, b: int):
        """(raw urls, generator rows). Fresh ids start past every id the
        seen set or an earlier batch used."""
        j = F.col("id")
        rediscover = F.pmod(F.xxhash64(j, F.lit(b), F.lit("seen")), F.lit(SEEN_SHARE)) == 0
        ident = F.when(rediscover, F.pmod(F.xxhash64(j, F.lit(b)), F.lit(SEEN_KEYS))).otherwise(
            SEEN_KEYS + (b + 1) * BATCH + j
        )
        noise = F.pmod(F.xxhash64(j, F.lit(b), F.lit(self.seed)), F.lit(8))
        rows = self.spark.range(BATCH).select(ident.alias("ident"), noise.alias("noise"), rediscover.alias("old"))
        raw = rows.select(_raw(F.col("ident"), F.col("noise")).alias("url"))
        return raw, rows

    def _run_batch(self, b: int, timed: bool) -> dict:
        def run(thunk):
            return self.clock.timed(thunk) if timed else (thunk(), 0.0)

        raw, rows = self._batch(b)
        shards = self.shards
        canon = with_canonical_url(raw).select("url_canon", "host").persist()
        _, t_canon = run(canon.count)

        def digest(df):
            r = df.agg(F.count("*").alias("n"),
                       F.sum(F.pmod(F.xxhash64("url_canon"), F.lit(1 << 31))).alias("h")).collect()[0]
            return int(r["n"]), int(r["h"] or 0)

        bloom, t_probe = run(lambda: digest(self.filter.filter_unseen(canon, shards, self.seen)))
        self.version += 1
        _, t_update = run(lambda: self._write_shards(
            self.filter.update(shards, canon.select("url_canon"), self.version)))
        # untimed checks: Bloom path == exact anti-join == construction
        exact = digest(anti_join_seen(canon, self.seen))
        fresh = rows.where(~F.col("old")).count()
        rec = {"op": b, "s": t_canon + t_probe, "canon_s": t_canon, "probe_s": t_probe,
               "update_s": t_update, "candidates": BATCH, "unseen": bloom[0],
               "ok": bloom == exact and bloom[0] == fresh}
        if self.tracer is not None:
            # the funnel's maybe-seen count: one more probe, traced runs only
            rec["maybe_seen"] = self.filter.split_new_vs_maybe(canon, shards).where("maybe_seen").count()
        canon.unpersist()
        return rec

    def warm(self) -> None:
        """One batch through every step: JIT and Python workers."""
        self._run_batch(-1, timed=False)

    def op(self, i: int) -> None:
        rec = self._run_batch(i, timed=True)
        self.mismatched += not rec["ok"]
        self.ops.append(rec)
        self.funnel.append({"op": i, "candidates": rec["candidates"],
                            "maybe_seen": rec.get("maybe_seen"), "unseen": rec["unseen"]})

    def check(self) -> tuple[int, int]:
        return len(self.ops), self.mismatched

    def end_to_end(self) -> dict[str, float]:
        walls = [o["s"] for o in self.ops]
        return {
            "urls_per_s": sum(o["candidates"] for o in self.ops) / sum(walls),
            "op_s_p50": median(walls),
        }

    def layer_metrics(self) -> dict[str, float]:
        cand = sum(o["candidates"] for o in self.ops)
        maybe = sum(o["maybe_seen"] for o in self.ops)
        return {
            "dedup.probe_s": median([o["probe_s"] for o in self.ops]),
            "dedup.update_s": median([o["update_s"] for o in self.ops]),
            "dedup.insert_urls_per_s": cand / sum(o["update_s"] for o in self.ops),
            "dedup.maybe_seen": maybe / len(self.ops),
            "dedup.prefilter_pass_ratio": (cand - maybe) / cand,
        }
