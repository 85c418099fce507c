"""Shared plumbing for the crawl benchmark: the pinned Spark session and
its process lifetime, and small timing helpers.

Everything the benchmark writes lives under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

# Pinned run environment. Shuffle partitions are a constant, not a
# function of the core count: at 4 cores the 2000-page crawl took
# 305 s with 32 partitions and 194 s with 8.
SHUFFLE_PARTITIONS = 4
# well below physical RAM (the engine's own default is 16g)
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def program_present() -> bool:
    """The engine and its fixture generator, as checked out from source."""
    return (ROOT / "crawlers_spark" / "__init__.py").is_file() and (
        ROOT / "fixtures" / "gen_pages.py"
    ).is_file()


def fresh_dir(p: Path) -> Path:
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True)
    return p


def median(xs) -> float:
    return float(statistics.median(xs))


class Session:
    """Owns one SparkSession and the JVM behind it.

    ``close`` stops the context, shuts the py4j gateway and waits for the
    JVM process (its Python workers die with it), so a run leaves no
    process behind.
    """

    def __init__(self, work: Path, event_log_dir: Path | None = None):
        self.work = work
        self.event_log_dir = event_log_dir
        self.spark = None
        self._proc = None

    def conf(self) -> dict[str, str]:
        tmp = self.work / "tmp"
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # no hsperfdata: HotSpot writes it to /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.event_log_dir is not None:
            # plain, uncompressed, single-file log: readable with stdlib json
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(self.event_log_dir),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self):
        from crawlers_spark.session import get_spark

        for sub in ("tmp", "spark-local"):
            (self.work / sub).mkdir(parents=True, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ.pop("SPARK_GRAFT_CPUS", None)
        os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        self.spark = get_spark(
            "perfbench",
            cores=cores(),
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=self.conf(),
        )
        self._proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        # first job: starts executors' task machinery before anything is timed
        self.spark.range(1).count()
        return self.spark

    def peak_rss_mb(self) -> float:
        """Driver JVM high-water RSS plus this Python process's."""
        jvm_kb = 0
        if self._proc is not None:
            try:
                for line in Path(f"/proc/{self._proc.pid}/status").read_text().splitlines():
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
            except OSError:
                pass
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def close(self) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            gateway.shutdown()
            if self._proc is not None:
                if self._proc.stdin is not None:
                    self._proc.stdin.close()
                try:
                    self._proc.wait(timeout=60)
                except Exception:
                    self._proc.kill()
                    self._proc.wait()


class Clock:
    """Wall-clock intervals of the timed sections, in epoch ms, so the
    event log can be cut down to the work that was measured."""

    def __init__(self):
        self.intervals: list[tuple[int, int]] = []

    def timed(self, fn, *args, **kwargs):
        t_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        dt = time.perf_counter() - t0
        self.intervals.append((t_ms, int(time.time() * 1000) + 1))
        return out, dt
