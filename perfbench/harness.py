"""Session lifecycle and spans shared by the workloads.

Every span is recorded from the benchmark's side of a call into the
engine: ``Tracer.call`` times plan construction (the call returning a
DataFrame) apart from the action that executes it, and, when tracing,
wraps both in a Spark job group named after the span so the event log
can attribute jobs, stages and tasks to it (``eventlog.py``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "lightweight_vector_database_spark"
# where the query suite keeps derived artifacts (index snapshots, format
# caches) named after the data directory; a run removes the ones it made
ENGINE_CACHE_DIRS = (
    ".index_snapshots",
    ".zorder_snapshots",
    ".bucketed_tables",
    ".jsonl_cache",
    ".csv_cache",
    ".orc_cache",
    ".schemaevo_cache",
)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile of a small sample."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, round(q * (len(s) - 1))))])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """Starts and stops the engine's Spark session (``session.get_spark``)
    with its local and warehouse directories inside the checkout."""

    def __init__(self, tag: str, trace: bool):
        self.tag = tag
        self.trace = trace
        self.local = os.path.join(WORK, "local")
        self.event_dir = os.path.join(WORK, "eventlog", tag)
        self.spark = None
        self.get_spark_s: list[float] = []

    def start(self):
        """Start a session; a traced one writes Spark's event log."""
        from lightweight_vector_database_spark.session import get_spark

        os.makedirs(self.local, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.local,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.tag}", extra_conf=conf)
        self.get_spark_s.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())


class Tracer:
    """Per-span wall times; with ``trace`` on, also a job group per span."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.build_ms: dict[str, list[float]] = defaultdict(list)
        self.exec_s: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def group(self, name: str):
        if self.trace:
            self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            if self.trace:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str, build, action):
        """``action(build())``, timing each half under span ``name``."""
        with self.group(name):
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            out = action(df)
            t2 = time.perf_counter()
        self.build_ms[name].append((t1 - t0) * 1e3)
        self.exec_s[name].append(t2 - t1)
        return out

    def timed(self, name: str, fn):
        """A call with no separate plan step (numpy training, API
        calls): all of it counts as ``exec_s``."""
        return self.call(name, lambda: None, lambda _: fn())


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def clean_engine_caches(tag: str) -> None:
    """Remove what the engine derived from data directories named ``tag``."""
    for d in ENGINE_CACHE_DIRS:
        path = os.path.join(ROOT, d)
        if not os.path.isdir(path):
            continue
        for name in os.listdir(path):
            if tag in name:
                shutil.rmtree(os.path.join(path, name), ignore_errors=True)
