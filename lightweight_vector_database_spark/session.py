"""SparkSession factory with scale-oriented defaults.

Local sessions run on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs
this process may run on) but every config here is chosen to also make
sense on a multi-executor cluster: AQE on (runtime re-plan: coalesce
shuffle partitions, skew-join splitting, broadcast conversion), Arrow
for any pandas-UDF boundary, and one shuffle partition per core.

This is the only engine module that names
``spark.sql.shuffle.partitions``; operators that pin a shuffle's width
against AQE coalescing size it by ``defaultParallelism``, which equals
it here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lvdb-spark",
    cpus: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A ``local[cpus]`` session with ``cpus`` shuffle partitions.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else to the CPUs this
    process may run on (its affinity mask, which a container or
    ``taskset`` narrows below the machine's count). Sizing the shuffle
    to the cores keeps each Python scoring stage at one task per core
    instead of many near-empty ones.

    ``extra_conf`` entries are applied last (e.g.
    ``{"spark.scheduler.mode": "FAIR"}`` for serve/maintenance pool
    isolation — like driver memory, scheduler mode only takes effect
    at JVM launch, so it must ride the builder, not a live session)."""
    cpus = (
        cpus
        or os.environ.get("SPARK_GRAFT_CPUS")
        or str(len(os.sched_getaffinity(0)))
    )
    # local mode: driver == executors, so driver memory IS the cluster
    # memory; the 1g default OOMs at a few million rows x 32 threads.
    # Must be set before the JVM launches (no effect on a live session).
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(e) > 0 AND
        # isnotnull(e)` from every explode(e) and pushes it toward the
        # scan with e INLINED — for the text operators e is an
        # interpreted n-gram/tokenize HOF pipeline, so the same
        # expensive expression is evaluated up to twice more per row
        # (once per conjunct) below whatever exchange sits under the
        # Generate (plan-verified: the bigram-LM fan-out ran two 4.4s
        # single-task filter stages for a 7.8s query). The inferred
        # filter buys nothing in this suite: explode of an empty array
        # already emits no rows, and no operator sits between the
        # projection and its Generate that the early filter could make
        # cheaper. Semantics are unchanged by excluding the rule (it is
        # an optimizer-only rewrite); measured suite-wide before
        # adopting (OPTIMIZATION_r12.md).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", "/tmp/lvdb_warehouse")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
