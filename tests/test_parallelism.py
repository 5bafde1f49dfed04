"""Shuffle width follows the session's cores, set in one place.

``session.get_spark`` sets ``spark.sql.shuffle.partitions`` to its core
count; the operators that pin a shuffle's width against AQE coalescing
(``operators/knn.cogroup_apply``, dedup's pair exchange) size it by
``defaultParallelism``, never by a second read of that setting.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators.knn import (
    COGROUP_TASK_BYTES,
    cogroup_apply,
)

PKG = Path(__file__).resolve().parent.parent / "lightweight_vector_database_spark"


def test_session_shuffle_partitions_equal_cores(spark):
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        spark.sparkContext.defaultParallelism
    )


def test_cogroup_apply_runs_one_partition_per_core(spark):
    left = spark.range(100).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("a")
    )
    right = spark.range(10).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("b")
    )

    def sizes(lpdf, rpdf):
        import pandas as pd

        g = lpdf["g"] if len(lpdf) else rpdf["g"]
        return pd.DataFrame(
            {"g": g.iloc[:1], "nl": [len(lpdf)], "nr": [len(rpdf)]}
        )

    par = spark.sparkContext.defaultParallelism
    schema = "g long, nl long, nr long"
    out = cogroup_apply(left, right, ["g"], sizes, schema)
    assert out.rdd.getNumPartitions() == par
    assert sorted(tuple(r) for r in out.collect()) == [
        (0, 34, 4), (1, 33, 3), (2, 33, 3)
    ]
    # a caller's byte estimate widens it past one partition per core
    wide = cogroup_apply(
        left, right, ["g"], sizes, schema,
        nbytes=par * COGROUP_TASK_BYTES + 1,
    )
    assert wide.rdd.getNumPartitions() == par + 1


def test_only_session_names_shuffle_partitions():
    """One place decides the shuffle width: no engine file but
    ``session.py`` reads or sets the setting."""
    named = sorted(
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if "spark.sql.shuffle.partitions" in p.read_text()
    )
    assert named == ["session.py"]


def test_session_holds_no_literal_core_count():
    """The core count comes from the environment or the process's CPU
    affinity, never from a number written into ``session.py``: no
    digit-only string (``"32"``), no ``local[N]`` master and no integer
    above 1."""
    tree = ast.parse((PKG / "session.py").read_text())
    literals = [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and (
            (isinstance(node.value, str)
             and (re.fullmatch(r"\d+", node.value)
                  or re.search(r"local\[\d+\]", node.value)))
            or (type(node.value) is int and node.value > 1)
        )
    ]
    assert literals == []
