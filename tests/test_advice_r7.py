"""Regression tests for the round-7 advisory findings.

1 (medium): the matmul candidate cut must never drop a tied true
   neighbor — duplicate-heavy corpora (the dedup workload shape) put
   >keep_pad rows at exactly the kth distance, and a hard argpartition
   cut picks an arbitrary subset, silently violating the id-tiebreak
   contract. Fixed via matmul_tie_thresholds (operators/knn.py).
2 (low): knn_join_bulk's futility ratio counted salt-replicated
   candidate rows, triggering the block-join fallback ~nsalt times too
   early on hot-cell stores.
3 (low): quality_audit.unique() charged every null row as a violation;
   documented semantics say nulls share ONE value.
4 (low): audit() with only references() constraints exploded an empty
   struct array (NullType) and failed analysis.
5 (low): kmeans_fixed silently truncated centroids when dim < actual
   vector length (and, per ADVICE r13, any ragged or null row).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators import quality_audit as qa
from lightweight_vector_database_spark.operators.kmeans import kmeans_fixed
from lightweight_vector_database_spark.operators.knn import (
    knn_join_blocks,
    knn_join_matmul,
    matmul_tie_thresholds,
)
from lightweight_vector_database_spark.plans.bulk_knn import knn_join_bulk
from lightweight_vector_database_spark.plans.grid_index import (
    GridIndex,
    build_index,
    index_stats,
)

DIM = 64


@pytest.fixture(scope="module")
def dup_base(spark):
    """200 rows in DESCENDING id order: ids 0..99 all share one exact
    vector (the k-boundary tie), ids 100..199 a farther one. Descending
    order makes a position-based arbitrary cut pick the LARGEST tied
    ids, so the old argpartition behavior fails the id-tiebreak."""
    near = [0.25] * DIM
    far = [0.4] * DIM
    rows = [(i, far) for i in range(199, 99, -1)] + [
        (i, near) for i in range(99, -1, -1)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)


@pytest.fixture(scope="module")
def dup_probes(spark):
    return spark.createDataFrame(
        [(0, [0.25] * DIM)], "probe_id long, probe_vec array<double>"
    )


def _top_ids(df, k):
    return sorted(r.vec_id for r in df.collect() if r["rank"] <= k)


def test_tie_thresholds_include_all_ties():
    D = np.array([[1.0], [1.0], [1.0], [1.0], [2.0]])
    thr = matmul_tie_thresholds(
        D, kk=2, dim=4, m_sq_max=1.0, p_sq=np.array([1.0])
    )
    assert (D[:, 0] <= thr[0]).sum() == 4  # every tied row survives
    assert D[4, 0] > thr[0]  # the separated row does not


def test_blocks_keeps_smallest_tied_ids(spark, dup_base, dup_probes):
    out = knn_join_blocks(
        dup_probes, dup_base, k=2, n_base_blocks=1, n_probe_blocks=1
    )
    assert _top_ids(out, 2) == [0, 1]


def test_matmul_keeps_smallest_tied_ids(spark, dup_base, dup_probes):
    out = knn_join_matmul(dup_probes, dup_base, k=2)
    assert _top_ids(out, 2) == [0, 1]


def test_bulk_keeps_smallest_tied_ids(spark, dup_base, dup_probes):
    idx = GridIndex([-0.5] * DIM, [0.5] * DIM, num_splits=2, depth=2)
    assigned = build_index(dup_base, idx).withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    stats = index_stats(assigned)
    out = knn_join_bulk(
        assigned, idx, dup_probes, k=2, stats=stats, futility_ratio=1.01
    )
    assert _top_ids(out, 2) == [0, 1]


def test_futility_ratio_ignores_salt_replication(spark):
    """One hot cell split into 10 salt buckets: the TRUE candidate
    coverage is 1.0 cell per probe, so futility_ratio=1.5 must keep the
    cogroup path; counting salt-replicated rows would see a 10x ratio
    and fall back to the block join."""
    import sys

    n = 2000
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: F.lit(0.01)
            + (F.col("id").cast("double") % 97) * F.lit(1e-5) * i.cast("double"),
        ).alias("embedding"),
    )
    idx = GridIndex([-0.5] * DIM, [0.5] * DIM, num_splits=2, depth=2)
    assigned = build_index(base, idx).withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    stats = index_stats(assigned)
    assert max(stats.values()) // 200 >= 10  # the fixture IS one hot cell
    probes = base.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    knn_mod = sys.modules["lightweight_vector_database_spark.operators.knn"]
    called = []
    orig = knn_mod.knn_join_blocks

    def spy(*a, **kw):
        called.append(1)
        return orig(*a, **kw)

    knn_mod.knn_join_blocks = spy
    try:
        out = knn_join_bulk(
            assigned, idx, probes, k=4, stats=stats, salt_rows=200,
            futility_ratio=1.5,
        )
        got = sorted((r.probe_id, r.vec_id, r["rank"]) for r in out.collect())
    finally:
        knn_mod.knn_join_blocks = orig
    assert not called, "salt-inflated ratio routed a prunable store to blocks"
    from lightweight_vector_database_spark.operators.knn import knn_join

    want = sorted(
        (r.probe_id, r.vec_id, r["rank"])
        for r in knn_join(probes, base, k=4, strategy="window").collect()
    )
    assert got == want


def test_unique_nulls_share_one_value(spark):
    df = spark.createDataFrame(
        [(1,), (2,), (None,), (None,), (None,)], "id int"
    )
    rep = qa.audit(df, [qa.unique("id")]).first()
    # 2 distinct non-null values (0 dup rows) + 3 nulls sharing one
    # value (2 rows beyond the first)
    assert rep["violations"] == 2

    one_null = spark.createDataFrame([(1,), (None,)], "id int")
    assert qa.audit(one_null, [qa.unique("id")]).first()["violations"] == 0


def test_audit_references_only(spark):
    fact = spark.createDataFrame([(1,), (2,), (9,)], "fk long")
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    rep = qa.audit(
        fact, [qa.references("fk", dim, "k", "fk_in_dim")]
    ).collect()
    assert len(rep) == 1
    assert rep[0]["constraint"] == "fk_in_dim"
    assert rep[0]["violations"] == 1 and not rep[0]["passed"]


def test_kmeans_rejects_dim_mismatch(spark):
    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1), 0.0, 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="does not match vector length"):
        kmeans_fixed(df, k=2, iters=1, dim=3)
    out = kmeans_fixed(df, k=2, iters=1, dim=4)  # matching dim still works
    assert out.count() == 2


@pytest.mark.parametrize(
    "vec_id, bad, match",
    [
        (10, [1.0, 2.0, 3.0, 4.0, 5.0], "length is not dim=4"),
        (10, [1.0, 2.0, 3.0], "length is not dim=4"),
        (10, None, "null or empty"),
        (-1, None, "null or empty"),
    ],
    ids=["longer", "shorter", "null", "null_init"],
)
def test_kmeans_rejects_ragged_or_null_vectors(spark, vec_id, bad, match):
    """ADVICE r13: only the first init row's length was validated; a
    longer row was silently truncated, a shorter one died on an ANSI
    index error, and a null one joined the last cluster. Every row's
    length is now checked in the round-1 aggregate (the null_init row
    sorts first, so it is caught among the init rows)."""
    rows = [(i, [float(i), float(i + 1), 0.0, 1.0]) for i in range(6)]
    df = spark.createDataFrame(
        rows + [(vec_id, bad)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match=match):
        kmeans_fixed(df, k=2, iters=2, dim=4)


def test_udtf_arrow_equals_row_python(spark, sf_dir):
    """VERDICT r7 item 3: the registered udtf_repeated_terms is the
    Arrow-optimized UDTF; the row-at-a-time Python form must stay
    result-identical (the legacy UDTF API surface pin), and the
    registered plan must carry NO BatchEvalPython node."""
    from lightweight_vector_database_spark.suite.udf_suite import (
        _repeated_terms_df,
    )

    arrow = _repeated_terms_df(spark, sf_dir, use_arrow=True)
    row = _repeated_terms_df(spark, sf_dir, use_arrow=False)
    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert canon(arrow) == canon(row)
    plan = arrow._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPython" not in plan
