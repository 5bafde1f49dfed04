"""Distributed batched kNN-join (plans/bulk_knn, operators/knn.knn_join_blocks).

VERDICT r6 item 1 contract: a probe-DataFrame path with NO collect()
of probe vectors, identical results to the driver-materializing paths
pinned at 10^5+ probes, plus skew handling (item 5): no cogroup key
holds more than ``salt_rows`` base rows even when every probe lands in
one hot cell.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators.knn import (
    knn_join,
    knn_join_blocks,
    knn_join_matmul,
)
from lightweight_vector_database_spark.plans.bulk_knn import knn_join_bulk
from lightweight_vector_database_spark.plans.grid_index import (
    GridIndex,
    build_index,
    index_stats,
)
from lightweight_vector_database_spark.sources import load_table

DIM = 64


def _canon(df):
    return sorted(
        (r.probe_id, r.vec_id, round(r.dist, 9), r["rank"]) for r in df.collect()
    )


@pytest.fixture(scope="module")
def fixture(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = GridIndex([-0.5] * DIM, [0.5] * DIM, num_splits=2, depth=6)
    assigned = build_index(emb, idx).withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    stats = index_stats(assigned)
    probes = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    return emb, idx, assigned, stats, probes


@pytest.mark.parametrize("metric", ["euclidean_sq", "manhattan", "chebyshev"])
def test_bulk_equals_brute(spark, fixture, metric):
    emb, idx, assigned, stats, probes = fixture
    brute = _canon(knn_join(probes, emb, k=5, metric=metric, strategy="window"))
    bulk = _canon(
        knn_join_bulk(
            assigned, idx, probes, k=5, metric=metric, stats=stats,
            futility_ratio=1.01,  # pin the cogroup path on this dim-64 fixture
        )
    )
    assert bulk == brute


@pytest.mark.parametrize("metric", ["euclidean_sq", "manhattan"])
def test_blocks_equals_brute(spark, fixture, metric):
    emb, _, _, _, probes = fixture
    brute = _canon(knn_join(probes, emb, k=5, metric=metric, strategy="window"))
    blocks = _canon(
        knn_join_blocks(
            probes, emb, k=5, metric=metric, n_base_blocks=4, n_probe_blocks=3
        )
    )
    assert blocks == brute


def test_bulk_equals_driver_paths_at_1e5_probes(spark, fixture):
    """The r6 pin: 10^5+ probes, distributed == driver-materializing.

    Probes are a 250x deterministic expansion of the 500 base vectors
    (125k probes); the matmul path is called with its internal router
    bypassed via n-probe chunking so we compare against the CURRENT
    driver behavior, and knn_join_bulk/knn_join_blocks must agree.
    """
    emb, idx, assigned, stats, _ = fixture
    reps = spark.range(250).select(F.col("id").alias("rep"))
    probes = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") * 250 + F.col("rep")).alias("probe_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x * (F.lit(1.0) + F.col("rep").cast("double") * F.lit(1e-4)),
            ).alias("probe_vec"),
        )
    )
    assert probes.count() == 125_000
    k = 2
    bulk = _canon(
        knn_join_bulk(assigned, idx, probes, k=k, stats=stats, futility_ratio=1.01)
    )
    blocks = _canon(knn_join_blocks(probes, emb, k=k, n_probe_blocks=4))
    assert bulk == blocks
    assert len(bulk) == 125_000 * k
    # spot-check 200 probes against the driver matmul path
    sample = probes.filter(F.col("probe_id") % 625 == 0)
    drv = _canon(knn_join_matmul(sample, emb, k=k))
    sub = [t for t in bulk if t[0] % 625 == 0]
    assert sub == drv


def test_routing_matmul_to_blocks(spark, fixture, monkeypatch):
    """Over the driver bound, knn_join_matmul must route to the
    distributed block path instead of collecting the probe table."""
    import sys

    knn_mod = sys.modules["lightweight_vector_database_spark.operators.knn"]
    emb, _, _, _, probes = fixture  # 40 probes
    monkeypatch.setattr(knn_mod, "MATMUL_MAX_DRIVER_PROBES", 8)
    routed = _canon(knn_join_matmul(probes, emb, k=3))
    brute = _canon(knn_join(probes, emb, k=3, strategy="window"))
    assert routed == brute


def test_bulk_redo_path_exact_with_clamped_rows(spark, fixture, monkeypatch):
    """Bounds much tighter than the data: the base rows clamp into edge
    cells, so for probes inside the bounds every kth upper bound (from
    the finite cell boxes) undercuts the true neighbor distances, the
    per-probe validation fails, and the distributed anti-join redo must
    still produce the exact brute answer."""
    import sys

    from lightweight_vector_database_spark.probes import probe_vector

    knn_mod = sys.modules["lightweight_vector_database_spark.operators.knn"]
    emb = fixture[0]
    tight = GridIndex([-0.05] * DIM, [0.05] * DIM, num_splits=2, depth=4)
    assigned = build_index(emb, tight).withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    probes = spark.createDataFrame(
        [(i, [0.1 * x for x in probe_vector(seed=70 + i)]) for i in range(3)],
        "probe_id long, probe_vec array<double>",
    )
    redo_inputs = []
    real_knn_join = knn_mod.knn_join

    def spy(redo, *a, **kw):
        redo_inputs.append(redo)
        return real_knn_join(redo, *a, **kw)

    monkeypatch.setattr(knn_mod, "knn_join", spy)
    out = knn_join_bulk(assigned, tight, probes, k=5, futility_ratio=1.01)
    monkeypatch.setattr(knn_mod, "knn_join", real_knn_join)
    assert len(redo_inputs) == 1 and redo_inputs[0].count() == 3
    assert _canon(out) == _canon(knn_join(probes, emb, k=5, strategy="window"))


def test_bulk_plan_collects_no_result_rows(spark, fixture, monkeypatch):
    """Building the plan collects metadata only — the <=6-row probe
    count and the O(cells) candidate counts — never the |probes| x k
    result: the caller gets a live plan (VERDICT r4 item 2)."""
    import pyspark.sql.classic.dataframe as cdf

    emb, idx, assigned, stats, probes = fixture
    k = 4
    sizes: list[int] = []
    real_collect = cdf.DataFrame.collect

    def counting_collect(self):
        rows = real_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cdf.DataFrame, "collect", counting_collect)
    out = knn_join_bulk(assigned, idx, probes, k=k, stats=stats, futility_ratio=1.01)
    monkeypatch.setattr(cdf.DataFrame, "collect", real_collect)
    bound = max(6, len(stats))
    assert sizes and all(n <= bound for n in sizes), sizes
    got = _canon(out)
    assert len(got) == k * 40 > bound
    assert got == _canon(knn_join(probes, emb, k=k, strategy="window"))


def test_bulk_skew_salting(spark):
    """Item 5: clustered probes all hit one hot cell; salting must
    split that cell so no cogroup key exceeds ``salt_rows`` base rows,
    with results still exactly equal to brute."""
    n = 2000
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        # all vectors inside one depth-1 cell region, tiny spread
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
    salt_rows = 200
    probes = base.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    bulk = _canon(
        knn_join_bulk(
            assigned, idx, probes, k=4, stats=stats, salt_rows=salt_rows,
            futility_ratio=1.01,
        )
    )
    brute = _canon(knn_join(probes, base, k=4, strategy="window"))
    assert bulk == brute
    # the skew assertion: replicate the operator's salting rule and
    # check the largest (cell, salt) group the cogroup tasks would see
    import math

    nsalt_map = {c: math.ceil(cnt / salt_rows) for c, cnt in stats.items()}
    assert max(nsalt_map.values()) >= 10  # the fixture IS skewed
    salted_sizes = (
        assigned.withColumn(
            "salt",
            F.pmod(F.hash("vec_id"), F.lit(nsalt_map[max(stats, key=stats.get)])),
        )
        .groupBy("cell_id", "salt")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # hash-salting is uniform in expectation; allow 2x headroom
    assert salted_sizes <= 2 * salt_rows


def test_bulk_derivation_runs_once(spark, fixture):
    """VERDICT r8 item 4, tightened in r13: the probe pipeline now
    feeds ONE persisted narrow projection that serves every consumer
    (derivation, futility count, vector re-attach join, redo
    anti-join), so the caller's probe table is scanned exactly ONCE
    per job (was 3x when derivation/count/redo each re-executed it;
    4x before the r8 derivation persist)."""
    emb, idx, assigned, stats, probes = fixture
    n = probes.count()
    acc = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    cp = probes.mapInPandas(
        counted, "probe_id long, probe_vec array<double>"
    )
    out = knn_join_bulk(
        assigned, idx, cp, k=5, stats=stats, futility_ratio=1.01
    )
    assert out.count() == n * 5
    assert acc.value == n, (
        f"probe table scanned {acc.value / n:.1f}x (expected 1x: the "
        "persisted probe projection serves derivation, futility "
        "count, vector re-attach and redo) — the probe persist "
        "regressed"
    )
    from lightweight_vector_database_spark.operators.dedup import (
        unpersist_caches,
    )

    assert unpersist_caches() >= 1


def test_bulk_empty_and_small(spark, fixture):
    emb, idx, assigned, stats, probes = fixture
    none = probes.filter(F.lit(False))
    out = knn_join_bulk(assigned, idx, none, k=3, stats=stats)
    assert out.count() == 0
    # k > n rows: every probe still gets min(k, n) rows
    tiny = assigned.filter(F.col("vec_id") < 7)
    tiny_stats = index_stats(tiny)
    out2 = knn_join_bulk(tiny, idx, probes.limit(3), k=50, stats=tiny_stats)
    rows = out2.groupBy("probe_id").count().collect()
    assert len(rows) == 3 and all(r["count"] == 7 for r in rows)


def test_bulk_cosine_equals_brute(spark, fixture):
    """knn_join_bulk_cosine (normalize -> euclidean-prune -> exact
    cosine re-rank on raw vectors) == brute cosine join."""
    from lightweight_vector_database_spark.functions.distance import l2_norm
    from lightweight_vector_database_spark.plans.bulk_knn import (
        knn_join_bulk_cosine,
    )

    emb, _, _, _, probes = fixture
    idx = GridIndex([-1.0] * DIM, [1.0] * DIM, num_splits=2, depth=6)
    v = F.col("embedding").cast("array<double>")
    nrm = l2_norm("embedding")
    normalized = emb.withColumn("__nv", F.transform(v, lambda x: x / nrm))
    assigned = build_index(normalized, idx, vec_col="__nv").withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    stats = index_stats(assigned)
    got = sorted(
        (r.probe_id, r.vec_id, round(r.cos_dist, 9), r["rank"])
        for r in knn_join_bulk_cosine(
            assigned, idx, probes, k=5, stats=stats
        ).collect()
    )
    brute = knn_join(
        probes, emb, k=5, metric="cosine", strategy="window", dist_col="cos_dist"
    )
    want = sorted(
        (r.probe_id, r.vec_id, round(r.cos_dist, 9), r["rank"])
        for r in brute.collect()
    )
    assert got == want


def test_bulk_futility_fallback_routes_to_blocks(spark, fixture):
    """When the index cannot prune (dim-64 fixture, depth-6 grid: the
    farthest-corner bound spans 58 unsplit dims, candidate sets cover
    ~all cells), knn_join_bulk must route to the distributed block
    join instead of shuffling |probes| x |cells| candidate copies —
    and the answer stays exact."""
    import lightweight_vector_database_spark.plans.bulk_knn as bk

    emb, idx, assigned, stats, probes = fixture
    calls = []
    import sys

    knn_mod = sys.modules["lightweight_vector_database_spark.operators.knn"]
    orig = knn_mod.knn_join_blocks

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    knn_mod.knn_join_blocks = spy
    try:
        out = _canon(bk.knn_join_bulk(assigned, idx, probes, k=3, stats=stats))
    finally:
        knn_mod.knn_join_blocks = orig
    assert calls, "expected the futility fallback to route to knn_join_blocks"
    assert out == _canon(knn_join(probes, emb, k=3, strategy="window"))


def _spy_blocks(monkeypatch):
    import sys

    knn_mod = sys.modules["lightweight_vector_database_spark.operators.knn"]
    calls = []
    orig = knn_mod.knn_join_blocks

    def spy(*a, **kw):
        calls.append(kw)
        return orig(*a, **kw)

    monkeypatch.setattr(knn_mod, "knn_join_blocks", spy)
    return calls


def test_bulk_geometry_futility_persists_nothing(spark, fixture, monkeypatch):
    """On the dim-64 fixture (depth-6 grid: any in-bounds probe's
    largest cell lower bound is 2.7, the smallest kth upper bound
    14.7) the grid geometry alone shows that nothing prunes, so the
    default futility_ratio routes to the block join without deriving
    or persisting candidates, sized from the probe count and the stats
    total; futility_ratio=1.01 keeps the cogroup path."""
    from lightweight_vector_database_spark.caching import unpersist_caches
    from lightweight_vector_database_spark.operators.knn import block_grid

    emb, idx, assigned, stats, probes = fixture
    unpersist_caches()
    calls = _spy_blocks(monkeypatch)
    out = _canon(knn_join_bulk(assigned, idx, probes, k=3, stats=stats))
    assert unpersist_caches() == 0
    par = spark.sparkContext.defaultParallelism
    P, B = block_grid(probes.count(), emb.count(), par)
    assert [(c["n_probe_blocks"], c["n_base_blocks"]) for c in calls] == [(P, B)]
    assert out == _canon(knn_join(probes, emb, k=3, strategy="window"))

    calls.clear()
    pinned = _canon(
        knn_join_bulk(assigned, idx, probes, k=3, stats=stats, futility_ratio=1.01)
    )
    assert not calls and unpersist_caches() >= 1
    assert pinned == out


@pytest.mark.parametrize("futility_ratio", [0.5, 1.01])
def test_bulk_rejects_duplicate_probe_ids(spark, fixture, futility_ratio):
    """Duplicate probe ids raise on both routes (blocks at the default
    ratio, cogroup at 1.01), naming the duplicates, before any join."""
    from lightweight_vector_database_spark.caching import unpersist_caches

    emb, idx, assigned, stats, probes = fixture
    dup = probes.unionByName(probes.filter(F.col("probe_id").isin(3, 11)))
    with pytest.raises(ValueError, match=r"duplicated: \[3, 11\]"):
        knn_join_bulk(
            assigned, idx, dup, k=3, stats=stats, futility_ratio=futility_ratio
        )
    assert unpersist_caches() == 0


@pytest.mark.parametrize("futility_ratio", [0.5, 1.01])
@pytest.mark.parametrize("probe_dim", [3, 1])
def test_bulk_rejects_probe_dim_mismatch(spark, probe_dim, futility_ratio):
    """Probes whose dim differs from a 4-d index's fail with the named
    bound error inside the candidate derivation, on both routes (the
    depth-8 grid prunes, so neither ratio takes the geometry route)."""
    from lightweight_vector_database_spark.caching import unpersist_caches

    base = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(4)),
            lambda i: F.sin(F.col("id").cast("double") * i) * 0.5,
        ).alias("embedding"),
    )
    idx = GridIndex([-0.5] * 4, [0.5] * 4, num_splits=2, depth=8)
    assigned = build_index(base, idx)
    probes = spark.range(20).select(
        F.col("id").alias("probe_id"),
        F.array_repeat(F.lit(0.1), probe_dim).alias("probe_vec"),
    )
    stats = index_stats(assigned)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match=f"probe dim {probe_dim} != index dim 4"):
        knn_join_bulk(
            assigned, idx, probes, k=3, stats=stats,
            futility_ratio=futility_ratio,
        ).collect()
    # the failed call released its probe projection and candidates
    assert jsc.getPersistentRDDs().size() == before
    unpersist_caches()


def test_bulk_plan_reads_no_python_rdd(spark, fixture):
    """The cogroup route's broadcast cell map is an Arrow
    ``LocalRelation``: a ``LogicalRDD`` leaf (a parallelized Python
    list) costs a job of Python-worker tasks to broadcast."""
    from lightweight_vector_database_spark.caching import unpersist_caches

    emb, idx, assigned, stats, probes = fixture
    out = knn_join_bulk(
        assigned, idx, probes, k=3, stats=stats, futility_ratio=1.01
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert _canon(out) == _canon(knn_join(probes, emb, k=3, strategy="window"))
    unpersist_caches()
