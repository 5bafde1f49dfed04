"""Grid index: brute-force equality (stronger than the reference's own
tests — SURVEY.md §5 suggested it), index/store consistency invariant
(tests:20-28 analogue), and pruning effectiveness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators.knn import knn
from lightweight_vector_database_spark.plans.grid_index import (
    GridIndex,
    build_index,
    index_stats,
    knn_indexed,
)
from lightweight_vector_database_spark.probes import DIM, probe_vector
from lightweight_vector_database_spark.sources import load_table


@pytest.fixture(scope="module")
def indexed(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = GridIndex([-0.5] * DIM, [0.5] * DIM, num_splits=2, depth=6)
    assigned = build_index(emb, idx).cache()
    return emb, idx, assigned, index_stats(assigned)


def test_index_store_consistency(indexed):
    emb, idx, assigned, stats = indexed
    # sum of per-cell counts == table count (reference
    # _debug_compute_length_from_tree invariant, tests:20-28)
    assert sum(stats.values()) == emb.count()


@pytest.mark.parametrize("seed,metric", [(0, "euclidean_sq"), (7, "euclidean_sq"),
                                         (3, "manhattan"), (5, "chebyshev")])
def test_indexed_equals_bruteforce(indexed, seed, metric):
    emb, idx, assigned, stats = indexed
    probe = probe_vector(seed=seed)
    exact = [(r.vec_id, round(r.dist, 9)) for r in knn(emb, probe, 10, metric=metric).collect()]
    got = [
        (r.vec_id, round(r.dist, 9))
        for r in knn_indexed(assigned, idx, probe, 10, metric=metric, stats=stats).collect()
    ]
    assert got == exact


def test_indexed_with_filter(indexed):
    emb, idx, assigned, stats = indexed
    probe = probe_vector(seed=2)
    pred = F.col("label") == 3
    exact = [r.vec_id for r in knn(emb, probe, 10, pred=pred).collect()]
    got = [
        r.vec_id
        for r in knn_indexed(assigned, idx, probe, 10, stats=stats, pred=pred).collect()
    ]
    assert got == exact


def test_lower_bounds_are_valid(indexed):
    # every cell's bound must not exceed the true min distance of its rows
    emb, idx, assigned, stats = indexed
    probe = probe_vector(seed=4)
    rows = assigned.select("cell_id", "embedding").collect()
    p = np.asarray(probe)
    true_min: dict[int, float] = {}
    for r in rows:
        d = float(((np.asarray(r.embedding, dtype=np.float64) - p) ** 2).sum())
        true_min[r.cell_id] = min(true_min.get(r.cell_id, np.inf), d)
    cells = sorted(true_min)
    bounds = idx.lower_bound_dists(probe, cells)
    for c, b in zip(cells, bounds):
        assert b <= true_min[c] + 1e-9


def test_out_of_bounds_point_is_found(spark, indexed):
    # clamped points (outside the declared box) must still be exact
    emb, idx, assigned, stats = indexed
    far = [1.5] * DIM  # way outside [-0.5, 0.5]
    extra = spark.createDataFrame(
        [(99_999, [1.5] * DIM, 0)], "vec_id long, embedding array<float>, label int"
    )
    assigned2 = build_index(emb.unionByName(extra), idx)
    got = knn_indexed(assigned2, idx, far, 1).first()
    assert got.vec_id == 99_999


def test_deep_index_low_dim(spark):
    # depth > dim: round-robin revisits with nested refinement
    # (reference trees grow deeper than dim for dim=2 fixtures)
    import numpy as np
    from lightweight_vector_database_spark.operators.knn import knn

    rng = np.random.RandomState(0)
    rows = [(i, rng.random(2).astype("float32").tolist(), 0) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    idx = GridIndex([0.0, 0.0], [1.0, 1.0], num_splits=2, depth=6)  # 729 cells on 2 dims
    assigned = build_index(df, idx).cache()
    stats = index_stats(assigned)
    assert sum(stats.values()) == 400
    assert len(stats) > 50  # refinement actually spreads cells
    probe = [1 / 3, 2 / 3]
    exact = [r.vec_id for r in knn(df, probe, 10).collect()]
    got = [r.vec_id for r in knn_indexed(assigned, idx, probe, 10, stats=stats).collect()]
    assert got == exact


def test_for_table_depth_sizing(spark):
    idx = GridIndex.for_table([0] * 4, [1] * 4, n_rows=100_000, target_cell_rows=256, num_splits=2)
    assert 3**idx.depth * 256 >= 100_000
    assert 3 ** (idx.depth - 1) * 256 < 100_000


def test_indexed_mahalanobis_diag(indexed):
    # metric-specific pruning bounds (reference's closed-form
    # point2plane specialization, distance_metric.py:84-92)
    emb, idx, assigned, stats = indexed
    probe = probe_vector(seed=6)
    w = [1.0 + (i % 4) * 0.5 for i in range(DIM)]
    exact = [
        (r.vec_id, round(r.dist, 9))
        for r in knn(emb, probe, 10, metric="mahalanobis_diag", inv_diag=w).collect()
    ]
    got = [
        (r.vec_id, round(r.dist, 9))
        for r in knn_indexed(
            assigned, idx, probe, 10, metric="mahalanobis_diag",
            stats=stats, inv_diag=w,
        ).collect()
    ]
    assert got == exact


def test_radius_search_indexed_equals_plain(indexed):
    from lightweight_vector_database_spark.operators.knn import radius_search
    from lightweight_vector_database_spark.plans.grid_index import (
        radius_search_indexed,
    )

    emb, idx, assigned, stats = indexed
    probe = probe_vector(seed=8)
    r = 4.2  # squared-euclidean radius catching a handful of rows
    plain = [(x.vec_id, round(x.dist, 9)) for x in radius_search(emb, probe, r).collect()]
    got = [
        (x.vec_id, round(x.dist, 9))
        for x in radius_search_indexed(assigned, idx, probe, r, stats=stats).collect()
    ]
    assert got == plain
    assert len(plain) > 0


def test_update_stats_incremental(spark, indexed):
    from lightweight_vector_database_spark.plans.grid_index import (
        build_index,
        index_stats,
        update_stats,
    )

    emb, idx, assigned, stats = indexed
    ins = spark.createDataFrame(
        [(90_001, [0.3] * DIM, 1), (90_002, [-0.3] * DIM, 2)],
        "vec_id long, embedding array<float>, label int",
    )
    dele = emb.filter("vec_id < 5")
    new_stats = update_stats(stats, idx, inserted=ins, deleted=dele)
    # ground truth: recompute from the mutated snapshot
    mutated = emb.filter("vec_id >= 5").unionByName(ins)
    truth = index_stats(build_index(mutated, idx))
    assert new_stats == truth


def test_upper_bounds_are_valid_for_inbounds_rows(indexed):
    # farthest-corner bound must dominate the true max distance of a
    # cell's IN-BOUNDS rows (clamped rows are documented exceptions —
    # knn_indexed verifies-and-falls-back for those)
    emb, idx, assigned, stats = indexed
    probe = probe_vector(seed=8)
    rows = assigned.select("cell_id", "embedding").collect()
    p = np.asarray(probe)
    true_max: dict[int, float] = {}
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        if (v < -0.5).any() or (v > 0.5).any():
            continue
        d = float(((v - p) ** 2).sum())
        true_max[r.cell_id] = max(true_max.get(r.cell_id, -np.inf), d)
    assert true_max  # fixture has in-bounds rows
    cells = sorted(true_max)
    bounds = idx.upper_bound_dists(probe, cells)
    for c, b in zip(cells, bounds):
        assert true_max[c] <= b + 1e-9


def test_custom_metric_falls_back(indexed):
    # A register_metric'd metric has no closed-form cell bound; the
    # indexed path must serve the exact brute answer instead of
    # raising (the reference's always-answerable contract — its scipy
    # blackbox prunes any metric, distance_metric.py:7-19).
    from lightweight_vector_database_spark.functions.distance import (
        METRICS,
        _as_double,
        _coerce,
        _fold_sum,
        register_metric,
    )

    def weighted_l1(a, b):
        a, b = _as_double(a), _coerce(b)
        return _fold_sum(F.zip_with(a, b, lambda x, y: 2.0 * F.abs(x - y)))

    register_metric("weighted_l1_test", weighted_l1)
    try:
        emb, idx, assigned, stats = indexed
        probe = probe_vector(seed=11)
        exact = [
            (r.vec_id, round(r.dist, 9))
            for r in knn(emb, probe, 10, metric="weighted_l1_test").collect()
        ]
        got = [
            (r.vec_id, round(r.dist, 9))
            for r in knn_indexed(
                assigned, idx, probe, 10, metric="weighted_l1_test", stats=stats
            ).collect()
        ]
        assert got == exact
        assert not GridIndex.supports("weighted_l1_test")
    finally:
        METRICS.pop("weighted_l1_test", None)


def test_custom_metric_blackbox_bounds_prune(indexed):
    """VERDICT r9 item 4: a custom metric registered WITHOUT a
    hand-written cell_bounds — only the vectorized point_fn plus the
    box_monotone declaration — prunes through the indexed path (the
    blackbox analogue of the reference's scipy point2plane,
    distance_metric.py:7-19), and indexed == brute exactly: the
    synthesized clamp/far-corner bounds are exact for box-monotone
    metrics, never approximations."""
    from lightweight_vector_database_spark.functions.distance import (
        METRIC_CELL_BOUNDS,
        METRICS,
        _as_double,
        _coerce,
        _fold_sum,
        register_metric,
        vec_lit,
    )

    w = [1.0 + (i % 3) * 0.25 for i in range(DIM)]

    def weighted_cheby(a, b):
        a, b = _as_double(a), _coerce(b)
        diff = F.zip_with(a, b, lambda x, y: F.abs(x - y))
        wd = F.zip_with(diff, vec_lit(w), lambda d, ww: d * ww)
        return F.array_max(wd)

    def weighted_cheby_np(p, X):
        return (np.abs(X - p[None, :]) * np.asarray(w)[None, :]).max(axis=1)

    register_metric(
        "weighted_cheby_test", weighted_cheby,
        point_fn=weighted_cheby_np, box_monotone=True,
    )
    try:
        assert GridIndex.supports("weighted_cheby_test")  # prunes, not brute
        emb, idx, assigned, stats = indexed
        for seed in (5, 23):
            probe = probe_vector(seed=seed)
            exact = [
                (r.vec_id, round(r.dist, 9))
                for r in knn(
                    emb, probe, 10, metric="weighted_cheby_test"
                ).collect()
            ]
            got = [
                (r.vec_id, round(r.dist, 9))
                for r in knn_indexed(
                    assigned, idx, probe, 10, metric="weighted_cheby_test",
                    stats=stats,
                ).collect()
            ]
            assert got == exact
        # the synthesized bounds are VALID: lower <= true min and
        # upper >= true max over each cell's rows
        probe = probe_vector(seed=5)
        p = np.asarray(probe)
        rows = assigned.select("cell_id", "embedding").collect()
        per_cell: dict[int, list] = {}
        for r in rows:
            per_cell.setdefault(r.cell_id, []).append(r.embedding)
        cells = sorted(per_cell)
        lower = idx.lower_bound_dists(probe, cells, metric="weighted_cheby_test")
        inb = [
            c for c in cells
            if all(
                (np.asarray(v) >= np.asarray(idx.lower)).all()
                and (np.asarray(v) <= np.asarray(idx.upper)).all()
                for v in per_cell[c]
            )
        ]
        upper = idx.upper_bound_dists(probe, inb, metric="weighted_cheby_test")
        for ci, c in enumerate(cells):
            d = weighted_cheby_np(p, np.asarray(per_cell[c], dtype=np.float64))
            assert lower[ci] <= d.min() + 1e-9
        for ci, c in enumerate(inb):
            d = weighted_cheby_np(p, np.asarray(per_cell[c], dtype=np.float64))
            assert d.max() <= upper[ci] + 1e-9
    finally:
        METRICS.pop("weighted_cheby_test", None)
        METRIC_CELL_BOUNDS.pop("weighted_cheby_test", None)


class TestAdaptiveIndex:
    """Reference leaf-split semantics (kd_tree_database.py:94-104):
    overfull regions deepen, sparse regions stay shallow."""

    DIM4 = 4
    N = 20_000
    MAX_LEAF = 256

    @pytest.fixture(scope="class")
    def skewed(self, spark):
        # 80% of rows in a tight blob around 0.31..0.34, 20% spread
        # uniformly — a fixed-depth grid leaves the blob cell hot
        from lightweight_vector_database_spark.plans.grid_index import (
            AdaptiveGridIndex,
        )

        rng = np.random.RandomState(17)
        hot = 0.32 + 0.01 * rng.standard_normal((int(self.N * 0.8), self.DIM4))
        cold = rng.uniform(-0.5, 0.5, (self.N - len(hot), self.DIM4))
        pts = np.clip(np.vstack([hot, cold]), -0.499, 0.499)
        df = spark.createDataFrame(
            [(i, pts[i].tolist()) for i in range(self.N)],
            "vec_id long, embedding array<double>",
        )
        aidx = AdaptiveGridIndex(
            [-0.5] * self.DIM4, [0.5] * self.DIM4,
            num_splits=2, max_depth=10, max_leaf_size=self.MAX_LEAF,
        )
        assigned, stats = aidx.assign(df)
        assigned = assigned.cache()
        return df, aidx, assigned, stats, pts

    def test_leaf_bound_and_consistency(self, skewed):
        df, aidx, assigned, stats, pts = skewed
        assert sum(stats.values()) == self.N
        # every non-max-depth leaf respects the split threshold
        for leaf, n in stats.items():
            if leaf % 16 < aidx.depth:
                assert n <= self.MAX_LEAF, (leaf, n)
        # skew forced refinement: leaves live at several depths, and
        # the hot region went deeper than the cold one
        depths = {leaf % 16 for leaf in stats}
        assert len(depths) > 1, depths

    def test_adaptive_beats_fixed_on_hot_cells(self, skewed):
        from lightweight_vector_database_spark.plans.grid_index import (
            build_index, index_stats,
        )

        df, aidx, assigned, stats, pts = skewed
        fixed = GridIndex.for_table(
            [-0.5] * self.DIM4, [0.5] * self.DIM4, self.N,
            target_cell_rows=self.MAX_LEAF, num_splits=2,
        )
        fixed_stats = index_stats(build_index(df, fixed))
        # the fixed depth chosen for the AVERAGE density leaves the
        # blob cell far above the leaf target; the adaptive index
        # bounds every splittable leaf
        assert max(fixed_stats.values()) > 4 * self.MAX_LEAF
        splittable = [n for c, n in stats.items() if c % 16 < aidx.depth]
        assert max(splittable) <= self.MAX_LEAF

    @pytest.mark.parametrize("seed,metric", [(1, "euclidean_sq"), (9, "manhattan")])
    def test_adaptive_indexed_equals_bruteforce(self, skewed, seed, metric):
        df, aidx, assigned, stats, pts = skewed
        rng = np.random.RandomState(seed)
        probe = [float(x) for x in rng.uniform(-0.4, 0.4, self.DIM4)]
        exact = [
            (r.vec_id, round(r.dist, 9))
            for r in knn(df, probe, 10, metric=metric).collect()
        ]
        got = [
            (r.vec_id, round(r.dist, 9))
            for r in knn_indexed(
                assigned, aidx, probe, 10, metric=metric, stats=stats
            ).collect()
        ]
        assert got == exact

    def test_adaptive_probe_in_hot_region(self, skewed):
        df, aidx, assigned, stats, pts = skewed
        probe = [0.32] * self.DIM4
        exact = [(r.vec_id, round(r.dist, 9)) for r in knn(df, probe, 10).collect()]
        got = [
            (r.vec_id, round(r.dist, 9))
            for r in knn_indexed(assigned, aidx, probe, 10, stats=stats).collect()
        ]
        assert got == exact


def test_custom_metric_with_cell_bounds_prunes(spark, monkeypatch):
    # reference #14: the scipy point2plane blackbox lets ANY metric
    # prune the tree (distance_metric.py:7-19). Our analogue: a
    # register_metric'd metric carrying a cell_bounds callable must
    # (a) return the exact brute answer and (b) scan FEWER cells.
    import lightweight_vector_database_spark.plans.grid_index as GI
    from lightweight_vector_database_spark.functions.distance import (
        METRIC_CELL_BOUNDS,
        METRICS,
        _as_double,
        _coerce,
        _fold_sum,
        register_metric,
    )

    def weighted_l1(a, b):
        a, b = _as_double(a), _coerce(b)
        return _fold_sum(F.zip_with(a, b, lambda x, y: 2.0 * F.abs(x - y)))

    def wl1_cell_bounds(p, lo, hi):
        gaps = np.maximum(0.0, np.maximum(lo - p, p - hi))
        far = np.maximum(np.abs(lo - p), np.abs(hi - p))
        return 2.0 * gaps.sum(axis=1), 2.0 * far.sum(axis=1)

    register_metric("wl1_bounded_test", weighted_l1, cell_bounds=wl1_cell_bounds)

    scanned_cells: list[int] = []
    real_knn = GI.knn

    def spy(df, *a, **kw):
        if "cell_id" in df.columns:
            scanned_cells.append(df.select("cell_id").distinct().count())
        return real_knn(df, *a, **kw)

    monkeypatch.setattr(GI, "knn", spy)
    try:
        # 2D clustered data, deep 2D index -> tight boxes, real pruning
        import math

        pts = [
            (
                i,
                [
                    round(0.4 * math.cos(i % 5) + 0.02 * math.sin(7.0 * i), 6),
                    round(0.4 * math.sin(i % 5) + 0.02 * math.cos(11.0 * i), 6),
                ],
            )
            for i in range(2000)
        ]
        df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
        idx = GridIndex([-1.0, -1.0], [1.0, 1.0], num_splits=2, depth=6)
        assigned = build_index(df, idx).cache()
        stats = index_stats(assigned)
        probe = [0.4 * math.cos(2) + 0.01, 0.4 * math.sin(2) - 0.01]

        assert GridIndex.supports("wl1_bounded_test")
        exact = [
            (r.vec_id, round(r.dist, 9))
            for r in knn(df, probe, 10, metric="wl1_bounded_test").collect()
        ]
        got = [
            (r.vec_id, round(r.dist, 9))
            for r in knn_indexed(
                assigned, idx, probe, 10, metric="wl1_bounded_test", stats=stats
            ).collect()
        ]
        assert got == exact
        assert scanned_cells, "indexed path never reached the scan"
        assert min(scanned_cells) < len(stats), (
            f"no pruning: scanned {scanned_cells} of {len(stats)} cells"
        )
    finally:
        METRICS.pop("wl1_bounded_test", None)
        METRIC_CELL_BOUNDS.pop("wl1_bounded_test", None)


def test_adaptive_update_stats_after_insert(spark):
    from lightweight_vector_database_spark.plans.grid_index import (
        AdaptiveGridIndex,
        update_stats,
    )
    import math

    pts = [
        (
            i,
            [
                round(0.3 * math.cos(i % 3) + 0.05 * math.sin(5.0 * i), 6),
                round(0.3 * math.sin(i % 3) + 0.05 * math.cos(3.0 * i), 6),
            ],
        )
        for i in range(3000)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    aidx = AdaptiveGridIndex([-1.0, -1.0], [1.0, 1.0], num_splits=2,
                             max_depth=8, max_leaf_size=64)
    assigned, stats = aidx.assign(df)

    # inserts: some inside fitted leaves, one outside every fitted cell
    ins = spark.createDataFrame(
        [(90_001, [0.31, 0.01]), (90_002, [-0.9, -0.9]), (90_003, [0.0, 0.29])],
        "vec_id long, embedding array<float>",
    )
    dele = df.filter("vec_id < 10")
    new_stats = update_stats(stats, aidx, inserted=ins, deleted=dele)

    # ground truth: re-assign the mutated snapshot through the SAME
    # fitted index (assign maps unfitted cells to fresh max-depth
    # leaves — update_stats must agree key-for-key)
    mutated = df.filter("vec_id >= 10").unionByName(ins)
    assigned2, _ = aidx.assign(mutated)
    truth = index_stats(assigned2)
    assert new_stats == truth

    # and indexed kNN with the merged stats matches brute force
    probe = [0.3 * math.cos(0), 0.3 * math.sin(0)]
    exact = [
        (r.vec_id, round(r.dist, 9))
        for r in knn(mutated, probe, 8).collect()
    ]
    got = [
        (r.vec_id, round(r.dist, 9))
        for r in knn_indexed(assigned2, aidx, probe, 8, stats=new_stats).collect()
    ]
    assert got == exact

    # unfitted adaptive index must refuse deltas it cannot map
    fresh = AdaptiveGridIndex([-1.0, -1.0], [1.0, 1.0])
    with pytest.raises(ValueError, match="fitted"):
        update_stats({}, fresh, inserted=ins)


@pytest.mark.parametrize("seed", [1, 6, 9])
def test_cosine_through_index_equals_brute(spark, sf_dir, seed):
    # normalize-then-index: on unit vectors sq-euclid = 2*cosine, so
    # euclidean cell bounds serve cosine kNN; final exact cosine on the
    # RAW vectors must equal brute-force cosine kNN
    import math

    from lightweight_vector_database_spark.functions.distance import (
        cosine_distance,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe = probe_vector(seed=seed)
    brute = [
        (r.vec_id, round(r.dist, 9))
        for r in knn(emb, probe, 10, metric="cosine").collect()
    ]

    v = F.col("embedding").cast("array<double>")
    nrm = l2_norm("embedding")
    normalized = emb.withColumn("__nv", F.transform(v, lambda x: x / nrm))
    idx = GridIndex([-1.0] * DIM, [1.0] * DIM, num_splits=2, depth=6)
    assigned = build_index(normalized, idx, vec_col="__nv")
    pn = math.sqrt(sum(x * x for x in probe))
    cand = knn_indexed(assigned, idx, [x / pn for x in probe], k=30, vec_col="__nv")
    got = [
        (r.vec_id, round(r.cos, 9))
        for r in cand.withColumn("cos", cosine_distance("embedding", probe))
        .orderBy(F.col("cos").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    assert got == brute


def _spark_cells(spark, idx, X):
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    return [r.cell_id for r in build_index(df, idx).orderBy("vec_id").collect()]


@pytest.mark.parametrize("dim,depth", [(4, 3), (3, 7), (2, 5)])
def test_cells_of_equals_build_index(spark, dim, depth):
    """GridIndex.cells_of (the driver-side numpy twin of cell_expr)
    gives build_index's cell ids bit for bit: random points, points
    exactly on bin edges and on the bounds, clamped out-of-bounds
    points, depth > dim, and NaN coordinates."""
    idx = GridIndex([-1.0] * dim, [2.0] * dim, num_splits=2, depth=depth)
    rs = np.random.RandomState(dim * 10 + depth)
    random = rs.uniform(-1.0, 2.0, (40, dim))
    # every nested bin edge up to the deepest visit, plus both bounds
    edges = -1.0 + 3.0 * np.arange(0, 28) / 27.0
    on_edges = rs.choice(edges, (40, dim))
    outside = rs.uniform(-4.0, 5.0, (40, dim))
    special = np.array(
        [[-1.0] * dim, [2.0] * dim, [np.nan] * dim, [np.inf] * dim, [-np.inf] * dim]
    )
    X = np.vstack([random, on_edges, outside, special]).astype(np.float32)
    X[::7, 0] = np.nan
    assert idx.cells_of(X).tolist() == _spark_cells(spark, idx, X)


def test_cells_of_puts_nan_in_last_bin(spark):
    """Spark orders NaN above every number, so a NaN coordinate lands
    in the last bin: (NaN, 0.5) over [0, 1]^2, 2 splits, depth 3 is
    digits (2, 1, 2) = cell 23 (a plain ``>= 1`` test would say 0)."""
    idx = GridIndex([0.0, 0.0], [1.0, 1.0], num_splits=2, depth=3)
    X = np.array([[np.nan, 0.5]])
    assert idx.cells_of(X).tolist() == [23] == _spark_cells(spark, idx, X)
