"""k-nearest-neighbor operators, Spark-first.

Reference semantics (kd_tree_database.py:285-304, SURVEY.md §2A.5),
all preserved here:

- metadata filter applies BEFORE top-k ("k nearest matching", not
  "matching among k nearest") — kd_tree_database.py:186-190;
- returns min(k, matching rows), sorted ascending by distance;
- distances in the metric's native units (squared for the default
  Euclidean metric);
- ties broken by id (the reference leaves tie order unspecified; we
  make it total so results are deterministic and oracle-comparable).

Physical plan notes:
- ``knn`` compiles to filter → codegen'd distance expression →
  ``TakeOrderedAndProject`` (ORDER BY dist LIMIT k): no full sort, no
  wide shuffle — each task keeps a k-heap, driver merges. This scales
  to any base-table size.
- ``knn_join`` broadcasts the (small) probe set against the base table
  so the base is never shuffled for the join itself. Two top-k
  strategies:
  * ``window``  — global Window.partitionBy(probe).orderBy(dist):
    simple, but shuffles |base| x |probes| rows. Fine for small data.
  * ``partial`` — per-input-partition top-k (Arrow-batched
    mapInPandas, a pure reduction: each partition emits at most
    k x |probes| rows) followed by the window on the reduced set.
    At 100 TB this is the only viable plan: shuffle volume drops from
    |base| x |probes| to (#partitions x k x |probes|).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import metric_expr


def _dim_checked(dist: Column, vec_col: str, probe_dim: Column) -> Column:
    """``dist``, failing the query when a vector's length differs from
    ``probe_dim``: zip_with silently null-pads mismatched arrays, which
    would sort nulls FIRST and return garbage neighbors (the reference
    asserts dims at insert; queries here must assert at read).
    assert_true returns NULL on success."""
    guard = F.assert_true(
        F.size(F.col(vec_col)) == probe_dim,
        F.concat(
            F.lit("probe dim "), probe_dim.cast("string"),
            F.lit(" != vector dim "), F.size(F.col(vec_col)).cast("string"),
        ),
    )
    return F.when(guard.isNull(), dist)


def knn(
    df: DataFrame,
    probe: Sequence[float],
    k: int,
    metric: str = "euclidean_sq",
    pred: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    **metric_kwargs,
) -> DataFrame:
    """k nearest rows to ``probe``; reference find_k_nearest_neighbors
    (database.py:31-48) as a declarative plan."""
    if pred is not None:
        df = df.filter(pred)  # filter-before-topk, kd_tree_database.py:186-190
    dist = metric_expr(metric, vec_col, list(probe), **metric_kwargs)
    scored = df.withColumn(
        dist_col, _dim_checked(dist, vec_col, F.lit(len(list(probe))))
    )
    # ORDER BY + LIMIT plans as TakeOrderedAndProject (per-task k-heap).
    return scored.orderBy(F.col(dist_col).asc(), F.col(id_col).asc()).limit(k)


def radius_search(
    df: DataFrame,
    probe: Sequence[float],
    radius: float,
    metric: str = "euclidean_sq",
    pred: Column | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    **metric_kwargs,
) -> DataFrame:
    """All rows within ``radius`` of ``probe`` (range query), sorted
    ascending with id tie-break. Radius is in the metric's native
    units (squared for euclidean_sq, like the reference's distances)."""
    if pred is not None:
        df = df.filter(pred)
    dist = metric_expr(metric, vec_col, list(probe), **metric_kwargs)
    return (
        df.withColumn(dist_col, dist)
        .filter(F.col(dist_col) <= radius)
        .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
    )


def knn_join(
    probes: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "euclidean_sq",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    strategy: str = "auto",
    **metric_kwargs,
) -> DataFrame:
    """For every probe row, the k nearest base rows (batch kNN).

    Output: (probe_id, vec_id, dist, rank) sorted within each probe.

    strategy='auto' picks by the base table's partition count: over 8
    partitions, 'matmul' (``knn_join_matmul``) for euclidean_sq and
    'partial' (map-side top-k reduction before the window shuffle) for
    the other metrics; otherwise the plain 'window'. All produce
    identical results (tested). A probe whose dimension differs from
    the base vectors' raises instead of scoring.
    """
    if strategy == "auto":
        # large base + squared-Euclidean: the matmul map-side path
        # (vectorized C) beats the pair join, whose per-pair HOF fold
        # is interpreted when the probe is a column (measured 1.5s vs
        # 26s for 20 probes x 2M rows)
        if metric == "euclidean_sq" and base.rdd.getNumPartitions() > 8:
            strategy = "matmul"
        else:
            strategy = "partial" if base.rdd.getNumPartitions() > 8 else "window"
    if strategy == "matmul":
        return knn_join_matmul(
            probes, base, k, probe_id_col=probe_id_col,
            probe_vec_col=probe_vec_col, vec_col=vec_col, id_col=id_col,
        )
    pairs = base.join(F.broadcast(probes))  # broadcast nested loop; base never shuffles
    dist = metric_expr(metric, vec_col, F.col(probe_vec_col), **metric_kwargs)
    scored = pairs.withColumn(
        dist_col, _dim_checked(dist, vec_col, F.size(F.col(probe_vec_col)))
    ).select(probe_id_col, id_col, dist_col)

    if strategy == "partial":
        scored = _partial_topk(scored, probe_id_col, id_col, dist_col, k)

    w = Window.partitionBy(probe_id_col).orderBy(
        F.col(dist_col).asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _partial_topk(
    scored: DataFrame, key_col: str, id_col: str, dist_col: str, k: int
) -> DataFrame:
    """Per-input-partition top-k per key: a map-side combine for top-k.

    Runs BEFORE any shuffle, so each of the N input partitions emits at
    most k rows per key — the subsequent exact window top-k only sees
    N*k*|keys| rows instead of |base|*|keys|.
    """
    import pandas as pd

    schema = scored.schema

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[pd.DataFrame] = []
        for pdf in batches:
            acc.append(
                pdf.sort_values([key_col, dist_col, id_col])
                .groupby(key_col, sort=False)
                .head(k)
            )
        if acc:
            out = pd.concat(acc)
            yield (
                out.sort_values([key_col, dist_col, id_col])
                .groupby(key_col, sort=False)
                .head(k)
            )

    return scored.mapInPandas(local_topk, schema=schema)


MATMUL_MAX_PROBES_PER_PASS = 10_000

# Above this many probe rows the driver-materializing matmul path
# routes to the distributed block path (knn_join_blocks): probe
# vectors are ~(dim * 8 + 16) bytes each, so 65k rows at dim 64 is
# ~35 MB on the driver — a comfortable ceiling; 10^7-row probe tables
# (multi-GB) must never land on the driver (VERDICT r6 item 1).
MATMUL_MAX_DRIVER_PROBES = 65_536


def np_dists(metric: str, M: np.ndarray, p: np.ndarray, inv_diag=None) -> np.ndarray:
    """Exact distances of every row of M to probe p — the same float64
    formula the codegen expressions evaluate (shared by the distributed
    batched paths so their reported distances match the oracle fold)."""
    if metric == "euclidean_sq":
        return ((M - p[None, :]) ** 2).sum(axis=1)
    if metric == "manhattan":
        return np.abs(M - p[None, :]).sum(axis=1)
    if metric == "chebyshev":
        return np.abs(M - p[None, :]).max(axis=1)
    if metric == "mahalanobis_diag":
        w = np.asarray(list(inv_diag), dtype=np.float64)
        return (w[None, :] * (M - p[None, :]) ** 2).sum(axis=1)
    if metric == "cosine":
        # r10: without this the distributed block join silently fell
        # back to the interpreted per-pair Catalyst fold for cosine —
        # measured 25+ min for a 200-probe x 500k-row exact ground
        # truth the matmul form serves in seconds (the same gap the
        # euclidean path closed in r7)
        num = M @ p
        nm = np.sqrt((M**2).sum(axis=1))
        return 1.0 - num / (nm * np.sqrt((p**2).sum()))
    raise KeyError(metric)


NP_METRICS = frozenset(
    {"euclidean_sq", "manhattan", "chebyshev", "mahalanobis_diag", "cosine"}
)


def matmul_tie_thresholds(
    D: np.ndarray, kk: int, dim: int, m_sq_max: float, p_sq: np.ndarray
) -> np.ndarray:
    """Per-probe candidate-cut thresholds for the matmul selection that
    can never drop a tied true neighbor (ADVICE r7, medium).

    A hard ``argpartition(D, kk-1)[:kk]`` cut picks an ARBITRARY subset
    when more than ``kk`` rows are equal (or within matmul cancellation
    noise) at the boundary — duplicate-heavy corpora then lose the
    smallest-id tied neighbor, and the exact recompute can't recover a
    row that was never selected. Instead keep every row whose
    approximate distance lies within the matmul error bound of the
    kk-th smallest: |D_matmul - D_exact| <= c*dim*u*(||m||^2+||p||^2)
    (standard dot-product rounding bound, u = 2^-53), so any row whose
    EXACT distance ties the kk-th candidate sits within twice that of
    the kk-th approximate value. c=16 gives a 4x safety margin over
    the worst-case constant; for well-separated distances the widened
    set is exactly ``kk`` rows, so the exact re-rank cost is unchanged.

    ``D``: (rows x probes) approximate squared distances; ``p_sq``:
    per-probe squared norms aligned with D's columns. Returns one
    threshold per probe; candidates are ``D[:, bi] <= thr[bi]``.
    """
    kth = np.partition(D, kk - 1, axis=0)[kk - 1]
    eps = 16.0 * dim * 2.0**-53 * (m_sq_max + p_sq + 1.0)
    return kth + eps


def cosine_tie_thresholds(D: np.ndarray, kk: int, dim: int) -> np.ndarray:
    """Per-probe candidate-cut thresholds for the COSINE matmul
    selection — the same no-dropped-tie contract as
    ``matmul_tie_thresholds``, with the bound specialised to the
    normalized form.

    The selection computes ``D = 1 - (M @ P.T) / (|m| |p|)`` in one
    gemm; the exact path (``np_dists('cosine', ...)``) evaluates the
    identical formula per probe. Both are dot products of length
    ``dim`` divided by the product of the two norms, so the
    elementwise gap is bounded ABSOLUTELY: the dot rounding error
    c*dim*u*|m||p| collapses to c*dim*u once divided by the |m||p|
    normalizer, and the norm/sqrt/divide chain adds O(u) more
    (cosine distances live in [0, 2], so no magnitude term appears —
    unlike the squared-euclidean bound, which scales with the vector
    norms). 32*(dim+4)*u covers the 2x two-sided comparison (the
    exact kk-th can sit eps BELOW the matmul kk-th) with a >=4x
    safety margin over the worst-case constant.
    """
    kth = np.partition(D, kk - 1, axis=0)[kk - 1]
    return kth + 32.0 * (dim + 4.0) * 2.0**-53


def adaptive_probe_chunk(
    n_rows: int, requested: int, target_bytes: int = 64 << 20
) -> int:
    """Probe-chunk size keeping the (rows x chunk) float64 distance
    matrix under ``target_bytes``. An unbounded chunk against a 10^4+
    row Arrow batch allocates multi-100MB D matrices PER TASK (32
    concurrent tasks = memory churn that measured 2-4x slowdowns in
    the probe sweep); 64 MB keeps the matmul cache-friendly."""
    return max(16, min(requested, target_bytes // max(8 * n_rows, 1)))


# probes scored per gemm in ``topk_rows`` (before adaptive_probe_chunk
# shrinks it for large base groups)
PROBE_CHUNK = 4_096


def stack_vectors(col) -> np.ndarray:
    """A pandas column of equal-length arrays as one float64 matrix."""
    return np.stack(col.to_numpy()).astype(np.float64)


def topk_rows(
    M: np.ndarray,
    ids: np.ndarray,
    P: np.ndarray,
    k: int,
    metric: str,
    inv_diag=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact top-k of base rows ``M`` (ids ``ids``) for every probe row
    of ``P`` — the one numpy kernel behind the exact kNN joins
    (knn_join_matmul's map pass, knn_join_blocks' and knn_join_bulk's
    cogroup scorers).

    Returns (probe row index into ``P``, vec id, dist): min(k, n) rows
    per probe, ordered by (dist, id) within each probe; NaN distances
    sort last. Distances are ``np_dists`` (the codegen left-fold
    formula), so they match the oracle bit-for-bit. For euclidean_sq
    and cosine one gemm per probe chunk selects a tie-safe candidate
    superset (``matmul_tie_thresholds`` / ``cosine_tie_thresholds``,
    padded to 2k) and only those rows get exact distances; the other
    metrics score every row per probe.
    """
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    if P.shape[1] != M.shape[1]:
        raise ValueError(f"probe dim {P.shape[1]} != vector dim {M.shape[1]}")
    kk = min(k, n)
    keep_pad = 2 * k
    gemm = metric in ("euclidean_sq", "cosine") and n > keep_pad
    # base-row norms, computed once and shared across every probe chunk
    m_sq = (M**2).sum(axis=1) if gemm else None
    out_rows = np.empty((len(P), kk), dtype=np.int64)
    out_dist = np.empty((len(P), kk), dtype=np.float64)
    every = slice(None)
    step = adaptive_probe_chunk(n, PROBE_CHUNK)
    for lo in range(0, len(P), step):
        Pm = P[lo : lo + step]
        if gemm and metric == "euclidean_sq":
            p_sq = (Pm**2).sum(axis=1)
            D = m_sq[:, None] - 2.0 * (M @ Pm.T) + p_sq[None, :]
            thr = matmul_tie_thresholds(
                D, keep_pad, M.shape[1], float(m_sq.max()), p_sq
            )
        elif gemm:
            # one gemm scores the whole chunk (scoring every row per
            # probe re-reads M once PER PROBE: measured 1600s for the
            # 10^5-probe x 1M-row filtered comparator in
            # PROBE_SWEEP_r10_fcos_base1M vs 313s for the euclidean
            # gemm on the identical tiling)
            p_norm = np.sqrt((Pm**2).sum(axis=1))
            D = 1.0 - (M @ Pm.T) / (np.sqrt(m_sq)[:, None] * p_norm[None, :])
            thr = cosine_tie_thresholds(D, keep_pad, M.shape[1])
        for bi in range(len(Pm)):
            rows = every
            if gemm:
                hit = np.nonzero(D[:, bi] <= thr[bi])[0]
                # zero-norm rows score NaN in the cosine gemm and fail
                # the <= cut; the exact path keeps them (NaN sorts
                # last), so such a probe scans every row
                if len(hit) >= kk:
                    rows = hit
            exact = np_dists(metric, M[rows], Pm[bi], inv_diag=inv_diag)
            order = np.lexsort((ids[rows], exact))[:kk]
            out_rows[lo + bi] = order if rows is every else rows[order]
            out_dist[lo + bi] = exact[order]
    return (
        np.repeat(np.arange(len(P)), kk),
        ids[out_rows.ravel()],
        out_dist.ravel(),
    )


# Bytes of cogrouped input one task may sort before scoring. The
# cogroup sorts each whole partition in the JVM, so at one partition
# per core every core's task holds its share of the relation at once:
# in a local[8] session the bulk join of 125k dim-64 probes over 64
# unpruned cells (about 4 GB of candidate vectors) drove the JVM
# past 14 GB resident, where a fixed 32-way width peaked at 8.7 GB and
# this bound at 7.8 GB.
COGROUP_TASK_BYTES = 128 << 20


def cogroup_apply(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    fn,
    schema: str,
    nbytes: int = 0,
) -> DataFrame:
    """``left`` and ``right`` cogrouped on ``keys`` through ``fn``
    (applyInPandas), explicitly co-partitioned on the keys.

    The explicit repartition satisfies the cogroup's required
    distribution (same keys and count on both sides), so it replaces
    the planner's implicit exchanges one-for-one — and unlike those it
    is exempt from AQE's partition coalescing, which sizes
    post-shuffle partitions by BYTES and so packs CPU-heavy Python
    scoring groups onto a few tasks when the inputs are small on the
    wire (profiled: the 10^4-probe ANN ladder ran its 5.2s scoring
    stage on 6 tasks of 32 cores). Target = one partition per core
    (``defaultParallelism``): more would only add near-empty Python
    tasks, each paying a worker round trip. ``nbytes``, the caller's
    estimate of both sides' shuffled bytes from metadata it already
    holds, raises the count so no task sorts more than
    ``COGROUP_TASK_BYTES``.
    """
    n_shuf = max(
        left.sparkSession.sparkContext.defaultParallelism,
        -(-nbytes // COGROUP_TASK_BYTES),
    )
    return (
        left.repartition(n_shuf, *keys)
        .groupBy(*keys)
        .cogroup(right.repartition(n_shuf, *keys).groupBy(*keys))
        .applyInPandas(fn, schema)
    )


def psalt_floor(spark, n_cells: int) -> int:
    """Least per-cell probe-salt count for a cogroup keyed by
    (cell, salt, psalt) over ``n_cells`` live cells (guide §2.5 "too
    few distinct partitioning keys"): with few candidate cells and the
    byte-sized psalt at 1, the Python scoring groups land on <= n_cells
    tasks. The floor makes the live key count cover the cores four
    times over; at real scale (cells >> cores) it is 1. Purely
    physical: psalt splits a cell's probes and replicates its base
    rows, so every (probe, cell) pair is scored exactly once."""
    return max(1, -(-4 * spark.sparkContext.defaultParallelism // max(1, n_cells)))


def psalt_counts(
    spark, cand_counts: dict[int, int], probe_group_rows: int
) -> dict[int, int]:
    """Probe-salt count per cell of ``cand_counts`` (cell -> candidate
    probe rows): ceil(cnt / probe_group_rows) buckets bound the probe
    half of each cogroup group, raised to the ``psalt_floor`` over
    these cells (but never past one bucket per candidate)."""
    floor = psalt_floor(spark, len(cand_counts))
    return {
        c: max(min(floor, cnt), -(-cnt // probe_group_rows))
        for c, cnt in cand_counts.items()
    }


def knn_join_matmul(
    probes: DataFrame,
    base: DataFrame,
    k: int,
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched kNN-join for LARGE batches: one mapInPandas pass over
    the base table with every probe in the task closure.

    Per Arrow batch ``topk_rows`` scores all rows against all probes
    with one matmul (vectorized C instead of one interpreted HOF fold
    per pair — the pair-join formulation evaluates the lambda 64 times
    per pair, which measured ~58s for 20 probes x 2M rows), keeps a
    tie-safe candidate superset per probe, and recomputes ONLY those
    rows' distances with the exact (a-b)^2 formula (so reported
    distances match the codegen/oracle path bit-for-bit). A final
    window ranks k per probe. Squared-Euclidean only.

    Base rows never shuffle; output of the map phase is k*B rows per
    partition, so the window input is tiny.

    The probe batch rides the task closure, which bounds it: over
    ``MATMUL_MAX_PROBES_PER_PASS`` probes (10^4 — ~5 MB of closure at
    dim 64, plus the B x batch distance matrix in task memory) the
    probes are CHUNKED into ceil(P/bound) independent map passes whose
    outputs union before the shared window. Each pass re-scans the
    base (chunks x scans total) — for probe sets that large, consider
    the index-partitioned path (plans/bulk_knn.knn_join_bulk) instead.
    Results are identical regardless of chunking: each probe's
    candidate set is computed independently.
    """
    import pandas as pd

    # driver-memory guard: probe tables too big to materialize route to
    # the fully distributed block path (probes never leave the cluster)
    probe_rows = probes.select(probe_id_col, probe_vec_col).limit(
        MATMUL_MAX_DRIVER_PROBES + 1
    ).collect()
    if len(probe_rows) > MATMUL_MAX_DRIVER_PROBES:
        return knn_join_blocks(
            probes, base, k, probe_id_col=probe_id_col,
            probe_vec_col=probe_vec_col, vec_col=vec_col, id_col=id_col,
        )
    if not probe_rows:
        # strategy pinned: 'auto' over a many-partition base routes
        # straight back here
        return knn_join(probes, base, k, probe_id_col=probe_id_col,
                        probe_vec_col=probe_vec_col, vec_col=vec_col,
                        id_col=id_col, strategy="window")
    all_pids = np.array([r[0] for r in probe_rows], dtype=np.int64)
    all_P = np.stack([np.asarray(list(r[1]), dtype=np.float64) for r in probe_rows])
    src = base.select(id_col, vec_col)

    def scored_chunk(pids: np.ndarray, P: np.ndarray) -> DataFrame:
        def fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                pi, ids, dist = topk_rows(
                    stack_vectors(pdf[vec_col]), pdf[id_col].to_numpy(), P, k,
                    "euclidean_sq",
                )
                yield pd.DataFrame({probe_id_col: pids[pi], id_col: ids, "dist": dist})

        return src.mapInPandas(
            fn, f"{probe_id_col} long, {id_col} long, dist double"
        )

    bound = MATMUL_MAX_PROBES_PER_PASS
    chunks = [
        scored_chunk(all_pids[i : i + bound], all_P[i : i + bound])
        for i in range(0, len(all_pids), bound)
    ]
    scored = chunks[0]
    for extra in chunks[1:]:
        scored = scored.unionAll(extra)
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def block_grid(n_p: int, n_b: int, par: int) -> tuple[int, int]:
    """The (P, B) probe x base block grid ``knn_join_blocks`` tiles
    by default, from the two row counts and the parallelism. Callers
    that already know both counts (knn_join_bulk's futility route)
    size the grid here and pass it as ``n_probe_blocks`` /
    ``n_base_blocks``, so no count job runs."""
    import math

    # memory floors: each block must fit a task (~65k rows ~ 35 MB
    # at dim 64)
    P_min = max(1, math.ceil(n_p / MATMUL_MAX_DRIVER_PROBES))
    B_min = max(1, math.ceil(n_b / MATMUL_MAX_DRIVER_PROBES))
    if P_min * B_min >= par:
        # the memory floors alone give the scheduler enough groups
        return P_min, B_min
    # split the extra parallelism between the two sides to MINIMIZE
    # the replicated shuffle volume |probes|*B + |base|*P subject to
    # P*B >= defaultParallelism (each side replicates across the
    # other's blocks). The old rule put the whole parallelism factor
    # on B, which shipped |probes| x par rows whenever the base was
    # small: measured 320k probe-vector copies (~166 MB) for the
    # 10^4-probe ladder over a 2k-row base, vs ~56k rows for the
    # balanced split. Continuous optimum of the relaxation is
    # P = sqrt(par * n_p / n_b); clamp to the floors and to the row
    # counts so neither side splits beyond its rows.
    P = int(round(math.sqrt(par * n_p / max(1, n_b))))
    P = max(P_min, min(P, par, max(1, n_p)))
    B = max(B_min, min(math.ceil(par / P), max(1, n_b)))
    return P, B


def knn_join_blocks(
    probes: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "euclidean_sq",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_base_blocks: int | None = None,
    n_probe_blocks: int | None = None,
    **metric_kwargs,
) -> DataFrame:
    """Fully distributed exact brute kNN-join: block nested loop via
    cogroup. Neither side is ever materialized on the driver.

    The (probes x base) cross product is tiled into a P x B grid of
    blocks: probes hash into P blocks and replicate across the B base
    blocks; base rows hash into B blocks and replicate across the P
    probe blocks. Each (pblk, bblk) cogroup task scores its probe
    block against its base block with one numpy product per probe
    chunk (candidate selection; euclidean) or direct vectorized
    distances, keeps the local top-k per probe, and a final window
    ranks k globally. This is the classic distributed theta-join
    tiling (Okcan & Riedewald, "Processing Theta-Joins using
    MapReduce", SIGMOD 2011).

    Shuffle volume is |probes| * B + |base| * P — bounded by
    (total distance computations) / min-block-rows, i.e. I/O is
    always >=4 orders of magnitude below the O(|probes| * |base| * dim)
    compute this exact join inherently performs. For probe tables an
    index exists for, prefer plans/bulk_knn.knn_join_bulk, which
    prunes the compute itself.

    P defaults to ceil(|probes| / 65536) (one count job) so each task
    holds at most ~35 MB of probe vectors; B defaults to the base
    partition count so base blocks match the existing read parallelism.
    Results identical to knn_join / knn_join_matmul (tested at 10^5+
    probes): exact distances use the same left-fold float64 formula.
    """
    import math

    import pandas as pd

    spark = base.sparkSession
    if metric not in NP_METRICS:
        return knn_join(
            probes, base, k, metric=metric, probe_id_col=probe_id_col,
            probe_vec_col=probe_vec_col, vec_col=vec_col, id_col=id_col,
            strategy="partial", **metric_kwargs,
        )
    par = base.sparkSession.sparkContext.defaultParallelism
    if n_probe_blocks and n_base_blocks:
        P, B = int(n_probe_blocks), int(n_base_blocks)
    elif n_probe_blocks:
        P = int(n_probe_blocks)
        B_min = max(1, math.ceil(base.count() / MATMUL_MAX_DRIVER_PROBES))
        B = max(B_min, math.ceil(par / P))
    elif n_base_blocks:
        B = int(n_base_blocks)
        P_min = max(1, math.ceil(probes.count() / MATMUL_MAX_DRIVER_PROBES))
        P = max(P_min, math.ceil(par / B))
    else:
        P, B = block_grid(probes.count(), base.count(), par)
    inv_diag = metric_kwargs.get("inv_diag")

    probes_x = (
        probes.select(probe_id_col, probe_vec_col)
        .withColumn("__pblk", F.pmod(F.hash(F.col(probe_id_col)), F.lit(P)))
        .crossJoin(F.broadcast(
            spark.range(B).select(F.col("id").cast("int").alias("__bblk"))
        ))
    )
    base_x = (
        base.select(id_col, vec_col)
        .withColumn("__bblk", F.pmod(F.hash(F.col(id_col)), F.lit(B)).cast("int"))
        .crossJoin(F.broadcast(
            spark.range(P).select(F.col("id").cast("int").alias("__pblk"))
        ))
    )

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return pd.DataFrame({probe_id_col: [], id_col: [], "dist": []})
        pi, ids, dist = topk_rows(
            stack_vectors(right[vec_col]), right[id_col].to_numpy(),
            stack_vectors(left[probe_vec_col]), k, metric, inv_diag=inv_diag,
        )
        pids = left[probe_id_col].to_numpy()[pi]
        return pd.DataFrame({probe_id_col: pids, id_col: ids, "dist": dist})

    scored = cogroup_apply(
        probes_x, base_x, ["__pblk", "__bblk"], score,
        f"{probe_id_col} long, {id_col} long, dist double",
    )
    # asc_nulls_last, not asc: Arrow maps the kernel's NaN distances
    # (cosine on zero-norm rows) to NULL, and Spark's default
    # nulls-FIRST ascending would rank those rows ABOVE every real
    # neighbor — the numpy lexsort inside the kernel already sorts
    # NaN last, so the window must agree
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("dist").asc_nulls_last(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
