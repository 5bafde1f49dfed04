"""Distributed batched kNN-join: probe tables never touch the driver.

The probe table stays a DataFrame end to end, so the probe side is
bounded by the cluster, not by driver RAM.

Plan shape (``knn_join_bulk``):

0. **Futility from metadata only.** The grid geometry alone (per-cell
   boxes, no table access) can show that no cell is ever pruned: the
   largest cell lower bound any in-bounds probe can see is at most the
   smallest kth upper bound. Such calls (high ambient dimension over
   a shallow grid) go straight to the distributed block join
   (``operators.knn.knn_join_blocks``), sized from the probe count and
   the ``stats`` row total, without deriving candidates first. The
   only job before the join is the probe count, which also rejects
   duplicate probe ids on every route.
1. **Candidate derivation, distributed.** ``mapInPandas`` over the
   probe table. The task closure carries only the index *metadata* —
   the GridIndex geometry plus the per-cell row counts — which is
   O(non-empty cells), independent of both table sizes. Per probe the
   task computes the count-weighted kth-smallest farthest-corner
   bound (the box formulas of ``GridIndex.lower_bound_dists`` /
   ``upper_bound_dists``, batched) and emits one row per (probe,
   candidate cell, salt).
2. **Base pruning via semi-join.** The base table is semi-joined
   against the distinct candidate cells (a broadcast of O(cells)
   rows) — on a cell-partitioned snapshot this is dynamic partition
   pruning, so non-candidate cells are never scanned. No cell list is
   ever collected to the driver.
3. **Scoring via cogrouped matmul.** Candidates and base rows cogroup
   on (cell, salt, psalt); each group scores its probes against its
   base rows with ``operators.knn.topk_rows`` (the kernel every exact
   join shares), so distances match the codegen/oracle path
   bit-for-bit. Pair rows are never materialized.
4. **Salting for hot cells** (the clustered-probe skew case): a cell
   holding more than ``salt_rows`` base rows is split into
   ceil(count / salt_rows) salt buckets — base rows hash into one
   bucket, candidates replicate across all of them — so no single
   cogroup task sees more than ``salt_rows`` base rows per key.
5. **Global top-k + per-probe validation.** A window ranks k per
   probe; each probe's answer is provably exact iff it has
   min(k, total) rows and its max distance stays within the probe's
   kth upper bound (carried through the cogroup output as a column —
   no driver-side bound table). Invalid probes (clamped out-of-bounds
   vectors) are re-answered by the exact distributed brute join via an
   anti-join, same fallback contract as ``knn_indexed``.

Reference semantics: find_k_nearest_neighbors per probe row
(kd_tree_database.py:285-304) at probe-*table* scale.

Cost model at 100 TB: the base is scanned once (pruned to candidate
cells), shuffled once (by cell/salt key), and the probe table is
scanned once into a persisted projection that serves the count, the
derivation, the vector re-attach and the redo anti-join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.knn import (
    NP_METRICS,
    block_grid,
    cogroup_apply,
    psalt_floor,
    stack_vectors,
    topk_rows,
)
from .grid_index import GridIndex, index_stats


DEFAULT_SALT_ROWS = 50_000
# max probe-candidate rows per cogroup key (the probe-side salt): each
# applyInPandas group materializes as one Arrow buffer, so this times
# (vector bytes) bounds the probe half of task memory (~9 MB at dim 64)
DEFAULT_PROBE_GROUP_ROWS = 16_384


def _probe_count(probes: DataFrame, probe_id_col: str) -> int:
    """Row count of ``probes``, checking that probe ids are unique:
    every per-probe window (and the vector re-attach join) assumes
    they are. One rollup aggregate yields both the per-id counts and
    the grand total, so the check costs no job over a plain count
    (``count`` + ``countDistinct`` would plan a second exchange, and
    AQE runs each exchange as its own job). Raises ValueError naming
    the first few duplicated ids."""
    rows = (
        probes.rollup(probe_id_col)
        .agg(F.count(F.lit(1)).alias("n"), F.grouping_id().alias("grand"))
        .filter((F.col("grand") == 1) | (F.col("n") > 1))
        .orderBy(F.col("grand").desc(), probe_id_col)
        .limit(6)
        .collect()
    )
    dups = [r[probe_id_col] for r in rows if r["grand"] == 0]
    if dups:
        raise ValueError(
            f"knn_join_bulk needs unique {probe_id_col} values; "
            f"duplicated: {dups[:5]}"
        )
    # an empty input has no grand-total row
    return int(rows[0]["n"]) if rows else 0


def knn_join_bulk(
    assigned: DataFrame,
    index: GridIndex,
    probes: DataFrame,
    k: int,
    metric: str = "euclidean_sq",
    stats: dict[int, int] | None = None,
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt_rows: int = DEFAULT_SALT_ROWS,
    probe_group_rows: int = DEFAULT_PROBE_GROUP_ROWS,
    futility_ratio: float = 0.5,
    **metric_kwargs,
) -> DataFrame:
    """Batched exact kNN-join with a DataFrame probe side (see module
    docstring). Output: (probe_id, vec_id, dist, rank), k rows per
    probe, distances in the metric's native units, id tie-break.

    ``assigned`` must carry the index's ``cell_id`` column
    (build_index/assign_cells). Identical results to the brute
    ``knn_join`` (tested at 10^5+ probes); never materializes a probe
    vector on the driver.
    """
    # imported per call: tests patch operators.knn.knn_join_blocks to
    # observe the routing
    from ..operators.knn import knn_join, knn_join_blocks

    spark = assigned.sparkSession
    if not GridIndex.supports(metric) or metric not in NP_METRICS:
        return knn_join(probes, assigned, k, metric=metric,
                        probe_id_col=probe_id_col, probe_vec_col=probe_vec_col,
                        vec_col=vec_col, id_col=id_col, strategy="partial",
                        **metric_kwargs)
    if stats is None:
        stats = index_stats(assigned)
    if not stats:
        return knn_join(probes, assigned, k, metric=metric,
                        probe_id_col=probe_id_col, probe_vec_col=probe_vec_col,
                        vec_col=vec_col, id_col=id_col, strategy="partial",
                        **metric_kwargs)
    if salt_rows < 1:
        raise ValueError("salt_rows must be >= 1")

    cells = np.array(sorted(stats), dtype=np.int64)
    counts = np.array([stats[c] for c in cells.tolist()], dtype=np.int64)
    total = int(counts.sum())
    nsalt = np.maximum(1, -(-counts // salt_rows)).astype(np.int64)
    need = min(k, total)
    inv_diag = metric_kwargs.get("inv_diag")
    inv_diag_arr = (
        np.asarray(list(inv_diag), dtype=np.float64) if inv_diag is not None else None
    )
    # per-cell box geometry, computed ONCE on the driver and shipped in
    # the closure (O(cells x dim) doubles — index metadata, independent
    # of either table's size). extended=True is the pruning-valid
    # lower-bound geometry (edge cells stretch to +-inf for clamped
    # points); extended=False is the finite farthest-corner geometry
    # the count-weighted kth upper bound uses — exactly the arrays
    # GridIndex.lower/upper_bound_dists derive per probe, hoisted so
    # the derivation below is pure batched numpy (a per-probe Python
    # loop measured ~100x slower at 10^6 probes).
    lo_ext, hi_ext = index.cell_boxes(cells.tolist(), extended=True)
    lo_fin, hi_fin = index.cell_boxes(cells.tolist(), extended=False)
    derive_chunk = 256  # bounds tensor is chunk x cells x dim doubles

    def _reduce(t: np.ndarray) -> np.ndarray:
        """The metric over non-negative per-dim terms (last axis)."""
        if metric == "euclidean_sq":
            return (t**2).sum(-1)
        if metric == "manhattan":
            return t.sum(-1)
        if metric == "chebyshev":
            return t.max(-1)
        if metric == "mahalanobis_diag":
            return (inv_diag_arr * t**2).sum(-1)
        raise KeyError(metric)

    def _bounds(P: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(lb, ub) matrices (probes x cells) for a probe chunk —
        same box formulas as GridIndex.lower/upper_bound_dists."""
        gaps = np.maximum(
            0.0,
            np.maximum(lo_ext[None, :, :] - P[:, None, :],
                       P[:, None, :] - hi_ext[None, :, :]),
        )
        far = np.maximum(
            np.abs(lo_fin[None, :, :] - P[:, None, :]),
            np.abs(hi_fin[None, :, :] - P[:, None, :]),
        )
        return _reduce(gaps), _reduce(far)

    # ---- 0. futility from geometry alone -------------------------------
    # For a probe inside the index bounds [L, U], a cell's lower bound
    # is at most the metric over max(lo - L, U - hi) on its finite box
    # (unsplit dims add 0), and every kth upper bound is at least the
    # smallest metric over half the cell widths (the farthest corner is
    # never nearer than half the box). When the first never exceeds the
    # second, every cell is a candidate for every probe, the futility
    # ratio below would come out 1, and the candidate pass, its persist
    # and its count only reach the block join the grid already implies.
    # Probes outside the bounds may prune; the block join answers them
    # exactly all the same.
    prunes_nothing = _reduce(
        np.maximum(lo_fin - index.lower, index.upper - hi_fin)
    ).max() <= _reduce((hi_fin - lo_fin) / 2).min()
    if prunes_nothing and futility_ratio <= 1:
        n_probes = _probe_count(probes, probe_id_col)
        P, B = block_grid(n_probes, total, spark.sparkContext.defaultParallelism)
        return knn_join_blocks(
            probes, assigned, k, metric=metric, probe_id_col=probe_id_col,
            probe_vec_col=probe_vec_col, vec_col=vec_col, id_col=id_col,
            n_probe_blocks=P, n_base_blocks=B, **metric_kwargs,
        )

    # ---- 1. distributed candidate derivation -------------------------
    # candidates carry IDS AND BOUNDS ONLY (guide §2.3/§8: shuffle
    # keys and metadata, not payloads): the old schema shipped a full
    # probe-vector copy per (probe x cell x salt) row — built row by
    # row in Python inside derive, serialized into the persist, and
    # shuffled — ~dim x replication more candidate bytes than the ids
    # for zero information (the vectors are a function of probe_id).
    # Vectors re-attach to candidates by a single probe_id join from
    # the once-persisted probe projection below, just before the
    # cogroup exchange.
    cand_schema = (
        f"{probe_id_col} long, cell_id long, salt int, __kth_ub double"
    )

    def derive(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            pids = pdf[probe_id_col].to_numpy()
            P_all = np.stack(pdf[probe_vec_col].to_numpy()).astype(np.float64)
            for lo in range(0, len(pids), derive_chunk):
                P = P_all[lo : lo + derive_chunk]
                lb, ub = _bounds(P)
                order_ub = np.argsort(ub, axis=1, kind="stable")
                cum_ub = np.take_along_axis(
                    np.broadcast_to(counts, ub.shape), order_ub, axis=1
                ).cumsum(axis=1)
                # first sorted position where the cumulative count
                # reaches k (== np.searchsorted(cum, k) per row)
                pos = (cum_ub < k).sum(axis=1)
                has_k = cum_ub[:, -1] >= k
                kth = np.where(
                    has_k,
                    np.take_along_axis(
                        ub,
                        np.take_along_axis(
                            order_ub, np.minimum(pos, ub.shape[1] - 1)[:, None], 1
                        ),
                        1,
                    )[:, 0],
                    np.inf,
                )
                mask = lb <= kth[:, None]
                # vectorized row construction (guide §4.2): the old
                # per-probe / per-cell / per-salt Python append loop was
                # the hottest code in the whole bulk path (profiled
                # 11.1s of the 10^4-probe ladder on this loop alone —
                # ~half the row's wall). np.nonzero walks the mask
                # row-major (probe, cell) and np.repeat expands salts
                # in-order, so the emitted rows are IDENTICAL, in the
                # same order, to the loop's output.
                pi, ci = np.nonzero(mask)
                reps = nsalt[ci]
                r_pi = np.repeat(pi, reps)
                r_ci = np.repeat(ci, reps)
                starts = np.cumsum(reps) - reps
                salt_seq = np.arange(int(reps.sum()), dtype=np.int64) - np.repeat(
                    starts, reps
                )
                # yield per probe chunk: bounds the Arrow output batch
                # (a whole input partition's candidates in one frame is
                # an unbounded buffer at large probe counts)
                yield pd.DataFrame(
                    {
                        probe_id_col: pids[lo : lo + derive_chunk][r_pi],
                        "cell_id": cells[r_ci],
                        "salt": salt_seq.astype(np.int32),
                        "__kth_ub": kth[r_pi],
                    }
                )

    # Persisted (spill-to-disk) because two jobs consume it — the
    # cand_counts collect and the final scored pipeline; without the
    # persist the full probe-table bound-derivation pass ran twice per
    # job (VERDICT r8 item 4). Freed lazily via the shared cache
    # registry (caching.unpersist_caches) or eagerly on the
    # early-return fallbacks below.
    from pyspark import StorageLevel

    from ..caching import register_cache

    # NOTE (r12): fan_out(probes) ahead of the derive mapInPandas was
    # measured and REVERTED — interleaved A/B showed the bench's
    # DEFAULT-routing bulk_1e4 row consistently ~40% slower with it
    # (12.3-14.3s vs 7.3-9.3s job-sum, 3/3 pairs) and no reliable win
    # on the pinned-matmul registered query; the one-shot 77s sweep
    # row that motivated it was dominated by first-run snapshot builds
    # (OPTIMIZATION_r12.md).
    # the caller's probe pipeline executes ONCE: this narrow projection
    # feeds the derivation, the futility count, the vector re-attach
    # join and the redo anti-join (it was re-executed per consumer
    # before — 3 scans pinned by test_bulk_derivation_runs_once, now 1).
    # MEMORY_AND_DISK: bounded by n_probes x dim, spills gracefully.
    pvecs = probes.select(probe_id_col, probe_vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        n_probes = _probe_count(pvecs, probe_id_col)
    except ValueError:
        pvecs.unpersist()
        raise
    register_cache(pvecs)
    cand = register_cache(
        pvecs.mapInPandas(derive, cand_schema).persist(StorageLevel.DISK_ONLY)
    )

    # ---- 2. base pruning + two-dimensional salting ---------------------
    # One pass over the candidate relation collects per-cell candidate
    # COUNTS — O(cells) rows, the same metadata class as index_stats
    # (bounded by the grid, not by probe count). They serve two jobs:
    # the candidate cell set prunes the base scan (broadcast inner join
    # on the partition column -> dynamic partition pruning on the
    # cell-partitioned snapshot), and they size the PROBE-side salt:
    # cogroup's applyInPandas materializes each (key)-group as ONE
    # Arrow buffer, so a hot cell attracting ~10^6 probe candidates
    # would allocate a multi-GB group buffer (measured: Arrow
    # OutOfMemory at the 10^6-probe sweep point). Probe candidates
    # therefore hash into ceil(cand_count / probe_group_rows) psalt
    # buckets and base rows replicate across them — replication total
    # is Σ base_rows(cell) x npsalt(cell), i.e. proportional to the
    # candidate mass the join must score anyway, never to probe count
    # alone. Every cogroup group is now <= salt_rows base rows plus
    # ~probe_group_rows candidates: bounded task memory at ANY probe
    # count.
    # Count only salt==0 rows (ADVICE r7): derive replicates each
    # (probe, cell) candidate across ALL nsalt(cell) buckets, so a raw
    # count inflates the futility ratio by the base-side salting factor
    # (hot-cell stores would fall back to the block join long before
    # the documented ratio). Candidates replicate identically across
    # salts, so the salt==0 count IS the per-(cell, salt) candidate
    # mass — the exact number both the ratio test and the probe-side
    # psalt sizing need (each cogroup key is (cell, salt, psalt)).
    cand_counts = {
        int(r["cell_id"]): int(r["cnt"])
        for r in cand.filter(F.col("salt") == 0)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    if not cand_counts:
        # no candidates (empty probe table): answer everything by the
        # exact brute join (itself empty for empty probes); pvecs (the
        # cached probe projection) serves the fallback and is released
        # by the shared registry
        cand.unpersist()
        return knn_join(pvecs, assigned, k, metric=metric,
                        probe_id_col=probe_id_col, probe_vec_col=probe_vec_col,
                        vec_col=vec_col, id_col=id_col, strategy="partial",
                        **metric_kwargs)
    # ---- futility fallback (the batch analogue of knn_indexed's
    # brute-scan mode): when the bounds can't prune — high ambient
    # dimensionality vs split depth makes the farthest-corner bound
    # span the unsplit dims, so candidate sets approach ALL cells —
    # the candidate relation costs |probes| x |cells| vector copies
    # for zero pruning benefit. The per-cell candidate counts (already
    # collected, O(cells)) expose this for metadata cost: if the mean
    # candidate set covers more than ``futility_ratio`` of the cells,
    # the distributed block-tiled brute join is strictly cheaper —
    # route there. The probe count taken above prices the ratio.
    total_cand = sum(cand_counts.values())
    if n_probes and total_cand >= futility_ratio * n_probes * len(cells):
        cand.unpersist()
        P, B = block_grid(n_probes, total, spark.sparkContext.defaultParallelism)
        return knn_join_blocks(
            pvecs, assigned, k, metric=metric, probe_id_col=probe_id_col,
            probe_vec_col=probe_vec_col, vec_col=vec_col, id_col=id_col,
            n_probe_blocks=P, n_base_blocks=B, **metric_kwargs,
        )
    nps_floor = psalt_floor(spark, len(cand_counts))
    npsalt = {
        c: max(min(nps_floor, cnt), -(-cnt // probe_group_rows))
        for c, cnt in cand_counts.items()
    }
    cell_map = F.broadcast(
        spark.createDataFrame(
            [
                (int(c), int(nsalt[np.searchsorted(cells, c)]), int(npsalt[c]))
                for c in sorted(cand_counts)
            ],
            "cell_id long, __nsalt int, __nps int",
        )
    )
    base = (
        assigned.join(cell_map, "cell_id")  # inner: prunes to candidate cells
        .withColumn(
            "salt", F.pmod(F.hash(F.col(id_col)), F.col("__nsalt")).cast("int")
        )
        .withColumn(
            "psalt", F.explode(F.sequence(F.lit(0), F.col("__nps") - 1))
        )
        .withColumn("psalt", F.col("psalt").cast("int"))
        .select("cell_id", "salt", "psalt", id_col, vec_col)
    )
    cand = cand.join(cell_map.select("cell_id", "__nps"), "cell_id").withColumn(
        "psalt", F.pmod(F.hash(F.col(probe_id_col)), F.col("__nps")).cast("int")
    )
    # re-attach the probe vectors to the id-only candidates just below
    # the cogroup exchange: one equi-join on probe_id against the
    # cached narrow projection (the planner broadcasts it when small;
    # at large probe counts it becomes a shuffle join of ONE vector
    # copy per probe instead of one per candidate row). Values are
    # bit-identical to the old inlined copies: derive round-tripped the
    # same array<double> through float64 (exact), and score() stacks
    # either to float64.
    cand = cand.join(pvecs, probe_id_col)

    # ---- 3. cogrouped matmul scoring ----------------------------------
    def score(left, right):
        import pandas as pd

        if not len(left) or not len(right):
            return pd.DataFrame(
                {probe_id_col: [], id_col: [], "dist": [], "__kth_ub": []}
            )
        pi, ids, dist = topk_rows(
            stack_vectors(right[vec_col]), right[id_col].to_numpy(),
            stack_vectors(left[probe_vec_col]), k, metric, inv_diag=inv_diag,
        )
        return pd.DataFrame({
            probe_id_col: left[probe_id_col].to_numpy()[pi], id_col: ids,
            "dist": dist, "__kth_ub": left["__kth_ub"].to_numpy()[pi],
        })

    scored = cogroup_apply(
        cand, base, ["cell_id", "salt", "psalt"], score,
        f"{probe_id_col} long, {id_col} long, dist double, __kth_ub double",
    )

    # ---- 4. global top-k ----------------------------------------------
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    result = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )

    # ---- 5. per-probe validation + brute redo -------------------------
    # a probe's answer is provably exact iff it has min(k, total) rows
    # and its max distance stays within its kth upper bound, checked as
    # window aggregates over the already probe-partitioned result; bad
    # probes (clamped out-of-bounds vectors) are re-answered by the
    # exact distributed brute join via an anti-join (a probe with ZERO
    # result rows is absent from the good set, so it lands there too).
    wp = Window.partitionBy(probe_id_col)
    validated = result.withColumn("__cnt", F.count(F.lit(1)).over(wp)).withColumn(
        "__maxd", F.max("dist").over(wp)
    )
    ok = (F.col("__cnt") >= F.lit(need)) & (F.col("__maxd") <= F.col("__kth_ub"))
    out_cols = [probe_id_col, id_col, "dist", "rank"]
    good = validated.filter(ok).select(*out_cols)
    good_ids = validated.filter(ok).select(probe_id_col).distinct()
    redo = pvecs.join(good_ids, probe_id_col, "left_anti")
    exact = knn_join(
        redo, assigned, k, metric=metric, probe_id_col=probe_id_col,
        probe_vec_col=probe_vec_col, vec_col=vec_col, id_col=id_col,
        strategy="partial", **metric_kwargs,
    )
    return good.unionByName(exact.select(*out_cols))


def knn_join_bulk_cosine(
    assigned: DataFrame,
    index: GridIndex,
    probes: DataFrame,
    k: int,
    stats: dict[int, int] | None = None,
    pad: int = 3,
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    norm_vec_col: str = "__nv",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    **bulk_kwargs,
) -> DataFrame:
    """Batched COSINE kNN-join through the euclidean grid index — the
    embedding-dedup / retrieval workload shape at probe-table scale.

    On L2-normalized vectors squared Euclidean = 2 x cosine distance
    (the normalize-then-index equivalence the single-probe
    ``knn_cosine_indexed`` query uses), so the euclidean
    ``knn_join_bulk`` over a NORMALIZED snapshot ranks candidates for
    cosine exactly, up to fp noise at the kth boundary; a ``pad*k``
    candidate cut plus an exact-cosine re-rank on the RAW vectors
    decides the final top k, so reported distances match the brute
    cosine oracle bit-for-bit. Everything stays distributed: probe
    normalization is an expression, the candidate join carries only
    (probe, candidate) pairs, and no probe vector touches the driver.

    ``assigned`` must be the normalized cell-partitioned snapshot:
    ``norm_vec_col`` holding the unit vectors the index was built on,
    ``vec_col`` the raw vectors. Output: (probe_id, vec_id, cos_dist,
    rank).
    """
    from ..functions.distance import cosine_distance, l2_norm

    pv = F.col(probe_vec_col).cast("array<double>")
    pn = l2_norm(probe_vec_col)
    probes_norm = probes.select(
        probe_id_col,
        F.transform(pv, lambda x: x / pn).alias(probe_vec_col),
    )
    cand = knn_join_bulk(
        assigned, index, probes_norm, k=pad * k,
        probe_id_col=probe_id_col, probe_vec_col=probe_vec_col,
        vec_col=norm_vec_col, id_col=id_col, stats=stats, **bulk_kwargs,
    )
    raw = assigned.select(id_col, vec_col)
    scored = (
        cand.select(probe_id_col, id_col)
        .join(raw, id_col)
        .join(probes.select(probe_id_col, probe_vec_col), probe_id_col)
        .withColumn(
            "cos_dist", cosine_distance(vec_col, F.col(probe_vec_col))
        )
        .select(probe_id_col, id_col, "cos_dist")
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("cos_dist").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
