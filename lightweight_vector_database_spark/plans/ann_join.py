"""Batched ANN retrieval join: a probe TABLE served by the IVF-PQ tier.

VERDICT r7 item 1. The exact batched joins (plans/bulk_knn.knn_join_bulk,
operators/knn.knn_join_blocks) are linear in base size per probe —
800.6s for 10^6 probes over a 200k base at dim 64 (PROBE_SWEEP_r07).
The single-probe ANN tier (operators/similarity.ivfpq_search) is
sublinear but serves ONE vector per call with driver-built literal
LUTs. This module composes the existing pieces into the shape the
100 TB training-data workload needs (mine hard negatives / semantic
dedup at 10^8 probes): probe-table-in, IVF-pruned, cogrouped-ADC
batched search with exact re-rank — no probe vector, LUT, or
candidate list ever materializes on the driver.

Plan shape (``ann_join_topk``):

1. **Probe cell assignment, distributed.** ``mapInPandas`` over the
   probe table; the coarse centroids + codebooks ride a BROADCAST
   variable (O(cells x dim) values, torrent-shipped once per executor
   — not serialized into every task closure). Per probe: left-fold
   squared distances to
   every centroid (the same IEEE accumulation order as the SQL
   ``list_sum`` fold, so cell choice ties out bit-for-bit against the
   DuckDB oracle), emit the ``nprobe`` nearest (dist, cell-id
   tie-break) as (probe_id, probe_vec, cell) rows.
2. **Code pruning + two-dimensional salting.** The CODES table (from
   ``ivfpq_encode``, written partitioned by cell: id + cell + m small
   ints — ~32x smaller than the float vectors) is inner-joined against
   the broadcast candidate-cell map, pruning non-probed cells at the
   scan (partition pruning on the cell-partitioned snapshot). Hot
   cells salt exactly like plans/bulk_knn: codes hash into
   ceil(count/salt_codes) salt buckets (candidates replicate across),
   probe candidates hash into ceil(cand/probe_group_rows) psalt
   buckets (codes replicate across) — every cogroup task sees a
   bounded number of codes AND candidates at ANY probe count.
3. **Cogrouped ADC scoring.** Probes and codes cogroup on
   (cell, salt, psalt). Each group shares one coarse cell, so the
   kernel builds per-probe residual lookup tables
   (LUT[p][j][c] = ||(p - centroid)_subj - codebook[j][c]||^2, a
   left fold over the subspace dims) and scores every code row with m
   table gathers — the classic IVF-PQ ADC, vectorized over the whole
   (probes x codes) group. Every float accumulation is a left fold,
   so ADC values are BIT-IDENTICAL to the oracle's SQL folds and the
   candidate cut is deterministic. Each group emits its per-probe top
   ``k*refine`` by (adc, id).
4. **Global candidate cut.** One window per probe over (adc, id)
   keeps exactly ``k*refine`` rows — the union of per-group top-keeps
   always contains the global top-keep, so the candidate set is
   independent of salting.
5. **Exact re-rank.** Candidates join the raw vectors by id (the only
   touch of float vectors — k*refine rows per probe), the probe table
   by probe_id, score with the exact codegen fold (same expression as
   the brute oracle), window top-k with id tie-break.

Cost model at 100 TB: the float corpus is read only for the
k*refine*|probes| refine rows; the scan side of the join is the codes
table (32x smaller), pruned to probed cells, shuffled once by
(cell, salt, psalt). Per probe the ADC work is (nprobe/ncells) x |base|
x m adds — against the exact join's |base| x dim multiplies.

Recall is governed by (nprobe, refine) exactly like single-probe
IVF-PQ; the registered suite query pins recall >= 0.95 against the
exact knn_join_bulk ground truth, and operators/tiering.py guards
tier choice (VERDICT r7 item 2).

Reference semantics: find_k_nearest_neighbors per probe row
(kd_tree_database.py:285-304) at probe-table scale, traded to
approximate via the standard IVF-PQ contract (Jegou et al., TPAMI
2011).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import cosine_distance, metric_expr
from ..operators.knn import cogroup_apply, psalt_counts
from ..operators.similarity import fold_matvec

DEFAULT_SALT_CODES = 262_144
DEFAULT_PROBE_GROUP_ROWS = 16_384

# distance contracts the batched tier serves. ``cosine`` uses the
# normalize-then-euclidean equivalence (on unit vectors squared
# euclidean = 2 x cosine distance, the same trick as
# plans/bulk_knn.knn_join_bulk_cosine): the MODEL + CODES must be
# trained/encoded on L2-NORMALIZED vectors, probes are normalized
# inside the assignment kernel, and the exact re-rank scores true
# cosine on the RAW vectors — so reported distances match the brute
# cosine oracle bit-for-bit while the whole retrieval stays IVF-PQ.
ANN_JOIN_METRICS = ("euclidean_sq", "cosine")


def fold_norms(P: np.ndarray) -> np.ndarray:
    """Per-row squared L2 norms accumulated as a LEFT FOLD over
    dimensions — the same IEEE order as the oracle's
    ``list_sum(list_transform(..., i -> v[i]*v[i]))``, so the
    normalized coordinates (x / sqrt(norm)) are bit-identical on both
    engines."""
    acc = np.zeros(len(P))
    for t in range(P.shape[1]):
        acc = acc + P[:, t] * P[:, t]
    return acc


def fold_sq_dists(P: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(|P| x |C|) squared euclidean distances accumulated as a LEFT
    FOLD over dimensions (acc <- acc + d_t^2): the same IEEE order as
    ``list_sum(list_transform(range(...), ...))`` / ``F.aggregate``,
    so argmin/top-n decisions match the SQL oracle bit-for-bit (see
    memory: sums of floats are order-dependent)."""
    acc = np.zeros((len(P), len(C)))
    for t in range(P.shape[1]):
        d = P[:, t, None] - C[None, :, t]
        acc = acc + d * d
    return acc


def fold_residual_luts(R: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(|R| x m x ksub) ADC lookup tables, left-fold accumulated per
    subspace: LUT[p][j][c] = sum_t (R[p, j*dsub+t] - books[j,c,t])^2
    in ascending-t order — bit-identical to the oracle's inner
    ``list_sum`` fold."""
    m, ksub, dsub = books.shape
    lut = np.empty((len(R), m, ksub))
    for j in range(m):
        acc = np.zeros((len(R), ksub))
        for t in range(dsub):
            d = R[:, j * dsub + t, None] - books[None, j, :, t]
            acc = acc + d * d
        lut[:, j] = acc
    return lut


def ann_join_topk(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    probes: DataFrame,
    raw: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    metric: str = "euclidean_sq",
    pred: Column | None = None,
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    cell_col: str = "cell",
    salt_codes: int = DEFAULT_SALT_CODES,
    probe_group_rows: int = DEFAULT_PROBE_GROUP_ROWS,
    code_stats: dict[int, int] | None = None,
    probe_chunk: int = 4_096,
    adaptive: bool = False,
    esc_nprobe: int | None = None,
    esc_refine: int | None = None,
    imi: tuple[np.ndarray, np.ndarray] | None = None,
    rotation: np.ndarray | None = None,
    model_dtype=np.float64,
) -> DataFrame:
    """Batched IVF-PQ top-k join (see module docstring).

    ``codes``: the encoded snapshot from ``ivfpq_encode`` —
    (id_col, cell_col, code_col) — ideally read from a
    cell-partitioned parquet layout so the candidate-cell join prunes
    files. ``raw``: (id_col, vec_col) for the exact re-rank.
    Output: (probe_id long, vec_id long, dist double, rank long) with
    EXACT distances (squared euclidean, or true cosine for
    ``metric='cosine'``) on the refined top k; k rows per probe (fewer
    only when the probed cells hold fewer candidates).

    ``metric='cosine'`` requires the model + codes snapshot to be
    trained/encoded on L2-NORMALIZED vectors (see ANN_JOIN_METRICS);
    ``raw`` stays the RAW vectors — the re-rank computes true cosine.

    ``pred`` is a metadata predicate over the CODES relation columns
    (filter-THEN-retrieve semantics: the ADC and the candidate cut see
    qualifying rows only, so recall does not collapse with predicate
    selectivity the way post-filtering k results would — the classic
    filtered-ANN contract, matching the reference's filter-before-topk
    kNN, kd_tree_database.py:285-304). Build the codes snapshot WITH
    the filter columns so the predicate pushes into the pruned parquet
    scan. When you pass precomputed ``code_stats``, they must be
    post-``pred`` counts (pass None to let this function count).

    ``adaptive`` enables PER-PROBE escalation (VERDICT r9 item 1): a
    globally deeper (nprobe, refine) point makes EVERY probe pay the
    adversarial-predicate cost; instead each probe is escalated only
    when the predicate actually displaced it, on two O(cells) signals
    computed inside the assignment kernel:

    * **displaced home** — the probe's nearest cell OVERALL is not a
      qualifying cell (its home territory was emptied by ``pred``, so
      its true filtered neighbors are scattered across farther cells
      and the ADC residuals are off-model): that probe searches
      ``esc_nprobe`` cells and keeps ``k * esc_refine`` candidates.
    * **qualifying-mass shortfall** — the cumulative post-``pred``
      code count over the probe's chosen cells is below its candidate
      budget (k*refine, or k*esc_refine when displaced): the probe
      widens its OWN cell list to the nearest qualifying cells whose
      cumulative mass covers the budget (capped at all live cells).

    Probes triggering neither signal run the base (nprobe, refine)
    point BIT-IDENTICALLY to ``adaptive=False``. Defaults:
    ``esc_nprobe = 2*nprobe``, ``esc_refine = 8*refine`` — at the
    default (4, 2) these reproduce (8, 16), the recorded operating
    point that clears the 0.95 recall floor under the
    cluster-correlated predicate (PROBE_SWEEP_r09_base1M_filt_np8r16)
    — while uncorrelated probes keep the cheap knob.

    ``metric='cosine'`` additionally requires every probe and corpus
    vector to be non-zero (the kernel raises on a zero-norm probe —
    ADVICE r9 — rather than emitting NaN coordinates).

    ``rotation``: OPQ rotation matrix from ``train_opq`` — the codes
    snapshot must be built by ``ivfpq_encode(..., rotation=R)`` with
    the matching rotated-residual codebooks. Probe residuals are
    rotated with the same left-fold matvec before the ADC (cell
    ASSIGNMENT is unrotated — the coarse quantizer lives in the
    original space), so the whole serving contract (tie-safe cuts,
    candidate budget, exact re-rank) is unchanged; only the code
    resolution improves. Composes with ``pred``/``adaptive``/
    ``metric='cosine'`` and with ``imi`` (the rotation lives in the
    residual space, after the product-cell center is assembled; build
    the snapshot with ``imi_encode(..., rotation=R)``).

    ``model_dtype``: storage dtype for the broadcast centroids +
    codebooks. float64 (default) is required for the bit-exact oracle
    contract; float32 halves the broadcast at 100 TB model sizes
    (kernels upcast to float64 for the folds, so results are still
    deterministic — just quantized to the float32 model).
    """
    if k < 1 or nprobe < 1 or refine < 1:
        raise ValueError("k, nprobe and refine must be >= 1")
    if metric not in ANN_JOIN_METRICS:
        raise KeyError(
            f"metric {metric!r} not served by the batched ANN tier "
            f"(supported: {ANN_JOIN_METRICS}); use the exact "
            "knn_join_bulk / knn_join_blocks paths for other metrics"
        )
    # model validation/prep before any DataFrame access, so shape
    # errors surface even when callers probe the API with stubs.
    # model_dtype quantizes the STORED model (broadcast payload); the
    # folds always run in float64 on the (possibly quantized) values
    books = np.asarray(codebooks, dtype=np.float64).astype(
        model_dtype, copy=False
    )
    m, ksub, dsub = books.shape
    rot = None
    if rotation is not None:
        rot = np.asarray(rotation, dtype=np.float64).astype(
            model_dtype, copy=False
        )
        # m*dsub == the full vector dim for every trainable model:
        # _residual_pq_books_np raises at train time when dim % m != 0,
        # so this check agrees with ivfpq_encode/ivfpq_search on all
        # models that can exist (ADVICE r10)
        if rot.shape != (m * dsub, m * dsub):
            raise ValueError(
                f"rotation is {rot.shape}, codebooks cover dim {m * dsub}"
            )
    if imi is not None:
        # two-level (product) coarse quantizer — VERDICT r9 design
        # note / Babenko & Lempitsky 2012: C = K1*K2 cells ship as two
        # O(K x dim/2) half codebooks instead of one O(C x dim)
        # matrix, and every per-probe cell-distance fold drops from
        # O(C x dim) to O((K1 + K2) x dim/2) + an O(n_live) add,
        # because the squared distance to a product center decomposes
        # across the halves. Cell ids follow cell = c1 * K2 + c2
        # (operators/similarity.imi_encode).
        if centroids is not None:
            raise ValueError("pass centroids=None with imi=(c1, c2)")
        imi_c1 = np.asarray(imi[0], dtype=np.float64).astype(
            model_dtype, copy=False
        )
        imi_c2 = np.asarray(imi[1], dtype=np.float64).astype(
            model_dtype, copy=False
        )
        cents = None
        imi_k2 = len(imi_c2)
        imi_dh = imi_c1.shape[1]
        if imi_dh + imi_c2.shape[1] != m * dsub:
            raise ValueError(
                f"codebooks cover dim {m * dsub}, imi halves cover "
                f"{imi_dh + imi_c2.shape[1]}"
            )
    else:
        cents = np.asarray(centroids, dtype=np.float64).astype(
            model_dtype, copy=False
        )
        imi_c1 = imi_c2 = None
        imi_k2 = imi_dh = 0
        if cents.shape[1] != m * dsub:
            raise ValueError(
                f"codebooks cover dim {m * dsub}, centroids have "
                f"{cents.shape[1]}"
            )
    if pred is not None:
        codes = codes.filter(pred)
    spark = codes.sparkSession
    keep = k * refine
    if esc_nprobe is None:
        esc_nprobe = 2 * nprobe
    if esc_refine is None:
        esc_refine = 8 * refine
    if adaptive and (esc_nprobe < nprobe or esc_refine < refine):
        # escalation below the base point silently gives the
        # predicate-DISPLACED probes — the ones the mechanism exists
        # to rescue — a SMALLER budget than everyone else (esc_refine=0
        # would emit zero candidates for exactly those probes)
        raise ValueError(
            f"escalation ({esc_nprobe}, {esc_refine}) must be >= the "
            f"base point ({nprobe}, {refine})"
        )
    keep_esc = k * esc_refine if adaptive else keep

    # ---- 0. qualifying-cell mask (O(cells) metadata) -------------------------
    # Probes are assigned to their nprobe nearest QUALIFYING cells —
    # cells holding at least one (post-``pred``) code row. Without the
    # mask, a predicate CORRELATED with the cluster geometry empties
    # whole probed cells: measured on the 200k clustered sweep fixture,
    # pred = "vec_id % 2 == 0" empties every odd cluster's cells
    # (cluster = id % 16 there), so 26% of probes probed 4 empty cells
    # and returned NOTHING — the classic filtered-ANN failure mode.
    # Restricting assignment to qualifying cells routes those probes to
    # the nearest cells that can answer them. (The complementary
    # failure — post-filtering k results after unfiltered retrieval —
    # loses up to sel^-1 of the answer set; this module filters BEFORE
    # retrieval precisely to avoid it.)
    if code_stats is None:
        code_stats = {
            int(r[cell_col]): int(r["cnt"])
            for r in codes.groupBy(cell_col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
    live_cells = np.array(
        sorted(c for c, n in code_stats.items() if n > 0), dtype=np.int64
    )
    live_counts = np.array(
        [code_stats[int(c)] for c in live_cells], dtype=np.int64
    )
    if not len(live_cells):
        return (
            probes.select(
                F.col(probe_id_col).cast("long").alias(probe_id_col),
                F.lit(None).cast("long").alias(id_col),
                F.lit(None).cast("double").alias("dist"),
                F.lit(None).cast("long").alias("rank"),
            ).filter(F.lit(False))
        )
    np_eff = min(nprobe, len(live_cells))
    np_esc_eff = min(esc_nprobe, len(live_cells)) if adaptive else np_eff
    n_live = len(live_cells)

    # Model state ships as a BROADCAST variable, not closure capture
    # (VERDICT r9 item 5): mapInPandas serializes the closure per task,
    # so at 10^6 coarse cells x high dim the captured centroids +
    # codebooks were ~0.5 GB re-shipped with EVERY task; a broadcast is
    # torrent-distributed once per executor and shared by all its
    # tasks. Registered in the shared cache registry so the sweep
    # tools' between-query unpersist also frees executor-side copies
    # (the driver keeps its copy — a later job simply re-fetches).
    from ..caching import register_cache

    b_model = register_cache(
        spark.sparkContext.broadcast(
            (cents, books, live_cells, live_counts, imi_c1, imi_c2, rot)
        )
    )

    # ---- 1. distributed probe -> candidate-cell assignment -----------------
    cand_schema = (
        f"{probe_id_col} long, {probe_vec_col} array<double>, "
        f"{cell_col} int, __esc int"
    )

    def assign(batches: Iterator) -> Iterator:
        import pandas as pd

        (bc_cents, _bc_books, bc_live, bc_counts, bc_c1, bc_c2,
         _bc_rot) = b_model.value
        if bc_c1 is not None:
            c1_f = bc_c1.astype(np.float64, copy=False)
            c2_f = bc_c2.astype(np.float64, copy=False)
            n_cells_total = len(c1_f) * len(c2_f)
            live_c1 = bc_live // imi_k2
            live_c2 = bc_live % imi_k2
            cents_f = live_cents = all_ids = None
        else:
            cents_f = bc_cents.astype(np.float64, copy=False)
            live_cents = cents_f[bc_live]
            all_ids = np.arange(len(cents_f), dtype=np.int64)
            n_cells_total = len(cents_f)
        live_mask = np.zeros(n_cells_total, dtype=bool)
        live_mask[bc_live] = True
        for pdf in batches:
            if not len(pdf):
                continue
            pids = pdf[probe_id_col].to_numpy()
            P_all = np.stack(pdf[probe_vec_col].to_numpy()).astype(np.float64)
            for lo in range(0, len(pids), probe_chunk):
                P = P_all[lo : lo + probe_chunk]
                if metric == "cosine":
                    # normalize with the left-fold norm so the emitted
                    # coordinates match the oracle's x / sqrt(list_sum)
                    # bit-for-bit; all downstream ADC runs in the
                    # normalized space the codes were encoded in
                    nn = fold_norms(P)
                    if not np.all(nn > 0.0):
                        bad = pids[lo : lo + probe_chunk][nn <= 0.0][:5]
                        raise ValueError(
                            "metric='cosine' requires non-zero probe "
                            f"vectors; zero-norm probe ids: {bad.tolist()}"
                        )
                    P = P / np.sqrt(nn)[:, None]
                n = len(P)
                if bc_c1 is not None:
                    # IMI: two half folds (O(K1+K2) each) replace the
                    # O(C) full fold; the product-cell distance is the
                    # SINGLE addition d1[c1] + d2[c2] — the exact
                    # arithmetic the SQL oracle replays (each half an
                    # inner list_sum fold, then one +)
                    d1 = fold_sq_dists(P[:, :imi_dh], c1_f)
                    d2 = fold_sq_dists(P[:, imi_dh:], c2_f)
                    d = d1[:, live_c1] + d2[:, live_c2]
                    if adaptive:
                        # home = first-min over the materialized
                        # product SUMS in product-cell order — the
                        # oracle's list_position(pd, list_min(pd)).
                        # Per-half argmins agree in EXACT arithmetic
                        # but can flip when two product sums ROUND
                        # equal while the halves differ (absorption:
                        # fl(a+c) == fl(b+c) with a < b), and the
                        # escalation signal must match the replay
                        # bit-for-bit. O(K1*K2) adds per probe — no
                        # dim factor, cheap next to the half folds —
                        # but the SUMS block must not materialize for
                        # the whole chunk: at K1=K2=1024 (the module's
                        # K1*K2-cells target regime) a 4096-probe
                        # (n, K1, K2) float64 block is ~32 GB. Compute
                        # it in probe sub-blocks bounded to ~64 MB;
                        # each row's argmin is independent, so the
                        # blocked result is bit-identical (ADVICE r10).
                        k1k2 = d1.shape[1] * d2.shape[1]
                        sub = max(1, (8 << 20) // k1k2)
                        home = np.empty(n, dtype=np.int64)
                        for b0 in range(0, n, sub):
                            blk = (
                                d1[b0 : b0 + sub, :, None]
                                + d2[b0 : b0 + sub, None, :]
                            )
                            home[b0 : b0 + sub] = blk.reshape(
                                len(blk), -1
                            ).argmin(axis=1)
                        esc = ~live_mask[home]
                    else:
                        esc = np.zeros(n, dtype=bool)
                elif adaptive:
                    # one fold over ALL centroids; the live columns are
                    # sliced out of it (each column's fold is
                    # independent, so the sliced values are bit-
                    # identical to folding over live_cents alone)
                    d_all = fold_sq_dists(P, cents_f)
                    d = d_all[:, bc_live]
                    home = np.lexsort(
                        (np.broadcast_to(all_ids, d_all.shape), d_all),
                        axis=1,
                    )[:, 0]
                    esc = ~live_mask[home]
                else:
                    d = fold_sq_dists(P, live_cents)
                    esc = np.zeros(n, dtype=bool)
                # full qualifying-cell ordering with cell-id tie-break:
                # one lexsort per chunk (ties between equidistant
                # centroids must resolve the same way the oracle's
                # ORDER BY d, cell does)
                order = np.lexsort(
                    (np.broadcast_to(bc_live, d.shape), d), axis=1
                )
                if adaptive:
                    base_n = np.where(esc, np_esc_eff, np_eff)
                    keep_p = np.where(esc, keep_esc, keep)
                    # qualifying-mass shortfall: the smallest prefix of
                    # the probe's ranked cells whose cumulative
                    # post-pred mass covers its candidate budget
                    cum = np.cumsum(bc_counts[order], axis=1)
                    need = (cum >= keep_p[:, None]).argmax(axis=1) + 1
                    need[cum[:, -1] < keep_p] = n_live  # short: all cells
                    take = np.minimum(np.maximum(base_n, need), n_live)
                else:
                    take = np.full(n, np_eff, dtype=np.int64)
                row_sel = np.arange(n_live)[None, :] < take[:, None]
                cols = order[row_sel]  # row-major: first take[i] per row
                P_list = P.tolist()
                idx_rows = np.repeat(np.arange(n), take)
                yield pd.DataFrame(
                    {
                        probe_id_col: np.repeat(
                            pids[lo : lo + probe_chunk], take
                        ),
                        probe_vec_col: [P_list[i] for i in idx_rows],
                        cell_col: bc_live[cols].astype("int32"),
                        "__esc": np.repeat(
                            esc.astype("int32"), take
                        ),
                    }
                )

    # Persisted (spill-to-disk, never executor memory pressure) because
    # TWO jobs consume it: the cand_counts collect below and the final
    # scored pipeline. Unpersisted lazily via the shared cache registry
    # (caching.unpersist_caches — the same hook run_all_queries calls
    # between queries); without the persist the full probe-table
    # centroid-distance pass executed TWICE per job (ADVICE r8 /
    # VERDICT r8 item 4 — a doubled hottest stage at the 10^8-probe
    # workload).
    cand = register_cache(
        probes.select(probe_id_col, probe_vec_col)
        .mapInPandas(assign, cand_schema)
        .persist(StorageLevel.DISK_ONLY)
    )
    # the persisted assignment is also the cheapest source of
    # (probe_id, probe_vec) for the exact re-rank below: each probe's
    # nprobe copies sit in ONE partition (assign is map-only), so the
    # dropDuplicates partial-aggregates down to one row per probe
    # BEFORE its exchange — same shuffle volume as re-reading the probe
    # table, minus recomputing the caller's probe pipeline (profiled:
    # the bench ladder's crossJoin+limit probe chain re-materialized as
    # a 1.5s single-task broadcast build per serve)
    assigned = cand

    # ---- 2. code pruning + two-dimensional salting --------------------------
    # O(cells) metadata: candidate mass per cell (probe-side psalt
    # sizing + the broadcast cell prune) and code count per cell
    # (code-side salt sizing). Same memory-bound argument as
    # plans/bulk_knn step 2.
    # the first action over the persist: a failure in it (the cosine
    # zero-norm probe check in assign) must not leave it cached
    try:
        cand_counts = {
            int(r[cell_col]): int(r["cnt"])
            for r in cand.groupBy(cell_col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
    except BaseException:
        cand.unpersist()
        raise
    if not cand_counts:
        cand.unpersist()
        # same (long, long, double, long) schema as the normal path
        # (ADVICE r8: the branches used to diverge on probe_id/rank)
        return (
            probes.select(
                F.col(probe_id_col).cast("long").alias(probe_id_col),
                F.lit(None).cast("long").alias(id_col),
                F.lit(None).cast("double").alias("dist"),
                F.lit(None).cast("long").alias("rank"),
            ).filter(F.lit(False))
        )
    # only cells holding code rows join (and count toward the floor)
    npsalt = psalt_counts(
        spark,
        {c: n for c, n in cand_counts.items() if code_stats.get(c, 0) > 0},
        probe_group_rows,
    )
    # through Arrow, as in plans/bulk_knn: a LocalRelation leaf, not a
    # parallelized list whose broadcast runs a Python-worker job
    import pandas as pd

    map_cells = sorted(npsalt)
    nsalt = [max(1, -(-code_stats[c] // salt_codes)) for c in map_cells]
    nps = [npsalt[c] for c in map_cells]
    cell_map = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({cell_col: map_cells, "__nsalt": nsalt, "__nps": nps}),
            f"{cell_col} int, __nsalt int, __nps int",
        )
    )
    coded = (
        codes.select(cell_col, id_col, code_col)
        .join(cell_map, cell_col)  # inner: prunes to candidate cells
        .withColumn(
            "salt", F.pmod(F.hash(F.col(id_col)), F.col("__nsalt")).cast("int")
        )
        .withColumn("psalt", F.explode(F.sequence(F.lit(0), F.col("__nps") - 1)))
        .withColumn("psalt", F.col("psalt").cast("int"))
        .select(cell_col, "salt", "psalt", id_col, code_col)
    )
    cand = (
        cand.join(cell_map, cell_col)
        .withColumn(
            "psalt",
            F.pmod(F.hash(F.col(probe_id_col)), F.col("__nps")).cast("int"),
        )
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("__nsalt") - 1)))
        .withColumn("salt", F.col("salt").cast("int"))
        .select(cell_col, "salt", "psalt", probe_id_col, probe_vec_col, "__esc")
    )

    # ---- 3. cogrouped ADC scoring -------------------------------------------
    out_schema = (
        f"{probe_id_col} long, {id_col} long, adc_dist double, __esc int"
    )

    def score(left, right):
        import pandas as pd

        from ..operators.knn import adaptive_probe_chunk, matmul_tie_thresholds

        if not len(left) or not len(right):
            return pd.DataFrame(
                {probe_id_col: [], id_col: [], "adc_dist": [], "__esc": []}
            )
        (bc_cents, bc_books, _bc_live, _bc_counts, bc_c1, bc_c2,
         bc_rot) = b_model.value
        books_f = bc_books.astype(np.float64, copy=False)
        rot_f = (
            bc_rot.astype(np.float64, copy=False) if bc_rot is not None
            else None
        )
        cell = int(left[cell_col].iloc[0])
        if bc_c1 is not None:
            # product-cell center assembled from the two half
            # codebooks — the values ARE the model (no flat centroid
            # matrix exists anywhere on the IMI path)
            cell_center = np.concatenate(
                [bc_c1[cell // imi_k2], bc_c2[cell % imi_k2]]
            ).astype(np.float64, copy=False)
        else:
            cents_f = bc_cents.astype(np.float64, copy=False)
            cell_center = cents_f[cell]
        ids = right[id_col].to_numpy().astype(np.int64)
        first_code = right[code_col].iloc[0]
        if isinstance(first_code, (bytes, bytearray)):
            # 4-bit fast-scan snapshot (ivfpq_encode(pack4=True)):
            # nibble-packed codes, m recovered from the books — the
            # unpack is lossless, so everything downstream (decoded-
            # vector matmul, LUT folds, oracle equality) is identical
            # to the unpacked layout
            from ..operators.similarity import unpack_codes4

            C = unpack_codes4(right[code_col].to_list(), m)
        else:
            C = np.stack(right[code_col].to_numpy()).astype(np.int64)
        pids = left[probe_id_col].to_numpy()
        escs = left["__esc"].to_numpy().astype(np.int64)
        P_all = np.stack(left[probe_vec_col].to_numpy()).astype(np.float64)
        # per-probe candidate budget: escalated probes keep k*esc_refine
        keeps = np.where(escs == 1, keep_esc, keep)
        kk = min(int(keeps.max()), len(ids))
        dim = len(cell_center)
        # ADC identity: sum_j ||r_j - b[j][code_j]||^2 is the squared
        # euclidean distance between the probe residual and the DECODED
        # vector concat_j b[j][code_j]. Decoding the group's codes ONCE
        # (ncodes x dim gather, amortized over every probe) turns the
        # scoring into one BLAS matmul per chunk — the per-(j, probe)
        # table gather this replaced ran ~16x more memory traffic and
        # measured 52-77s for 10^5 probes; the matmul form is the same
        # candidate-selection-then-exact-recompute contract as
        # knn_join_matmul: approximate D picks a TIE-SAFE superset
        # (matmul_tie_thresholds), the kept rows get their adc
        # recomputed with the left-fold LUT formula, so emitted values
        # — and therefore the global candidate cut and the SQL oracle
        # match — are bit-identical to the pure-fold path.
        V = np.concatenate([books_f[j][C[:, j]] for j in range(m)], axis=1)
        v_sq = (V**2).sum(axis=1)
        o_pid, o_id, o_adc, o_esc = [], [], [], []
        step = adaptive_probe_chunk(len(ids), probe_chunk)
        for lo in range(0, len(pids), step):
            P = P_all[lo : lo + step]
            R = P - cell_center[None, :]
            if rot_f is not None:
                # OPQ: probe residuals enter the rotated code space via
                # the same left-fold matvec the encoder used, so LUTs,
                # decoded vectors and the ADC all live in one space and
                # every value ties out against the SQL replay
                R = fold_matvec(R, rot_f)
            lut = fold_residual_luts(R, books_f)
            r_sq = (R**2).sum(axis=1)
            D = r_sq[:, None] - 2.0 * (R @ V.T) + v_sq[None, :]
            if kk < len(ids):
                # thresholds sized by the chunk's LARGEST budget: a
                # superset for cheaper probes, whose own top-keep cut
                # below is unchanged — so non-escalated probes emit
                # bit-identically to the uniform-budget path
                thr = matmul_tie_thresholds(
                    D.T, kk, dim, float(v_sq.max()), r_sq
                )
                mask = D <= thr[:, None]
                cols_i = np.nonzero(mask)[1]
                splits = np.cumsum(mask.sum(axis=1))[:-1]
                groups = np.split(cols_i, splits)
            else:
                groups = [np.arange(len(ids))] * len(P)
            for bi in range(len(P)):
                cols = groups[bi]
                # exact left-fold adc for the surviving rows only
                row = np.zeros(len(cols))
                lj = lut[bi]
                for j in range(m):
                    row = row + lj[j][C[cols, j]]
                kk_p = min(int(keeps[lo + bi]), len(ids))
                order = np.lexsort((ids[cols], row))[:kk_p]
                sel = cols[order]
                o_pid.extend([int(pids[lo + bi])] * len(order))
                o_id.extend(ids[sel].tolist())
                o_adc.extend(row[order].tolist())
                o_esc.extend([int(escs[lo + bi])] * len(order))
        return pd.DataFrame(
            {probe_id_col: o_pid, id_col: o_id, "adc_dist": o_adc,
             "__esc": o_esc}
        )

    # bytes each side ships, from the counts above: probe vectors
    # replicate across their cell's salts, m-byte codes across its psalts
    nbytes = sum(
        cand_counts[c] * ns * 8 * m * dsub + code_stats[c] * ps * m
        for c, ns, ps in zip(map_cells, nsalt, nps)
    )
    scored = cogroup_apply(
        cand, coded, [cell_col, "salt", "psalt"], score, out_schema,
        nbytes=nbytes,
    )

    # ---- 4. global candidate cut (salting-independent, per-probe budget) ----
    wc = Window.partitionBy(probe_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    keep_col = F.when(F.col("__esc") == 1, F.lit(keep_esc)).otherwise(
        F.lit(keep)
    )
    cand_topk = (
        scored.withColumn("__crank", F.row_number().over(wc))
        .filter(F.col("__crank") <= keep_col)
        .select(probe_id_col, id_col)
    )

    # ---- 5. exact re-rank ----------------------------------------------------
    # RAW vectors + RAW probes: for cosine the retrieval ran in the
    # normalized space but the reported distance is true cosine on the
    # originals — bit-identical to the brute cosine expression.
    exact = (
        cosine_distance(vec_col, F.col(probe_vec_col))
        if metric == "cosine"
        else metric_expr("euclidean_sq", vec_col, F.col(probe_vec_col))
    )
    # Reuse is bit-safe only when the assignment emitted the RAW probe
    # coordinates; the cosine path emits NORMALIZED ones (the ADC space),
    # so it re-reads the caller's probes for the raw-vs-raw re-rank.
    if metric == "euclidean_sq":
        probe_vecs = assigned.select(
            probe_id_col, probe_vec_col
        ).dropDuplicates([probe_id_col])
    else:
        probe_vecs = probes.select(probe_id_col, probe_vec_col)
    refined = (
        cand_topk.join(raw.select(id_col, vec_col), id_col)
        .join(probe_vecs, probe_id_col)
        .withColumn("dist", exact)
        .select(
            F.col(probe_id_col).cast("long").alias(probe_id_col),
            id_col,
            "dist",
        )
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return refined.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)
