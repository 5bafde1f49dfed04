"""Equal-width grid index — the reference's KD-tree, Spark-first.

The reference's _KDTree (kd_tree_database.py:31-221) is a pointer
structure: equal-width bins per level (:59-70, NOT median splits —
class docstring :227-229), round-robin split dims (:19-22), lazy
sparse children (:43-57), and kNN pruning via a lower-bound distance
to each partition (:164-181) with best-first traversal (:183-219).

In Spark the index is a COLUMN, not a structure:

- ``build_index`` adds ``cell_id`` = the base-(s+1) digit packing of
  the reference's child indices for a fixed depth D (round-robin dims;
  D may exceed dim via nested refinement). Empty cells simply have no
  rows (the reference's sparse children, :40-41, for free).
- ``knn_indexed`` replaces recursive best-first search with batch
  candidate selection from index metadata alone (per-cell counts —
  the analogue of the reference's node counts): a geometric
  single-pass when the corner bounds are selective, a scanned
  two-pass otherwise, and a brute fallthrough when pruning is futile
  (see the function docstring). The data scans carry an IN-list
  filter on ``cell_id`` which prunes parquet partitions/row-groups
  when the table is written ``partitionBy('cell_id')``. Exact
  results, verified against brute force.

Out-of-bounds handling differs deliberately: the reference asserts on
insert (:84-85); we clamp into the edge cells and extend edge-cell
boxes to +-inf for bound computation, so pruning stays exact for any
input (queries outside the bounds were always allowed, SURVEY.md
§2A.5).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.distance import METRIC_CELL_BOUNDS
from ..operators.knn import knn


# Metrics with a closed-form cell bound (lower_bound_dists /
# upper_bound_dists). User metrics registered with a ``cell_bounds``
# callable (register_metric, the analogue of the reference's scipy
# point2plane blackbox, distance_metric.py:7-19, which prunes ANY
# metric) also prune, via the box-based dispatch below. Any other
# metric is still answerable through the indexed entry points: they
# detect the missing bound and serve the exact brute scan instead —
# "no pruning available" degrades to "no pruning", never to an error.
BOUNDED_METRICS = frozenset(
    {"euclidean_sq", "manhattan", "chebyshev", "mahalanobis_diag"}
)


class GridIndex:
    """Index geometry: bounds, splits per level, depth.

    Levels visit dims round-robin (``l % dim``, kd_tree_database.py
    :19-22). depth may exceed dim: revisits refine the dim's interval
    equal-width (the reference's recursive child bounds, :43-57), which
    in closed form makes the j-th visit's child index the j-th
    bins-ary digit of the normalized coordinate.
    """

    def __init__(
        self,
        lower: Sequence[float],
        upper: Sequence[float],
        num_splits: int = 2,
        depth: int = 6,
    ):
        self.lower = np.asarray(list(lower), dtype=np.float64)
        self.upper = np.asarray(list(upper), dtype=np.float64)
        self.dim = len(self.lower)
        self.bins = num_splits + 1  # reference: num_splits+1 children, :64-69
        self.depth = depth
        # depth > dim revisits dims round-robin (reference :19-22) with
        # nested equal-width refinement; the j-th visit of dim d is the
        # j-th bins-ary digit of the normalized coordinate.

    @staticmethod
    def supports(metric: str) -> bool:
        """True when the metric can prune: closed-form cell bounds or
        a registered custom ``cell_bounds`` callable; indexed entry
        points fall back to the exact brute scan otherwise."""
        return metric in BOUNDED_METRICS or metric in METRIC_CELL_BOUNDS

    @classmethod
    def for_table(
        cls,
        lower: Sequence[float],
        upper: Sequence[float],
        n_rows: int,
        target_cell_rows: int = 256,
        num_splits: int = 2,
        max_depth: int = 12,
    ) -> "GridIndex":
        """Pick depth so the expected non-empty cell holds about
        ``target_cell_rows`` rows — the reference's max_leaf_size knob
        (kd_tree_database.py:98) as a build-time sizing rule."""

        bins = num_splits + 1
        depth = 1
        while bins**depth * target_cell_rows < n_rows and depth < max_depth:
            depth += 1
        return cls(lower, upper, num_splits=num_splits, depth=depth)

    # --- build side ----------------------------------------------------

    def cell_expr(self, vec_col: str = "embedding") -> Column:
        """cell_id as a single long: base-``bins`` digits of the
        per-level child indices (reference _get_child_index_impl
        :59-70: floor(norm * bins), clamped). Level l is the
        (l // dim)-th visit of dim (l % dim); nested equal-width
        refinement makes that visit's child index the (l//dim)-th
        bins-ary digit of the clamped normalized coordinate."""
        v = F.col(vec_col).cast("array<double>")
        cell = F.lit(0).cast("long")
        for level in range(self.depth):
            d = level % self.dim
            j = level // self.dim
            lo, hi = float(self.lower[d]), float(self.upper[d])
            norm = (F.element_at(v, d + 1) - F.lit(lo)) / F.lit(hi - lo)
            scaled = F.floor(norm * float(self.bins ** (j + 1))).cast("long")
            digit = F.pmod(scaled, F.lit(self.bins))
            # clamp out-of-range coords into the edge cells at every level
            digit = (
                F.when(norm < 0, F.lit(0))
                .when(norm >= 1, F.lit(self.bins - 1))
                .otherwise(digit)
                .cast("long")
            )
            cell = cell * self.bins + digit
        return cell

    def cells_of(self, points: np.ndarray) -> np.ndarray:
        """``cell_expr`` evaluated on the driver: the fixed-depth cell
        id of each row of ``points`` (n x dim). Every level repeats the
        expression's IEEE double operations (float32 widens exactly,
        as the Spark cast does), so the ids equal ``build_index``'s bit
        for bit. Spark orders NaN above every number, so a NaN
        coordinate fails ``norm < 0``, passes ``norm >= 1`` and lands
        in the last bin; the masks below keep that order."""
        X = np.asarray(points, dtype=np.float64).reshape(-1, self.dim)
        cell = np.zeros(len(X), dtype=np.int64)
        for level in range(self.depth):
            d = level % self.dim
            j = level // self.dim
            lo, hi = float(self.lower[d]), float(self.upper[d])
            norm = (X[:, d] - lo) / (hi - lo)
            low = norm < 0
            inside = ~low & (norm < 1)  # False for NaN, like Spark's >= 1
            scaled = np.floor(np.where(inside, norm, 0.0) * float(self.bins ** (j + 1)))
            digit = np.where(
                inside, scaled.astype(np.int64) % self.bins,
                np.where(low, 0, self.bins - 1),
            )
            cell = cell * self.bins + digit
        return cell

    # --- query side (driver-local geometry, no Spark) -------------------

    def _digits(self, cell_ids: np.ndarray) -> np.ndarray:
        """(n_cells, depth) child indices from packed cell ids."""
        out = np.empty((len(cell_ids), self.depth), dtype=np.int64)
        rem = cell_ids.astype(np.int64).copy()
        for level in range(self.depth - 1, -1, -1):
            out[:, level] = rem % self.bins
            rem //= self.bins
        return out

    def cell_boxes(
        self, cell_ids: Sequence[int], extended: bool
    ) -> tuple[np.ndarray, np.ndarray]:
        """Per-cell axis-aligned boxes, (n_cells, dim) lo/hi arrays.

        ``extended=True`` is the pruning-valid geometry: edge cells
        stretch to +-inf along their all-low/all-high split dims
        (clamped out-of-bounds points live there) and dims the index
        never splits are unconstrained (-inf, +inf). ``extended=False``
        is the finite box (unsplit dims span the declared range) used
        for farthest-corner upper bounds."""
        cells = np.asarray(list(cell_ids), dtype=np.int64)
        digits = self._digits(cells)
        n = len(cells)
        lo_out = np.empty((n, self.dim), dtype=np.float64)
        hi_out = np.empty((n, self.dim), dtype=np.float64)
        for d in range(self.dim):
            levels = [l for l in range(self.depth) if l % self.dim == d]
            if not levels:
                if extended:
                    lo_out[:, d], hi_out[:, d] = -np.inf, np.inf
                else:
                    lo_out[:, d], hi_out[:, d] = self.lower[d], self.upper[d]
                continue
            span = self.upper[d] - self.lower[d]
            frac_lo = np.zeros(n, dtype=np.float64)
            for j, level in enumerate(levels):
                frac_lo += digits[:, level] * float(self.bins) ** -(j + 1)
            width = float(self.bins) ** -len(levels)
            lo = self.lower[d] + frac_lo * span
            hi = lo + width * span
            if extended:
                all_low = np.all(digits[:, levels] == 0, axis=1)
                all_high = np.all(digits[:, levels] == self.bins - 1, axis=1)
                lo = np.where(all_low, -np.inf, lo)
                hi = np.where(all_high, np.inf, hi)
            lo_out[:, d] = lo
            hi_out[:, d] = hi
        return lo_out, hi_out

    def _custom_bounds(
        self,
        probe: Sequence[float],
        cell_ids: Sequence[int],
        metric: str,
        which: int,
        **kwargs,
    ) -> np.ndarray:
        """Dispatch to a register_metric cell_bounds callable.
        which=0 -> lower (inf over the extended box), 1 -> upper (sup
        over the finite box)."""
        fn = METRIC_CELL_BOUNDS[metric]
        p = np.asarray(list(probe), dtype=np.float64)
        lo, hi = self.cell_boxes(cell_ids, extended=(which == 0))
        out = np.asarray(fn(p, lo, hi, **kwargs)[which], dtype=np.float64)
        if out.shape != (len(lo),):
            raise ValueError(
                f"cell_bounds for {metric!r} returned shape {out.shape}; "
                f"expected ({len(lo)},)"
            )
        return out

    def upper_bound_dists(
        self,
        probe: Sequence[float],
        cell_ids: Sequence[int],
        metric: str = "euclidean_sq",
        inv_diag: Sequence[float] | None = None,
        **kwargs,
    ) -> np.ndarray:
        """Upper bound of metric(probe, x) over each cell's FINITE box
        (farthest corner). Valid for points inside the declared bounds;
        clamped out-of-bounds points may exceed it — callers that use
        this for pruning must verify and fall back (see knn_indexed).
        """
        if metric not in BOUNDED_METRICS and metric in METRIC_CELL_BOUNDS:
            if inv_diag is not None:
                kwargs["inv_diag"] = inv_diag
            return self._custom_bounds(probe, cell_ids, metric, 1, **kwargs)
        p = np.asarray(list(probe), dtype=np.float64)
        cells = np.asarray(list(cell_ids), dtype=np.int64)
        digits = self._digits(cells)
        used_dims = sorted({level % self.dim for level in range(self.depth)})
        far = np.zeros((len(cells), len(used_dims)), dtype=np.float64)
        for di, d in enumerate(used_dims):
            levels = [l for l in range(self.depth) if l % self.dim == d]
            span = self.upper[d] - self.lower[d]
            frac_lo = np.zeros(len(cells), dtype=np.float64)
            for j, level in enumerate(levels):
                frac_lo += digits[:, level] * float(self.bins) ** -(j + 1)
            width = float(self.bins) ** -len(levels)
            lo = self.lower[d] + frac_lo * span
            hi = lo + width * span
            far[:, di] = np.maximum(np.abs(lo - p[d]), np.abs(hi - p[d]))
        # dims never split by the index contribute their full range to
        # the farthest corner
        unused = [d for d in range(self.dim) if d not in used_dims]
        extra = np.zeros(len(unused), dtype=np.float64)
        for ui, d in enumerate(unused):
            extra[ui] = max(abs(self.lower[d] - p[d]), abs(self.upper[d] - p[d]))
        if metric == "euclidean_sq":
            return (far**2).sum(axis=1) + (extra**2).sum()
        if metric == "manhattan":
            return far.sum(axis=1) + extra.sum()
        if metric == "chebyshev":
            base = far.max(axis=1) if far.shape[1] else np.zeros(len(cells))
            return np.maximum(base, extra.max() if len(extra) else 0.0)
        if metric == "mahalanobis_diag":
            w = np.asarray(list(inv_diag), dtype=np.float64)
            return (w[used_dims] * far**2).sum(axis=1) + (w[unused] * extra**2).sum()
        raise KeyError(f"no closed-form cell bound for metric {metric!r}")

    def lower_bound_dists(
        self,
        probe: Sequence[float],
        cell_ids: Sequence[int],
        metric: str = "euclidean_sq",
        inv_diag: Sequence[float] | None = None,
        **kwargs,
    ) -> np.ndarray:
        """Exact lower bound of metric(probe, x) over each cell's box —
        the reference's distance_to_partition (:164-181) in closed
        form, but using the full box (tighter than its single-plane
        bound; the diagonal-Mahalanobis case mirrors the reference's
        closed-form point2plane specialization, distance_metric.py
        :84-92). Edge cells extend to +-inf (clamped points)."""
        if metric not in BOUNDED_METRICS and metric in METRIC_CELL_BOUNDS:
            if inv_diag is not None:
                kwargs["inv_diag"] = inv_diag
            return self._custom_bounds(probe, cell_ids, metric, 0, **kwargs)
        p = np.asarray(list(probe), dtype=np.float64)
        cells = np.asarray(list(cell_ids), dtype=np.int64)
        digits = self._digits(cells)
        used_dims = sorted({level % self.dim for level in range(self.depth)})
        gaps = np.zeros((len(cells), len(used_dims)), dtype=np.float64)
        for di, d in enumerate(used_dims):
            levels = [l for l in range(self.depth) if l % self.dim == d]
            span = self.upper[d] - self.lower[d]
            # combine this dim's digits (successive bins-ary refinement)
            # into one interval [frac_lo, frac_lo + bins^-J) of the range
            frac_lo = np.zeros(len(cells), dtype=np.float64)
            for j, level in enumerate(levels):
                frac_lo += digits[:, level] * float(self.bins) ** -(j + 1)
            width = float(self.bins) ** -len(levels)
            lo = self.lower[d] + frac_lo * span
            hi = lo + width * span
            all_low = np.all(digits[:, levels] == 0, axis=1)
            all_high = np.all(digits[:, levels] == self.bins - 1, axis=1)
            lo = np.where(all_low, -np.inf, lo)
            hi = np.where(all_high, np.inf, hi)
            gaps[:, di] = np.maximum(0.0, np.maximum(lo - p[d], p[d] - hi))
        if metric == "euclidean_sq":
            return (gaps**2).sum(axis=1)
        if metric == "manhattan":
            return gaps.sum(axis=1)
        if metric == "chebyshev":
            return gaps.max(axis=1)
        if metric == "mahalanobis_diag":
            w = np.asarray(list(inv_diag), dtype=np.float64)
            return (w[used_dims] * gaps**2).sum(axis=1)
        raise KeyError(f"no closed-form cell bound for metric {metric!r}")


class AdaptiveGridIndex(GridIndex):
    """Variable-depth grid: the reference's leaf-split rule
    (kd_tree_database.py:94-104 — a leaf holding more than
    max_leaf_size vectors splits into children) as a BUILD-time
    refinement instead of per-insert mutation.

    Leaves are prefixes of the max-depth cell id, chosen per region:
    starting at depth 1, any prefix holding more than ``max_leaf_size``
    rows deepens one level, down to ``max_depth``.  Hot (skewed)
    regions get deep, tight cells; sparse regions stay shallow — the
    adaptive behavior a fixed ``GridIndex.for_table`` depth cannot give
    on skewed data, where one global depth leaves hot cells unprunable.

    A leaf is encoded as one long ``prefix_id * 16 + depth`` (depth
    <= 15), so the adaptive cell column is still a single partition
    key and ``knn_indexed`` / ``radius_search_indexed`` work unchanged:
    the bound methods decode the depth and delegate to the fixed-depth
    geometry per depth group.

    Build cost is ONE count-by-cell job at max depth; the prefix-tree
    refinement runs driver-side over non-empty cells only (bounded by
    min(n_rows, bins**max_depth) entries — at most ~531k for the
    default bins=3, max_depth=12, fine at any table size).
    """

    def __init__(
        self,
        lower: Sequence[float],
        upper: Sequence[float],
        num_splits: int = 2,
        max_depth: int = 12,
        max_leaf_size: int = 256,
    ):
        if max_depth > 15:
            raise ValueError("max_depth > 15 does not fit the leaf encoding")
        super().__init__(lower, upper, num_splits=num_splits, depth=max_depth)
        self.max_leaf_size = max_leaf_size
        # full-depth cell id -> encoded leaf (prefix_id * 16 + depth)
        self.leaf_of_full: dict[int, int] = {}

    # --- build ----------------------------------------------------------

    def fit(self, df: DataFrame, vec_col: str = "embedding") -> "AdaptiveGridIndex":
        """One Spark job: per-cell counts at max depth; then the
        driver walks each non-empty cell's prefix chain and stops at
        the first depth whose subtree fits max_leaf_size (the
        reference's split condition, inverted into a sizing rule)."""
        full_counts = {
            r.c: r.n
            for r in df.select(self.cell_expr(vec_col).alias("c"))
            .groupBy("c")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        counts_at: list[dict[int, int]] = [dict() for _ in range(self.depth + 1)]
        for c, n in full_counts.items():
            for d in range(1, self.depth + 1):
                p = c // self.bins ** (self.depth - d)
                counts_at[d][p] = counts_at[d].get(p, 0) + n
        self.leaf_of_full = {}
        self.leaf_counts: dict[int, int] = {}
        for c, n in full_counts.items():
            for d in range(1, self.depth + 1):
                p = c // self.bins ** (self.depth - d)
                if counts_at[d][p] <= self.max_leaf_size or d == self.depth:
                    leaf = p * 16 + d
                    self.leaf_of_full[c] = leaf
                    self.leaf_counts[leaf] = self.leaf_counts.get(leaf, 0) + n
                    break
        return self

    def assign(
        self, df: DataFrame, vec_col: str = "embedding"
    ) -> tuple[DataFrame, dict[int, int]]:
        """Attach the adaptive ``cell_id`` (encoded leaf) column via a
        broadcast join on the full-depth cell id (mapping size = number
        of non-empty max-depth cells), and return (assigned, stats).
        The stats dict comes straight from the fit — no extra job.

        At scale, follow with ``.write.partitionBy('cell_id')`` exactly
        as with the fixed-depth index."""
        if not self.leaf_of_full:
            self.fit(df, vec_col)
        spark = df.sparkSession
        mapping = spark.createDataFrame(
            list(self.leaf_of_full.items()), "__full_cell long, cell_id long"
        )
        assigned = (
            df.withColumn("__full_cell", self.cell_expr(vec_col))
            .join(F.broadcast(mapping), "__full_cell", "left")
            # rows outside every fitted cell (e.g. inserted after fit)
            # land in their max-depth cell as a fresh leaf; callers
            # that mutate after fit should refresh stats via
            # index_stats / update_stats
            .withColumn(
                "cell_id",
                F.coalesce(
                    F.col("cell_id"),
                    F.col("__full_cell") * 16 + F.lit(self.depth),
                ),
            )
            .drop("__full_cell")
        )
        return assigned, dict(self.leaf_counts)

    # --- query-side geometry -------------------------------------------

    def _per_depth(self, cell_ids: Sequence[int]):
        codes = np.asarray(list(cell_ids), dtype=np.int64)
        for d in sorted(set((codes % 16).tolist())):
            mask = codes % 16 == d
            geo = GridIndex(
                self.lower, self.upper, num_splits=self.bins - 1, depth=int(d)
            )
            yield mask, geo, codes[mask] // 16

    def lower_bound_dists(
        self, probe, cell_ids, metric: str = "euclidean_sq", **kwargs
    ) -> np.ndarray:
        codes = np.asarray(list(cell_ids), dtype=np.int64)
        out = np.empty(len(codes), dtype=np.float64)
        for mask, geo, ids in self._per_depth(codes):
            out[mask] = geo.lower_bound_dists(probe, ids, metric, **kwargs)
        return out

    def upper_bound_dists(
        self, probe, cell_ids, metric: str = "euclidean_sq", **kwargs
    ) -> np.ndarray:
        codes = np.asarray(list(cell_ids), dtype=np.int64)
        out = np.empty(len(codes), dtype=np.float64)
        for mask, geo, ids in self._per_depth(codes):
            out[mask] = geo.upper_bound_dists(probe, ids, metric, **kwargs)
        return out


def build_index(
    df: DataFrame, index: GridIndex, vec_col: str = "embedding"
) -> DataFrame:
    """Attach the ``cell_id`` column. At scale, follow with
    ``.write.partitionBy('cell_id')`` so the IN-list filters in
    knn_indexed become file-level partition pruning."""
    return df.withColumn("cell_id", index.cell_expr(vec_col))


def assign_cells(
    df: DataFrame, index: GridIndex, vec_col: str = "embedding"
) -> DataFrame:
    """Attach ``cell_id`` under either index flavor: full-depth ids
    for a fixed ``GridIndex``, encoded leaves for a fitted
    ``AdaptiveGridIndex``. Writers that maintain stats incrementally
    (streaming ingest) MUST use this, not ``build_index``, so the
    snapshot's cell column and ``update_stats``' keys stay in one
    keyspace."""
    if isinstance(index, AdaptiveGridIndex):
        if not index.leaf_of_full:
            raise ValueError(
                "fit the AdaptiveGridIndex (fit/assign) before assigning "
                "batches — unfitted batches cannot be mapped to leaves"
            )
        return index.assign(df, vec_col)[0]
    return build_index(df, index, vec_col)


def index_stats(assigned: DataFrame) -> dict[int, int]:
    """Per-cell row counts — the index metadata used for candidate
    selection (reference node-count analogue; also the consistency
    invariant: sum == table count, tests:20-28)."""
    return {
        r.cell_id: r.cnt
        for r in assigned.groupBy("cell_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }


def knn_indexed(
    assigned: DataFrame,
    index: GridIndex,
    probe: Sequence[float],
    k: int,
    metric: str = "euclidean_sq",
    stats: dict[int, int] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pred: Column | None = None,
    **metric_kwargs,
) -> DataFrame:
    """Exact kNN scanning only cells that can contain a top-k row.

    Two candidate-selection modes, chosen from the index metadata
    (no extra Spark job either way):

    - geometric single-pass: the count-weighted k-th smallest
      farthest-corner distance upper-bounds the true kth distance, so
      candidates = cells with box lower bound <= it. One scan. Chosen
      when that candidate set is selective (<= 25% of rows) — i.e.
      when the indexed dims capture the geometry (depth ~ dim).
    - scanned two-pass: with many unindexed dims the corner bound is
      loose (every unindexed dim contributes its full span), so scan
      the cheapest >= k-row cell prefix for a tight data-driven kth
      distance, then rescan cells whose lower bound beats it.

    Both verify their result (row count + bound containment) and fall
    back to the exact full scan if invalidated (clamped out-of-bounds
    rows; metadata ``pred`` thinning the counted cells below k). The
    pred applies before top-k (reference leaf filter, :186-190).

    When the metadata says a two-pass rescan would cover most rows
    anyway, two sequential jobs cannot beat one full scan, so the
    exact brute scan answers directly; this holds with or without
    ``pred``, since the brute scan applies it too. With ``pred``, pass
    ``stats`` counted AFTER the filter (the ``code_stats`` contract of
    ``ann_join_topk``): those counts keep the geometric bound valid
    and size the candidate sets to the rows the query can return.
    """
    if not GridIndex.supports(metric):
        # custom / full-matrix metric without a closed-form cell bound:
        # serve the exact brute scan (still answerable, never raises)
        return knn(
            assigned, probe, k, metric=metric, pred=pred, vec_col=vec_col, id_col=id_col, **metric_kwargs
        )
    if stats is None:
        stats = index_stats(assigned)
    if not stats:
        return knn(
            assigned, probe, k, metric=metric, pred=pred, vec_col=vec_col, id_col=id_col, **metric_kwargs
        )

    spark = assigned.sparkSession
    cells = np.array(sorted(stats), dtype=np.int64)
    counts = np.array([stats[c] for c in cells.tolist()], dtype=np.int64)
    total = int(counts.sum())
    lb = index.lower_bound_dists(probe, cells, metric, **metric_kwargs)
    ub = index.upper_bound_dists(probe, cells, metric, **metric_kwargs)

    # pruning-futility check (driver-side, free): when most rows sit in
    # cells whose lower bound is ~0, no bound can exclude them (e.g.
    # structureless data under a partial index) — a single brute scan
    # beats any multi-job plan. The reference's index/scan crossover
    # (max_leaf_size, kd_tree_database.py:94-104) generalized.
    if float(counts[lb <= 1e-12].sum()) >= 0.5 * total:
        return knn(
            assigned, probe, k, metric=metric, pred=pred, vec_col=vec_col, id_col=id_col, **metric_kwargs
        )

    # geometric bound: count-weighted kth-smallest corner distance
    order_ub = np.argsort(ub, kind="stable")
    cum_ub = counts[order_ub].cumsum()
    kth_ub = (
        float(ub[order_ub[int(np.searchsorted(cum_ub, k))]])
        if cum_ub[-1] >= k
        else float("inf")
    )
    geo_mask = lb <= kth_ub
    geo_rows = int(counts[geo_mask].sum())

    def scan(cell_set: set[int]):
        # the O(k) materialization here is intentional, not a scale
        # hazard: a single-probe kNN result IS k rows (k ~ 10), and the
        # validation (count + bound containment) needs those rows on
        # the driver anyway. The batched many-probe path
        # (bulk_knn.knn_join_bulk) validates distributedly instead.
        out = knn(
            assigned.filter(F.col("cell_id").isin(sorted(cell_set))),
            probe,
            k,
            metric=metric,
            pred=pred,
            vec_col=vec_col,
            id_col=id_col,
            **metric_kwargs,
        )
        return out, out.collect()

    if geo_rows <= max(0.25 * total, float(k)):
        # single-pass: geometric candidates are selective
        cand = {int(c) for c, m in zip(cells.tolist(), geo_mask.tolist()) if m}
        result, rows = scan(cand)
        expected = k if pred is not None else min(k, total)
        ok = len(rows) >= expected and (
            not rows or max(r["dist"] for r in rows) <= kth_ub
        )
        if len(cand) < len(cells) and not ok:
            return knn(
                assigned, probe, k, metric=metric, pred=pred,
                vec_col=vec_col, id_col=id_col, **metric_kwargs,
            )
        return spark.createDataFrame(rows, schema=result.schema)

    # two-pass: scan cheapest >= k-row prefix for a tight bound
    order_lb = np.argsort(lb, kind="stable")
    cum_lb = counts[order_lb].cumsum()
    n_pass1 = int(np.searchsorted(cum_lb, k) + 1) if cum_lb[-1] >= k else len(cells)

    # driver-side pass-2 size estimate (free, from index metadata
    # alone): after pass1 the data-driven bound cannot exceed the
    # farthest corner of any pass1 cell (those >= k rows all lie
    # within it), so every cell with lb <= that stays a candidate.
    # When the estimate says the rescan would cover most of the table
    # anyway, the two sequential jobs can't beat ONE exact full scan —
    # serve brute directly (the small-table / loose-bound regime; the
    # two-pass continues to win when the lb distribution actually
    # prunes, e.g. clustered data at >= 500k rows, tools/scale_test.py).
    bound_est = min(kth_ub, float(ub[order_lb[:n_pass1]].max()))
    est_rows = int(counts[lb <= bound_est].sum())
    if est_rows >= 0.5 * total:
        return knn(
            assigned, probe, k, metric=metric, pred=pred,
            vec_col=vec_col, id_col=id_col, **metric_kwargs,
        )

    pass1 = set(cells[order_lb[:n_pass1]].tolist())
    first, rows = scan(pass1)
    if len(rows) < k and len(pass1) < len(cells):
        pass2 = set(cells.tolist())  # pred thinned the prefix below k
    else:
        bound = max(r["dist"] for r in rows) if rows else float("inf")
        pass2 = {
            int(c) for c, b in zip(cells.tolist(), lb.tolist()) if b <= bound
        } | pass1
    if pass2 == pass1:
        return spark.createDataFrame(rows, schema=first.schema)
    final, rows2 = scan(pass2)
    return spark.createDataFrame(rows2, schema=final.schema)


def radius_search_indexed(
    assigned: DataFrame,
    index: GridIndex,
    probe: Sequence[float],
    radius: float,
    metric: str = "euclidean_sq",
    stats: dict[int, int] | None = None,
    pred: Column | None = None,
    **metric_kwargs,
) -> DataFrame:
    """Range query with cell pruning — the index's cleanest win: the
    bound (radius) is known upfront, so candidates = cells whose lower
    bound <= radius, in ONE pass, exactly (no verification needed:
    lower bounds are valid for clamped points too, via the edge-cell
    +-inf extension)."""
    from ..operators.knn import radius_search

    if not GridIndex.supports(metric):
        return radius_search(
            assigned, probe, radius, metric=metric, pred=pred, **metric_kwargs
        )
    if stats is None:
        stats = index_stats(assigned)
    if not stats:
        return radius_search(
            assigned, probe, radius, metric=metric, pred=pred, **metric_kwargs
        )
    cells = np.array(sorted(stats), dtype=np.int64)
    lb = index.lower_bound_dists(probe, cells, metric, **metric_kwargs)
    cand = [int(c) for c, b in zip(cells.tolist(), lb.tolist()) if b <= radius]
    return radius_search(
        assigned.filter(F.col("cell_id").isin(cand)),
        probe,
        radius,
        metric=metric,
        pred=pred,
        **metric_kwargs,
    )


def update_stats(
    stats: dict[int, int],
    index: GridIndex,
    inserted: DataFrame | None = None,
    deleted: DataFrame | None = None,
    vec_col: str = "embedding",
) -> dict[int, int]:
    """Incrementally maintain per-cell counts across CRUD snapshots:
    one small aggregation over just the delta rows instead of
    recomputing stats over the whole table (the index-metadata
    analogue of the reference updating its tree on insert/delete,
    kd_tree_database.py:94-104, :127-144).

    For an ``AdaptiveGridIndex`` the stats are keyed by ENCODED leaves
    (prefix_id * 16 + depth), not full-depth cell ids, so the deltas
    are mapped through the fitted leaf table — with the same
    fresh-max-depth-leaf fallback ``assign`` applies to rows outside
    every fitted cell, keeping the two views consistent."""
    adaptive = isinstance(index, AdaptiveGridIndex)
    if adaptive and not index.leaf_of_full:
        raise ValueError(
            "AdaptiveGridIndex must be fitted (fit/assign) before "
            "update_stats — unfitted deltas cannot be mapped to leaves"
        )
    out = dict(stats)
    for df, sign in ((inserted, 1), (deleted, -1)):
        if df is None:
            continue
        deltas = (
            df.select(index.cell_expr(vec_col).alias("cell_id"))
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        for r in deltas:
            cid = r.cell_id
            if adaptive:
                # cell_expr gives the FULL-depth id; map to the leaf
                cid = index.leaf_of_full.get(cid, cid * 16 + index.depth)
            out[cid] = out.get(cid, 0) + sign * r.n
            if out[cid] <= 0:
                del out[cid]  # empty cells vanish (reference :132-138)
    return out
