"""Distributed fixed-iteration k-means (Lloyd's algorithm).

The clustering layer a vector engine needs for corpus organization
(topic bucketing, IVF-style coarse quantizers trained on the FULL
corpus rather than a sample — cf. operators/similarity.train_centroids,
which trains on a seeded uniform sample driver-side). Every assignment
and every centroid update here is a distributed DataFrame job; only
the k x dim centroid matrix ever touches the driver (the standard
Lloyd synchronization point — identical to Spark MLlib's KMeans loop).

Engine-portable arithmetic, so a fixed iteration count replays EXACTLY
in unrolled SQL (same pattern as operators/graph.pagerank):

- init: the k vectors with smallest id, in id order (centroid j is the
  (j+1)-th smallest — deterministic, no RNG);
- assignment: squared-Euclidean left fold, ties to the smallest
  centroid index;
- update: per-dimension sums quantized to integer micro-units before
  the shuffle (sum of longs is order-independent; float mean is not),
  then centroid_i = (sum_micro / 1e6) / n in double — the same two
  divisions in the same order on both engines;
- empty clusters are dropped (never re-seeded), matching the SQL
  group-by semantics.

Scale shape: per iteration one codegen projection (k folds per row)
plus one partial-aggregating groupBy whose shuffle carries
k x (dim + 1) longs per map task — never vectors, never rows.
"""

from __future__ import annotations

from math import sqrt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_fixed", "assign_clusters"]


def assign_clusters(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add column ``j``: the label of the nearest centroid (squared
    Euclidean; ties to the smallest label). ``centroids`` is a list of
    (label, vector) sorted by label."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    v = F.col(vec_col)

    def dist_to(c: list[float]) -> Column:
        # one F.expr literal instead of a dim-element F.lit chain
        # (bit-identical values; see functions/distance.vec_lit).
        # try_element_at: a vector shorter than the centroid scores a
        # null distance instead of an ANSI index error mid-job, so
        # kmeans_fixed can reject it by length with a ValueError
        from ..functions.distance import vec_lit

        arr = vec_lit(c)
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(len(c))),
            F.lit(0.0),
            lambda acc, i: acc
            + (F.try_element_at(v, i).cast("double") - F.element_at(arr, i))
            * (F.try_element_at(v, i).cast("double") - F.element_at(arr, i)),
        )

    dists = F.array(*[dist_to(c) for _, c in centroids])
    js = F.array(*[F.lit(int(j)) for j, _ in centroids])
    pos = F.array_position(dists, F.array_min(dists)).cast("int")
    return df.withColumn("j", F.element_at(js, pos).cast("long"))


def kmeans_fixed(
    df: DataFrame,
    k: int,
    iters: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Run ``iters`` Lloyd rounds; return one row per surviving
    cluster: (j, n, cnorm) where n is the cluster size under the FINAL
    assignment and cnorm the L2 norm of the centroid computed FROM that
    assignment, rounded to 6 decimals.

    Eager: each round runs one Spark job to synchronize the k x dim
    centroid matrix (the only driver-side data).
    """
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    emb = df.select(id_col, vec_col)
    # NOTE (r12): fan_out(emb) was measured here and REVERTED — the
    # per-iteration round-robin shuffle of the vectors cost what the
    # spread k x dim assignment fold saved at this k (interleaved A/B
    # medians 6.7s vs 6.7-8.3s; OPTIMIZATION_r12.md).

    init_rows = emb.orderBy(F.col(id_col).asc()).limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"k={k} exceeds row count {len(init_rows)}")
    if any(r[vec_col] is None for r in init_rows):
        raise ValueError(f"{vec_col!r} holds null or empty vectors")
    actual_dim = len(init_rows[0][vec_col])
    if actual_dim != dim:
        # a silent mismatch is the worst failure mode here: round 1
        # assigns on full-length init centroids but the micro-unit
        # update sums only dims 1..dim, so round-2 centroids would be
        # truncated and every later assignment wrong with no error
        # (ADVICE r7)
        raise ValueError(
            f"dim={dim} does not match vector length {actual_dim} "
            f"in {vec_col!r}"
        )
    cents: list[tuple[int, list[float]]] = [
        (j, [float(x) for x in r[vec_col]]) for j, r in enumerate(init_rows)
    ]

    assigned: DataFrame | None = None
    for _ in range(iters):
        assigned = assign_clusters(emb, cents, vec_col=vec_col)
        # one posexplode + groupBy(j, dim) pass instead of dim aliased
        # sum columns (the wide-agg form cost ~1s/round of driver-side
        # expression construction + a dim-wide codegen agg for the same
        # values — same rewrite as retrieval.sq8_train). Long addition
        # is order-independent, so the per-(cluster, dimension) sums
        # are EXACTLY the old per-column sums; the element cast is the
        # identical float->double widening. posexplode_outer keeps a
        # null or empty vector visible as an __i = null group, so the
        # same collect validates every vector's length.
        sums = (
            assigned.select(
                "j",
                F.posexplode_outer(F.col(vec_col).cast("array<double>")).alias(
                    "__i", "__x"
                ),
            )
            .groupBy("j", "__i")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(
                    F.floor(F.col("__x") * F.lit(1e6)).cast("long")
                ).alias("s"),
            )
            .collect()
        )
        by_j: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            if r["__i"] is None:
                raise ValueError(f"{vec_col!r} holds null or empty vectors")
            by_j.setdefault(int(r["j"]), {})[int(r["__i"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        for j, d in by_j.items():
            # a length-dim member adds one count to each of 0..dim-1
            counts = {n for _, n in d.values()}
            if sorted(d) != list(range(dim)) or len(counts) > 1:
                raise ValueError(
                    f"{vec_col!r} holds vectors whose length is not "
                    f"dim={dim} (cluster {j})"
                )
        cents = sorted(
            (j, [(d[i][0] / 1e6) / d[i][1] for i in range(dim)])
            for j, d in by_j.items()
        )

    norms = {
        j: sum(c * c for c in cent)  # left fold, matches SQL list_sum
        for j, cent in cents
    }
    norm_expr: Column = F.lit(None).cast("double")
    for j, s in norms.items():
        norm_expr = F.when(F.col("j") == j, F.round(F.sqrt(F.lit(s)), 6)).otherwise(
            norm_expr
        )
    return (
        assigned.groupBy("j")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("cnorm", norm_expr)
    )
