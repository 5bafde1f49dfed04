"""Iterative graph operators — dedup clustering.

Near-dup pairs (from jaccard_pairs / minhash LSH) form a graph; the
dedup policy 'keep one doc per duplicate CLUSTER' needs connected
components, not just pairs.

Implementation: alternating **large-star / small-star** (Kiveris et
al., "Connected Components in MapReduce and Beyond", 2014 — a public
MapReduce algorithm). Each operation is one shuffle; the pair
provably preserves connectivity and converges to per-component star
graphs in O(log^2 n) rounds (in practice ~log(diameter)), unlike
naive min-label propagation which needs O(diameter) rounds and is a
scale-killer on long dup-chains at 100 TB.

Edges are kept oriented (larger id -> smaller id) between rounds:

- large-star(u): with m = min(neighbors(u) + {u}) over the
  symmetrized graph, connect every *larger* neighbor v > u to m.
- small-star(u): over (big -> small) oriented edges, connect every
  smaller neighbor and u itself to m = min(neighbors(u)).

Both emit only (bigger, smaller) pairs, so orientation is an
invariant and convergence can be detected by an edge-set fingerprint
(count + xor of hashes — observed as accumulators riding the round's
checkpoint job, zero extra jobs), confirmed exactly with
``exceptAll`` before terminating.
``localCheckpoint`` truncates the growing lineage so round N doesn't
replay rounds 1..N-1 (the classic iterative-Spark trap).

On non-convergence within ``max_iter`` rounds the function RAISES
(or warns, per ``on_nonconvergence``) instead of silently returning
wrong clusters.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Upper bound on waiting for a round's observed fingerprint. The wait
# starts after the eager checkpoint job has finished, so only the
# metrics' delivery through the listener bus remains; a Spark change
# that stops posting them must fail the loop, not hang it.
OBSERVATION_WAIT_S = 120


def _observed_metrics(obs) -> dict:
    """``obs.get`` with a deadline: waits on the JVM Observation's
    future for at most ``OBSERVATION_WAIT_S`` seconds and raises
    ``TimeoutError`` when the metrics never arrive."""
    from py4j.protocol import Py4JJavaError

    jvm = obs._jvm
    try:
        jvm.scala.concurrent.Await.ready(
            obs._jo.future(),
            jvm.scala.concurrent.duration.Duration.apply(
                int(OBSERVATION_WAIT_S * 1000), "ms"
            ),
        )
    except Py4JJavaError as exc:
        if "TimeoutException" not in exc.java_exception.getClass().getName():
            raise
        raise TimeoutError(
            f"observed metrics did not arrive within {OBSERVATION_WAIT_S}s "
            "of the checkpoint job"
        ) from None
    return obs.get


def _checkpoint_with_fingerprint(e: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Eager localCheckpoint with the round's edge-set fingerprint
    (count, xor(hash)) FUSED into the checkpoint job via observe():
    the metrics ride the materialization pass as accumulators, so each
    round runs ONE job instead of checkpoint + a separate fingerprint
    agg (the per-round fixed cost dominates at small scale; at 100 TB
    it still saves a full scan of the round's edges per round).

    XOR-fold instead of sum: order-independent like sum, but cannot
    overflow — Spark 4 runs ANSI mode by default, where summing raw
    64-bit xxhash64 values raises ARITHMETIC_OVERFLOW. Edges are
    distinct sets, so XOR cancellation of repeated rows cannot occur.
    A hash collision between consecutive rounds is guarded by the
    exact exceptAll confirmation in the convergence loop.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).localCheckpoint(eager=True)
    got = _observed_metrics(obs)
    return out, (int(got["n"]), int(got["h"]))


def _large_star(e: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of every node to its min neighbor."""
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    mins = mins.withColumn("m", F.least("a", "mn")).select("a", "m")
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        # no self-loop filter needed: m = least(a, min_neighbor) <= a < b.
        # no distinct here either — duplicates don't change small-star's
        # min aggregations and its trailing distinct canonicalizes the
        # round's output; skipping the extra all-edges shuffle is ~20%
        # per-round wall-clock (measured on 300k-node chains).
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect all smaller neighbors of every node (and the node) to the min."""
    # input is (big -> small) oriented already; group by the big endpoint
    mins = e.groupBy("a").agg(F.min("b").alias("m"))
    neighbor_ptrs = (
        e.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_ptrs = mins.select(F.col("a"), F.col("m").alias("b"))
    return neighbor_ptrs.unionByName(self_ptrs).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 20,
    on_nonconvergence: str = "raise",
) -> DataFrame:
    """(node, component) where component = min node id reachable.

    ``edges`` is undirected input (each pair once is fine; self-loops
    and duplicates are ignored). ``max_iter`` bounds large+small star
    ROUNDS — logarithmic convergence means the default handles graphs
    of diameter ~2**20. If the fixpoint is not reached, raises
    RuntimeError (``on_nonconvergence="warn"`` downgrades to a
    warning) — never a silent wrong answer.
    """
    if on_nonconvergence not in ("raise", "warn"):
        raise ValueError("on_nonconvergence must be 'raise' or 'warn'")
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # orient (bigger -> smaller), drop self loops/dups
    e, prev = _checkpoint_with_fingerprint(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        # NOT dead code: raw input may carry self-loops (src == dst),
        # which orient to a == b and must be dropped exactly once here
        # (the round operators preserve a > b thereafter — see
        # _large_star's no-self-loop invariant note)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    converged = False
    for _ in range(max_iter):
        new_e, cur = _checkpoint_with_fingerprint(_small_star(_large_star(e)))
        # fingerprint match is a cheap pre-filter; confirm the fixpoint
        # EXACTLY (counts equal + one-sided containment => set equality)
        # so a hash collision can never terminate the loop early.
        if cur == prev and new_e.exceptAll(e).isEmpty():
            e = new_e
            converged = True
            break
        e, prev = new_e, cur
    if not converged:
        msg = (
            f"connected_components did not converge in {max_iter} "
            "large/small-star rounds; results would be incorrect. "
            "Increase max_iter."
        )
        if on_nonconvergence == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    # at the fixpoint every component is a star: non-root -> root edges.
    # (min() is a no-op at the fixpoint — each node has one parent — but
    # keeps the warn-path deterministic if the user opted out of raising.)
    labels = (
        e.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (Page et
    al., "The PageRank Citation Ranking", 1999; power iteration form).

    Returns ``(node, rank)`` for every node that appears in an edge.
    ``iters`` power iterations of
    ``rank' = (1-d)/N + d * Σ_in rank(u)/outdeg(u)`` — fixed count,
    not convergence-tested, so the arithmetic replays exactly in
    unrolled SQL (the registered query's oracle does exactly that).

    Dangling nodes (in-edges but no out-edges) leak their mass — the
    textbook simplification; feed a symmetrized edge list (both
    directions) if the graph may have sinks, as the dedup-similarity
    and bipartite queries do.

    Scale shape: per iteration ONE shuffle join (ranks ⋈ edges on src
    — at 100 TB pre-partition both on src so the join co-locates) and
    one groupBy(dst) aggregation; ``localCheckpoint`` truncates the
    lineage per round (same iterative-Spark trap note as
    ``connected_components``). Driver holds only N (a scalar).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # weighted edges: contribution fraction src -> dst
    w = e.join(out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("frac")
    ).localCheckpoint(eager=True)

    base = float((1.0 - damping) / n)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (
            w.join(ranks, w["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") * F.col("frac")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster docs by near-dup pairs; singleton docs get their own id.
    Output: (doc_id, cluster, is_keeper)."""
    comp = connected_components(pairs, max_iter=max_iter)
    out = docs.select(F.col(id_col)).join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    )
    out = out.withColumn("cluster", F.coalesce("component", F.col(id_col))).drop(
        "component"
    )
    return out.withColumn("is_keeper", F.col(id_col) == F.col("cluster"))
