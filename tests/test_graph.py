"""Connected components / dedup clustering invariants."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators import graph
from lightweight_vector_database_spark.operators.dedup import jaccard_pairs
from lightweight_vector_database_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)
from lightweight_vector_database_spark.sources import load_table


def test_components_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, isolated nodes absent
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id1 long, id2 long"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_long_chain_converges(spark):
    # a 50-hop chain: naive min-label propagation needs 50 rounds, the
    # large/small-star pair must converge within the DEFAULT max_iter
    # (logarithmic in diameter) and produce a single cluster.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id1 long, id2 long"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 51


def test_components_chain_mixed_with_clusters(spark):
    # chain (100..140) + triangle + pair + shuffled ids — stresses the
    # oriented-edge invariant with input given in arbitrary direction
    chain = [(i + 1, i) for i in range(100, 140)]  # reversed orientation
    tri = [(7, 3), (3, 5), (5, 7)]
    pair = [(901, 900)]
    edges = spark.createDataFrame(chain + tri + pair, "id1 long, id2 long")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert all(got[n] == 100 for n in range(100, 141))
    assert got[3] == got[5] == got[7] == 3
    assert got[900] == got[901] == 900


def test_dedup_clusters_on_documents(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.95)
    out = dedup_clusters(docs, pairs).cache()
    n = docs.count()
    assert out.count() == n
    # keeper is the cluster minimum; every cluster has exactly one keeper
    keepers = out.filter("is_keeper")
    assert keepers.count() == out.select("cluster").distinct().count()
    bad = out.groupBy("cluster").agg(
        F.min("doc_id").alias("mn"), F.first("cluster").alias("c")
    ).filter(F.col("mn") != F.col("c")).count()
    assert bad == 0
    # pair endpoints always share a cluster
    labeled = out.select(F.col("doc_id").alias("id1"), F.col("cluster").alias("c1"))
    labeled2 = out.select(F.col("doc_id").alias("id2"), F.col("cluster").alias("c2"))
    mismatches = (
        pairs.join(labeled, "id1").join(labeled2, "id2")
        .filter(F.col("c1") != F.col("c2"))
        .count()
    )
    assert mismatches == 0


def test_observation_wait_is_bounded(spark, monkeypatch):
    """The convergence fingerprint is read from an Observation. If its
    metrics never arrive (here: the observed DataFrame is never
    actioned) the wait must raise TimeoutError within
    OBSERVATION_WAIT_S, never block forever."""
    from pyspark.sql import Observation

    monkeypatch.setattr(graph, "OBSERVATION_WAIT_S", 0.5)
    obs = Observation()
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n"))
    t0 = time.monotonic()
    with pytest.raises(TimeoutError, match="did not arrive"):
        graph._observed_metrics(obs)
    assert time.monotonic() - t0 < 10.0
    # a delivered observation still reads through the same wait
    done = Observation()
    spark.range(3).observe(done, F.count(F.lit(1)).alias("n")).collect()
    assert graph._observed_metrics(done) == {"n": 3}
