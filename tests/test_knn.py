"""kNN correctness vs a numpy brute-force oracle (reference semantics:
filter-before-topk, squared-Euclidean default, ascending, min(k, n) —
SURVEY.md §2A.5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators.knn import knn, knn_join
from lightweight_vector_database_spark.probes import probe_vector
from lightweight_vector_database_spark.sources import load_table


@pytest.fixture(scope="module")
def emb_np(spark, sf_dir):
    rows = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    vecs = np.array([r.embedding for r in rows], dtype=np.float64)
    labels = np.array([r.label for r in rows])
    return ids, vecs, labels


def brute_knn(ids, vecs, probe, k, mask=None, metric="euclidean_sq"):
    p = np.asarray(probe, dtype=np.float64)
    if mask is not None:
        ids, vecs = ids[mask], vecs[mask]
    d = vecs - p
    if metric == "euclidean_sq":
        dist = (d * d).sum(axis=1)
    elif metric == "manhattan":
        dist = np.abs(d).sum(axis=1)
    elif metric == "chebyshev":
        dist = np.abs(d).max(axis=1)
    else:
        raise KeyError(metric)
    order = np.lexsort((ids, dist))[:k]
    return list(ids[order]), dist[order]


@pytest.mark.parametrize("metric", ["euclidean_sq", "manhattan", "chebyshev"])
def test_knn_matches_bruteforce(spark, sf_dir, emb_np, metric):
    ids, vecs, labels = emb_np
    probe = probe_vector(seed=1)
    out = knn(load_table(spark, sf_dir, "embeddings"), probe, 10, metric=metric).collect()
    exp_ids, exp_dist = brute_knn(ids, vecs, probe, 10, metric=metric)
    assert [r.vec_id for r in out] == exp_ids
    np.testing.assert_allclose([r.dist for r in out], exp_dist, rtol=1e-9)


def test_knn_filter_before_topk(spark, sf_dir, emb_np):
    ids, vecs, labels = emb_np
    probe = probe_vector(seed=2)
    out = knn(
        load_table(spark, sf_dir, "embeddings"),
        probe,
        10,
        pred=F.col("label") == 3,
    ).collect()
    exp_ids, _ = brute_knn(ids, vecs, probe, 10, mask=labels == 3)
    assert [r.vec_id for r in out] == exp_ids
    assert all(r.label == 3 for r in out)


def test_knn_k_exceeds_table(spark, sf_dir, emb_np):
    # k > len(db) returns everything (kd_tree_database.py:191-195, verified)
    ids, _, _ = emb_np
    probe = probe_vector(seed=0)
    out = knn(load_table(spark, sf_dir, "embeddings"), probe, 10_000).collect()
    assert len(out) == len(ids)
    dists = [r.dist for r in out]
    assert dists == sorted(dists)


def test_knn_empty_result(spark, sf_dir):
    # empty input -> empty result (tests/test_kd_tree_database.py:70-77)
    out = knn(
        load_table(spark, sf_dir, "embeddings"),
        probe_vector(seed=0),
        5,
        pred=F.col("label") == -1,
    ).collect()
    assert out == []


@pytest.mark.parametrize("strategy", ["window", "partial"])
def test_knn_join_matches_bruteforce(spark, sf_dir, emb_np, strategy):
    ids, vecs, labels = emb_np
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = knn_join(probes, emb, k=3, strategy=strategy).collect()
    got = {}
    for r in out:
        got.setdefault(r.probe_id, []).append((r.rank, r.vec_id))
    assert set(got) == set(range(5))
    for pid, lst in got.items():
        pvec = vecs[np.where(ids == pid)[0][0]]
        exp_ids, _ = brute_knn(ids, vecs, pvec, 3)
        assert [v for _, v in sorted(lst)] == exp_ids


def test_knn_wrong_dim_probe_raises(spark, sf_dir):
    # zip_with null-pads mismatched lengths -> without the guard this
    # would silently return nonsense instead of failing
    from py4j.protocol import Py4JJavaError
    import pyspark.errors

    df = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(Exception, match="probe dim"):
        knn(df, [0.0] * 32, 5).collect()


@pytest.mark.parametrize("path", ["window", "partial", "matmul", "blocks"])
def test_knn_join_wrong_dim_probe_raises(spark, path):
    # the pair paths used to return (probe, id, NULL, rank) rows from
    # zip_with's null padding; the numpy kernel failed with a bare
    # broadcasting error
    from lightweight_vector_database_spark.operators.knn import knn_join_blocks

    base = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(0, [0.0, 0.0])], "probe_id long, probe_vec array<double>"
    )
    if path == "blocks":
        out = knn_join_blocks(probes, base, 3, n_probe_blocks=1, n_base_blocks=1)
    else:
        out = knn_join(probes, base, 3, strategy=path)
    with pytest.raises(Exception, match="probe dim"):
        out.collect()


def test_knn_join_auto_empty_probes_returns_no_rows(spark):
    # over 8 base partitions 'auto' routes euclidean_sq to
    # knn_join_matmul, whose empty-probe fallback used to call
    # knn_join('auto') again: unbounded recursion, one collect per level
    base = spark.range(240, numPartitions=12).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(0.0)).alias("embedding"),
    )
    assert base.rdd.getNumPartitions() > 8
    probes = spark.createDataFrame([], "probe_id long, probe_vec array<double>")
    assert knn_join(probes, base, 3).collect() == []


def test_knn_join_matmul_matches_window(spark, sf_dir):
    from lightweight_vector_database_spark.operators.knn import (
        knn_join,
        knn_join_matmul,
    )
    from lightweight_vector_database_spark.probes import probe_vector
    from lightweight_vector_database_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = spark.createDataFrame(
        [(i, [float(x) for x in probe_vector(seed=60 + i)]) for i in range(5)],
        "probe_id long, probe_vec array<double>",
    )
    ref = {
        (r.probe_id, r.rank): (r.vec_id, round(r.dist, 9))
        for r in knn_join(probes, emb, 4, strategy="window").collect()
    }
    mm = {
        (r.probe_id, r.rank): (r.vec_id, round(r.dist, 9))
        for r in knn_join_matmul(probes, emb, 4).collect()
    }
    assert mm == ref  # exact distances recomputed -> bit-identical


def test_knn_join_matmul_chunked_matches_window(spark, sf_dir, monkeypatch):
    """Chunking is purely physical: forcing a tiny
    MATMUL_MAX_PROBES_PER_PASS (many union'd passes) must give results
    identical to the window path and to the single-pass matmul."""
    import importlib

    knn_mod = importlib.import_module("lightweight_vector_database_spark.operators.knn")
    from lightweight_vector_database_spark.operators.knn import (
        knn_join,
        knn_join_matmul,
    )
    from lightweight_vector_database_spark.probes import probe_vector
    from lightweight_vector_database_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = spark.createDataFrame(
        [(i, [float(x) for x in probe_vector(seed=200 + i)]) for i in range(23)],
        "probe_id long, probe_vec array<double>",
    )
    ref = {
        (r.probe_id, r.rank): (r.vec_id, round(r.dist, 9))
        for r in knn_join(probes, emb, 3, strategy="window").collect()
    }
    single = {
        (r.probe_id, r.rank): (r.vec_id, round(r.dist, 9))
        for r in knn_join_matmul(probes, emb, 3).collect()
    }
    monkeypatch.setattr(knn_mod, "MATMUL_MAX_PROBES_PER_PASS", 7)
    chunked = {
        (r.probe_id, r.rank): (r.vec_id, round(r.dist, 9))
        for r in knn_join_matmul(probes, emb, 3).collect()
    }
    assert chunked == ref and single == ref


def test_knn_join_matmul_100k_probes_chunks(spark, monkeypatch):
    """The closure bound is ENFORCED, not documented: P probes (under
    the driver bound, so no routing to the block join) run as
    ceil(P / MATMUL_MAX_PROBES_PER_PASS) map passes and produce the
    same result as one pass with the bound lifted."""
    import importlib
    import math

    knn_mod = importlib.import_module("lightweight_vector_database_spark.operators.knn")
    from lightweight_vector_database_spark.operators.knn import knn_join_matmul

    rng = np.random.default_rng(17)
    dim = 8
    base_rows = [(int(i), rng.standard_normal(dim).tolist()) for i in range(400)]
    base = spark.createDataFrame(base_rows, "vec_id long, embedding array<double>")
    n_probes = 30_000
    assert n_probes <= knn_mod.MATMUL_MAX_DRIVER_PROBES
    pv = rng.standard_normal((n_probes, dim))
    probes = spark.createDataFrame(
        [(int(i), pv[i].tolist()) for i in range(n_probes)],
        "probe_id long, probe_vec array<double>",
    )

    def passes(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count(
            "MapInPandas"
        )

    def canon(df):
        return sorted(
            (r.probe_id, r["rank"], r.vec_id, r.dist) for r in df.collect()
        )

    chunked = knn_join_matmul(probes, base, k=2)
    bound = knn_mod.MATMUL_MAX_PROBES_PER_PASS
    assert passes(chunked) == math.ceil(n_probes / bound) > 1
    got = canon(chunked)
    assert len(got) == 2 * n_probes
    monkeypatch.setattr(knn_mod, "MATMUL_MAX_PROBES_PER_PASS", n_probes)
    single = knn_join_matmul(probes, base, k=2)
    assert passes(single) == 1
    assert canon(single) == got


def test_blocks_cosine_matches_partial(spark):
    """r10: cosine joined NP_METRICS, so knn_join_blocks serves it with
    the vectorized kernel instead of silently falling back to the
    interpreted per-pair fold (measured 25+ min for a 200 x 500k exact
    ground truth the matmul form serves in seconds). Same ids/ranks as
    the Catalyst partial path; distances equal to 1e-9 (np.sum pairwise
    accumulation vs the sequential fold)."""
    from lightweight_vector_database_spark.operators.knn import (
        knn_join,
        knn_join_blocks,
    )
    from lightweight_vector_database_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    probes = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    a = {
        (r.probe_id, r["rank"]): (r.vec_id, r.dist)
        for r in knn_join_blocks(
            probes, emb, 5, metric="cosine", n_probe_blocks=2,
            n_base_blocks=3,
        ).collect()
    }
    b = {
        (r.probe_id, r["rank"]): (r.vec_id, r.dist)
        for r in knn_join(
            probes, emb, 5, metric="cosine", strategy="partial"
        ).collect()
    }
    assert set(a) == set(b) and len(a) == 25 * 5
    for key in a:
        assert a[key][0] == b[key][0], key
        assert abs(a[key][1] - b[key][1]) < 1e-9, key


def test_blocks_cosine_gemm_ties(spark):
    """r10: the cosine blocks kernel selects candidates with one gemm
    (cosine_tie_thresholds cut) instead of a full per-probe scan.
    Adversarial corpus for the cut: many base rows are scalar
    multiples of each other, so cosine distances collide EXACTLY at
    the k-th boundary (ties 6 deep at every distance) and the
    smallest-id tied rows must win — a hard argpartition cut would
    pick an arbitrary tied subset."""
    import pandas as pd

    from lightweight_vector_database_spark.operators.knn import (
        knn_join,
        knn_join_blocks,
    )

    rows = []
    # 40 direction classes x 6 scalar multiples
    for vid in range(240):
        d = vid % 40
        scale = 1.0 + (vid // 40)
        rows.append((vid, [scale * (1.0 + ((d * 7 + j * 3) % 11)) for j in range(8)]))
    base = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]})
    )
    probes = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    a = {
        (r.probe_id, r["rank"]): (r.vec_id, r.dist)
        for r in knn_join_blocks(
            probes, base, 8, metric="cosine", n_probe_blocks=1,
            n_base_blocks=1,
        ).collect()
    }
    b = {
        (r.probe_id, r["rank"]): (r.vec_id, r.dist)
        for r in knn_join(
            probes, base, 8, metric="cosine", strategy="partial"
        ).collect()
    }
    assert set(a) == set(b) and len(a) == 10 * 8
    for key in a:
        assert a[key][0] == b[key][0], (key, a[key], b[key])
        assert abs(a[key][1] - b[key][1]) < 1e-9, key


def test_blocks_cosine_zero_norm_rows_sort_last(spark):
    """Zero-norm base rows score NaN in the gemm form and fail the
    candidate cut; the kernel then falls back to the full exact scan
    for the affected probe so NaN keeps its documented
    sorts-last semantics (the Catalyst single-probe path raises
    DIVIDE_BY_ZERO under ANSI instead — the batched paths serve the
    numpy NaN contract, ADVICE r9). With >= k valid rows, zero-norm
    rows must never crack the top-k; every probe still answers
    exactly k rows."""
    import pandas as pd

    from lightweight_vector_database_spark.operators.knn import (
        knn_join_blocks,
    )

    rows = [(vid, [float(1 + (vid * 3 + j) % 7) for j in range(6)])
            for vid in range(60)]
    rows += [(60, [0.0] * 6), (61, [0.0] * 6)]
    base = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]})
    )
    probes = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    out = knn_join_blocks(
        probes, base, 10, metric="cosine", n_probe_blocks=1,
        n_base_blocks=1,
    ).collect()
    assert len(out) == 5 * 10
    assert all(r.vec_id < 60 for r in out), "zero-norm row in top-k"
    assert all(r.dist is not None and r.dist == r.dist for r in out)


def test_blocks_cosine_gemm_fallback_when_valid_rows_short(spark):
    """The gemm fallback branch proper: block is big enough for the
    gemm cut (n > 2k) but zero-norm rows leave FEWER than k valid
    candidates, so the kernel rescans the block exactly and emits the
    NaN rows after every valid one (k rows out, valid-first)."""
    import pandas as pd

    from lightweight_vector_database_spark.operators.knn import (
        knn_join_blocks,
    )

    rows = [(vid, [float(1 + (vid + j) % 5) for j in range(6)])
            for vid in range(8)]
    rows += [(vid, [0.0] * 6) for vid in range(8, 24)]
    base = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]})
    )
    probes = base.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    out = knn_join_blocks(
        probes, base, 10, metric="cosine", n_probe_blocks=1,
        n_base_blocks=1,
    ).collect()
    per = {}
    for r in out:
        per.setdefault(r.probe_id, []).append(r)
    assert set(per) == {0, 1}
    for pid, rs in per.items():
        assert len(rs) == 10
        rs.sort(key=lambda r: r["rank"])
        assert all(r.vec_id < 8 for r in rs[:8]), "valid rows must lead"
        assert all(r.dist is not None for r in rs[:8])
        # Arrow maps the kernel's NaN to NULL; asc_nulls_last ranks
        # them after every real neighbor
        assert all(r.dist is None for r in rs[8:]), "zero-norm rows trail"
