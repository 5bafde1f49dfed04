"""Per-probe adaptive escalation for the batched ANN join
(plans/ann_join.ann_join_topk(adaptive=True) — VERDICT r9 item 1).

Contract: under a predicate CORRELATED with the cluster geometry, only
the probes the predicate actually displaced (home cell emptied) pay
the deeper (esc_nprobe, esc_refine) point; probes the predicate left
alone run the base knob BIT-IDENTICALLY to ``adaptive=False``. A
second, independent signal widens a probe's own nprobe when the
qualifying mass in its chosen cells cannot cover its candidate budget
(the VERDICT r9 mass rule), so tiny-selectivity predicates return the
exact filtered answer instead of starving.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators.knn import knn_join
from lightweight_vector_database_spark.operators.similarity import (
    ivfpq_encode,
    train_ivfpq,
)
from lightweight_vector_database_spark.plans.ann_join import ann_join_topk
from lightweight_vector_database_spark.sources import load_table

SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def clustered(spark):
    """4 well-separated clusters x 200 rows at dim 16, 8 IVF cells
    (2 per cluster), trained on the UNFILTERED base — the geometry
    where ``vec_id % 2 == 0`` empties every odd cluster's cells (the
    r9 adversarial sweep shape, small)."""
    dim, n_clusters, per = 16, 4, 200
    rng = np.random.RandomState(11)
    centers = rng.uniform(-0.4, 0.4, (n_clusters, dim)) * 40.0
    centers_df = spark.createDataFrame(
        [(int(c), centers[c].tolist()) for c in range(n_clusters)],
        "cluster int, center array<double>",
    )
    base = spark.range(n_clusters * per).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % n_clusters).cast("int").alias("cluster"),
    )
    noise = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: 0.8 * F.sin((F.col("vec_id") + 1) * i.cast("double") * 0.7),
    )
    df = base.join(F.broadcast(centers_df), "cluster").select(
        "vec_id",
        F.zip_with(F.col("center"), noise, lambda c, nz: c + nz).alias(
            "embedding"
        ),
    ).cache()
    df.count()
    cents, books = train_ivfpq(
        df, n_centroids=2 * n_clusters, m=4, ksub=16, iters=4,
        sample_rows=512, sample_id_col="vec_id",
    )
    codes = ivfpq_encode(df, cents, books).select(
        "vec_id", "cell", "pq_code"
    ).cache()
    codes.count()
    probes = df.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    yield df, cents, books, codes, probes
    df.unpersist()
    codes.unpersist()


def _per_probe(rows):
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r.probe_id, set()).add(r.vec_id)
    return out


def test_adaptive_recovers_displaced_probe_recall(spark, clustered):
    """The r9 'done' bar, small: at the BASE knob the displaced (odd-
    cluster) probes lose recall vs the exact filtered join; adaptive
    escalation recovers it to >= 0.95 without deepening the knob for
    the probes the predicate left alone."""
    df, cents, books, codes, probes = clustered
    pred = F.col("vec_id") % 2 == 0
    k = 5

    want = _per_probe(
        knn_join(probes, df.filter(pred), k=k, strategy="partial").collect()
    )

    def recalls(out):
        got = _per_probe(out.collect())
        assert set(got) == set(want)  # every probe answered
        by = {}
        for parity in (0, 1):
            recs = [
                len(got[p] & want[p]) / len(want[p])
                for p in want
                if p % 2 == parity
            ]
            by[parity] = sum(recs) / len(recs)
        return by  # {0: home-alive probes, 1: displaced probes}

    base = recalls(
        ann_join_topk(
            codes, cents, books, probes, raw=df, k=k, nprobe=2, refine=2,
            pred=pred,
        )
    )
    adapt = recalls(
        ann_join_topk(
            codes, cents, books, probes, raw=df, k=k, nprobe=2, refine=2,
            pred=pred, adaptive=True,
        )
    )
    # displaced probes recover to >= 0.99 (measured: 0.918 -> 1.000)...
    assert adapt[1] >= 0.99, f"displaced recall {adapt[1]:.3f} < 0.99"
    assert adapt[1] > base[1] + 0.05, (
        f"escalation changed nothing (base {base[1]:.3f}, "
        f"adaptive {adapt[1]:.3f}) — the fixture no longer displaces probes"
    )
    # ...while the probes the predicate left alone are untouched
    assert adapt[0] == base[0]


def test_adaptive_unescalated_probes_bit_identical(spark, clustered):
    """Probes whose home cell survives the predicate (even clusters)
    must emit EXACTLY the adaptive=False rows — same ids, bit-equal
    distances: escalation is per-probe, not a global knob."""
    df, cents, books, codes, probes = clustered
    pred = F.col("vec_id") % 2 == 0
    kw = dict(k=5, nprobe=1, refine=2, pred=pred)
    plain = ann_join_topk(codes, cents, books, probes, raw=df, **kw)
    adapt = ann_join_topk(
        codes, cents, books, probes, raw=df, adaptive=True, **kw
    )

    def rows_for_even(out):
        return sorted(
            (r.probe_id, r.vec_id, r.dist, r["rank"])
            for r in out.collect()
            if r.probe_id % 2 == 0  # home cell alive -> not escalated
        )

    a, b = rows_for_even(plain), rows_for_even(adapt)
    assert a and a == b


def test_adaptive_mass_shortfall_returns_exact_answer(spark, clustered):
    """A predicate so selective that the probe's chosen cells cannot
    cover k*refine qualifying rows: the mass rule widens the probe's
    own cell list, so the adaptive answer equals the exact filtered
    join (candidates = every qualifying row when total mass <= budget),
    while the fixed-knob run starves some probes."""
    df, cents, books, codes, probes = clustered
    # ~11 qualifying rows scattered across clusters: any single cell
    # holds ~1-2 of them, far below keep = k * refine = 10
    pred = F.col("vec_id") % 71 == 0
    k = 5
    p = probes.filter(F.col("probe_id") < 100)
    want = {
        (r.probe_id, r.vec_id, round(r.dist, 9))
        for r in knn_join(p, df.filter(pred), k=k, strategy="partial").collect()
    }
    got = {
        (r.probe_id, r.vec_id, round(r.dist, 9))
        for r in ann_join_topk(
            codes, cents, books, p, raw=df, k=k, nprobe=1, refine=2,
            pred=pred, adaptive=True,
        ).collect()
    }
    assert got == want
    fixed = ann_join_topk(
        codes, cents, books, p, raw=df, k=k, nprobe=1, refine=2, pred=pred,
    ).count()
    assert fixed < len(want), (
        "fixture too easy: the fixed knob already covers the qualifying "
        "mass, the mass rule is untested"
    )


def test_adaptive_without_pred_is_noop(spark, clustered):
    """No predicate, ample per-cell mass: the adaptive path must be a
    bit-identical no-op (no probe is displaced, no mass shortfall)."""
    df, cents, books, codes, probes = clustered
    p = probes.filter(F.col("probe_id") < 80)
    kw = dict(k=5, nprobe=2, refine=2)
    a = sorted(
        (r.probe_id, r.vec_id, r.dist, r["rank"])
        for r in ann_join_topk(
            codes, cents, books, p, raw=df, **kw
        ).collect()
    )
    b = sorted(
        (r.probe_id, r.vec_id, r.dist, r["rank"])
        for r in ann_join_topk(
            codes, cents, books, p, raw=df, adaptive=True, **kw
        ).collect()
    )
    assert a and a == b


def test_float32_model_broadcast(spark):
    """model_dtype=float32 (the 100 TB broadcast form) serves the same
    fixture with recall parity: the kernels upcast to float64 for the
    folds, so the only difference is model quantization."""
    emb = load_table(spark, SF001, "embeddings")
    cents, books = train_ivfpq(
        emb, n_centroids=8, m=8, ksub=64, iters=3, sample_id_col="vec_id"
    )
    codes = ivfpq_encode(emb, cents, books).select("vec_id", "cell", "pq_code")
    probes = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    f64 = _per_probe(
        ann_join_topk(
            codes, cents, books, probes, raw=emb, k=10, nprobe=8, refine=16
        ).collect()
    )
    f32 = _per_probe(
        ann_join_topk(
            codes, cents, books, probes, raw=emb, k=10, nprobe=8, refine=16,
            model_dtype=np.float32,
        ).collect()
    )
    assert set(f32) == set(f64)
    recs = [len(f32[p] & f64[p]) / len(f64[p]) for p in f64]
    assert sum(recs) / len(recs) >= 0.95


def test_cosine_zero_norm_probe_raises(spark):
    """ADVICE r9: a zero-norm probe under metric='cosine' must raise a
    clear error instead of emitting NaN coordinates with engine-
    dependent NaN ordering."""
    from lightweight_vector_database_spark.suite.pipeline_suite12 import (
        _norm_emb,
    )

    emb = load_table(spark, SF001, "embeddings")
    emb_n = _norm_emb(emb)
    cents, books = train_ivfpq(
        emb_n, n_centroids=8, m=8, ksub=64, iters=3, sample_id_col="vec_id"
    )
    codes = ivfpq_encode(emb_n, cents, books).select(
        "vec_id", "cell", "pq_code"
    )
    dim = len(emb.select("embedding").first()[0])
    probes = spark.createDataFrame(
        [(0, [0.0] * dim)], "probe_id long, probe_vec array<double>"
    )
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="non-zero probe") as ei:
        ann_join_topk(
            codes, cents, books, probes, raw=emb, k=3, metric="cosine"
        ).collect()
    assert "zero-norm probe ids: [0]" in str(ei.value) or isinstance(
        ei.value, Py4JJavaError
    )
    # the failed call released its persisted probe->cell assignment
    assert jsc.getPersistentRDDs().size() == before


def test_cell_snapshot_recovers_from_crash_leftovers(spark, tmp_path, monkeypatch):
    """ADVICE r9: a builder that crashed mid-write must not poison the
    snapshot store — a failed build leaves no tmp tree, and a stale
    PARTIAL target (no _SUCCESS) is recovered automatically on the
    next build instead of demanding manual deletion."""
    import os
    import shutil

    from lightweight_vector_database_spark.suite import pipeline_suite11 as s11

    root = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(s11.__file__)))
        ),
        ".index_snapshots",
    )
    os.makedirs(root, exist_ok=True)
    name = "unittest_crash_recovery"
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    try:
        # 1. a build that dies mid-write cleans its own tmp tree
        def boom():
            raise RuntimeError("simulated builder crash")

        before = {e for e in os.listdir(root) if e.startswith(name + ".tmp")}
        with pytest.raises(RuntimeError, match="simulated"):
            s11._write_cell_snapshot(spark, name, boom)
        after = {e for e in os.listdir(root) if e.startswith(name + ".tmp")}
        assert after == before  # no orphan tmp tree

        # 2. a stale PARTIAL target (crashed after rename started /
        # legacy leftover) is replaced by the next successful build
        os.makedirs(path, exist_ok=True)  # no _SUCCESS inside
        df = spark.createDataFrame(
            [(1, 0, [1, 2]), (2, 1, [3, 4])], "vec_id long, cell int, pq_code array<int>"
        )
        out = s11._write_cell_snapshot(spark, name, lambda: df)
        assert out.count() == 2
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_adaptive_scan_counts_unchanged(spark, clustered):
    """The escalation signals are computed INSIDE the existing
    assignment pass (O(cells) arrays from the broadcast, no extra job):
    the probe table is scanned exactly ONCE — the r12 single-scan
    re-rank (probe vectors deduplicated out of the persisted
    assignment instead of re-reading the probe pipeline) applies to
    the adaptive plain-euclidean path too, so the r8 "assignment +
    re-rank = 2 scans" pin tightened to 1 (same re-pin as
    test_ann_join.test_candidate_derivation_runs_once)."""
    df, cents, books, codes, probes = clustered
    p = probes.filter(F.col("probe_id") < 150)
    n = p.count()
    acc = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted_probes = p.mapInPandas(
        counted, "probe_id long, probe_vec array<double>"
    )
    out = ann_join_topk(
        codes, cents, books, counted_probes, raw=df, k=5, nprobe=2,
        refine=2, pred=F.col("vec_id") % 2 == 0, adaptive=True,
    )
    assert out.count() == n * 5
    assert acc.value == n, (
        f"probe table scanned {acc.value / n:.1f}x (expected 1x) — "
        "an extra probe-table pass crept into the adaptive path"
    )
    from lightweight_vector_database_spark.caching import unpersist_caches

    assert unpersist_caches() >= 1


def test_broadcast_model_at_65k_cells(spark):
    """VERDICT r9 item 5 'done' bar: a >= 65k-cell model serves the
    batched join without closure-size blowup — the centroids +
    codebooks ride ONE float32 broadcast (~17 MB here; the r9 closure
    capture re-shipped ~134 MB of float64 PER TASK at this cell count)
    and every probe still gets its k rows. Codes are synthesized (the
    kernel contract needs only (vec_id, cell, pq_code) + the model);
    correctness at this scale is pinned by the recall sweeps — this
    pins the MEMORY/SHIPPING shape."""
    from pyspark.sql import functions as F

    n_cells, dim, m, ksub = 65_536, 64, 8, 16
    rng = np.random.RandomState(3)
    cents = rng.uniform(-1, 1, (n_cells, dim))
    books = rng.uniform(-0.05, 0.05, (m, ksub, dim // m))
    n_rows, k = 20_000, 5
    codes = spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        F.pmod(F.col("id") * 2654435761, F.lit(n_cells)).cast("int").alias("cell"),
        F.transform(
            F.sequence(F.lit(1), F.lit(m)),
            lambda j: F.pmod(F.col("id") * 40503 + j * 97, F.lit(ksub)).cast("int"),
        ).alias("pq_code"),
    )
    raw = spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.sin((F.col("id") + 1) * i.cast("double") * 0.37),
        ).alias("embedding"),
    )
    probes = raw.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    # adaptive: at ~0.3 rows/cell a fixed nprobe=4 leaves probes with
    # fewer than k candidates; the mass rule widens each probe's cell
    # list until its budget is covered — the sparse-cell regime is
    # exactly what per-probe widening is for
    out = ann_join_topk(
        codes, cents, books, probes, raw=raw, k=k, nprobe=4, refine=2,
        probe_chunk=256, model_dtype=np.float32, adaptive=True,
    )
    per = {}
    for r in out.collect():
        per.setdefault(r.probe_id, []).append(r)
    assert len(per) == 200
    assert all(len(v) == k for v in per.values())
