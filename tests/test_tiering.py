"""ANN tier guard (operators/tiering, VERDICT r7 item 2).

The r7 baseline measured the failure: tight UNNORMALIZED clusters make
every cluster member share one sign pattern, so the 1-bit Hamming
tier's recall collapses while SQ8 holds. The guard must turn that
measurement into refusal — on the clustered fixture Hamming is
refused and SQ8 selected; on geometry where no tier clears the floor
the guard returns "exact" instead of silently serving garbage.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators.tiering import (
    TIER_PREFERENCE,
    choose_ann_tier,
    seeded_probe_rows,
    tier_report,
)
from lightweight_vector_database_spark.sources import load_table

DIM = 64
N_CLUSTERS = 16


@pytest.fixture(scope="module")
def clustered(spark):
    """The r7 baseline's hard fixture shape (tools/scale_test.generate
    at test size): tight clusters around random unnormalized centers —
    the geometry where 1-bit sign quantization cannot separate
    neighbors within a cluster."""
    rng = np.random.RandomState(5)
    centers = rng.uniform(-0.35, 0.35, (N_CLUSTERS, DIM))
    centers_df = spark.createDataFrame(
        [(int(c), centers[c].tolist()) for c in range(N_CLUSTERS)],
        "cluster int, center array<double>",
    )
    base = spark.range(20_000).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % N_CLUSTERS).cast("int").alias("cluster"),
    )
    noise = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: 0.05 * F.sin((F.col("vec_id") + 1) * i.cast("double") * 0.7),
    )
    joined = base.join(F.broadcast(centers_df), "cluster")
    vec = F.zip_with(F.col("center"), noise, lambda c, nz: c + nz).cast(
        "array<float>"
    )
    return joined.select("vec_id", vec.alias("embedding")).cache()


def test_guard_refuses_hamming_on_clustered_fixture(spark, clustered):
    rep = {r["tier"]: r for r in tier_report(clustered, floor=0.8).collect()}
    # without a supplied model the report covers the model-free tiers
    assert set(rep) == {"hamming", "sq8"}
    # the r7 measurement, reproduced: 1-bit recall collapses, SQ8 holds
    assert rep["hamming"]["recall"] < 0.5
    assert rep["sq8"]["recall"] >= 0.8
    assert not rep["hamming"]["chosen"]
    assert rep["sq8"]["chosen"]
    assert choose_ann_tier(clustered, floor=0.8) == "sq8"


def test_guard_falls_back_to_exact_when_nothing_clears(spark, clustered):
    # an impossible floor: every quantized tier refused -> exact
    assert choose_ann_tier(clustered, floor=1.01) == "exact"
    rep = tier_report(clustered, floor=1.01).collect()
    assert not any(r["chosen"] for r in rep)


def test_guard_prefers_cheapest_passing_tier(spark, sf_dir):
    """On the uniform embeddings fixture both tiers clear a modest
    floor; the guard must pick the FIRST preference (hamming — the
    16x-smaller candidate scan), not the best recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    rep = {r["tier"]: r for r in tier_report(emb, floor=0.5).collect()}
    if rep["hamming"]["recall"] >= 0.5:  # fixture-dependent guard
        assert rep["hamming"]["chosen"] and not rep["sq8"]["chosen"]
        assert choose_ann_tier(emb, floor=0.5) == "hamming"


def test_ivfpq_tier_clears_when_both_quantized_tiers_fail(spark):
    """VERDICT r8 item 5 'done' bar: a geometry where hamming AND sq8
    both fail the floor but the IVF-PQ tier clears it. Clusters at
    scale ~1000 with ~0.01-amplitude within-cluster structure: the
    global SQ8 grid's step (range/256 ~ 8) swamps the within-cluster
    distances, and every member shares one sign pattern — both
    model-free tiers degenerate to id-order candidates. IVF-PQ's
    RESIDUAL codebooks are trained on exactly that within-cluster
    structure, so its ADC resolves it."""
    from lightweight_vector_database_spark.operators.similarity import (
        ivfpq_encode,
        train_ivfpq,
    )

    n_clusters, per = 4, 500
    rng = np.random.RandomState(11)
    centers = rng.uniform(-0.35, 0.35, (n_clusters, DIM)) * 1000.0
    centers_df = spark.createDataFrame(
        [(int(c), centers[c].tolist()) for c in range(n_clusters)],
        "cluster int, center array<double>",
    )
    base = spark.range(n_clusters * per).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % n_clusters).cast("int").alias("cluster"),
    )
    noise = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: 0.01 * F.sin((F.col("vec_id") + 1) * i.cast("double") * 0.7),
    )
    df = (
        base.join(F.broadcast(centers_df), "cluster")
        .select(
            "vec_id",
            F.zip_with(
                F.col("center"), noise, lambda c, nz: c + nz
            ).cast("array<float>").alias("embedding"),
        )
        .cache()
    )
    cents, books = train_ivfpq(
        df, n_centroids=n_clusters, m=8, ksub=64, iters=5,
        sample_rows=1024, sample_id_col="vec_id",
    )
    codes = ivfpq_encode(df, cents, books).select("vec_id", "cell", "pq_code")
    ivfpq = (codes, cents, books, 1)
    rep = {
        r["tier"]: r
        for r in tier_report(df, floor=0.8, ivfpq=ivfpq).collect()
    }
    assert set(rep) == set(TIER_PREFERENCE)
    assert rep["hamming"]["recall"] < 0.8, rep["hamming"]["recall"]
    assert rep["sq8"]["recall"] < 0.8, rep["sq8"]["recall"]
    assert rep["ivfpq"]["recall"] >= 0.8, rep["ivfpq"]["recall"]
    assert rep["ivfpq"]["chosen"]
    assert not rep["sq8"]["chosen"] and not rep["hamming"]["chosen"]
    assert choose_ann_tier(df, floor=0.8, ivfpq=ivfpq) == "ivfpq"
    df.unpersist()


def test_operating_point_from_recorded_frontier():
    """ann_operating_point picks the cheapest recorded (nprobe,
    refine) clearing a recall floor — pinned on the r8 1M-base sweep
    recordings (VERDICT r8 item 7). The r8 files predate the embedded
    knob fields, so their operating points are supplied explicitly
    (BASELINE.md records them)."""
    from pathlib import Path

    from lightweight_vector_database_spark.operators.tiering import (
        ann_operating_point,
        frontier_from_sweeps,
    )

    root = Path(__file__).resolve().parent.parent
    files = {
        str(root / "PROBE_SWEEP_r08_base1M.json"): (4, 2),
        str(root / "PROBE_SWEEP_r08_base1M_np8.json"): (8, 2),
        str(root / "PROBE_SWEEP_r08_base1M_r4.json"): (4, 4),
        str(root / "PROBE_SWEEP_r08_base1M_r6.json"): (4, 6),
    }
    if not all(Path(p).exists() for p in files):
        pytest.skip("r8 frontier recordings absent")
    frontier = frontier_from_sweeps(files, n_probes=100_000)
    assert len(frontier) == 4
    # floors walk the recorded frontier: cheap low-recall point first,
    # then the refine ladder; an impossible floor refuses (None)
    assert ann_operating_point(0.90, frontier) == (4, 2)  # 2878 p/s
    assert ann_operating_point(0.95, frontier) == (4, 4)  # 2053 p/s
    assert ann_operating_point(0.999, frontier) == (4, 6)  # 1858 p/s
    assert ann_operating_point(1.01, frontier) is None


def test_filtered_operating_point_from_filtered_frontier():
    """Filtered serving points resolve from frontiers recorded UNDER
    the filter (frontier_from_sweeps path='ann_filt') — pinned on the
    r9 1M-base filtered recordings. The same 0.5 selectivity needs a
    DIFFERENT operating point depending on whether the predicate
    correlates with the cell geometry: uncorrelated ('hash' mode)
    clears 0.95 at the cheap (4, 2) point; the adversarial
    cluster-correlated predicate ('parity' mode) needs (4, 8) for a
    0.85 floor and REFUSES 0.95 outright (no recorded point clears —
    serve exact or record a deeper ladder), which is exactly the
    refusal contract that makes hard-coded knobs unsafe."""
    from pathlib import Path

    from lightweight_vector_database_spark.operators.tiering import (
        ann_operating_point,
        frontier_from_sweeps,
    )

    root = Path(__file__).resolve().parent.parent
    parity = {
        str(root / "PROBE_SWEEP_r09_base1M_filt.json"): None,
        str(root / "PROBE_SWEEP_r09_base1M_filt_r8.json"): None,
    }
    hashed = {str(root / "PROBE_SWEEP_r09_base1M_filt_hash.json"): None}
    if not all(Path(p).exists() for p in {**parity, **hashed}):
        pytest.skip("r9 filtered frontier recordings absent")
    f_parity = frontier_from_sweeps(parity, n_probes=100_000, path="ann_filt")
    f_hash = frontier_from_sweeps(hashed, n_probes=100_000, path="ann_filt")
    assert len(f_parity) == 2 and len(f_hash) == 1
    assert ann_operating_point(0.95, f_hash) == (4, 2)  # recall 0.9862
    assert ann_operating_point(0.85, f_parity) == (4, 8)  # recall 0.8859
    assert ann_operating_point(0.95, f_parity) is None  # refusal

    # ... and the refusal is ANSWERABLE by recording deeper: the
    # (8, 16) parity recording (recall 0.962 at every ladder point —
    # nprobe recovers the rerouted probes, refine recovers the
    # off-codebook ADC ranking) lifts the 0.95 floor from refusal to a
    # measured point
    deep = str(root / "PROBE_SWEEP_r09_base1M_filt_np8r16.json")
    if Path(deep).exists():
        f_deep = frontier_from_sweeps(
            {**parity, deep: None}, path="ann_filt"
        )
        assert ann_operating_point(0.95, f_deep) == (8, 16)


def test_filtered_cosine_operating_point_walk_1m():
    """The composed filtered+COSINE shape recorded at the 1M sweep
    scale (VERDICT r9 item 8), pinned like the other three shapes.
    The parity predicate is adversarial here in a DIFFERENT way than
    under euclidean: normalization re-projects the generator's
    clusters onto the sphere, where the true filtered top-10 of a
    displaced probe are separated only by noise-scale cosine gaps —
    PQ quantization noise swamps that, so recall is REFINE-bound
    (measured: (16,16) 0.72 vs (4,64) 0.86 at equal-or-less cost) and
    saturates ~0.91 even at (8,128). The walk resolves each floor to
    the cheapest recorded clearing point and REFUSES 0.95 — correctly,
    because the recorded (4,64) throughput (294.5 p/s at 1e5) is
    already BELOW the exact gemm comparator (~319 p/s): past the
    recorded frontier the exact join dominates, which is precisely
    what the refusal contract routes to."""
    from pathlib import Path

    from lightweight_vector_database_spark.operators.tiering import (
        ann_operating_point,
        frontier_from_sweeps,
    )

    root = Path(__file__).resolve().parent.parent
    files = {
        str(root / "PROBE_SWEEP_r10_fcos_base1M.json"): None,
        str(root / "PROBE_SWEEP_r10_fcos_base1M_np8r8.json"): None,
        str(root / "PROBE_SWEEP_r10_fcos_base1M_np16r16.json"): None,
        str(root / "PROBE_SWEEP_r10_fcos_base1M_r64.json"): None,
    }
    if not all(Path(p).exists() for p in files):
        pytest.skip("r10 filtered-cosine frontier recordings absent")
    frontier = frontier_from_sweeps(files, n_probes=100_000, path="ann_filt")
    assert len(frontier) == 4
    assert all(f["n_probes"] == 100_000 for f in frontier)
    assert ann_operating_point(0.45, frontier) == (4, 2)  # 1378.6 p/s
    assert ann_operating_point(0.60, frontier) == (8, 8)  # 504.9 p/s
    assert ann_operating_point(0.70, frontier) == (16, 16)  # 373.1 p/s
    assert ann_operating_point(0.80, frontier) == (4, 64)  # 294.5 p/s
    assert ann_operating_point(0.95, frontier) is None  # refusal -> exact
    # the adaptive column lifts the same base knobs but also cannot
    # clear 0.95 in this regime (mass-based escalation rarely fires:
    # predicate-emptied neighbors are REPLACED by off-cluster mass on
    # the sphere, so qualifying mass looks healthy)
    adapt = frontier_from_sweeps(
        {
            str(root / "PROBE_SWEEP_r10_fcos_base1M.json"): None,
            str(root / "PROBE_SWEEP_r10_fcos_base1M_np8r8.json"): None,
        },
        n_probes=100_000,
        path="ann_adapt",
    )
    assert ann_operating_point(0.60, adapt) == (4, 2)  # 0.6773 @ 865 p/s
    assert ann_operating_point(0.80, adapt) == (8, 8)  # 0.8642 @ 235 p/s
    assert ann_operating_point(0.95, adapt) is None


def test_serving_knobs_resolve_from_committed_fixture_frontiers():
    """No batched serving query hard-codes (nprobe, refine): the suite
    constants must equal fixture_operating_point over the COMMITTED
    frontier recordings (a stale or hand-edited recording shows up
    here), and a missing recording falls back to the documented
    working point instead of inventing one."""
    from lightweight_vector_database_spark.operators.tiering import (
        fixture_operating_point,
    )
    from lightweight_vector_database_spark.suite import (
        pipeline_suite11 as s11,
        pipeline_suite12 as s12,
        pipeline_suite13 as s13,
    )

    filt = s11._repo_file("FRONTIER_sf001_filt.json")
    cos = s11._repo_file("FRONTIER_sf001_cos.json")
    fcos = s11._repo_file("FRONTIER_sf001_fcos.json")
    sem = s11._repo_file("FRONTIER_sf001.json")
    adapt = s11._repo_file("FRONTIER_sf001_adapt.json")
    if not all(os.path.exists(p) for p in (filt, cos, fcos, sem, adapt)):
        pytest.skip("fixture frontier recordings absent")
    # the adaptive frontier is esc-BEARING since r11: the fixed-knob
    # projection must refuse it (the recall was measured UNDER explicit
    # escalation knobs), and the suite resolves the FULL record through
    # fixture_serving_point instead — walked exhaustively in
    # test_esc_aware_fixture_serving_point
    from lightweight_vector_database_spark.operators.tiering import (
        fixture_serving_point,
    )

    with pytest.raises(ValueError, match="escalation"):
        fixture_operating_point(adapt, s13._ADAPT_FLOOR, (2, 2))
    rec = fixture_serving_point(
        adapt, s13._ADAPT_FLOOR,
        {"nprobe": 2, "refine": 2, "esc_nprobe": 4, "esc_refine": 16},
    )
    assert (rec["nprobe"], rec["refine"]) == (
        s13._ADAPT_NPROBE, s13._ADAPT_REFINE,
    )
    assert (rec["esc_nprobe"], rec["esc_refine"]) == (
        s13._ADAPT_ESC_NPROBE, s13._ADAPT_ESC_REFINE,
    )
    assert fixture_operating_point(filt, s12._AJF_FLOOR, (8, 16)) == (
        s12._AJF_NPROBE, s12._AJF_REFINE,
    )
    assert fixture_operating_point(cos, s12._AJC_FLOOR, (8, 16)) == (
        s12._AJC_NPROBE, s12._AJC_REFINE,
    )
    assert fixture_operating_point(fcos, s12._AJFC_FLOOR, (8, 16)) == (
        s12._AJFC_NPROBE, s12._AJFC_REFINE,
    )
    assert fixture_operating_point(sem, s11._SD_FLOOR, (4, 4)) == (
        s11._SD_NPROBE, s11._SD_REFINE,
    )
    # refusal/fallback contract: absent recording -> documented point
    assert fixture_operating_point("/nonexistent.json", 0.9, (8, 16)) == (
        8, 16,
    )
    # a floor no recorded point clears -> fallback, never extrapolation
    assert fixture_operating_point(filt, 1.01, (8, 16)) == (8, 16)


def test_corrupted_frontier_recording_raises(tmp_path):
    """ADVICE r9: a frontier recording that EXISTS but cannot be parsed
    must raise, not silently serve the fallback knobs — a corrupted
    recording degrading every resolved serving query needs a signal."""
    from lightweight_vector_database_spark.operators.tiering import (
        fixture_operating_point,
    )

    bad = tmp_path / "frontier.json"
    bad.write_text("{not json")
    with pytest.raises(ValueError, match="unreadable"):
        fixture_operating_point(str(bad), 0.9, (8, 16))
    bad.write_text('{"no_results_key": []}')
    with pytest.raises(ValueError, match="unexpected schema"):
        fixture_operating_point(str(bad), 0.9, (8, 16))
    # absent stays the documented fallback path
    assert fixture_operating_point(
        str(tmp_path / "missing.json"), 0.9, (4, 4)
    ) == (4, 4)


def test_seeded_probes_deterministic_and_validation(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = seeded_probe_rows(emb, 5)
    b = seeded_probe_rows(emb, 5)
    assert [p for p, _ in a] == [p for p, _ in b] and len(a) == 5
    with pytest.raises(ValueError, match="candidates >= k"):
        tier_report(emb, k=10, candidates=5)


def test_m_axis_serving_point_cross_build():
    """The r10 PQ-RESOLUTION finding, pinned from the committed
    recordings: the filtered-cosine regime refuses 0.95 at every m=8
    knob (refine-bound — see the walk test above), but the SAME floor
    resolves once the frontier spans BUILDS: the m=16 snapshot clears
    it. ann_serving_point returns the winning record including m
    (choosing a build, not just a knob); ann_operating_point REFUSES
    a mixed-m frontier loudly, because its (nprobe, refine) answer
    would silently drive the wrong index."""
    from pathlib import Path

    from lightweight_vector_database_spark.operators.tiering import (
        ann_operating_point,
        ann_serving_point,
        frontier_from_sweeps,
    )

    root = Path(__file__).resolve().parent.parent
    m8 = str(root / "PROBE_SWEEP_r10_fcos_base1M.json")
    m16 = str(root / "PROBE_SWEEP_r10_fcos_base1M_m16.json")
    if not (Path(m8).exists() and Path(m16).exists()):
        pytest.skip("r10 fcos m-axis recordings absent")

    # unfiltered cosine: m=8 (4,2) is 0.9073 @ 2084.2 p/s; m=16 (4,8)
    # is 1.0 @ 422.5 — a 0.90 floor keeps the cheap m=8 build, a 0.95
    # floor is only reachable by CHANGING the build
    f = frontier_from_sweeps({m8: None, m16: None}, n_probes=100_000)
    assert {r["m"] for r in f} == {8, 16}
    p90 = ann_serving_point(0.90, f)
    assert (p90["m"], p90["nprobe"], p90["refine"]) == (8, 4, 2)
    p95 = ann_serving_point(0.95, f)
    assert p95["m"] == 16 and p95["recall"] == 1.0
    assert ann_serving_point(1.01, f) is None  # refusal survives

    # the adversarial filtered+adaptive column: every m=8 point is
    # <= 0.87; m=16 (4,8) adaptive records 0.9616 — the 0.95 floor
    # resolves cross-build or not at all
    fa = frontier_from_sweeps(
        {m8: None, m16: None}, n_probes=100_000, path="ann_adapt"
    )
    pa = ann_serving_point(0.95, fa)
    assert pa is not None and pa["m"] == 16

    # the ESCALATION knobs are part of the record: the m16 base-(4,4)
    # run with esc (8,64) clears 0.95 at 334 p/s (above the exact gemm
    # comparator's ~319) where the same base with default esc records
    # 0.898 — adding that recording moves the resolved point, and the
    # resolved record carries the esc knobs the serving call needs
    e64 = str(root / "PROBE_SWEEP_r10_fcos_base1M_m16r4e64.json")
    if Path(e64).exists():
        fa2 = frontier_from_sweeps(
            {m8: None, m16: None, e64: None},
            n_probes=100_000, path="ann_adapt",
        )
        pb = ann_serving_point(0.95, fa2)
        assert pb is not None and pb["m"] == 16
        assert (pb["nprobe"], pb["refine"]) == (4, 4)
        assert (pb["esc_nprobe"], pb["esc_refine"]) == (8, 64)
        assert pb["probes_per_sec"] > 319  # beats the exact comparator

    # fixed-build resolution must not swallow a cross-build frontier
    with pytest.raises(ValueError, match="spans PQ resolutions"):
        ann_operating_point(0.90, f)
    # ... but stays the same projection on a single-build slice
    f8 = [r for r in f if r["m"] == 8]
    assert ann_operating_point(0.90, f8) == (4, 2)


def test_esc_aware_fixture_serving_point():
    """The adaptive fixture frontier carries explicit escalation knobs
    per record (r11): fixture_serving_point resolves the FULL operating
    point — base AND escalation — because each record's recall was
    measured UNDER its esc point; the (nprobe, refine)-only projection
    (fixture_operating_point) must keep REFUSING esc-bearing records
    rather than silently serving the default escalation."""
    from pathlib import Path

    from lightweight_vector_database_spark.operators.tiering import (
        fixture_operating_point,
        fixture_serving_point,
    )

    path = str(
        Path(__file__).resolve().parent.parent / "FRONTIER_sf001_adapt.json"
    )
    if not Path(path).exists():
        pytest.skip("adaptive fixture frontier recording absent")

    fb = {"nprobe": 2, "refine": 2, "esc_nprobe": 4, "esc_refine": 16}
    # the committed walk: only (8,8) esc (16,64) clears 0.95
    pt = fixture_serving_point(path, 0.95, fb)
    assert (pt["nprobe"], pt["refine"]) == (8, 8)
    assert (pt["esc_nprobe"], pt["esc_refine"]) == (16, 64)
    # an unreachable floor serves the documented fallback (refusal)
    assert fixture_serving_point(path, 1.01, fb) == fb
    # an absent recording serves the fallback too
    assert fixture_serving_point(path + ".missing", 0.5, fb) == fb
    # the fixed-knob projection refuses the esc-bearing record: its
    # recall was not measured under the kernel-default escalation
    with pytest.raises(ValueError, match="escalation"):
        fixture_operating_point(path, 0.95, (2, 2))

    # the registered adaptive query resolved its knobs from this file
    from lightweight_vector_database_spark.suite.pipeline_suite13 import (
        _ADAPT_ESC_NPROBE,
        _ADAPT_ESC_REFINE,
        _ADAPT_NPROBE,
        _ADAPT_REFINE,
    )

    assert (_ADAPT_NPROBE, _ADAPT_REFINE) == (pt["nprobe"], pt["refine"])
    assert (_ADAPT_ESC_NPROBE, _ADAPT_ESC_REFINE) == (
        pt["esc_nprobe"],
        pt["esc_refine"],
    )


def test_opq_axis_is_a_build_axis():
    """A frontier record measured under an OPQ rotation names a
    DIFFERENT codes snapshot than a plain-PQ record at the same m:
    ann_operating_point refuses the mix (ADVICE r10), ann_serving_point
    resolves across it and returns the opq bit the caller needs to
    pick the build."""
    from lightweight_vector_database_spark.operators.tiering import (
        ann_operating_point,
        ann_serving_point,
    )

    plain = {
        "nprobe": 4, "refine": 2, "m": 8, "opq": False,
        "esc_nprobe": None, "esc_refine": None,
        "recall": 0.90, "probes_per_sec": 2000.0, "n_probes": 1000,
    }
    rotated = dict(plain, opq=True, recall=0.97, probes_per_sec=1500.0)
    with pytest.raises(ValueError, match="OPQ"):
        ann_operating_point(0.5, [plain, rotated])
    # the code-width axis (ksub) is a build axis too: a 4-bit fast-scan
    # record cannot be projected onto a byte-code snapshot (r11)
    pq4 = dict(plain, ksub=16)
    with pytest.raises(ValueError, match="ksub"):
        ann_operating_point(0.5, [plain, pq4])
    assert ann_operating_point(0.5, [pq4]) == (4, 2)
    best = ann_serving_point(0.95, [plain, rotated])
    assert best is not None and best["opq"] is True
    # single-build slices still project cleanly
    assert ann_operating_point(0.5, [plain]) == (4, 2)
    assert ann_operating_point(0.95, [rotated]) == (4, 2)


def test_m16_crossover_confirmed_on_quiet_rerecord():
    """VERDICT r10 item 2: the r10 m16+esc(8,64) crossover point (ANN
    above the exact comparator at the 0.95 adversarial filtered-cosine
    floor) was recorded under measured host steal. The r11 re-record
    (PROBE_SWEEP_r11_fcos_base1M_m16r4e64.json) measures BOTH columns
    in one run — the adaptive path AND the exact blocks_filt gemm
    comparator on the identical base/probes — so the arbitration
    direction is host-independent: the ratio, not the absolutes, is
    the record. Confirmed: 0.9616 recall @ 205.2 p/s vs exact 144.7
    p/s at 1e5 probes (1.42x), same direction at 1e4 (287.0 vs 196.9).
    """
    import json
    from pathlib import Path

    from lightweight_vector_database_spark.operators.tiering import (
        ann_serving_point,
        frontier_from_sweeps,
    )

    root = Path(__file__).resolve().parent.parent
    path = root / "PROBE_SWEEP_r11_fcos_base1M_m16r4e64.json"
    if not path.exists():
        pytest.skip("r11 crossover re-record absent")
    doc = json.loads(path.read_text())
    exact = {
        r["n_probes"]: r["probes_per_sec"]
        for r in doc["results"]
        if r["path"] == "blocks_filt"
    }
    adapt = frontier_from_sweeps(
        {str(path): None}, n_probes=100_000, path="ann_adapt"
    )
    pt = ann_serving_point(0.95, adapt)
    assert pt is not None and pt["recall"] == 0.9616
    assert (pt["m"], pt["nprobe"], pt["refine"]) == (16, 4, 4)
    assert (pt["esc_nprobe"], pt["esc_refine"]) == (8, 64)
    # the crossover: ANN at >=0.95 recall beats the same-run exact
    # comparator's throughput at BOTH large ladder points
    assert pt["probes_per_sec"] > exact[100_000]
    a1e4 = frontier_from_sweeps(
        {str(path): None}, n_probes=10_000, path="ann_adapt"
    )
    pt4 = ann_serving_point(0.95, a1e4)
    assert pt4 is not None and pt4["probes_per_sec"] > exact[10_000]


def test_pq4_opq_composition_refuses_filtered_floor():
    """The pq4 x OPQ composition record (VERDICT r11 item 1): does the
    learned rotation buy back the adversarial-filtered recall the
    4-bit codes lose, at still-half the bytes? Measured answer at 1M
    (PROBE_SWEEP_r12_pq4opq_base1M vs PROBE_SWEEP_r11_pq4_base1M, same
    knobs m=16/ksub=16/cosine/parity): NO — the rotation moves
    filtered recall 0.62->0.616 and adaptive 0.825->0.795 (the corpus
    residuals are near-isotropic, the one regime OPQ cannot help, Ge
    et al. CVPR 2013). The serving contract must therefore REFUSE the
    packed build for the 0.95-floor filtered regime — the resolver
    returns None (serve exact / another build) rather than a point no
    recording clears — while the CLEAN regime resolves normally, and
    the frontier records carry the full build identity (m, ksub, opq)
    so the cross-build mixing guard fires."""
    import pytest as _pytest
    from pathlib import Path

    from lightweight_vector_database_spark.operators.tiering import (
        ann_operating_point,
        ann_serving_point,
        frontier_from_sweeps,
    )

    root = Path(__file__).resolve().parent.parent
    plain = root / "PROBE_SWEEP_r11_pq4_base1M.json"
    opq = root / "PROBE_SWEEP_r12_pq4opq_base1M.json"
    if not (plain.exists() and opq.exists()):
        pytest.skip("pq4 1M recordings absent")
    files = {str(plain): None, str(opq): None}
    filt = frontier_from_sweeps(files, n_probes=100_000, path="ann_filt")
    adapt = frontier_from_sweeps(files, n_probes=100_000, path="ann_adapt")
    # full build identity on every record
    assert {(r["m"], r["ksub"]) for r in filt} == {(16, 16)}
    assert {r["opq"] for r in filt} == {False, True}
    # the loud refusal: NO pq4 build (rotated or not) clears 0.95
    # under the cluster-correlated predicate, base or adaptive point
    assert ann_serving_point(0.95, filt) is None
    assert ann_serving_point(0.95, adapt) is None
    # ...and the fixed-build resolver refuses the cross-build mix
    # outright instead of projecting across rotations
    with _pytest.raises(ValueError, match="OPQ-rotated"):
        ann_operating_point(0.95, filt)
    # clean retrieval: both pq4 builds clear 0.95 and the resolver
    # hands back the full record including its build axes
    clean = frontier_from_sweeps(files, n_probes=100_000, path="ann")
    pt = ann_serving_point(0.95, clean)
    assert pt is not None and pt["ksub"] == 16 and pt["m"] == 16
    assert pt["recall"] >= 0.999


def test_fcos_adaptive_fixture_serving_point():
    """r12: the filtered-cosine fixture family gains the escalation
    axis (VERDICT r11 item 4). FRONTIER_sf001_fcos_adapt.json walks
    explicit (base, escalation) points on the composed predicate +
    cosine contract; the registered ann_join_filtered_cosine_adaptive
    query must resolve its FULL operating point from that recording
    via fixture_serving_point, and the (nprobe, refine)-only
    projection must refuse the esc-bearing records."""
    from pathlib import Path

    from lightweight_vector_database_spark.operators.tiering import (
        fixture_operating_point,
        fixture_serving_point,
    )

    path = str(
        Path(__file__).resolve().parent.parent
        / "FRONTIER_sf001_fcos_adapt.json"
    )
    if not Path(path).exists():
        pytest.skip("fcos adaptive fixture frontier recording absent")

    fb = {"nprobe": 4, "refine": 16, "esc_nprobe": 8, "esc_refine": 128}
    pt = fixture_serving_point(path, 0.95, fb)
    # the resolved point comes from the recording, with its esc axis
    assert pt != fb
    assert pt["esc_nprobe"] is not None and pt["esc_refine"] is not None
    assert fixture_serving_point(path, 1.01, fb) == fb
    with pytest.raises(ValueError, match="escalation"):
        fixture_operating_point(path, 0.95, (4, 16))

    from lightweight_vector_database_spark.suite.pipeline_suite15 import (
        _FCA_ESC_NPROBE,
        _FCA_ESC_REFINE,
        _FCA_NPROBE,
        _FCA_REFINE,
    )

    assert (_FCA_NPROBE, _FCA_REFINE) == (pt["nprobe"], pt["refine"])
    assert (_FCA_ESC_NPROBE, _FCA_ESC_REFINE) == (
        pt["esc_nprobe"],
        pt["esc_refine"],
    )


def test_batched_topk_union_equals_per_probe_operators(spark, sf_dir):
    """r13 optimization pin: _topk_union was rewritten from one
    TakeOrdered subplan per (probe x tier) to ONE batched broadcast-
    probes + window plan per tier. The selected (probe_id, vec_id)
    sets must be EXACTLY the single-probe operators' — same scoring
    arithmetic, same (score asc, id asc) total order — for every tier,
    including the exact ground truth."""
    from lightweight_vector_database_spark.operators.knn import knn
    from lightweight_vector_database_spark.operators.retrieval import (
        hamming_rerank,
        sq8_rerank,
        sq8_train,
    )
    from lightweight_vector_database_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_search,
        train_ivfpq,
    )
    from lightweight_vector_database_spark.operators.tiering import (
        _topk_union,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k, cand, n_probes = 5, 20, 3
    probes = seeded_probe_rows(emb, n_probes)
    lo, hi = sq8_train(emb, dim=DIM)
    cents, books = train_ivfpq(
        emb, n_centroids=4, m=8, ksub=16, iters=2,
        sample_rows=512, sample_id_col="vec_id",
    )
    codes = ivfpq_encode(emb, cents, books).select("vec_id", "cell", "pq_code")
    ivfpq = (codes, cents, books, 2)

    def reference(tier):
        got = set()
        for pid, vec in probes:
            if tier == "exact":
                top = knn(emb, vec, k)
            elif tier == "hamming":
                top = hamming_rerank(emb, vec, k, cand, dim=DIM)
            elif tier == "sq8":
                top = sq8_rerank(emb, vec, k, cand, lo, hi)
            else:
                top = ivfpq_search(
                    codes, cents, books, vec, k=k, nprobe=2,
                    refine=max(1, cand // k),
                    raw=emb.select("vec_id", "embedding"),
                )
            got |= {(pid, int(r["vec_id"])) for r in top.collect()}
        return got

    for tier in ("exact", "hamming", "sq8", "ivfpq"):
        batched = {
            (int(r["probe_id"]), int(r["__nn"]))
            for r in _topk_union(
                emb, probes, tier, k, cand, lo, hi,
                "embedding", "vec_id", DIM, ivfpq=ivfpq,
            ).collect()
        }
        assert batched == reference(tier), tier


def test_probe_table_sign_words_need_even_dim(spark):
    """The packed sign words split the dims into two equal halves, so
    they are built only for the hamming tier and an odd dim raises
    there, instead of silently dropping the last dim; other tiers get
    a probe table without them and keep working at any dim."""
    from lightweight_vector_database_spark.operators.tiering import _probe_table

    probes = [(0, [0.5, -0.25, 0.75]), (1, [-0.5, 0.25, -0.75])]
    plain = _probe_table(spark, probes, 3)
    assert plain.columns == ["__pid", "__pv"]
    with pytest.raises(ValueError, match="even dim"):
        _probe_table(spark, probes, 3, sign_words=True)
    packed = _probe_table(spark, [(0, [0.5, -0.25, 0.75, 0.1])], 4, sign_words=True)
    assert [tuple(r) for r in packed.select("__pw0", "__pw1").collect()] == [(1, 3)]
