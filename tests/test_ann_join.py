"""Batched ANN retrieval join (plans/ann_join, VERDICT r7 item 1).

Contract: probe-table-in IVF-PQ search — distributed cell assignment,
cogrouped ADC over the codes snapshot, global candidate cut, exact
re-rank — with (a) recall >= 0.95 against the exact knn_join_bulk
ground truth at the registered working point, (b) output INDEPENDENT
of the salting layout (the global ADC cut makes candidate sets
deterministic), and (c) left-fold numerics so the suite oracle can
replay the whole pipeline in SQL (pinned by the driver differential;
unit-pinned here for the fold helpers).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators.similarity import (
    ivfpq_encode,
    train_ivfpq,
)
from lightweight_vector_database_spark.plans.ann_join import (
    ann_join_topk,
    fold_residual_luts,
    fold_sq_dists,
)
from lightweight_vector_database_spark.sources import load_table

SF001 = "/root/testdata/sf0.01"
DIM = 64


def _canon(df):
    return sorted(
        (r.probe_id, r.vec_id, round(r.dist, 9), r["rank"]) for r in df.collect()
    )


@pytest.fixture(scope="module")
def model(spark):
    emb = load_table(spark, SF001, "embeddings")
    cents, books = train_ivfpq(
        emb, n_centroids=8, m=8, ksub=64, iters=3, sample_id_col="vec_id"
    )
    codes = ivfpq_encode(emb, cents, books).select(
        "vec_id", "cell", "pq_code"
    ).cache()
    codes.count()
    return emb, cents, books, codes


@pytest.fixture(scope="module")
def probes(spark, model):
    emb, *_ = model
    reps = spark.range(5).select(F.col("id").alias("rep"))
    return (
        emb.filter(F.col("vec_id") < 200)
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") * 5 + F.col("rep")).alias("probe_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x
                * (F.lit(1.0) + F.col("rep").cast("double") * F.lit(0.001)),
            ).alias("probe_vec"),
        )
    )


def test_fold_helpers_are_left_folds():
    """The fold helpers must accumulate in ascending-dimension order
    (acc <- acc + d^2), NOT numpy's pairwise summation — that order is
    what makes the kernel bit-identical to the SQL oracle's list_sum."""
    rng = np.random.RandomState(7)
    P = rng.randn(3, 8)
    C = rng.randn(5, 8)
    got = fold_sq_dists(P, C)
    for pi in range(3):
        for ci in range(5):
            acc = 0.0
            for t in range(8):
                d = P[pi, t] - C[ci, t]
                acc = acc + d * d
            assert got[pi, ci] == acc  # bit-equal, not approx

    books = rng.randn(2, 4, 4)  # m=2, ksub=4, dsub=4
    R = rng.randn(3, 8)
    lut = fold_residual_luts(R, books)
    for pi in range(3):
        for j in range(2):
            for c in range(4):
                acc = 0.0
                for t in range(4):
                    d = R[pi, j * 4 + t] - books[j, c, t]
                    acc = acc + d * d
                assert lut[pi, j, c] == acc


def test_recall_pinned_vs_exact_bulk(spark, model, probes):
    """The registered working point (nprobe=8, refine=16, ksub=64) must
    hold mean recall@10 >= 0.95 against the exact knn_join_bulk ground
    truth at sf0.01 (VERDICT r7 item 1 'done' bar)."""
    from lightweight_vector_database_spark.plans.bulk_knn import knn_join_bulk
    from lightweight_vector_database_spark.plans.grid_index import (
        GridIndex,
        build_index,
        index_stats,
    )

    emb, cents, books, codes = model
    ann = ann_join_topk(
        codes, cents, books, probes, raw=emb, k=10, nprobe=8, refine=16
    )
    got: dict[int, set] = {}
    for r in ann.collect():
        got.setdefault(r.probe_id, set()).add(r.vec_id)

    idx = GridIndex([-0.5] * DIM, [0.5] * DIM, num_splits=2, depth=6)
    assigned = build_index(emb, idx).withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    exact = knn_join_bulk(
        assigned, idx, probes, k=10, stats=index_stats(assigned),
        futility_ratio=1.01,
    )
    want: dict[int, set] = {}
    for r in exact.collect():
        want.setdefault(r.probe_id, set()).add(r.vec_id)

    assert set(got) == set(want)  # every probe answered
    recalls = [len(got[p] & want[p]) / len(want[p]) for p in want]
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.95, f"mean recall@10 {mean:.3f} < 0.95"


def test_output_independent_of_salting(spark, model, probes):
    """Forcing tiny salt buckets (every cell hot on both sides) must
    not change a single output row: the global window cut on
    bit-deterministic ADC values makes the candidate set — and hence
    the refined answer — independent of the physical grouping."""
    emb, cents, books, codes = model
    p = probes.filter(F.col("probe_id") < 100)
    a = _canon(
        ann_join_topk(codes, cents, books, p, raw=emb, k=5, nprobe=4, refine=4)
    )
    b = _canon(
        ann_join_topk(
            codes, cents, books, p, raw=emb, k=5, nprobe=4, refine=4,
            salt_codes=64, probe_group_rows=32,
        )
    )
    assert a == b and len(a) == 100 * 5


def test_plan_reads_no_python_rdd(spark, model, probes):
    """The broadcast cell map is an Arrow ``LocalRelation``: a
    ``LogicalRDD`` leaf (a parallelized Python list) costs a job of
    Python-worker tasks to broadcast."""
    from lightweight_vector_database_spark.caching import unpersist_caches

    emb, cents, books, codes = model
    out = ann_join_topk(
        codes, cents, books, probes.filter(F.col("probe_id") < 100),
        raw=emb, k=5, nprobe=4, refine=4,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert out.count() == 100 * 5
    unpersist_caches()


def test_empty_probes_and_validation(spark, model):
    emb, cents, books, codes = model
    empty = spark.createDataFrame(
        [], "probe_id long, probe_vec array<double>"
    )
    out = ann_join_topk(codes, cents, books, empty, raw=emb, k=3)
    assert out.count() == 0
    assert out.columns == ["probe_id", "vec_id", "dist", "rank"]
    with pytest.raises(ValueError, match="must be >= 1"):
        ann_join_topk(codes, cents, books, empty, raw=emb, k=0)
    with pytest.raises(ValueError, match="codebooks cover"):
        ann_join_topk(
            codes, cents[:, :32], books, empty, raw=emb, k=3
        )


def test_nprobe_exceeding_cells_clamps(spark, model, probes):
    """nprobe > n_centroids probes every cell (no error), and the
    refined distances are exact squared-euclidean values."""
    emb, cents, books, codes = model
    p = probes.filter(F.col("probe_id") == 0)
    out = ann_join_topk(
        codes, cents, books, p, raw=emb, k=3, nprobe=99, refine=8
    ).collect()
    assert len(out) == 3
    assert [r["rank"] for r in sorted(out, key=lambda r: r.dist)] == [1, 2, 3]
    # probe 0 is vec 0 scaled by 1.0 — its own vector must be rank 1
    assert out[0].vec_id == 0 or any(r.vec_id == 0 for r in out)


def test_candidate_derivation_runs_once(spark, model, probes):
    """VERDICT r8 item 4 / ADVICE r8, tightened in the r12 optimization
    round: the probe->cell assignment pass is persisted across its
    consumers, and the euclidean re-rank now reads its probe vectors
    back from that persisted assignment (dropDuplicates on probe_id)
    instead of re-scanning the caller's probe table — so the probe
    table is scanned exactly ONCE per job. The unpersisted shape
    re-executed the assignment inside the final job (3 scans): a
    doubled hottest stage at the 10^8-probe workload; the pre-r12
    shape re-scanned the probe pipeline for the re-rank join (2
    scans), which re-materialized expensive caller-side probe
    constructions per serve."""
    emb, cents, books, codes = model
    p = probes.filter(F.col("probe_id") < 250)
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
        codes, cents, books, counted_probes, raw=emb, k=5, nprobe=4,
        refine=4,
    )
    assert out.count() == n * 5
    assert acc.value == n, (
        f"probe table scanned {acc.value / n:.1f}x (expected 1x: "
        "assignment only; the re-rank reuses the persisted assignment)"
    )
    from lightweight_vector_database_spark.operators.dedup import (
        unpersist_caches,
    )

    assert unpersist_caches() >= 1  # the persisted cand relation


def test_filtered_recall_and_pred(spark, model, probes):
    """ann_join_topk(pred=...) is filter-THEN-retrieve: every returned
    neighbor satisfies the predicate, and recall@10 vs the exact
    FILTERED ground truth holds >= 0.95 (VERDICT r8 item 1 'done' bar).
    The codes fixture carries the label column, so the predicate
    filters the code tier before ADC — recall does not collapse with
    selectivity the way post-filtering k results would."""
    from lightweight_vector_database_spark.operators.knn import knn_join
    from lightweight_vector_database_spark.operators.similarity import (
        ivfpq_encode,
    )

    emb, cents, books, _ = model
    codes_lbl = ivfpq_encode(emb, cents, books).select(
        "vec_id", "label", "cell", "pq_code"
    )
    pred = F.col("label") < 5
    ann = ann_join_topk(
        codes_lbl, cents, books, probes, raw=emb, k=10, nprobe=8,
        refine=16, pred=pred,
    )
    rows = ann.join(emb.select("vec_id", "label"), "vec_id").collect()
    assert rows and all(r.label < 5 for r in rows)
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r.probe_id, set()).add(r.vec_id)

    exact = knn_join(probes, emb.filter(pred), k=10, strategy="partial")
    want: dict[int, set] = {}
    for r in exact.collect():
        want.setdefault(r.probe_id, set()).add(r.vec_id)
    assert set(got) == set(want)
    recalls = [len(got[p] & want[p]) / len(want[p]) for p in want]
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.95, f"filtered mean recall@10 {mean:.3f} < 0.95"


def test_filtered_cosine_compose(spark, model, probes):
    """pred= and metric='cosine' COMPOSE — hard-negative mining within
    a label under the cosine contract, the combined everyday serving
    query. The label-carrying codes are encoded over the NORMALIZED
    corpus; the predicate filters the code tier before assignment/ADC
    (so qualifying-cell routing and the candidate cut see matching
    rows only) and the exact re-rank reports TRUE cosine on the raw
    vectors. Recall >= 0.95 vs the exact FILTERED cosine join;
    bit-level distance equality on the overlap."""
    from lightweight_vector_database_spark.operators.knn import knn_join
    from lightweight_vector_database_spark.suite.pipeline_suite12 import (
        _norm_emb,
    )

    emb, *_ = model
    emb_n = _norm_emb(emb)
    cents, books = train_ivfpq(
        emb_n, n_centroids=8, m=8, ksub=64, iters=3, sample_id_col="vec_id"
    )
    labels = emb.select("vec_id", "label")
    codes = (
        ivfpq_encode(emb_n, cents, books)
        .join(labels, "vec_id")
        .select("vec_id", "label", "cell", "pq_code")
    )
    pred = F.col("label") < 5
    ann = ann_join_topk(
        codes, cents, books, probes, raw=emb, k=10, nprobe=8, refine=16,
        metric="cosine", pred=pred,
    )
    rows = ann.join(labels, "vec_id").collect()
    assert rows and all(r.label < 5 for r in rows)
    got_rows = {(r.probe_id, r.vec_id): r.dist for r in rows}
    exact = knn_join(
        probes, emb.filter(pred), k=10, metric="cosine", strategy="partial"
    )
    want_rows = {(r.probe_id, r.vec_id): r.dist for r in exact.collect()}
    want: dict[int, set] = {}
    for p, v in want_rows:
        want.setdefault(p, set()).add(v)
    got: dict[int, set] = {}
    for p, v in got_rows:
        got.setdefault(p, set()).add(v)
    assert set(got) == set(want)
    recalls = [len(got[p] & want[p]) / len(want[p]) for p in want]
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.95, f"filtered-cosine mean recall@10 {mean:.3f} < 0.95"
    for key in set(got_rows) & set(want_rows):
        assert got_rows[key] == want_rows[key], key


def test_cosine_recall_vs_exact(spark, model, probes):
    """ann_join_topk(metric='cosine') over the normalized model must
    hold recall@10 >= 0.95 vs the exact brute cosine join, and every
    reported distance must be the TRUE cosine (checked bit-level on
    the overlap)."""
    from lightweight_vector_database_spark.operators.knn import knn_join
    from lightweight_vector_database_spark.suite.pipeline_suite12 import (
        _norm_emb,
    )

    emb, *_ = model
    from lightweight_vector_database_spark.operators.similarity import (
        ivfpq_encode,
        train_ivfpq,
    )

    emb_n = _norm_emb(emb)
    cents, books = train_ivfpq(
        emb_n, n_centroids=8, m=8, ksub=64, iters=3, sample_id_col="vec_id"
    )
    codes = ivfpq_encode(emb_n, cents, books).select(
        "vec_id", "cell", "pq_code"
    )
    ann = ann_join_topk(
        codes, cents, books, probes, raw=emb, k=10, nprobe=8, refine=16,
        metric="cosine",
    )
    got_rows = {(r.probe_id, r.vec_id): r.dist for r in ann.collect()}
    exact = knn_join(probes, emb, k=10, metric="cosine", strategy="partial")
    want_rows = {(r.probe_id, r.vec_id): r.dist for r in exact.collect()}
    want: dict[int, set] = {}
    for p, v in want_rows:
        want.setdefault(p, set()).add(v)
    got: dict[int, set] = {}
    for p, v in got_rows:
        got.setdefault(p, set()).add(v)
    assert set(got) == set(want)
    recalls = [len(got[p] & want[p]) / len(want[p]) for p in want]
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.95, f"cosine mean recall@10 {mean:.3f} < 0.95"
    # exact re-rank contract: overlapping pairs report identical
    # (bit-level) true-cosine distances
    for key in set(got_rows) & set(want_rows):
        assert got_rows[key] == want_rows[key], key


def test_filtered_correlated_predicate_answers_every_probe(spark):
    """A predicate CORRELATED with the cluster geometry empties whole
    cells (the r9 sweep measured 26% of probes returning NOTHING when
    vec_id parity implied cluster parity). Probe assignment must route
    to the nprobe nearest QUALIFYING cells: every probe answered, all
    rows satisfy the predicate, and with full live-cell coverage +
    all-candidate refine the answers equal the exact filtered join."""
    from lightweight_vector_database_spark.operators.knn import knn_join
    from lightweight_vector_database_spark.operators.similarity import (
        ivfpq_encode,
        train_ivfpq,
    )

    dim, n_clusters, per = 16, 4, 100
    rng = np.random.RandomState(3)
    centers = rng.uniform(-0.4, 0.4, (n_clusters, dim)) * 50.0
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
        lambda i: 0.05 * F.sin((F.col("vec_id") + 1) * i.cast("double") * 0.7),
    )
    df = base.join(F.broadcast(centers_df), "cluster").select(
        "vec_id",
        F.zip_with(F.col("center"), noise, lambda c, nz: c + nz).alias(
            "embedding"
        ),
    ).cache()
    cents, books = train_ivfpq(
        df, n_centroids=n_clusters, m=4, ksub=16, iters=4,
        sample_rows=512, sample_id_col="vec_id",
    )
    codes = ivfpq_encode(df, cents, books).select("vec_id", "cell", "pq_code")
    # vec_id % 2 == 0 <=> cluster in {0, 2}: odd clusters' cells empty
    pred = F.col("vec_id") % 2 == 0
    probes = df.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    out = ann_join_topk(
        codes, cents, books, probes, raw=df, k=5, nprobe=2, refine=40,
        pred=pred,
    ).collect()
    per_probe: dict[int, list] = {}
    for r in out:
        per_probe.setdefault(r.probe_id, []).append(r)
    assert len(per_probe) == n_clusters * per  # EVERY probe answered
    assert all(len(v) == 5 for v in per_probe.values())
    assert all(r.vec_id % 2 == 0 for r in out)
    # full live-cell coverage (nprobe=2 = |live cells|) + refine
    # spanning every qualifying row => the exact filtered answer
    got = {(r.probe_id, r.vec_id, round(r.dist, 9)) for r in out}
    want = {
        (r.probe_id, r.vec_id, round(r.dist, 9))
        for r in knn_join(
            probes, df.filter(pred), k=5, strategy="partial"
        ).collect()
    }
    assert got == want
    df.unpersist()


def test_unsupported_metric_raises(spark, model):
    emb, cents, books, codes = model
    empty = spark.createDataFrame([], "probe_id long, probe_vec array<double>")
    with pytest.raises(KeyError, match="not served"):
        ann_join_topk(
            codes, cents, books, empty, raw=emb, k=3, metric="manhattan"
        )


def test_semantic_ann_pairs_recall_vs_brute(spark):
    """dedup_semantic_ann (the corpus probing itself through the
    IVF-PQ tier) must recover >= 0.9 of the TRUE within-threshold pair
    set at sf0.01 — the SemDeDup-shaped contract: deterministic,
    exact-oracled, approximate only in k/nprobe coverage."""
    from lightweight_vector_database_spark.suite.pipeline_suite11 import (
        _SD_TAU,
        _dedup_semantic_ann,
    )

    got = {
        (r.id1, r.id2) for r in _dedup_semantic_ann(spark, SF001).collect()
    }
    emb = load_table(spark, SF001, "embeddings")
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("vb"))
    from lightweight_vector_database_spark.functions.distance import (
        euclidean_sq,
    )

    want = {
        (r.id1, r.id2)
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("d", euclidean_sq(F.col("va"), F.col("vb")))
        .filter(F.col("d") <= _SD_TAU)
        .select("id1", "id2")
        .collect()
    }
    assert want, "threshold too tight: empty ground truth"
    assert got <= want  # every emitted pair is a true pair (exact refine)
    recall = len(got & want) / len(want)
    assert recall >= 0.9, f"pair recall {recall:.3f} < 0.9 ({len(want)} true)"
