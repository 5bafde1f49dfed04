"""Incremental codes-snapshot maintenance (plans/ann_maintenance).

Contract: per-row encoding commutes with mutation, so after ANY CDC
history the maintained codes table is ROW-IDENTICAL to a from-scratch
encode of the current corpus — incremental refreshes touch O(changed
rows), a rewrite-crossing range falls back to one full re-encode, the
serving join over the maintained table equals the fresh-encode join,
and a model change refuses to resume into the old store.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators.similarity import (
    train_ivfpq_np,
    train_opq_np,
)
from lightweight_vector_database_spark.plans.ann_maintenance import (
    CodesSnapshot,
    _model_fingerprint,
)
from lightweight_vector_database_spark.sources.delta_snapshots import (
    DeltaSnapshotStore,
)

DIM = 16


def _rows(spark, ids, label_of=lambda i: i % 4):
    """Deterministic vectors keyed by id (same id -> same vector, so
    encode-commutes-with-mutation is checkable exactly)."""
    data = [
        (
            int(i),
            int(label_of(i)),
            [
                float(0.3 * np.cos(0.7 * (i + 1) * (t + 1)))
                for t in range(DIM)
            ],
        )
        for i in ids
    ]
    return spark.createDataFrame(
        data, "vec_id long, label int, embedding array<double>"
    )


def _canon_codes(df):
    return sorted(
        (r.vec_id, r.label, r.cell, tuple(r.pq_code)) for r in df.collect()
    )


@pytest.fixture(scope="module")
def model(spark):
    sample = np.stack(
        [r.embedding for r in _rows(spark, range(256)).collect()]
    )
    cents, books = train_ivfpq_np(sample, n_centroids=4, m=4, ksub=16, iters=3)
    return cents, books


def test_incremental_equals_full_reencode(spark, tmp_path, model):
    cents, books = model
    base = DeltaSnapshotStore(spark, str(tmp_path / "base"))
    view = DeltaSnapshotStore(spark, str(tmp_path / "codes"))
    cs = CodesSnapshot(
        base, view, cents, books, keep_cols=("label",)
    )
    base.commit_full(_rows(spark, range(120)), partition_by=None)
    v0 = cs.refresh()
    assert cs.last_refresh_mode == "full" and v0 >= 0

    # CDC: delete 0..19, REPLACE 100..109 (tombstone + same-id append
    # in one commit — the store's sequence rule keeps the appended
    # row), insert 120..139
    base.commit_mutation(
        append_df=_rows(spark, list(range(100, 110)) + list(range(120, 140))),
        delete_ids=spark.createDataFrame(
            [(int(i),) for i in list(range(0, 20)) + list(range(100, 110))],
            "vec_id long",
        ),
    )
    cs.refresh()
    assert cs.last_refresh_mode == "incremental"
    fresh = CodesSnapshot(
        DeltaSnapshotStore(spark, str(tmp_path / "base")),
        DeltaSnapshotStore(spark, str(tmp_path / "codes_fresh")),
        cents, books, keep_cols=("label",),
    )
    fresh.refresh()
    assert _canon_codes(cs.codes()) == _canon_codes(fresh.codes())
    assert sum(cs.code_stats().values()) == 120  # 120 - 20 + 20

    # no-op refresh: base unmoved -> same version back
    assert cs.refresh() == view.latest_version()

    # second delta on top (insert-only — writes no tombstone dir)
    base.commit_append(_rows(spark, range(500, 520)))
    cs.refresh()
    assert cs.last_refresh_mode == "incremental"
    fresh2 = CodesSnapshot(
        DeltaSnapshotStore(spark, str(tmp_path / "base")),
        DeltaSnapshotStore(spark, str(tmp_path / "codes_fresh2")),
        cents, books, keep_cols=("label",),
    )
    fresh2.refresh()
    assert _canon_codes(cs.codes()) == _canon_codes(fresh2.codes())


def test_rewrite_crossing_falls_back_to_full(spark, tmp_path, model):
    cents, books = model
    base = DeltaSnapshotStore(spark, str(tmp_path / "base"))
    view = DeltaSnapshotStore(spark, str(tmp_path / "codes"))
    cs = CodesSnapshot(base, view, cents, books)
    base.commit_full(_rows(spark, range(60)))
    cs.refresh()
    base.commit_append(_rows(spark, range(60, 80)))
    base.compact()  # rewrite: the change feed across it is underivable
    base.commit_append(_rows(spark, range(80, 90)))
    cs.refresh()
    assert cs.last_refresh_mode == "full"
    assert sum(cs.code_stats().values()) == 90


def test_served_join_equals_fresh_encode(spark, tmp_path, model):
    """ann_join_topk over the MAINTAINED codes == over a from-scratch
    encode (same model, same raw corpus) — the serving-level form of
    the invariant, including the filtered path (keep_cols carries the
    predicate column into the pruned scan)."""
    from lightweight_vector_database_spark.plans.ann_join import ann_join_topk

    cents, books = model
    base = DeltaSnapshotStore(spark, str(tmp_path / "base"))
    view = DeltaSnapshotStore(spark, str(tmp_path / "codes"))
    cs = CodesSnapshot(base, view, cents, books, keep_cols=("label",))
    base.commit_full(_rows(spark, range(200)))
    cs.refresh()
    base.commit_mutation(
        append_df=_rows(spark, range(200, 260)),
        delete_ids=spark.createDataFrame(
            [(int(i),) for i in range(0, 40)], "vec_id long"
        ),
    )
    cs.refresh()
    raw = base.read()
    fresh = CodesSnapshot(
        base, DeltaSnapshotStore(spark, str(tmp_path / "codes_f")),
        cents, books, keep_cols=("label",),
    )
    fresh.refresh()
    probes = raw.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )

    def canon(codes, stats):
        out = ann_join_topk(
            codes, cents, books, probes, raw=raw, k=5, nprobe=2, refine=3,
            pred=F.col("label") == 1, code_stats=stats,
        )
        return sorted(
            (r.probe_id, r.vec_id, round(r.dist, 9), r["rank"])
            for r in out.collect()
        )

    got = canon(cs.codes(), cs.code_stats())
    want = canon(fresh.codes(), fresh.code_stats())
    assert got == want and len(got) > 0


def test_model_change_refuses_resume(spark, tmp_path, model):
    cents, books = model
    base = DeltaSnapshotStore(spark, str(tmp_path / "base"))
    view = DeltaSnapshotStore(spark, str(tmp_path / "codes"))
    base.commit_full(_rows(spark, range(50)))
    CodesSnapshot(base, view, cents, books).refresh()
    # same model resumes fine, carrying the applied base version
    resumed = CodesSnapshot(base, view, cents, books)
    assert resumed.base_version == base.latest_version()
    # a retrained model (different bytes) must NOT write into the store
    sample = np.stack([r.embedding for r in _rows(spark, range(64)).collect()])
    _, R, books2 = train_opq_np(sample, n_centroids=4, m=4, ksub=16, iters=2)
    with pytest.raises(ValueError, match="different model"):
        CodesSnapshot(base, view, cents, books2, rotation=R)
    # ... and the OPQ model bootstraps its own store, exact vs direct
    view2 = DeltaSnapshotStore(spark, str(tmp_path / "codes_opq"))
    cs2 = CodesSnapshot(base, view2, cents, books2, rotation=R)
    cs2.refresh()
    from lightweight_vector_database_spark.operators.similarity import (
        ivfpq_encode,
    )

    direct = ivfpq_encode(base.read(), cents, books2, rotation=R).select(
        "vec_id", "cell", "pq_code"
    )
    a = sorted((r.vec_id, r.cell, tuple(r.pq_code)) for r in direct.collect())
    b = sorted(
        (r.vec_id, r.cell, tuple(r.pq_code)) for r in cs2.codes().collect()
    )
    assert a == b


def test_model_fingerprint_digests_are_stable():
    """A codes view records the fingerprint of the model it was built
    under and refuses to resume under any other, so the digest of a
    given model must never change across releases — otherwise every
    existing on-disk view stops resuming. Literal digests pin the
    plain, OPQ (rotation) and IMI byte layouts."""
    cents = np.arange(12, dtype=np.float64).reshape(3, 4) / 7.0
    books = np.arange(16, dtype=np.float64).reshape(2, 4, 2) / 11.0
    rot = np.eye(4)[::-1]
    imi = (
        np.arange(6, dtype=np.float64).reshape(3, 2) / 5.0,
        np.arange(4, dtype=np.float64).reshape(2, 2) / 3.0,
    )
    assert _model_fingerprint(cents, books, None, None) == "d11d46806d77db03"
    assert _model_fingerprint(cents, books, rot, None) == "44180ea5d895ec99"
    assert _model_fingerprint(None, books, None, imi) == "c0a46dc7ab0af1c7"


def test_validation(spark, tmp_path, model):
    cents, books = model
    base = DeltaSnapshotStore(spark, str(tmp_path / "base"), id_col="vec_id")
    other = DeltaSnapshotStore(spark, str(tmp_path / "v"), id_col="doc_id")
    with pytest.raises(ValueError, match="id_col"):
        CodesSnapshot(base, other, cents, books)
    view = DeltaSnapshotStore(spark, str(tmp_path / "codes"))
    with pytest.raises(ValueError, match="centroids=None"):
        CodesSnapshot(
            base, view, cents, books, imi=(np.zeros((2, 8)), np.zeros((2, 8)))
        )
    with pytest.raises(ValueError, match="empty"):
        CodesSnapshot(base, view, cents, books).refresh()


def test_ingest_loop_maintains_codes_view(spark, tmp_path, model):
    """End-to-end: VectorIngest(codes_view=) refreshes the codes table
    after every committed batch — through insert epochs, a CDC epoch,
    and a maintenance COMPACTION (which restates the same rows: the
    sink advances the view pointer instead of re-encoding, so every
    refresh after the bootstrap stays incremental) — and the final
    codes equal a from-scratch encode of the final snapshot."""
    from lightweight_vector_database_spark.plans.grid_index import GridIndex
    from lightweight_vector_database_spark.streaming.ingest import (
        VectorIngest,
    )

    cents, books = model
    store = DeltaSnapshotStore(spark, str(tmp_path / "snap"))
    view = DeltaSnapshotStore(spark, str(tmp_path / "codes"))
    cs = CodesSnapshot(store, view, cents, books, keep_cols=("label",))
    index = GridIndex([-0.4] * DIM, [0.4] * DIM, num_splits=2, depth=3)

    with pytest.raises(ValueError, match="codes_view.base"):
        VectorIngest(
            DeltaSnapshotStore(spark, str(tmp_path / "other")),
            index, codes_view=cs,
        )

    ingest = VectorIngest(store, index, compact_every=3, codes_view=cs)

    def batch(ids):
        return _rows(spark, ids).drop("vec_id")

    ingest.apply_batch(batch(range(40)), 0)
    assert cs.last_refresh_mode == "full"  # bootstrap
    ingest.apply_batch(batch(range(40, 70)), 1)
    assert cs.last_refresh_mode == "incremental"
    # this epoch trips compact_every: refresh runs BEFORE the fold,
    # the fold is noted as content-preserving — still incremental
    ingest.apply_batch(batch(range(70, 90)), 2)
    assert cs.last_refresh_mode == "incremental"
    # CDC epoch on the compacted store: delete + update + insert
    cdc = (
        _rows(spark, range(5)).withColumn("op", F.lit("D"))
        .unionByName(
            _rows(spark, range(10, 14), label_of=lambda i: 3).withColumn(
                "op", F.lit("U")
            )
        )
        .unionByName(
            _rows(spark, range(900, 905)).drop("vec_id")
            .withColumn("vec_id", F.lit(None).cast("long"))
            .withColumn("op", F.lit("I"))
            .select("vec_id", "label", "embedding", "op")
        )
    )
    ingest.apply_cdc_batch(cdc, 3)
    assert cs.last_refresh_mode == "incremental"

    fresh = CodesSnapshot(
        store, DeltaSnapshotStore(spark, str(tmp_path / "codes_f")),
        cents, books, keep_cols=("label",),
    )
    fresh.refresh()
    got = sorted(
        (r.vec_id, r.label, r.cell, tuple(r.pq_code))
        for r in cs.codes().collect()
    )
    want = sorted(
        (r.vec_id, r.label, r.cell, tuple(r.pq_code))
        for r in fresh.codes().collect()
    )
    assert got == want and len(got) == 40 + 30 + 20 - 5 + 5
