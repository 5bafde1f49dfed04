"""Incremental maintenance of the IVF-PQ codes snapshot from a CDC feed.

The serving tier (plans/ann_join.py) reads a cell-partitioned CODES
table — (id, cell, pq_code [, filter columns]) — that is DERIVED from
the vector corpus by a per-row encode (operators/similarity.
ivfpq_encode / imi_encode). At 100 TB the corpus mutates continuously
(streaming/ingest.VectorIngest commits O(batch) CDC into a
DeltaSnapshotStore), and re-encoding the whole corpus per refresh is
O(table) — unaffordable for the same reason rescanning it is.

``CodesSnapshot`` maintains the codes table incrementally, mirroring
operators/incremental.MaterializedAggregate's structure over the SAME
change-feed contract:

* the codes table is itself a :class:`DeltaSnapshotStore` keyed by the
  vector id, so a refresh is ONE ``commit_mutation`` — tombstone the
  deleted/replaced ids, append the freshly encoded rows — atomic,
  time-travelable, O(changed rows);
* per-row encoding COMMUTES with mutation (each row's (cell, pq_code)
  depends only on that row and the frozen model), so incremental
  maintenance is EXACT: after any mutation history, the maintained
  table is row-identical to a from-scratch encode of the current
  corpus (pinned by tests/test_ann_maintenance.py);
* a refresh range that crosses a base rewrite (compaction/truncate —
  where ``read_changes`` correctly refuses) falls back to ONE full
  re-encode, recorded in ``last_refresh_mode``;
* the MODEL (centroids, codebooks, optional OPQ rotation, optional IMI
  halves) is frozen at construction: drift-triggered retraining
  (operators/drift.py + streaming/ingest.py) is a NEW model and
  therefore a new ``CodesSnapshot`` bootstrap — codes under different
  models must never mix in one table (the store records the model
  fingerprint in commit metadata and refuses a mismatched resume).

Scale shape: the refresh encodes O(changed rows) in one Arrow pass,
shuffles them once on ``cell`` for the partitioned append, and writes
only the touched rows; the serving scan still prunes to probed cells
because every commit dir is partitioned by cell.

Reference contract being scaled: the reference mutates its index in
place per insert/delete (kd_tree_database.py:262-283); this is the
log-structured, derived-table form of the same bookkeeping.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.delta_snapshots import DeltaSnapshotStore


def _model_fingerprint(cents, books, rotation, imi) -> str:
    h = hashlib.sha1()
    for a in (cents, books, rotation, *(imi or ())):
        if a is not None:
            h.update(np.ascontiguousarray(np.asarray(a, dtype=np.float64)))
    return h.hexdigest()[:16]


class CodesSnapshot:
    """Incrementally maintained IVF-PQ / IMI / OPQ codes table.

    Parameters
    ----------
    base:
        the vector corpus store (source of ``read_changes``); its rows
        must carry ``vec_col`` and ``id_col``.
    view_store:
        the codes table's own store; ``id_col`` must match ``base``'s
        (the row id IS the code-row identity).
    centroids / codebooks / rotation / imi:
        the frozen serving model, exactly as ``ann_join_topk`` takes
        it (``imi=(c1, c2)`` with ``centroids=None`` for the two-level
        coarse model; ``rotation`` for OPQ codes).
    keep_cols:
        metadata columns copied from the base rows into the codes
        table (filter-then-retrieve predicates push into the pruned
        scan only if their columns live IN the codes table).
    pack4:
        maintain the NIBBLE-PACKED (4-bit fast-scan) layout — ksub
        must be <= 16 (``ivfpq_encode(pack4=True)``); the maintained
        table stores binary codes at half the bytes and serves through
        ``ann_join_topk`` unchanged. The layout is part of the view's
        identity (fingerprinted): a packed view must never mix with
        byte-code rows. Flat/OPQ coarse models only (the IMI encoder
        has no packed layout).
    """

    def __init__(
        self,
        base: DeltaSnapshotStore,
        view_store: DeltaSnapshotStore,
        centroids,
        codebooks,
        rotation=None,
        imi=None,
        vec_col: str = "embedding",
        keep_cols: tuple[str, ...] = (),
        pack4: bool = False,
    ):
        if view_store.id_col != base.id_col:
            raise ValueError(
                f"view_store.id_col ({view_store.id_col!r}) must match "
                f"base.id_col ({base.id_col!r})"
            )
        if imi is not None and centroids is not None:
            raise ValueError("pass centroids=None with imi=(c1, c2)")
        if pack4 and imi is not None:
            raise ValueError(
                "pack4 maintains the flat/OPQ nibble layout; the IMI "
                "encoder has no packed form — store byte codes or use "
                "a flat coarse model"
            )
        if pack4 and np.asarray(codebooks).shape[1] > 16:
            raise ValueError(
                "pack4 stores one code per nibble; ksub "
                f"{np.asarray(codebooks).shape[1]} > 16 cannot round-trip"
            )
        self.pack4 = bool(pack4)
        self.base = base
        self.view = view_store
        self.id_col = base.id_col
        self.vec_col = vec_col
        self.keep_cols = tuple(keep_cols)
        self.cents = (
            np.asarray(centroids, dtype=np.float64)
            if centroids is not None
            else None
        )
        self.books = np.asarray(codebooks, dtype=np.float64)
        self.rot = (
            np.asarray(rotation, dtype=np.float64)
            if rotation is not None
            else None
        )
        self.imi = (
            tuple(np.asarray(c, dtype=np.float64) for c in imi)
            if imi is not None
            else None
        )
        self.fingerprint = _model_fingerprint(
            self.cents, self.books, self.rot, self.imi
        ) + ("-p4" if self.pack4 else "")
        # the code LAYOUT is part of the view's identity: resuming a
        # byte-code store with pack4=True (or vice versa) must refuse
        # exactly like a retrained model — mixed layouts cannot be
        # read back as one column
        # resume: the view's latest commit records which base version
        # it reflects and under which model. A model mismatch REFUSES
        # (mixed-model codes would serve silently wrong ADC values).
        meta = view_store.latest_metadata()
        if meta.get("model_fingerprint") not in (None, self.fingerprint):
            raise ValueError(
                "codes store was built under a different model "
                f"(stored {meta['model_fingerprint']}, "
                f"this {self.fingerprint}); retrain = new bootstrap "
                "into a fresh store"
            )
        self.base_version = int(meta.get("base_version", -1))
        self.last_refresh_mode: str | None = None

    # -- encode ---------------------------------------------------------

    def _encode(self, rows: DataFrame) -> DataFrame:
        from ..operators.similarity import imi_encode, ivfpq_encode

        if self.imi is not None:
            enc = imi_encode(
                rows, self.imi[0], self.imi[1], self.books,
                vec_col=self.vec_col, rotation=self.rot,
            )
        else:
            enc = ivfpq_encode(
                rows, self.cents, self.books,
                vec_col=self.vec_col, rotation=self.rot,
                pack4=self.pack4,
            )
        return enc.select(self.id_col, *self.keep_cols, "cell", "pq_code")

    def _meta(self, latest: int) -> dict:
        return {
            "base_version": latest,
            "model_fingerprint": self.fingerprint,
        }

    # -- refresh ----------------------------------------------------------

    def refresh(self) -> int:
        """Advance the codes table to the base store's latest version.
        Incremental (encode O(changed rows)) when the change feed
        covers the range; one full re-encode when it cannot. Returns
        the new codes version; no-op when the base hasn't moved."""
        latest = self.base.latest_version()
        if latest < 0:
            raise ValueError("base store is empty — nothing to encode")
        if latest == self.base_version:
            return self.view.latest_version()
        if self.base_version < 0:
            return self._full_rebuild(latest)
        try:
            changes = self.base.read_changes(self.base_version, latest)
        except ValueError:
            # crossed a rewrite: the feed is underivable — pay one
            # full re-encode rather than guess
            return self._full_rebuild(latest)
        return self._apply_delta(changes, latest)

    def _full_rebuild(self, latest: int) -> int:
        v = self.view.commit_full(
            self._encode(self.base.read(latest)),
            partition_by=["cell"],
            metadata=self._meta(latest),
        )
        self.base_version = latest
        self.last_refresh_mode = "full"
        return int(v)

    def _apply_delta(self, changes: DataFrame, latest: int) -> int:
        inserts = changes.filter(F.col("_change_type") == "insert")
        removed = changes.filter(F.col("_change_type") != "insert").select(
            self.id_col
        )
        encoded = self._encode(
            inserts.select(self.id_col, *self.keep_cols, self.vec_col)
        )
        # ONE atomic commit: tombstone every id that lost a row
        # (replaced ids re-appear in the same commit's append — the
        # store's sequence rule keeps the appended row), write only
        # the batch's encoded rows. Insert-only batches write no
        # tombstone dir (read fan-in grows only on real deletes).
        v = self.view.commit_mutation(
            append_df=encoded,
            delete_ids=None if removed.isEmpty() else removed,
            partition_by=["cell"],
            metadata=self._meta(latest),
        )
        self.base_version = latest
        self.last_refresh_mode = "incremental"
        return int(v)

    def note_content_preserving_rewrite(self, version: int) -> None:
        """Advance past a rewrite the CALLER guarantees restated the
        same visible rows (compaction / z-order clustering): the codes
        already reflect that content, so only the version pointer
        moves — no encode, no commit. Without this, every maintenance
        compaction of the base would force a full re-encode (the
        change feed correctly refuses rewrite-crossing ranges).

        In-memory only: a NEW process resuming from the view's last
        commit metadata will still see the pre-rewrite base_version
        and pay one full re-encode on its first refresh — the safe
        direction (never wrong, occasionally slower)."""
        self.base_version = int(version)

    # -- reads -------------------------------------------------------------

    def codes(self, version: int | None = None) -> DataFrame:
        """The maintained codes table (optionally as of a past
        refresh) — the ``codes`` input of ``ann_join_topk``, with
        ``cell`` cast to the serving scan's int type."""
        return self.view.read(version).withColumn(
            "cell", F.col("cell").cast("int")
        )

    def code_stats(self) -> dict[int, int]:
        """Post-maintenance per-cell counts (O(cells) metadata — the
        ``code_stats`` input of ``ann_join_topk``)."""
        return {
            int(r["cell"]): int(r["cnt"])
            for r in self.codes()
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
