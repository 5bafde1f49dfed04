"""Drop-in API parity with the reference ``VectorDatabase``.

Mirrors the abstract surface of /root/reference/vectordb/database.py:18-64
(dim, insert, find_k_nearest_neighbors, update_position, delete,
get_entry, __len__) plus the KDTreeDatabase extras
(kd_tree_database.py: update_metadata :324-328, __iter__ :330-333,
get_tree_depth :321-322, _debug_compute_length_from_tree :318-319), so
a reference user can switch imports and run unchanged code.

Architecture (deliberately two-tier, like a real database):

- a driver-side **memtable** (dict id -> (position, metadata)) plays
  the reference's point store (kd_tree_database.py:251). The reference
  is an in-memory single-process store; keeping the row store local is
  parity, not a compromise.
- every QUERY runs through the distributed engine: the memtable is
  materialized (lazily, cached until the next mutation) into a
  DataFrame with the grid-index ``cell_id`` column, and
  find_k_nearest_neighbors compiles to the same filter -> distance
  expression -> TakeOrderedAndProject plan as operators/knn.py, with
  cell pruning via plans/grid_index.py.
- the snapshot and its index metadata are built on the DRIVER, from
  data the memtable already holds: one Arrow ``createDataFrame``
  ships the rows, ``GridIndex.cells_of`` (the numpy twin of
  ``cell_expr``, bit-identical ids) computes ``cell_id``, and the
  per-cell counts come from that same id array, counted after the
  filter for filtered reads. No Spark job runs to build or describe
  the snapshot, so a read (the first after a write included) runs
  only the job that answers it. Queries still run in Spark.

For data that does NOT fit a driver (the 100 TB path), use the
DataFrame-native operators directly (operators/, plans/) — this facade
is the migration shim, and ``from_dataframe`` bridges into it.

Semantics preserved (SURVEY.md §2A):
- value semantics: positions stored as read-only float32 copies,
  metadata deep-copied on insert and on read (database.py:11-14,
  kd_tree_database.py:263-265, :272-276)
- monotonic never-reused ids (:253-256)
- bounds assertion on insert (:84-85)
- filter-before-topk, ascending distance, min(k, matches) (:186-195)
- squared Euclidean default metric (distance_metric.py:57-60)
- update_position keeps id+metadata (:310-316); delete returns the
  removed entry or None (:278-283)
"""

from __future__ import annotations

import copy
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass
from typing import Any, Generic, TypeVar

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.distance import METRICS
from .operators.knn import knn
from .plans.grid_index import GridIndex, index_stats, knn_indexed

T = TypeVar("T")


@dataclass(frozen=True)
class DatabaseEntry(Generic[T]):
    """Reference database.py:11-14."""

    position: np.ndarray
    metadata: T


class DistanceMetric:
    """Metric descriptor: name into the engine registry + params.

    Mirrors the reference's pluggable DistanceMetric (distance_metric.py
    :21-54); closed-form point2plane specializations become the grid
    index's closed-form cell bounds (plans/grid_index.py), used only
    for metrics that have them.
    """

    name: str = ""
    kwargs: dict[str, Any] = {}
    prunable = False  # has a closed-form cell lower bound

    def __init__(self, name: str, prunable: bool = False, **kwargs: Any):
        if name not in METRICS:
            raise KeyError(f"unknown metric {name!r}; registered: {sorted(METRICS)}")
        self.name = name
        self.kwargs = kwargs
        self.prunable = prunable


class EuclideanDistance(DistanceMetric):
    """SQUARED Euclidean — the reference default (distance_metric.py:57-60)."""

    def __init__(self) -> None:
        super().__init__("euclidean_sq", prunable=True)


class OneNormDistance(DistanceMetric):
    def __init__(self) -> None:
        super().__init__("manhattan", prunable=True)


class InfinityNormDistance(DistanceMetric):
    def __init__(self) -> None:
        super().__init__("chebyshev", prunable=True)


class MahalanobisDistance(DistanceMetric):
    """Diagonal covariance only on the codegen path (distance_metric.py
    :66-82); full-matrix uses the pandas_udf escape hatch via
    functions.distance.mahalanobis_full_udf."""

    def __init__(self, covariance_diag: Sequence[float]):
        inv = [1.0 / float(c) for c in covariance_diag]
        super().__init__("mahalanobis_diag", inv_diag=inv)


class SparkVectorDatabase(Generic[T]):
    """KDTreeDatabase-compatible facade, Spark-executed queries."""

    def __init__(
        self,
        spark: SparkSession,
        dim: int,
        lower_bound: Sequence[float],
        upper_bound: Sequence[float],
        num_splits_per_dimension: int = 2,
        index_depth: int | None = None,
        default_metric: DistanceMetric | None = None,
    ):
        self._spark = spark
        self._dim = int(dim)
        self._lower = np.asarray(list(lower_bound), dtype=np.float64)
        self._upper = np.asarray(list(upper_bound), dtype=np.float64)
        assert len(self._lower) == dim and len(self._upper) == dim
        depth = index_depth if index_depth is not None else min(dim, 6)
        self._index = GridIndex(
            self._lower, self._upper, num_splits=num_splits_per_dimension, depth=depth
        )
        self._default_metric = default_metric or EuclideanDistance()
        self._store: dict[int, tuple[np.ndarray, T]] = {}
        self._next_id = 0
        self._df: DataFrame | None = None  # invalidated on mutation
        # id-ordered vec_id / cell_id arrays of the snapshot in _df
        self._ids = np.empty(0, dtype=np.int64)
        self._cells = np.empty(0, dtype=np.int64)
        self._stats: dict[int, int] | None = None

    # --- reference API -------------------------------------------------

    @property
    def dim(self) -> int:
        return self._dim

    def insert(self, position: np.ndarray, metadata: T) -> int:
        pos = np.asarray(position, dtype=np.float32)
        assert pos.shape == (self._dim,)
        # bounds assertion, kd_tree_database.py:84-85
        assert np.all(pos >= self._lower.astype(np.float32)) and np.all(
            pos <= self._upper.astype(np.float32)
        ), "position outside the index bounds"
        pos = pos.copy()
        pos.setflags(write=False)
        entry_id = self._create_unique_id()
        self._store[entry_id] = (pos, copy.deepcopy(metadata))
        self._invalidate()
        return entry_id

    def insert_many(self, positions: Sequence[np.ndarray], metadatas: Sequence[T]) -> list[int]:
        return [self.insert(p, m) for p, m in zip(positions, metadatas)]

    def find_k_nearest_neighbors(
        self,
        position: np.ndarray,
        k: int,
        filter: Callable[[T], bool] | None = None,  # noqa: A002 - reference name
        distance_metric: DistanceMetric | None = None,
    ) -> list[tuple[DatabaseEntry[T], float]]:
        if not self._store or k <= 0:
            return []
        metric = distance_metric or self._default_metric
        probe = [float(x) for x in np.asarray(position, dtype=np.float64)]

        df = self._dataframe()
        pred = None
        stats = self._cell_stats()
        if filter is not None:
            # metadata filter runs before top-k (kd_tree_database.py
            # :186-190, :294-297). Arbitrary-callable filters can't be
            # compiled to Catalyst -> pre-evaluate per id (driver-side
            # metadata store, exactly like the reference's id->entry
            # closure) and push the resulting id set as ONE SQL IN
            # expression (the vec_lit idiom: one F.expr call instead of
            # a py4j literal per id).
            keep = np.fromiter(
                (bool(filter(self._store[i][1])) for i in self._ids.tolist()),
                dtype=bool, count=len(self._ids),
            )
            if not keep.any():
                return []
            ok_ids = ",".join(str(i) for i in self._ids[keep].tolist())
            pred = F.expr(f"vec_id IN ({ok_ids})")
            stats = _counts(self._cells[keep])

        if metric.prunable and not metric.kwargs:
            out = knn_indexed(
                df,
                self._index,
                probe,
                k,
                metric=metric.name,
                stats=stats,
                pred=pred,
            )
        else:
            out = knn(df, probe, k, metric=metric.name, pred=pred, **metric.kwargs)
        rows = out.collect()
        return [
            (self.get_entry(r.vec_id), float(r.dist))
            for r in rows
        ]

    def update_position(self, entry_id: int, new_position: np.ndarray) -> None:
        # reference has no guard and fails on missing id (:310-316)
        pos, meta = self._store[entry_id]
        new = np.asarray(new_position, dtype=np.float32).copy()
        new.setflags(write=False)
        self._store[entry_id] = (new, meta)
        self._invalidate()

    def update_metadata(self, entry_id: int, new_metadata: T) -> None:
        if entry_id not in self._store:
            raise KeyError(entry_id)  # kd_tree_database.py:326
        pos, _ = self._store[entry_id]
        self._store[entry_id] = (pos, copy.deepcopy(new_metadata))
        self._invalidate()

    def delete(self, entry_id: int) -> DatabaseEntry[T] | None:
        item = self._store.pop(entry_id, None)
        if item is None:
            return None  # kd_tree_database.py:281-282
        self._invalidate()
        return DatabaseEntry(item[0], item[1])

    def get_entry(self, entry_id: int) -> DatabaseEntry[T] | None:
        item = self._store.get(entry_id)
        if item is None:
            return None
        # deep-copied read (kd_tree_database.py:272-276)
        return DatabaseEntry(item[0], copy.deepcopy(item[1]))

    def __len__(self) -> int:
        return len(self._store)

    def __iter__(self) -> Iterator[tuple[int, DatabaseEntry[T]]]:
        for i in sorted(self._store):
            yield i, self.get_entry(i)

    # --- index diagnostics (reference extras) ---------------------------

    def get_tree_depth(self) -> int:
        """Grid depth analogue of kd_tree_database.py:321-322 (0 when
        empty, as for the collapsed root)."""
        return self._index.depth if self._store else 0

    def _debug_compute_length_from_tree(self) -> int:
        """Count via the index instead of the store (:318-319) — the
        cross-structure consistency invariant. Counts the Spark
        snapshot with a job (``index_stats``), not the driver-side
        metadata, so the invariant checks the engine against the
        memtable rather than the memtable against itself."""
        if not self._store:
            return 0
        return sum(index_stats(self._dataframe()).values())

    # --- internals -------------------------------------------------------

    def _create_unique_id(self) -> int:
        i = self._next_id
        self._next_id += 1  # monotonic, never reused (:253-256)
        return i

    def _invalidate(self) -> None:
        if self._df is not None:
            self._df.unpersist()
        self._df = None
        self._stats = None

    def _memtable(self) -> tuple[np.ndarray, np.ndarray]:
        """(ids, float32 vectors) of the memtable, in id order."""
        ids = np.array(sorted(self._store), dtype=np.int64)
        X = np.empty((len(ids), self._dim), dtype=np.float32)
        for row, i in enumerate(ids.tolist()):
            X[row] = self._store[i][0]
        return ids, X

    def _memtable_df(
        self, ids: np.ndarray, X: np.ndarray, name: str, values: Any, ddl: str
    ) -> DataFrame:
        """(vec_id, embedding, ``name``) as ONE Arrow
        ``createDataFrame``; ``values`` is the extra column, typed
        ``ddl``."""
        import pyarrow as pa

        offsets = np.arange(0, X.size + 1, self._dim, dtype=np.int32)
        table = pa.table(
            {
                "vec_id": ids,
                "embedding": pa.ListArray.from_arrays(offsets, X.ravel()),
                name: values,
            }
        )
        return self._spark.createDataFrame(
            table, f"vec_id long, embedding array<float>, {name} {ddl}"
        )

    def _dataframe(self) -> DataFrame:
        if self._df is None:
            self._ids, X = self._memtable()
            self._cells = self._index.cells_of(X)
            self._df = self._memtable_df(
                self._ids, X, "cell_id", self._cells, "long"
            ).cache()
        return self._df

    def _cell_stats(self) -> dict[int, int]:
        if self._stats is None:
            self._dataframe()
            self._stats = _counts(self._cells)
        return self._stats

    # --- bridge to the DataFrame-native engine ---------------------------

    def to_dataframe(self) -> DataFrame:
        """The (id, embedding, cell_id) snapshot — join your own
        metadata table against it for DataFrame-native pipelines."""
        return self._dataframe()

    # --- persistence (SnapshotStore-backed; the reference has none) ------

    def save(self, path: str) -> int:
        """Persist the database as a new snapshot version. Metadata is
        pickled per row (arbitrary T, like the reference's generic
        metadata); vectors/ids go as typed columns. Returns version."""
        import pickle

        from .sources.snapshots import SnapshotStore

        ids, X = self._memtable()
        metas = [pickle.dumps(self._store[i][1]) for i in ids.tolist()]
        df = self._memtable_df(ids, X, "metadata", metas, "binary")
        store = SnapshotStore(self._spark, path)
        version = store.commit(df)
        self._save_config(path)
        return version

    def _save_config(self, path: str) -> None:
        import json
        import os

        cfg = {
            "dim": self._dim,
            "lower": self._lower.tolist(),
            "upper": self._upper.tolist(),
            "num_splits": self._index.bins - 1,
            "depth": self._index.depth,
            "next_id": self._next_id,
        }
        with open(os.path.join(path, "_DB_CONFIG.json"), "w") as f:
            json.dump(cfg, f)

    # load() materializes the snapshot on the driver by design (it
    # rehydrates the single-machine reference-parity facade); this caps
    # how large a snapshot it will pull rather than driver-OOMing.
    MAX_LOAD_ROWS = 5_000_000

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, version: int | None = None
    ) -> "SparkVectorDatabase":
        """Restore a saved database (optionally a past version).

        DRIVER-SIDE by design: this facade mirrors the reference's
        in-memory database (SURVEY.md §2A), so the snapshot is
        collected into the driver store. Snapshots over MAX_LOAD_ROWS
        raise with guidance instead of OOMing the driver — at that
        size, query the snapshot with the distributed operators
        (operators/knn, plans/grid_index) directly."""
        import json
        import os
        import pickle

        from .sources.snapshots import SnapshotStore

        with open(os.path.join(path, "_DB_CONFIG.json")) as f:
            cfg = json.load(f)
        db = cls(
            spark,
            dim=cfg["dim"],
            lower_bound=cfg["lower"],
            upper_bound=cfg["upper"],
            num_splits_per_dimension=cfg["num_splits"],
            index_depth=cfg["depth"],
        )
        store = SnapshotStore(spark, path)
        snap = store.read(version)
        n = snap.count()
        if n > cls.MAX_LOAD_ROWS:
            raise ValueError(
                f"snapshot at {path!r} holds {n} rows > MAX_LOAD_ROWS "
                f"({cls.MAX_LOAD_ROWS}): load() rehydrates the driver-side "
                "facade and would OOM the driver. Query the snapshot with "
                "the distributed operators instead (operators/knn, "
                "plans/grid_index), or raise MAX_LOAD_ROWS deliberately."
            )
        for r in snap.collect():
            pos = np.asarray(r.embedding, dtype=np.float32)
            pos.setflags(write=False)
            db._store[r.vec_id] = (pos, pickle.loads(bytes(r.metadata)))
        db._next_id = max(cfg["next_id"], (max(db._store) + 1) if db._store else 0)
        return db


def _counts(cells: np.ndarray) -> dict[int, int]:
    """Per-cell row counts of a cell-id array (``index_stats``'s shape)."""
    u, n = np.unique(cells, return_counts=True)
    return dict(zip(u.tolist(), n.tolist()))
