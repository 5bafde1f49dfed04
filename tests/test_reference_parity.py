"""The reference's own test suite, ported against the Spark facade.

Mirrors /root/reference/tests/test_kd_tree_database.py test-for-test
(semantics cited per test; randomness seeded — the reference is
unseeded, SURVEY.md §5). Passing this file is the 'a reference user
can switch' proof."""

from __future__ import annotations

import uuid

import numpy as np
import pytest

from lightweight_vector_database_spark.api import (
    EuclideanDistance,
    InfinityNormDistance,
    OneNormDistance,
    SparkVectorDatabase,
)


@pytest.fixture()
def rng():
    return np.random.RandomState(42)


def _setup_test_db(spark, dim: int = 4) -> SparkVectorDatabase[str]:
    # reference tests:9-17: bounds [0,1]^d, num_splits=2
    return SparkVectorDatabase(
        spark,
        dim=dim,
        lower_bound=np.zeros(dim),
        upper_bound=np.ones(dim),
        num_splits_per_dimension=2,
        index_depth=min(dim, 4),
    )


def test_insert_and_len(spark, rng):
    # reference tests:20-28
    db = _setup_test_db(spark)
    n = 100
    for i in range(n):
        db.insert(rng.random(4).astype(np.float32), f"data[{i}]")
        assert len(db) == i + 1
    assert len(db) == n
    assert db._debug_compute_length_from_tree() == n


def test_insert_delete_and_len(spark, rng):
    # reference tests:30-52: invariant after every insert and delete
    db = _setup_test_db(spark)
    ids = []
    for i in range(30):
        ids.append(db.insert(rng.random(4).astype(np.float32), f"data[{i}]"))
        assert len(db) == db._debug_compute_length_from_tree() == i + 1
    for j, entry_id in enumerate(ids):
        removed = db.delete(entry_id)
        assert removed is not None
        assert len(db) == db._debug_compute_length_from_tree() == 30 - j - 1
    assert db.get_tree_depth() == 0  # emptied -> collapsed (tests:50-51)


def test_k_nearest_neighbors(spark, rng):
    # reference tests:54-68: dim=2, known point found at distance 0.0
    db = _setup_test_db(spark, dim=2)
    for i in range(100):
        db.insert(rng.random(2).astype(np.float32), f"data[{i}]")
    probe = np.full(2, 1 / 3, dtype=np.float32)
    known = db.insert(probe, "awd")
    results = db.find_k_nearest_neighbors(probe, 10)
    assert len(results) == 10
    top_entry, top_dist = results[0]
    assert top_dist == 0.0
    assert top_entry.metadata == "awd"
    dists = [d for _, d in results]
    assert dists == sorted(dists)
    assert known is not None


def test_operations_on_empty(spark):
    # reference tests:70-77
    db = _setup_test_db(spark)
    assert db.get_tree_depth() == 0
    assert len(db) == 0
    assert db.find_k_nearest_neighbors(np.zeros(4, dtype=np.float32), 10) == []


def test_update_position(spark):
    # reference tests:79-94
    db = _setup_test_db(spark)
    entry_id = db.insert(np.zeros(4, dtype=np.float32), "moving")
    db.update_position(entry_id, np.ones(4, dtype=np.float32))
    results = db.find_k_nearest_neighbors(np.zeros(4, dtype=np.float32), 1)
    entry, dist = results[0]
    assert dist > 0.0
    assert entry.metadata == "moving"
    np.testing.assert_allclose(entry.position, np.ones(4))
    # no guard on missing id (reference raises; we raise KeyError)
    with pytest.raises(KeyError):
        db.update_position(12345, np.zeros(4, dtype=np.float32))


def test_iter(spark, rng):
    # reference tests:96-106 (duplicate positions allowed)
    db = _setup_test_db(spark)
    pos = rng.random(4).astype(np.float32)
    ids = {db.insert(pos, f"data[{i}]") for i in range(4)}
    seen = {i for i, _ in db}
    assert seen == ids


def test_immutability(spark):
    # reference tests:108-120: returned position read-only; returned
    # metadata is a copy
    db = _setup_test_db(spark)
    entry_id = db.insert(np.full(4, 0.5, dtype=np.float32), {"a": 0})
    entry = db.get_entry(entry_id)
    with pytest.raises(ValueError):
        entry.position[0] = 9.0
    entry.metadata["a"] = 99
    assert db.get_entry(entry_id).metadata == {"a": 0}


def test_filter_before_topk_and_metrics(spark, rng):
    # engine extra: the filter + pluggable-metric contract (SURVEY §2A.5)
    db = _setup_test_db(spark)
    for i in range(50):
        db.insert(rng.random(4).astype(np.float32), f"data[{i}]")
    probe = np.full(4, 0.5, dtype=np.float32)
    only_even = db.find_k_nearest_neighbors(
        probe, 5, filter=lambda m: int(m[5:-1]) % 2 == 0
    )
    assert len(only_even) == 5
    assert all(int(e.metadata[5:-1]) % 2 == 0 for e, _ in only_even)
    for metric in (EuclideanDistance(), OneNormDistance(), InfinityNormDistance()):
        res = db.find_k_nearest_neighbors(probe, 3, distance_metric=metric)
        dists = [d for _, d in res]
        assert dists == sorted(dists) and len(res) == 3


def test_save_load_roundtrip(spark, rng, tmp_path):
    # persistence the reference lacks: save -> restart -> load -> same
    # data, same id sequence, queries still work
    db = _setup_test_db(spark)
    for i in range(20):
        db.insert(rng.random(4).astype(np.float32), {"i": i})
    probe = np.full(4, 0.5, dtype=np.float32)
    before = [(e.metadata["i"], round(d, 6)) for e, d in db.find_k_nearest_neighbors(probe, 5)]

    path = str(tmp_path / "dbsnap")
    v = db.save(path)
    db2 = SparkVectorDatabase.load(spark, path)
    assert len(db2) == 20
    after = [(e.metadata["i"], round(d, 6)) for e, d in db2.find_k_nearest_neighbors(probe, 5)]
    assert after == before
    # id minting continues past the restored sequence (never reused)
    new_id = db2.insert(np.full(4, 0.25, dtype=np.float32), {"i": 99})
    assert new_id == 20
    # time travel: version saved before a mutation still loads
    db2.delete(0)
    db2.save(path)
    old = SparkVectorDatabase.load(spark, path, version=v)
    assert len(old) == 20


def test_load_refuses_oversized_snapshot(spark, rng, tmp_path, monkeypatch):
    """load() is driver-side by design; a snapshot over MAX_LOAD_ROWS
    must raise with guidance, not OOM the driver."""
    db = _setup_test_db(spark)
    for i in range(5):
        db.insert(rng.random(4).astype(np.float32), {"i": i})
    path = str(tmp_path / "bigsnap")
    db.save(path)
    monkeypatch.setattr(SparkVectorDatabase, "MAX_LOAD_ROWS", 3)
    with pytest.raises(ValueError, match="MAX_LOAD_ROWS"):
        SparkVectorDatabase.load(spark, path)
    monkeypatch.undo()
    assert len(SparkVectorDatabase.load(spark, path)) == 5


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran): the call runs in its own
    job group, counted once the listener bus has delivered every job
    event."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_run_one_job_each(spark):
    """The snapshot, its cell ids and its per-cell counts are built on
    the driver from the memtable, so a plain read, a filtered read and
    the first read after a write each run exactly the one job that
    answers them, and every answer matches brute force."""
    rs = np.random.RandomState(7)
    dim, n = 16, 600
    db = SparkVectorDatabase(spark, dim, -np.ones(dim), np.ones(dim))
    vecs = rs.uniform(-1, 1, (n, dim)).astype(np.float32)
    ids = db.insert_many(list(vecs), [{"tag": i % 10} for i in range(n)])
    rows = dict(zip(ids, vecs.astype(np.float64)))

    def brute(p, keep):
        cand = sorted(i for i in rows if keep(i))
        d = np.array([((rows[i] - p) ** 2).sum() for i in cand])
        order = np.lexsort((cand, d))[:5]
        return [cand[j] for j in order], d[order]

    def check(p, got, keep=lambda i: True):
        want_ids, want_d = brute(p.astype(np.float64), keep)
        by_pos = {rows[i].astype(np.float32).tobytes(): i for i in rows}
        assert [by_pos[e.position.tobytes()] for e, _ in got] == want_ids
        assert np.allclose([d for _, d in got], want_d, rtol=1e-12, atol=0)

    probe = vecs[3]
    db.find_k_nearest_neighbors(probe, 5)  # first read builds the snapshot
    got, jobs = _count_jobs(spark, lambda: db.find_k_nearest_neighbors(probe, 5))
    assert jobs == 1
    check(probe, got)
    got, jobs = _count_jobs(
        spark, lambda: db.find_k_nearest_neighbors(probe, 5, filter=lambda m: m["tag"] == 3)
    )
    assert jobs == 1
    check(probe, got, keep=lambda i: i % 10 == 3)
    new = rs.uniform(-1, 1, dim).astype(np.float32)
    rows[db.insert(new, {"tag": 0})] = new.astype(np.float64)
    db.delete(ids[0])
    del rows[ids[0]]
    got, jobs = _count_jobs(spark, lambda: db.find_k_nearest_neighbors(new, 5))
    assert jobs == 1
    check(new, got)
    # the cross-structure invariant still counts the Spark snapshot
    _, jobs = _count_jobs(spark, db._debug_compute_length_from_tree)
    assert jobs >= 1 and db._debug_compute_length_from_tree() == len(db) == n
