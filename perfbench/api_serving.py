"""Workload ``api_serving``: one closed-loop client on the reference API.

``api.SparkVectorDatabase`` holds a seeded Gaussian-mixture corpus
(dim 64) with metadata ``{"label", "tag"}``. The client sends its next
call only after the previous one returns (the reference is a
single-process library). A round is a fixed script: mostly unfiltered
``find_k_nearest_neighbors``, one filtered by a selective metadata
predicate (one ``tag`` value in ten), and one burst of writes
(``insert`` / ``update_position`` / ``delete``) followed by a read.
A write invalidates the cached snapshot, so the first read after it
pays the rebuild.

Every read is checked, outside its timed call, against a numpy brute
force over the benchmark's own copy of the current rows (id tie-break).
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from harness import median, quantile

N_BASE = 5_000
N_PROBES = 400
K = 10
BOUND = 1.0
TAGS = 10
# one round: r = plain read, f = filtered read, w = write burst, a = read after write
SCRIPT = "rrrfwar"

SPAN_READ = "api.find_k_nearest_neighbors"
SPAN_AFTER = "api.find_k_nearest_neighbors.after_write"
SPAN_FILTERED = "api.find_k_nearest_neighbors.filtered"


class ApiServing:
    name = "api_serving"

    def __init__(self, seed: int):
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = {k: [] for k in "rfwa"}
        self.ops_time = 0.0
        self.ops = 0
        self.filter_ids: list[int] = []
        self.to_df_ms: list[float] = []

    def generate(self, data_dir: str) -> None:
        self.data_dir = data_dir
        os.makedirs(data_dir, exist_ok=True)
        corpus, labels, probes = gen.mixture(self.seed, N_BASE, N_PROBES, bound=BOUND)
        gen.write_corpus(os.path.join(data_dir, "corpus.parquet"), np.arange(N_BASE), corpus, labels)
        gen.write_corpus(os.path.join(data_dir, "probes.parquet"), np.arange(N_PROBES), probes)

    def prepare(self, spark) -> None:
        """Load the generated corpus into a fresh database and a mirror."""
        import pyarrow.parquet as pq

        from lightweight_vector_database_spark.api import SparkVectorDatabase

        corpus = pq.read_table(os.path.join(self.data_dir, "corpus.parquet")).to_pydict()
        probes = pq.read_table(os.path.join(self.data_dir, "probes.parquet")).to_pydict()
        self.probes = np.asarray(probes["embedding"], dtype=np.float32)
        vecs = np.asarray(corpus["embedding"], dtype=np.float32)
        metas = [{"label": int(l), "tag": i % TAGS} for i, l in enumerate(corpus["label"])]
        dim = vecs.shape[1]
        self.db = SparkVectorDatabase(spark, dim, [-BOUND] * dim, [BOUND] * dim)
        ids = self.db.insert_many(list(vecs), metas)
        self.mirror = {i: (v.astype(np.float64), m) for i, v, m in zip(ids, vecs, metas)}
        self.rng = np.random.default_rng([self.seed, 3])
        self.step = 0
        self._index_positions()

    def _probe(self) -> np.ndarray:
        self.step += 1
        return self.probes[self.step % N_PROBES]

    def _expected(self, probe: np.ndarray, tag: int | None):
        ids = np.array(sorted(i for i, (_, m) in self.mirror.items() if tag is None or m["tag"] == tag))
        base = np.stack([self.mirror[i][0] for i in ids])
        d = ((base - probe.astype(np.float64)) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))[:K]
        return ids[order].tolist(), d[order], len(ids)

    def _read(self, tracer, kind: str, record: bool) -> None:
        probe = self._probe()
        tag = int(self.rng.integers(0, TAGS)) if kind == "f" else None
        span = {"r": SPAN_READ, "a": SPAN_AFTER, "f": SPAN_FILTERED}[kind]
        flt = (lambda m, t=tag: m["tag"] == t) if tag is not None else None
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got = tracer.timed(span, lambda: self.db.find_k_nearest_neighbors(probe, K, filter=flt))
        except Exception as e:  # noqa: BLE001 - a failing call is a failed op
            self.failed += 1
            self.failures.append(f"{span}: {e}"[:200])
            return
        self._lap(kind, t0, record)
        want_ids, want_d, n_match = self._expected(probe, tag)
        if tag is not None:
            self.filter_ids.append(n_match)
        got_ids = [self._id_of(e) for e, _ in got]
        got_d = np.array([d for _, d in got])
        if got_ids != want_ids or not np.allclose(got_d, want_d, rtol=1e-9, atol=1e-9):
            self.failed += 1
            self.failures.append(f"{span}: result differs from brute force")

    def _id_of(self, entry) -> int:
        # entries carry (position, metadata); the id is the mirror key whose
        # row matches -- positions are unique in a continuous corpus
        hits = self._by_pos.get(np.asarray(entry.position, dtype=np.float32).tobytes())
        return hits if hits is not None else -1

    def _burst(self, tracer, record: bool) -> None:
        """insert + update_position + delete, each timed on its own."""
        live = list(self.mirror)
        upd, dele = (int(x) for x in self.rng.choice(live, 2, replace=False))
        new_pos, moved = self._jitter(self._probe()), self._jitter(self._probe())
        meta = {"label": -1, "tag": int(self.rng.integers(0, TAGS))}
        for what, fn in (
            ("insert", lambda: self.db.insert(new_pos, meta)),
            ("update_position", lambda: self.db.update_position(upd, moved)),
            ("delete", lambda: self.db.delete(dele)),
        ):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out = tracer.timed(f"api.{what}", fn)
            except Exception as e:  # noqa: BLE001
                self.failed += 1
                self.failures.append(f"api.{what}: {e}"[:200])
                continue
            self._lap("w", t0, record)
            if what == "insert":
                self.mirror[out] = (new_pos.astype(np.float64), meta)
            elif what == "update_position":
                self.mirror[upd] = (moved.astype(np.float64), self.mirror[upd][1])
            else:
                self.mirror.pop(dele)
        if tracer.trace:
            t0 = time.perf_counter()
            self.db.to_dataframe()
            self.to_df_ms.append((time.perf_counter() - t0) * 1e3)
        self._index_positions()

    def _jitter(self, v: np.ndarray) -> np.ndarray:
        # written positions stay distinct from every row already stored
        noise = self.rng.normal(0.0, 0.01, v.shape)
        return np.clip(v + noise, -BOUND, BOUND).astype(np.float32)

    def _index_positions(self) -> None:
        self._by_pos = {
            v.astype(np.float32).tobytes(): i for i, (v, _) in self.mirror.items()
        }

    def _lap(self, kind: str, t0: float, record: bool) -> None:
        dt = time.perf_counter() - t0
        self.round_s += dt
        if not record:
            return
        self.lat[kind].append(dt * 1e3)
        self.ops_time += dt
        self.ops += 1

    def round(self, tracer, record: bool = True) -> float:
        """Run the script; returns the time spent inside API calls.
        With ``record`` off its latencies stay out of the named metrics."""
        self.round_s = 0.0
        for kind in SCRIPT:
            if kind == "w":
                self._burst(tracer, record)
            else:
                self._read(tracer, kind, record)
        return self.round_s

    def summary(self, rounds: list[float]) -> dict[str, float]:
        lat = self.lat
        return {
            "knn_p50_ms": median(lat["r"]),
            "knn_p95_ms": quantile(lat["r"], 0.95),
            "filtered_knn_p50_ms": median(lat["f"]),
            "read_after_write_p50_ms": median(lat["a"]),
            "write_p50_ms": median(lat["w"]),
            "ops_per_s": self.ops / self.ops_time if self.ops_time else 0.0,
        }

    def layers(self, tracer, groups) -> dict[str, float]:
        def per_call(span: str, field: str) -> float:
            n = len(tracer.exec_s[span])
            return groups.get(span, {}).get(field, 0.0) / n if n else 0.0

        return {
            "api.to_dataframe.after_write_ms": median(self.to_df_ms),
            f"{SPAN_READ}.jobs": per_call(SPAN_READ, "jobs"),
            f"{SPAN_READ}.tasks": per_call(SPAN_READ, "tasks"),
            f"{SPAN_AFTER}.jobs": per_call(SPAN_AFTER, "jobs"),
            f"{SPAN_AFTER}.tasks": per_call(SPAN_AFTER, "tasks"),
            f"{SPAN_READ}.filter_ids": median(self.filter_ids),
        }

    @classmethod
    def layer_names(cls) -> list[str]:
        return [
            "api.to_dataframe.after_write_ms",
            f"{SPAN_READ}.jobs",
            f"{SPAN_READ}.tasks",
            f"{SPAN_AFTER}.jobs",
            f"{SPAN_AFTER}.tasks",
            f"{SPAN_READ}.filter_ids",
        ]
