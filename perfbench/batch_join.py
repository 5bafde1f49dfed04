"""Workload ``batch_join``: index build plus exact and ANN top-10 joins.

Inputs: a seeded Gaussian-mixture corpus (dim 64) and probes drawn
from the same mixture (``gen.mixture``), written as parquet in set-up.
The cold round builds, once per run, the grid snapshot
(``plans.grid_index.build_index``, written partitioned by cell) and the
IVF-PQ model and codes (``operators.similarity.train_ivfpq`` /
``ivfpq_encode``), the way an index is built once and then served.
Every round, the cold one included, runs an exact top-10 join
(``plans.bulk_knn.knn_join_bulk``) and an ANN top-10 join
(``plans.ann_join.ann_join_topk``), each written as parquet.

Checks, outside the timed calls: every probe gets 10 exact neighbours;
a sample of probes matches a numpy brute force (id tie-break); ANN
distances are exact for the ids returned; recall@10 of the ANN leg
against the exact leg stays at or above ``RECALL_FLOOR``. Training is
seeded, so recall is fixed for a seed (0.997-1.0 at these sizes); a
drop below the floor is a failed op, not a faster round.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import median

N_BASE = 10_000
N_PROBES = 500
K = 10
BOUND = 1.0
GRID_DEPTH = 4
IVF_CENTROIDS = 16
PQ_M = 8
PQ_KSUB = 64
NPROBE = 4
REFINE = 32
CHECK_PROBES = 50
RECALL_FLOOR = 0.99

SPANS = {
    "grid": "plans.grid_index.build_index",
    "train": "operators.similarity.train_ivfpq",
    "encode": "operators.similarity.ivfpq_encode",
    "exact": "plans.bulk_knn.knn_join_bulk",
    "ann": "plans.ann_join.ann_join_topk",
}
BUILD = ("grid", "train", "encode")


def brute_topk(base: np.ndarray, probe: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, squared distances) of the k nearest rows, id tie-break."""
    d = ((base - probe) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(base)), d))[:k]
    return order, d[order]


class BatchJoin:
    name = "batch_join"

    def __init__(self, seed: int):
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.times: dict[str, list[float]] = {"exact": [], "ann": []}
        self.recall: list[float] = []

    def generate(self, data_dir: str) -> None:
        self.data_dir = data_dir
        os.makedirs(data_dir, exist_ok=True)
        corpus, labels, probes = gen.mixture(self.seed, N_BASE, N_PROBES, bound=BOUND)
        gen.write_corpus(os.path.join(data_dir, "corpus.parquet"), np.arange(N_BASE), corpus, labels)
        gen.write_corpus(os.path.join(data_dir, "probes.parquet"), np.arange(N_PROBES), probes)
        self.base = corpus.astype(np.float64)
        self.probe_vecs = probes.astype(np.float64)

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from lightweight_vector_database_spark.plans.grid_index import GridIndex

        self.spark = spark
        self.corpus = spark.read.parquet(os.path.join(self.data_dir, "corpus.parquet"))
        self.probes = spark.read.parquet(os.path.join(self.data_dir, "probes.parquet")).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").cast("array<double>").alias("probe_vec"),
        )
        dim = self.base.shape[1]
        self.index = GridIndex([-BOUND] * dim, [BOUND] * dim, num_splits=2, depth=GRID_DEPTH)

    def _out(self, name: str) -> str:
        path = os.path.join(self.data_dir, "out", name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _op(self, what: str, fn):
        """``fn()``, or None when it raises (counted as a failed op)."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failing call is a failed op
            self.failed += 1
            self.failures.append(f"{what}: {e}"[:200])
            return None

    @staticmethod
    def _last(t, span: str) -> float:
        return t.exec_s[span][-1] + t.build_ms[span][-1] / 1e3

    def build(self, tracer) -> float:
        """Build the grid snapshot and the IVF-PQ model and codes once per
        run (in the cold round); the rounds join against them. Returns
        the build time."""
        from lightweight_vector_database_spark.operators.similarity import (
            ivfpq_encode,
            train_ivfpq,
        )
        from lightweight_vector_database_spark.plans.grid_index import build_index, index_stats

        spark, t = self.spark, tracer
        grid_path, codes_path = self._out("grid"), self._out("codes")

        def build_grid():
            t.call(
                SPANS["grid"],
                lambda: build_index(self.corpus, self.index).repartition("cell_id"),
                lambda df: df.write.partitionBy("cell_id").parquet(grid_path),
            )
            assigned = spark.read.parquet(grid_path)
            return assigned, t.timed(SPANS["grid"] + ".stats", lambda: index_stats(assigned))

        def build_ivfpq():
            model = t.timed(
                SPANS["train"],
                lambda: train_ivfpq(
                    self.corpus, n_centroids=IVF_CENTROIDS, m=PQ_M, ksub=PQ_KSUB,
                    iters=3, sample_id_col="vec_id",
                ),
            )
            t.call(
                SPANS["encode"],
                lambda: ivfpq_encode(self.corpus, *model).select("vec_id", "cell", "pq_code"),
                lambda df: df.write.partitionBy("cell").parquet(codes_path),
            )
            return model, spark.read.parquet(codes_path)

        self.grid = self._op("grid build", build_grid)
        self.ivf = self._op("ivfpq build", build_ivfpq)
        self.build_exec_s = {k: t.exec_s[SPANS[k]][-1] for k in BUILD if t.exec_s[SPANS[k]]}
        self.build_s = sum(
            self._last(t, s)
            for s in (SPANS["grid"], SPANS["grid"] + ".stats", SPANS["train"], SPANS["encode"])
            if t.exec_s[s]
        )
        return self.build_s

    def round(self, tracer, record: bool = True) -> float:
        """The exact and the ANN top-10 join; returns their time."""
        from lightweight_vector_database_spark.caching import unpersist_caches
        from lightweight_vector_database_spark.plans.ann_join import ann_join_topk
        from lightweight_vector_database_spark.plans.bulk_knn import knn_join_bulk

        t = tracer
        exact_path, ann_path = self._out("exact"), self._out("ann")

        def exact_join(assigned, stats):
            t.call(
                SPANS["exact"],
                lambda: knn_join_bulk(assigned, self.index, self.probes, k=K, stats=stats),
                lambda df: df.write.parquet(exact_path),
            )
            return self._last(t, SPANS["exact"])

        def ann_join(model, codes):
            t.call(
                SPANS["ann"],
                lambda: ann_join_topk(
                    codes, *model, self.probes, raw=self.corpus, k=K,
                    nprobe=NPROBE, refine=REFINE,
                ),
                lambda df: df.write.parquet(ann_path),
            )
            return self._last(t, SPANS["ann"])

        exact_s = (self._op("exact join", lambda: exact_join(*self.grid)) if self.grid else None) or 0.0
        unpersist_caches()
        ann_s = (self._op("ann join", lambda: ann_join(*self.ivf)) if self.ivf else None) or 0.0
        unpersist_caches()
        self._check(exact_path, ann_path)
        if record:
            self.times["exact"].append(exact_s)
            self.times["ann"].append(ann_s)
        return exact_s + ann_s

    def _check(self, exact_path: str, ann_path: str) -> None:
        """Exact leg vs numpy brute force; ANN leg vs the exact leg."""
        if not (os.path.isdir(exact_path) and os.path.isdir(ann_path)):
            return
        ex = pq.read_table(exact_path).to_pandas().sort_values(["probe_id", "rank"])
        an = pq.read_table(ann_path).to_pandas()
        exact_ids = ex.groupby("probe_id")["vec_id"].apply(list)
        problems = []
        if len(exact_ids) != N_PROBES or not (ex.groupby("probe_id").size() == K).all():
            problems.append("exact join did not return k rows for every probe")
        rng = np.random.default_rng([self.seed, 4])
        for pid in rng.choice(N_PROBES, CHECK_PROBES, replace=False).tolist():
            ids, d = brute_topk(self.base, self.probe_vecs[pid], K)
            got = ex[ex.probe_id == pid]
            if got.vec_id.tolist() != ids.tolist() or not np.allclose(got.dist, d, rtol=1e-9, atol=1e-9):
                problems.append(f"exact join probe {pid} differs from brute force")
                break
        # every ANN distance is re-ranked exactly
        sample = an.iloc[:: max(1, len(an) // 200)]
        want = ((self.base[sample.vec_id.to_numpy()] - self.probe_vecs[sample.probe_id.to_numpy()]) ** 2).sum(1)
        if not np.allclose(sample.dist.to_numpy(), want, rtol=1e-9, atol=1e-9):
            problems.append("ann join distances are not exact")
        ann_ids = an.groupby("probe_id")["vec_id"].apply(set)
        hits = sum(len(set(v) & ann_ids.get(p, set())) for p, v in exact_ids.items())
        recall = hits / float(K * N_PROBES)
        self.recall.append(recall)
        if recall < RECALL_FLOOR:
            problems.append(f"ann recall@{K} {recall:.3f} below {RECALL_FLOOR}")
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(problems)

    def summary(self, rounds: list[float]) -> dict[str, float]:
        exact, ann = median(self.times["exact"]), median(self.times["ann"])
        return {
            "index_build_s": self.build_s,
            "exact_join_probes_per_s": N_PROBES / exact if exact else 0.0,
            "ann_join_probes_per_s": N_PROBES / ann if ann else 0.0,
            "ann_recall_at_10": median(self.recall),
        }

    def layers(self, tracer, groups) -> dict[str, float]:
        import eventlog

        out = {f"{SPANS[k]}.exec_s": v for k, v in self.build_exec_s.items()}
        for k in ("exact", "ann"):
            span = SPANS[k]
            out[f"{span}.build_ms"] = sum(tracer.build_ms[span])
            out[f"{span}.exec_s"] = sum(tracer.exec_s[span])
            for f, v in eventlog.combine(groups, span).items():
                out[f"{span}.{f}"] = v
        return out

    @classmethod
    def layer_names(cls) -> list[str]:
        import eventlog

        names = [f"{SPANS[k]}.exec_s" for k in BUILD]
        for k in ("exact", "ann"):
            names += [f"{SPANS[k]}.build_ms", f"{SPANS[k]}.exec_s"]
            names += [f"{SPANS[k]}.{f}" for f in eventlog.FIELDS]
        return names
