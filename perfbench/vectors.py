"""Workload ``vector_join_api``: the batch join and the API client in one run.

A round is one ``batch_join`` round (exact and ANN top-10 joins; the
cold round first builds the indexes they read) followed by one
``api_serving`` script (reads, a filtered read and a write burst on
``api.SparkVectorDatabase``). Both parts draw their inputs from the
same seed and keep their own checks and named metrics.
"""

from __future__ import annotations

import os

from api_serving import ApiServing
from batch_join import BatchJoin


class Vectors:
    name = "vector_join_api"

    def __init__(self, seed: int):
        self.batch = BatchJoin(seed)
        self.parts = (self.batch, ApiServing(seed))

    @property
    def attempted(self) -> int:
        return sum(p.attempted for p in self.parts)

    @property
    def failed(self) -> int:
        return sum(p.failed for p in self.parts)

    @property
    def failures(self) -> list[str]:
        return [f for p in self.parts for f in p.failures]

    def generate(self, data_dir: str) -> None:
        for p in self.parts:
            p.generate(os.path.join(data_dir, p.name))

    def prepare(self, spark) -> None:
        for p in self.parts:
            p.prepare(spark)

    def cold_round(self, tracer) -> float:
        return self.batch.build(tracer) + self.round(tracer, record=False)

    def round(self, tracer, record: bool = True) -> float:
        return sum(p.round(tracer, record) for p in self.parts)

    def summary(self, rounds: list[float]) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.summary(rounds).items()}

    def layers(self, tracer, groups) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layers(tracer, groups).items()}

    @classmethod
    def layer_names(cls) -> list[str]:
        return BatchJoin.layer_names() + ApiServing.layer_names()
