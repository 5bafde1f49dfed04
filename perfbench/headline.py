"""Workload ``headline_queries``: the 23 headline queries of the suite.

The queries come from the ``suite`` registry under the names the repo's
``bench.HEADLINE`` lists, over generated tables shaped like the sf0.1
fixture (``gen.tables``). A round builds each query's DataFrame and
writes it to the noop sink. At this size a query's time is mostly fixed
cost: plan construction, Catalyst, scheduling and small shuffles.

The cold round collects every result instead and checks it against the
query's DuckDB oracle (``__spark_entry__.oracle_sql()``); it also warms
the JVM, the Python workers and the suite's derived snapshots, so the
timed rounds measure steady-state serving.
"""

from __future__ import annotations

import math
import os

import gen
from harness import median, noop_write

SCALE = 0.01


def _oracle_compare():
    import importlib.util

    from harness import ROOT

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.rows_to_multiset


class Headline:
    name = "headline_queries"

    def __init__(self, seed: int):
        from bench import HEADLINE

        self.seed = seed
        self.queries = list(HEADLINE)
        self.data_dir = ""
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.per_query: dict[str, list[float]] = {q: [] for q in self.queries}

    def generate(self, data_dir: str) -> None:
        self.data_dir = data_dir
        gen.write_tables(data_dir, self.seed, SCALE)

    def prepare(self, spark) -> None:
        self.spark = spark

    def _oracles(self) -> dict[str, str]:
        import __spark_entry__ as se
        from lightweight_vector_database_spark.suite import index_suite

        oracles = se.oracle_sql()
        # the PQ oracle bakes codebooks trained on one fixed directory
        # into its SQL at import time; rebuild it for the generated data
        fixed = index_suite._ORACLE_SF_DIR
        index_suite._ORACLE_SF_DIR = self.data_dir
        try:
            pq_sql, _ = index_suite._build_pq_oracle_sqls()
        finally:
            index_suite._ORACLE_SF_DIR = fixed
        oracles["ann_pq_refined"] = pq_sql
        return oracles

    def cold_round(self, tracer) -> float:
        """Collect every query once and check it against DuckDB."""
        import duckdb

        from lightweight_vector_database_spark.sources import TABLES
        from lightweight_vector_database_spark.suite import QUERIES

        multiset = _oracle_compare()
        oracles = self._oracles()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        total = 0.0
        for q in self.queries:
            self.attempted += 1
            cols: list[str] = []
            try:
                rows = tracer.call(
                    f"cold.{q}",
                    lambda: QUERIES[q](self.spark, self.data_dir),
                    lambda df: (cols.extend(df.columns), df.collect())[1],
                )
            except Exception as e:  # noqa: BLE001 - a failing query is a failed op
                self._fail(q, f"spark error: {e}"[:200])
                continue
            total += tracer.build_ms[f"cold.{q}"][-1] / 1e3 + tracer.exec_s[f"cold.{q}"][-1]
            res = con.execute(oracles[q])
            dcols = [d[0] for d in res.description]
            got = multiset(cols, [[r[c] for c in cols] for r in rows])
            if sorted(cols) != sorted(dcols) or got != multiset(dcols, res.fetchall()):
                self._fail(q, f"{len(rows)} rows differ from the DuckDB oracle")
        con.close()
        return total

    def _fail(self, q: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{q}: {why}")

    def round(self, tracer, record: bool = True) -> float:
        from lightweight_vector_database_spark.suite import QUERIES

        total = 0.0
        for q in self.queries:
            self.attempted += 1
            span = f"suite.{q}"
            try:
                tracer.call(span, lambda: QUERIES[q](self.spark, self.data_dir), noop_write)
            except Exception as e:  # noqa: BLE001
                self._fail(q, f"spark error: {e}"[:200])
                continue
            t = tracer.build_ms[span][-1] / 1e3 + tracer.exec_s[span][-1]
            if record:
                self.per_query[q].append(t)
            total += t
        return total

    def summary(self, rounds: list[float]) -> dict[str, float]:
        per_q = [median(v) for v in self.per_query.values() if v]
        return {
            "headline_total_s": median(rounds),
            "headline_geomean_s": math.exp(sum(math.log(max(t, 1e-6)) for t in per_q) / len(per_q))
            if per_q
            else 0.0,
        }

    def layers(self, tracer, groups) -> dict[str, float]:
        import eventlog

        out = {
            "suite.build_ms": sum(sum(tracer.build_ms[f"suite.{q}"]) for q in self.queries),
            "suite.exec_s": sum(sum(tracer.exec_s[f"suite.{q}"]) for q in self.queries),
        }
        for q in self.queries:
            out[f"suite.{q}.exec_s"] = sum(tracer.exec_s[f"suite.{q}"])
        for k, v in eventlog.combine(groups, "suite.").items():
            out[f"suite.{k}"] = v
        return out

    @classmethod
    def layer_names(cls) -> list[str]:
        from bench import HEADLINE

        import eventlog

        return (
            ["suite.build_ms", "suite.exec_s"]
            + [f"suite.{q}.exec_s" for q in HEADLINE]
            + [f"suite.{k}" for k in eventlog.FIELDS]
        )
