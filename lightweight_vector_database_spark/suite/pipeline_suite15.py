"""``ann_join_filtered_cosine_adaptive``: per-probe adaptive escalation
on the filtered-cosine shape (VERDICT r11 item 4).

The full operating point — base AND escalation knobs — resolves from
the recorded FRONTIER_sf001_fcos_adapt.json (tools/fixture_frontier.py
--shape filtered_cosine_adaptive) through
operators/tiering.fixture_serving_point. The oracle replays the whole
adaptive filtered-cosine pipeline via ``_aj_replay_sql(adaptive_esc=,
base_where=, norm=)``. Reference contract being scaled:
find_k_nearest_neighbors with a metadata filter
(kd_tree_database.py:285-304).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tiering import fixture_serving_point
from ..sources import load_table
from . import register
from .pipeline_suite11 import (
    _AJ_PROBES_CTE,
    _aj_probes,
    _aj_replay_sql,
    _repo_file,
)
from .pipeline_suite12 import (
    _AJF_PRED,
    _AJFC_K,
    _ajn_codes,
    _ajn_model,
    _ajn_trained_np,
)

_FCA_FLOOR = 0.95
# fallback pins the kernel-default 2x/8x escalation of the fcos base
# point the r10 frontier resolved (4, 16) — served only when the
# adaptive recording is absent
_FCA_PT = fixture_serving_point(
    _repo_file("FRONTIER_sf001_fcos_adapt.json"),
    _FCA_FLOOR,
    {"nprobe": 4, "refine": 16, "esc_nprobe": 8, "esc_refine": 128},
)
_FCA_NPROBE = _FCA_PT["nprobe"]
_FCA_REFINE = _FCA_PT["refine"]
_FCA_ESC_NPROBE = _FCA_PT["esc_nprobe"] or 2 * _FCA_NPROBE
_FCA_ESC_REFINE = _FCA_PT["esc_refine"] or 8 * _FCA_REFINE


def _fca_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.ann_join import ann_join_topk

    cents, books = _ajn_model(spark, sf_dir)
    codes = _ajn_codes(spark, sf_dir)  # v2: normalized + label
    emb = load_table(spark, sf_dir, "embeddings")
    out = ann_join_topk(
        codes, cents, books, _aj_probes(spark, sf_dir), raw=emb,
        k=_AJFC_K, nprobe=_FCA_NPROBE, refine=_FCA_REFINE,
        metric="cosine", pred=F.expr(_AJF_PRED),
        adaptive=True,
        esc_nprobe=_FCA_ESC_NPROBE, esc_refine=_FCA_ESC_REFINE,
    )
    return out.select(
        "probe_id",
        "vec_id",
        (F.round(F.col("dist"), 6) + F.lit(0.0)).alias("dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _fca_oracle() -> str | None:
    trained = _ajn_trained_np()
    if trained is None:
        return None
    cents, books = trained
    body = _aj_replay_sql(
        cents, books, _AJ_PROBES_CTE, k=_AJFC_K, nprobe=_FCA_NPROBE,
        refine=_FCA_REFINE, base_where=_AJF_PRED, norm=True,
        exact_metric="cosine",
        adaptive_esc=(_FCA_ESC_NPROBE, _FCA_ESC_REFINE),
    )
    return body + """
SELECT probe_id, vec_id, round(dist, 6) + 0.0 AS dist, rank FROM topk
"""


register(
    "ann_join_filtered_cosine_adaptive", _fca_query, _fca_oracle()
)
