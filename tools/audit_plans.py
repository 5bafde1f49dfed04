"""Physical-plan audit for every suite query: surfaces the properties
that matter at 100 TB — join strategies, parquet pushdown, shuffle
(Exchange) counts, Python/Arrow boundaries, cartesian products.

Usage: python tools/audit_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import re
import sys

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Python boundaries that are intentional (documented Arrow paths)
EXPECTED_PYTHON = {
    "knn_join_topk",  # partial top-k reduction (mapInPandas)
    # dedup_minhash_candidates is deliberately NOT listed: its plan is a
    # pure HOF fold with 0 Python ops, and keeping a stale allowlist
    # entry would hide a future regression that introduces one
    "multimodal_features",  # fake decoder mapInPandas
    "multimodal_wav_decode",  # real stdlib wave codec (mapInPandas encode+decode)
    "multimodal_ppm_decode",  # real PPM parser (mapInPandas encode+decode)
    "multimodal_frame_sample",
    "udaf_grouped_events",  # grouped-agg pandas UDAF
    "grouped_map_zscore",  # applyInPandas grouped map
    "ann_pq_refined",  # arrow bulk encode (build step); ADC serving is codegen
    "curation_compression_ratio",  # zlib is per-row Python by design (Arrow-batched)
    "webdataset_roundtrip",  # the tar codec IS the mapInPandas boundary (both directions)
    "multimodal_ppm_resize",  # real codec chain: synth -> resize -> re-decode (3 mapInPandas)
    "udtf_repeated_terms",  # true Python UDTF (the op under test IS the Python boundary)
    "ann_ivfpq_refined",  # arrow cell+residual encode (build step); ADC serving is codegen
    "knn_join_grid_indexed",  # knn_join_bulk through the grid index: cogrouped numpy scoring (applyInPandas)
    "ann_join_topk",  # batched IVF-PQ: cell-assign mapInPandas + cogrouped ADC (plans/ann_join)
    "ann_join_filtered",  # same boundaries with the predicate pushed to the code tier
    "ann_join_cosine",  # same boundaries over the normalized model (kernel-side probe normalization)
    "ann_join_filtered_cosine",  # both axes composed: same boundaries, predicate on the normalized code tier
    "ann_join_adaptive",  # per-probe escalation: same boundaries, esc signals inside the assign kernel
    "ann_join_imi",  # two-level coarse model: same boundaries, cell centers assembled from the halves
    "ann_join_opq",  # OPQ rotation: same boundaries, residuals rotated inside the kernels
    "ann_join_pq4",  # nibble-packed codes: same boundaries, unpack inside the ADC kernel
    "ann_join_filtered_cosine_adaptive",  # esc + predicate + normalized tier: same boundaries
    "dedup_semantic_ann",  # corpus-as-probes ann_join_topk (same boundaries)
    "knn_join_bulk",  # distributed probe path: mapInPandas candidate derivation + cogrouped matmul scoring (plans/bulk_knn)
    "knn_join_bulk_cosine",  # same machinery over the normalized snapshot + exact-cosine re-rank
    "curation_compression_ratio_pinned",  # same zlib UDF as curation_compression_ratio, exact-oracle twin
}


def audit(name: str, plan: str) -> dict:
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffle_hash_joins": plan.count("ShuffledHashJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "exchanges": plan.count("Exchange"),
        "python": len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|AggregateInPandas|BatchEvalPython", plan)),
        "row_python": plan.count("BatchEvalPython"),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
    }


def main() -> int:
    from lightweight_vector_database_spark.session import get_spark
    from lightweight_vector_database_spark.suite import QUERIES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    print("# PLANS — physical-plan audit (tools/audit_plans.py)\n")
    print(f"sf_dir: {sf_dir}; AQE on (final plans may improve at runtime).\n")
    print(
        "| query | joins (bc/smj/shj) | exchanges | python ops | "
        "TakeOrdered | pushdown | notes |"
    )
    print("|---|---|---|---|---|---|---|")

    warnings: list[str] = []
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"| {name} | ERROR | | | | | {str(e)[:60]} |")
            continue
        a = audit(name, plan)
        notes = []
        if a["cartesian"]:
            notes.append(f"{a['cartesian']} cartesian")
        if a["row_python"]:
            warnings.append(f"{name}: row-at-a-time Python (BatchEvalPython)")
            notes.append("ROW PYTHON")
        if a["python"] and name not in EXPECTED_PYTHON:
            warnings.append(f"{name}: unexpected Python boundary")
            notes.append("unexpected python")
        print(
            f"| {name} | {a['broadcast_joins']}/{a['sortmerge_joins']}/"
            f"{a['shuffle_hash_joins']} | {a['exchanges']} | {a['python']} | "
            f"{'y' if a['take_ordered'] else ''} | {'y' if a['pushed'] else ''} | "
            f"{', '.join(notes)} |"
        )

    print()
    if warnings:
        print("## Warnings\n")
        for w in warnings:
            print(f"- {w}")
    else:
        print("No plan warnings: no row-at-a-time Python, no unexpected "
              "Arrow boundaries outside the documented paths.")

    # column-pruning evidence: a 2-column projection must reach the scan
    from lightweight_vector_database_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    scan = li._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: (struct<[^>]*>)", scan)
    print("\n## Column pruning\n")
    print(
        f"2-column projection of 11-column lineitem -> parquet "
        f"`{m.group(1) if m else 'NOT FOUND'}`"
    )

    print("\n## Flagship formatted plans\n")
    for name in ("knn_euclidean_sq", "q1_pricing_summary", "q3_top_revenue_orders"):
        df = QUERIES[name](spark, sf_dir)
        formatted = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # keep the operator tree, drop the verbose per-node details
        tree = formatted.split("\n\n")[0]
        print(f"### {name}\n\n```\n{tree}\n```\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
