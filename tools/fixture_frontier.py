"""Record ANN operating-point frontiers at fixture scale (VERDICT r8
item 7) — the measured tables the registered serving queries resolve
their (nprobe, refine) from instead of hard-coding.

Shapes:

* ``semantic`` (default) — the dedup_semantic_ann shape: the corpus
  probing ITSELF through the IVF-PQ tier vs the brute within-threshold
  pair set; records PAIR recall (the semantic-dedup contract, stricter
  than kNN recall). Resolved by suite/pipeline_suite11.
* ``filtered`` — the ann_join_filtered shape: the suite probe table
  through the label-carrying codes snapshot under the registered
  predicate, vs the exact FILTERED kNN join; records mean per-probe
  recall@k. Resolved by suite/pipeline_suite12. A predicate changes
  the recall/cost surface, so the filtered point comes from a frontier
  recorded UNDER the filter (BASELINE.md r9).
* ``cosine`` — the ann_join_cosine shape: the normalized model/codes
  with the true-cosine re-rank, vs the exact brute cosine join.
  Resolved by suite/pipeline_suite12.
* ``filtered_cosine`` — the ann_join_filtered_cosine shape: both axes
  composed (predicate on the normalized label-carrying codes, true-
  cosine re-rank), vs the exact FILTERED cosine join.
* ``adaptive`` — the ann_join_adaptive shape: the cell-retirement
  predicate (cell >= 2 on the codes snapshot) with per-probe
  escalation at 2x/8x of each base point, vs the exact join over the
  surviving cells' rows. The BASE (nprobe, refine) is what the
  frontier ladder walks; escalation rides it.
* ``filtered_cosine_adaptive`` — the fcos shape under PER-PROBE
  escalation (VERDICT r11 item 4: the fcos fixture family could not
  resolve adaptive knobs from evidence because its frontier carried
  base-only points): the same composed predicate + cosine contract,
  walked over explicit (base, escalation) points, each record
  carrying its esc knobs for operators/tiering.fixture_serving_point.
  Resolved by suite/pipeline_suite15.

The output JSON's ``results`` are frontier records consumable directly
by operators/tiering.ann_operating_point.

Usage: python tools/fixture_frontier.py [--shape semantic|filtered|cosine]
                                        [--json FRONTIER_sf001.json]
"""

from __future__ import annotations

import json
import sys
import time

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"
POINTS = [(1, 2), (2, 2), (2, 4), (4, 4), (8, 4), (8, 8)]
# the kNN-join shapes walk the refine ladder too: on the fixture
# geometry ADC ties / cell miss dominate at different ends, so the
# floor must see both knobs
POINTS_KNN = [(2, 8), (4, 8), (4, 16), (8, 8), (8, 16)]
# adaptive walks (BASE, ESCALATION) points — escalation pays the deep
# knob only for displaced probes, so the base ladder starts cheap; the
# esc point is PART of the operating point (VERDICT r10 item 3: the
# r10 sweeps proved (4,4)+esc(8,64) clears floors (4,4)+default
# misses, so frontier records must carry the axis they measured).
# The first entries pin the kernel-default 2x/8x escalation
# explicitly; the deeper-esc rows walk the axis at a fixed base.
POINTS_ADAPTIVE = [
    ((1, 2), (2, 16)),
    ((2, 2), (4, 16)),
    ((2, 4), (4, 32)),
    ((4, 4), (8, 32)),
    ((4, 4), (8, 64)),
    ((8, 8), (16, 64)),
]


def run_knn_shape(shape: str, out_json: str) -> None:
    """Record the ann_join_filtered / ann_join_cosine frontier: mean
    per-probe recall@k vs the exact (filtered / cosine) join over the
    suite probe table, at each candidate operating point."""
    from lightweight_vector_database_spark.operators.dedup import (
        unpersist_caches,
    )
    from lightweight_vector_database_spark.operators.knn import knn_join
    from lightweight_vector_database_spark.plans.ann_join import ann_join_topk
    from lightweight_vector_database_spark.session import get_spark
    from lightweight_vector_database_spark.sources import load_table
    from lightweight_vector_database_spark.suite.pipeline_suite11 import (
        _aj_codes,
        _aj_model,
        _aj_probes,
    )
    from lightweight_vector_database_spark.suite.pipeline_suite12 import (
        _AJC_K,
        _AJF_K,
        _AJF_PRED,
        _AJFC_K,
        _ajn_codes,
        _ajn_model,
    )

    spark = get_spark("fixture-frontier")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = _aj_probes(spark, SF_DIR)
    n = probes.count()
    if shape == "adaptive":
        from lightweight_vector_database_spark.suite.pipeline_suite13 import (
            _ADAPT_K,
            _ADAPT_MIN_CELL,
        )

        k = _ADAPT_K
        cents, books = _aj_model(spark, SF_DIR)
        codes = _aj_codes(spark, SF_DIR)
        pred = F.col("cell") >= _ADAPT_MIN_CELL
        surviving = emb.join(
            codes.filter(pred).select("vec_id"), "vec_id", "semi"
        )
        exact = knn_join(probes, surviving, k=k, strategy="partial")
        kwargs = {"pred": pred, "adaptive": True}
    elif shape == "filtered":
        k, pred = _AJF_K, F.expr(_AJF_PRED)
        cents, books = _aj_model(spark, SF_DIR)
        codes = _aj_codes(spark, SF_DIR)  # v2: carries the label column
        exact = knn_join(probes, emb.filter(pred), k=k, strategy="partial")
        kwargs = {"pred": pred}
    elif shape in ("filtered_cosine", "filtered_cosine_adaptive"):
        k, pred = _AJFC_K, F.expr(_AJF_PRED)
        cents, books = _ajn_model(spark, SF_DIR)
        codes = _ajn_codes(spark, SF_DIR)  # v2: normalized + label
        exact = knn_join(
            probes, emb.filter(pred), k=k, metric="cosine",
            strategy="partial",
        )
        kwargs = {"metric": "cosine", "pred": pred}
        if shape == "filtered_cosine_adaptive":
            kwargs["adaptive"] = True
    else:
        k, pred = _AJC_K, None
        cents, books = _ajn_model(spark, SF_DIR)
        codes = _ajn_codes(spark, SF_DIR)
        exact = knn_join(
            probes, emb, k=k, metric="cosine", strategy="partial"
        )
        kwargs = {"metric": "cosine"}
    codes.count()
    want: dict[int, set] = {}
    for r in exact.collect():
        want.setdefault(r["probe_id"], set()).add(r["vec_id"])

    results = []
    walk = (
        POINTS_ADAPTIVE
        if shape in ("adaptive", "filtered_cosine_adaptive")
        else [(pt, None) for pt in POINTS_KNN]
    )
    for (nprobe, refine), esc in walk:
        if esc is not None:
            kwargs["esc_nprobe"], kwargs["esc_refine"] = esc
        t0 = time.time()
        nn = ann_join_topk(
            codes, cents, books, probes, raw=emb, k=k,
            nprobe=nprobe, refine=refine, **kwargs,
        )
        got: dict[int, set] = {}
        for r in nn.collect():
            got.setdefault(r["probe_id"], set()).add(r["vec_id"])
        dt = time.time() - t0
        unpersist_caches()
        recalls = [
            len(got.get(p, set()) & w) / len(w) for p, w in want.items()
        ]
        rec = {
            "nprobe": nprobe,
            "refine": refine,
            "recall": round(sum(recalls) / max(1, len(recalls)), 4),
            "probes_per_sec": round(n / dt, 1),
            "n_probes": n,
            "sec": round(dt, 2),
        }
        if esc is not None:
            # per-record escalation point: the recall above was
            # measured UNDER these knobs, so a resolver must serve
            # them together (operators/tiering.fixture_serving_point)
            rec["esc_nprobe"], rec["esc_refine"] = esc
        results.append(rec)
        print(rec, flush=True)

    with open(out_json, "w") as f:
        json.dump(
            {
                "sf_dir": SF_DIR,
                "shape": shape,
                "k": k,
                "metric_note": "recall is mean per-probe recall@k of "
                f"the ann_join_{shape} shape vs the exact "
                + {
                    "filtered": "filtered",
                    "cosine": "cosine",
                    "filtered_cosine": "filtered cosine",
                    "filtered_cosine_adaptive": "filtered cosine",
                    "adaptive": "surviving-cells filtered",
                }[shape]
                + " join",
                **(
                    {"esc_note": "per-record explicit escalation "
                     "knobs (esc_nprobe, esc_refine) — resolved "
                     "together with the base point by "
                     "operators/tiering.fixture_serving_point"}
                    if shape in ("adaptive", "filtered_cosine_adaptive")
                    else {}
                ),
                "results": results,
            },
            f,
            indent=1,
        )
    spark.stop()


def main() -> None:
    shape = (
        sys.argv[sys.argv.index("--shape") + 1]
        if "--shape" in sys.argv
        else "semantic"
    )
    default_json = {
        "semantic": "FRONTIER_sf001.json",
        "filtered": "FRONTIER_sf001_filt.json",
        "cosine": "FRONTIER_sf001_cos.json",
        "filtered_cosine": "FRONTIER_sf001_fcos.json",
        "filtered_cosine_adaptive": "FRONTIER_sf001_fcos_adapt.json",
        "adaptive": "FRONTIER_sf001_adapt.json",
    }[shape]
    out_json = (
        sys.argv[sys.argv.index("--json") + 1]
        if "--json" in sys.argv
        else default_json
    )
    if shape in ("filtered", "cosine", "filtered_cosine",
                 "filtered_cosine_adaptive", "adaptive"):
        run_knn_shape(shape, out_json)
        return
    from lightweight_vector_database_spark.functions.distance import (
        euclidean_sq,
    )
    from lightweight_vector_database_spark.operators.dedup import (
        unpersist_caches,
    )
    from lightweight_vector_database_spark.plans.ann_join import ann_join_topk
    from lightweight_vector_database_spark.session import get_spark
    from lightweight_vector_database_spark.sources import load_table
    from lightweight_vector_database_spark.suite.pipeline_suite11 import (
        _SD_K,
        _SD_TAU,
        _aj_codes,
        _aj_model,
    )

    spark = get_spark("fixture-frontier")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, SF_DIR, "embeddings")
    cents, books = _aj_model(spark, SF_DIR)
    codes = _aj_codes(spark, SF_DIR)
    codes.count()
    n = emb.count()

    # brute within-threshold pair set (the ground truth)
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("vb"))
    want = {
        (r.id1, r.id2)
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("d", euclidean_sq(F.col("va"), F.col("vb")))
        .filter(F.col("d") <= _SD_TAU)
        .select("id1", "id2")
        .collect()
    }
    probes = emb.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )

    results = []
    for nprobe, refine in POINTS:
        t0 = time.time()
        nn = ann_join_topk(
            codes, cents, books, probes, raw=emb, k=_SD_K,
            nprobe=nprobe, refine=refine,
        )
        got = {
            (r.id1, r.id2)
            for r in nn.filter(
                (F.col("vec_id") != F.col("probe_id"))
                & (F.col("dist") <= F.lit(_SD_TAU))
            )
            .select(
                F.least("probe_id", "vec_id").alias("id1"),
                F.greatest("probe_id", "vec_id").alias("id2"),
            )
            .distinct()
            .collect()
        }
        dt = time.time() - t0
        unpersist_caches()
        rec = {
            "nprobe": nprobe,
            "refine": refine,
            "recall": round(len(got & want) / max(1, len(want)), 4),
            "probes_per_sec": round(n / dt, 1),
            "n_probes": n,
            "sec": round(dt, 2),
        }
        results.append(rec)
        print(rec, flush=True)

    with open(out_json, "w") as f:
        json.dump(
            {
                "sf_dir": SF_DIR,
                "k": _SD_K,
                "tau": _SD_TAU,
                "metric_note": "recall is PAIR recall of the "
                "dedup_semantic_ann shape vs the brute within-threshold "
                "pair set",
                "results": results,
            },
            f,
            indent=1,
        )
    spark.stop()


if __name__ == "__main__":
    main()
