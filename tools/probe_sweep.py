"""Batched-serving throughput sweep: queries/sec vs PROBE COUNT.

The 100 TB story for a vector engine is query *throughput* — VERDICT
r6 item 8: the scale tables stopped at 20 probes. This sweep drives
the batch paths with probe TABLES from 10^2 to 10^6 rows against a
clustered base (same generator as scale_test.py) and reports wall
seconds + probes/sec per path:

- ``brute``  — operators/knn.knn_join strategy='partial' (broadcast
  pair join + map-side top-k). O(|base| x |probes|) compute; the
  small-batch baseline.
- ``matmul`` — knn_join_matmul (driver-materialized probe batch,
  numpy scoring). Auto-routes to the distributed block path above
  MATMUL_MAX_DRIVER_PROBES, so >65k rows measure that router.
- ``blocks`` — knn_join_blocks (fully distributed brute tiling).
- ``bulk``   — plans/bulk_knn.knn_join_bulk (distributed, index-pruned
  candidate cells, cogrouped matmul) over the cell-partitioned
  snapshot. The exact large-batch serving path.
- ``ann``    — plans/ann_join.ann_join_topk (distributed IVF-PQ:
  cogrouped ADC over the cell-partitioned codes snapshot + exact
  refine). APPROXIMATE (nprobe/refine-governed recall, reported per
  sweep point as recall@10 vs the exact paths on a probe sample) and
  sublinear in base size per probe — the only serving shape whose
  per-probe cost survives a 100 TB corpus.

Probes are a deterministic expansion of base vectors (never
collected). Paths are skipped (with a note) where their cost model
says they stop making sense, mirroring production routing.

Usage: python tools/probe_sweep.py [n_rows] [--json out.json]
"""

from __future__ import annotations

import json
import sys
import time

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from lightweight_vector_database_spark.operators.knn import (
    knn_join,
    knn_join_blocks,
    knn_join_matmul,
)
from lightweight_vector_database_spark.plans.bulk_knn import knn_join_bulk
from lightweight_vector_database_spark.plans.grid_index import (
    GridIndex,
    index_stats,
)
from bench import _Contention, _loadavg
from lightweight_vector_database_spark.session import get_spark
from scale_test import N_CLUSTERS, generate

K = 10
PROBE_COUNTS = [100, 1_000, 10_000, 100_000, 1_000_000]
# brute's pair join materializes |base| x |probes| scored rows; past
# 10^4 probes on a 10^5-row base that is 10^9+ rows per query — the
# exact cost the routed paths exist to avoid.
BRUTE_MAX = 1_000
# the distributed brute tiling still performs |base| x |probes| exact
# distance work; past 10^5 probes only the index-pruned bulk path is a
# sensible serving plan (that's the sweep's point).
BLOCKS_MAX = 100_000
MATMUL_MAX = 65_536  # above this knn_join_matmul routes to blocks anyway


def generate_dim(spark, n_rows: int, dim: int):
    """Clustered base at arbitrary dimensionality (scale_test's
    generator shape). The sweep's --dim knob exists because grid
    pruning is dimensionality-bound: at dim 64 a depth-7 index leaves
    57 dims unsplit and the farthest-corner bound spans them, so
    candidate sets approach ALL cells and knn_join_bulk's futility
    fallback routes to the block join; at dim 8 the same depth splits
    (almost) every dim and the index actually prunes."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.RandomState(5)
    centers = rng.uniform(-0.35, 0.35, (N_CLUSTERS, dim))
    centers_df = spark.createDataFrame(
        [(int(c), centers[c].tolist()) for c in range(N_CLUSTERS)],
        "cluster int, center array<double>",
    )
    base = spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % N_CLUSTERS).cast("int").alias("cluster"),
    )
    noise = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: 0.05 * F.sin((F.col("vec_id") + 1) * i.cast("double") * 0.7),
    )
    joined = base.join(F.broadcast(centers_df), "cluster")
    vec = F.zip_with(F.col("center"), noise, lambda c, nz: c + nz).cast(
        "array<float>"
    )
    return joined.select("vec_id", vec.alias("embedding"))


def make_probes(base, n_probes: int, n_base: int):
    reps = -(-n_probes // n_base)
    seeds = base.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    rep_df = F.broadcast(
        base.sparkSession.range(reps).select(F.col("id").alias("rep"))
    )
    return (
        seeds.crossJoin(rep_df)
        .select(
            (F.col("vec_id") * reps + F.col("rep")).alias("probe_id"),
            F.transform(
                "v",
                lambda x: x
                * (F.lit(1.0) + F.col("rep").cast("double") * F.lit(1e-4)),
            ).alias("probe_vec"),
        )
        # hash-sampled, not modulus: probe_id % step on the sequential
        # expansion is PARITY-BIASED (step 10 at the 1e5 point selected
        # only even-seed probes on the 200k fixture, i.e. only even
        # clusters — which skewed recall at every sub-maximal ladder
        # point once predicates correlate with cluster parity)
        .filter(
            F.pmod(
                F.hash(F.col("probe_id")),
                F.lit(max(1, (n_base * reps) // n_probes)),
            )
            == 0
        )
        .limit(n_probes)
        # limit() collapses to one partition; the batch paths need the
        # probe table spread like any real probe table would be
        .repartition(64)
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 200_000
    out_json = None
    if "--json" in sys.argv:
        out_json = sys.argv[sys.argv.index("--json") + 1]
    dim = int(sys.argv[sys.argv.index("--dim") + 1]) if "--dim" in sys.argv else 64
    # --max-probes caps the ladder: the big-base runs (10^6 rows) use
    # it to stop at 10^5 — the exact paths there are O(|base|x|probes|)
    # and a 10^6x10^6 point is hours of pure brute-force arithmetic
    max_probes = (
        int(sys.argv[sys.argv.index("--max-probes") + 1])
        if "--max-probes" in sys.argv
        else max(PROBE_COUNTS)
    )
    # --paths bulk,ann : restrict to a path subset (big-base runs skip
    # the O(|base|x|probes|) brute baselines that the 200k-base run
    # already characterizes)
    only_paths = (
        set(sys.argv[sys.argv.index("--paths") + 1].split(","))
        if "--paths" in sys.argv
        else None
    )
    # --filtered adds the 0.5-selectivity predicate column: ann_filt
    # (ann_join_topk with pred) vs blocks_filt (the exact filtered
    # comparator) — VERDICT r8 item 1's >=5x-hold-under-predicate check.
    # --filter-mode parity (default) is the ADVERSARIAL predicate on
    # this generator: vec_id parity implies cluster parity, so the
    # filter empties half the clusters and surviving probes retrieve
    # from off-cluster cells (recall structurally lower — see
    # BASELINE.md r9). --filter-mode hash scatters the same 0.5
    # selectivity UNIFORMLY across clusters — the common metadata-
    # filter shape, where filtered recall matches unfiltered.
    filtered = "--filtered" in sys.argv
    filter_mode = (
        sys.argv[sys.argv.index("--filter-mode") + 1]
        if "--filter-mode" in sys.argv
        else "parity"
    )
    # --cosine: the ann paths serve the COSINE contract (normalized
    # model + codes, true-cosine re-rank; composes with --filtered —
    # the ann_join_filtered_cosine shape at sweep scale, VERDICT r9
    # item 8). The grid/bulk paths are euclidean-only: restrict
    # --paths to ann*/blocks* under this flag.
    cosine = "--cosine" in sys.argv
    sweep_metric = "cosine" if cosine else "euclidean_sq"
    # --aniso : mix an anisotropic per-dim scale ladder through a fixed
    # orthogonal matrix into the generator's noise term. The default
    # generator's residuals are near-ISOTROPIC, which is the one regime
    # where OPQ's learned rotation cannot help (BASELINE.md r10: +0.001
    # recall) — real embedding corpora have correlated, variance-
    # skewed residuals (the spectrum OPQ was built for, Ge et al. CVPR
    # 2013 §1). The mix is seeded and row-deterministic like the rest
    # of the generator.
    aniso = "--aniso" in sys.argv
    spark = get_spark("probe-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    # contention self-evidence (VERDICT r10 item 1 applied to sweeps:
    # two rounds of crossover claims carried host-steal asterisks)
    sweep_ctn = _Contention()
    sweep_load0 = _loadavg()
    FILT_PRED = (  # needs an active session
        F.col("vec_id") % 2 == 0
        if filter_mode == "parity"
        else F.pmod(F.hash(F.col("vec_id")), F.lit(2)) == 0
    )

    if dim == 64:
        base, _centers = generate(spark, n_rows)
    else:
        base = generate_dim(spark, n_rows, dim)
    bound = 0.5
    if aniso:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        rng = np.random.RandomState(11)
        # x -> Q @ diag(s) @ x: the geometric scale ladder makes the
        # variance per ORIGINAL dim span 16x, the orthogonal mix
        # spreads that skew across every coordinate — so no FIXED
        # dim/m subspace split sees balanced variance, which is the
        # condition OPQ's learned rotation repairs
        s_scale = rng.permutation(np.geomspace(0.25, 4.0, dim))
        q_mix, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
        qs_t = (q_mix * s_scale[None, :]).T.copy()

        @pandas_udf("array<float>", PandasUDFType.SCALAR)
        def _aniso_mix(col):
            mat = np.stack(col.to_numpy()).astype(np.float64)
            return pd.Series(list((mat @ qs_t).astype(np.float32)))

        base = base.withColumn("embedding", _aniso_mix("embedding"))
        bound = 2.5  # scaled coords reach ~±1.7; keep the grid sane
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="probe_sweep_")
    base.write.mode("overwrite").parquet(os.path.join(tmp, "base"))
    base = spark.read.parquet(os.path.join(tmp, "base"))
    # low-dim runs get finer cells (the regime where the grid prunes:
    # measured candidate ratios 0.05 at dim4/depth8 vs 0.99 at
    # dim8/depth7 on this generator — the kd-grid is the reference's
    # low-dim spatial structure; high-dim serving belongs to IVF-PQ)
    idx = GridIndex.for_table(
        [-bound] * dim, [bound] * dim, n_rows=n_rows,
        target_cell_rows=32 if dim <= 8 else 256,
    )
    assigned_src = base.withColumn("cell_id", idx.cell_expr("embedding"))
    snap_path = os.path.join(tmp, "snap")
    assigned_src.repartition("cell_id").write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(snap_path)
    assigned = spark.read.parquet(snap_path).withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    stats = index_stats(assigned)
    print(
        f"base={n_rows} rows, dim={dim}, depth={idx.depth}, cells={len(stats)}",
        flush=True,
    )

    # --- IVF-PQ serving snapshot for the ann path (the index BUILD,
    # outside the per-batch timings like the grid snapshot above)
    from lightweight_vector_database_spark.operators.similarity import (
        ivfpq_encode,
        train_ivfpq,
    )
    from lightweight_vector_database_spark.plans.ann_join import ann_join_topk

    # --ann-m : PQ subquantizer count (code bytes per vector; dsub =
    # dim/m). The r10 filtered-cosine frontier saturated at 0.86 recall
    # even at refine=64 — a REFINE-bound regime where residual PQ noise
    # at m=8 (8-dim subspaces) swamps the noise-scale cosine gaps among
    # the true top-10; doubling m halves each subspace and shrinks the
    # quantization cells, trading 2x code bytes + ADC adds for ADC
    # resolution. This knob measures that trade directly.
    ann_m = (
        int(sys.argv[sys.argv.index("--ann-m") + 1])
        if "--ann-m" in sys.argv
        else min(8, dim)
    )
    # --ann-ksub : per-subspace codebook size (bits per code =
    # log2(ksub)). 256 is the classic byte-per-code PQ; 16 is the
    # 4-bit fast-scan geometry — codes pack two per byte
    # (ivfpq_encode(pack4=True) engages automatically at ksub <= 16),
    # so m=16/ksub=16 stores the same 8 B/vector as m=8/ksub=256 while
    # splitting the space twice as finely with 16x coarser codebooks.
    # This knob measures that bytes-vs-recall trade directly.
    ann_ksub = (
        int(sys.argv[sys.argv.index("--ann-ksub") + 1])
        if "--ann-ksub" in sys.argv
        else 256
    )
    ann_cells = 64
    # recall knobs, overridable per run: bigger bases pack more true
    # neighbors per Voronoi boundary, so a fixed nprobe loses recall as
    # the corpus grows (measured: 0.9997 at 200k rows vs 0.913 at 1M
    # rows with nprobe=4) — the production rule is to size nprobe to a
    # recall target, which is what the tier guard measures
    ann_nprobe = (
        int(sys.argv[sys.argv.index("--ann-nprobe") + 1])
        if "--ann-nprobe" in sys.argv
        else 4
    )
    ann_refine = (
        int(sys.argv[sys.argv.index("--ann-refine") + 1])
        if "--ann-refine" in sys.argv
        else 2
    )
    # --esc-nprobe / --esc-refine : the ADAPTIVE path's escalation
    # point (defaults 2*nprobe / 8*refine, plans/ann_join.py). Exposed
    # because the base and escalated budgets trade independently: only
    # predicate-DISPLACED probes pay the escalated point, so a cheap
    # base knob + a deep escalation can beat a uniformly deeper knob
    # on both axes at once.
    esc_nprobe = (
        int(sys.argv[sys.argv.index("--esc-nprobe") + 1])
        if "--esc-nprobe" in sys.argv
        else None
    )
    esc_refine = (
        int(sys.argv[sys.argv.index("--esc-refine") + 1])
        if "--esc-refine" in sys.argv
        else None
    )
    # --opq : build + serve the ann snapshot under an OPQ rotation
    # (train_opq / ivfpq_encode(rotation=) / ann_join_topk(rotation=))
    # at the same (cells, m, ksub) budget — the code-QUALITY axis,
    # complementary to --ann-m's code-SIZE axis. Gains scale with the
    # residual anisotropy of the corpus (see tests/test_opq.py): this
    # generator's residuals are near-isotropic, so a recording here is
    # the honest lower bound of the knob.
    use_opq = "--opq" in sys.argv
    if cosine:
        # cosine contract: model + codes over the L2-NORMALIZED base
        # (the exact left-fold-norm arithmetic the kernel normalizes
        # probes with); the exact re-rank still reads the RAW base
        from lightweight_vector_database_spark.suite.pipeline_suite12 import (
            _norm_emb,
        )

        enc_base = _norm_emb(base)
    else:
        enc_base = base
    if use_opq:
        from lightweight_vector_database_spark.operators.similarity import (
            train_opq,
        )

        cents, ann_rot, books = train_opq(
            enc_base, n_centroids=ann_cells, m=ann_m, ksub=ann_ksub,
            iters=4, sample_rows=8192, sample_id_col="vec_id",
        )
    else:
        ann_rot = None
        cents, books = train_ivfpq(
            enc_base, n_centroids=ann_cells, m=ann_m, ksub=ann_ksub,
            iters=4, sample_rows=8192, sample_id_col="vec_id",
        )
    codes_path = os.path.join(tmp, "codes")
    ivfpq_encode(
        enc_base, cents, books, rotation=ann_rot, pack4=ann_ksub <= 16,
    ).select(
        "vec_id", "cell", "pq_code"
    ).repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(codes_path)
    codes = spark.read.parquet(codes_path).withColumn(
        "cell", F.col("cell").cast("int")
    )
    code_stats = {
        int(r["cell"]): int(r["cnt"])
        for r in codes.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # coarse-layer health, recorded with every sweep (r12): how many
    # cells Lloyd actually uses and how concentrated the mass is — the
    # balance that bounds nprobe pruning at scale
    import numpy as _np

    _cnts = sorted(code_stats.values(), reverse=True)
    _cum = _np.cumsum(_cnts) / max(1, sum(_cnts))
    coarse_stats = {
        "live_cells": len(_cnts),
        "total_cells": ann_cells,
        "top4_mass": round(float(_cum[min(3, len(_cum) - 1)]), 4),
        "cells_for_90pct": int(_np.searchsorted(_cum, 0.9) + 1),
    }
    print(f"coarse: {coarse_stats}", flush=True)

    # --imi K : build a SECOND serving snapshot under a two-level
    # (K x K product-cell) coarse model and serve it two ways over the
    # SAME codes — ann_imi ships only the two half codebooks
    # (plans/ann_join imi=), ann_imiflat materializes the product
    # matrix and serves the flat kernel. Identical cells, codes and
    # knobs: the measured delta is purely model shipping + the
    # assignment arithmetic (two O(K x dim/2) half folds + adds vs one
    # O(K^2 x dim) fold) — the 100 TB coarse-model question isolated.
    imi_k = (
        int(sys.argv[sys.argv.index("--imi") + 1])
        if "--imi" in sys.argv
        else 0
    )
    if imi_k:
        from lightweight_vector_database_spark.operators.similarity import (
            imi_encode,
            imi_product_centroids,
            train_imi,
        )

        imi_c1, imi_c2, imi_books = train_imi(
            enc_base, k1=imi_k, k2=imi_k, m=ann_m, ksub=256, iters=4,
            sample_rows=8192, sample_id_col="vec_id",
        )
        imi_codes_path = os.path.join(tmp, "imi_codes")
        imi_encode(enc_base, imi_c1, imi_c2, imi_books).select(
            "vec_id", "cell", "pq_code"
        ).repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(imi_codes_path)
        imi_codes = spark.read.parquet(imi_codes_path).withColumn(
            "cell", F.col("cell").cast("int")
        )
        imi_stats = {
            int(r["cell"]): int(r["cnt"])
            for r in imi_codes.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        imi_flat_cents = imi_product_centroids(imi_c1, imi_c2)
        print(
            f"imi model: {imi_k}x{imi_k}={imi_k * imi_k} cells, "
            f"{len(imi_stats)} live; halves "
            f"{(imi_c1.nbytes + imi_c2.nbytes) // 1024} KB vs flat "
            f"{imi_flat_cents.nbytes // 1024} KB",
            flush=True,
        )

    results = []
    for n_probes in [p for p in PROBE_COUNTS if p <= max_probes]:
        probes = make_probes(base, n_probes, n_rows)
        paths = {}
        if n_probes <= BRUTE_MAX:
            paths["brute"] = lambda p=probes: knn_join(
                p, base, K, strategy="partial"
            )
        if n_probes <= MATMUL_MAX:
            paths["matmul"] = lambda p=probes: knn_join_matmul(p, base, K)
        if n_probes <= BLOCKS_MAX:
            paths["blocks"] = lambda p=probes: knn_join_blocks(
                p, base, K, metric=sweep_metric
            )
        paths["bulk"] = lambda p=probes: knn_join_bulk(
            assigned, idx, probes=p, k=K, stats=stats
        )
        paths["ann"] = lambda p=probes: ann_join_topk(
            codes, cents, books, p, raw=base, k=K, metric=sweep_metric,
            nprobe=ann_nprobe, refine=ann_refine, code_stats=code_stats,
            rotation=ann_rot,
        )
        if imi_k:
            paths["ann_imi"] = lambda p=probes: ann_join_topk(
                imi_codes, None, imi_books, p, raw=base,
                k=K, metric=sweep_metric, nprobe=ann_nprobe,
                refine=ann_refine, code_stats=imi_stats,
                imi=(imi_c1, imi_c2),
            )
            paths["ann_imiflat"] = lambda p=probes: ann_join_topk(
                imi_codes, imi_flat_cents, imi_books, p, raw=base,
                k=K, metric=sweep_metric, nprobe=ann_nprobe,
                refine=ann_refine, code_stats=imi_stats,
            )
        if filtered:
            # the 0.5-selectivity predicate column (vec_id parity —
            # needs no extra fixture column; the codes snapshot carries
            # vec_id, so the predicate pushes into the pruned scan).
            # blocks_filt is the exact comparator: same filter-then-
            # retrieve semantics over the filtered base (capped like
            # blocks — it is the same O(|base| x |probes|) tiling).
            if n_probes <= BLOCKS_MAX:
                paths["blocks_filt"] = lambda p=probes: knn_join_blocks(
                    p, base.filter(FILT_PRED), K, metric=sweep_metric
                )
            paths["ann_filt"] = lambda p=probes: ann_join_topk(
                codes, cents, books, p, raw=base, k=K, metric=sweep_metric,
                nprobe=ann_nprobe, refine=ann_refine, pred=FILT_PRED,
                rotation=ann_rot,
            )
            # per-probe adaptive escalation at the SAME base knob
            # (VERDICT r9 item 1): only predicate-displaced probes pay
            # the deep point, so the adversarial parity predicate
            # should recover recall at a fraction of the global
            # (8,16)-for-everyone cost
            paths["ann_adapt"] = lambda p=probes: ann_join_topk(
                codes, cents, books, p, raw=base, k=K, metric=sweep_metric,
                nprobe=ann_nprobe, refine=ann_refine, pred=FILT_PRED,
                adaptive=True, rotation=ann_rot,
                esc_nprobe=esc_nprobe, esc_refine=esc_refine,
            )
        if cosine:
            # only the ann tier + the exact block join serve cosine
            paths = {
                n: f for n, f in paths.items()
                if n.startswith("ann") or n.startswith("blocks")
            }
        if only_paths is not None:
            paths = {n: f for n, f in paths.items() if n in only_paths}
        exact_samples: dict[str, dict] = {}
        for name, fn in paths.items():
            t0 = time.time()
            out = fn()
            if name.startswith("ann"):
                out = out.cache()
            n_out = out.count()
            dt = time.time() - t0
            qps = n_probes / dt
            rec = {
                "path": name,
                "n_probes": n_probes,
                "sec": round(dt, 2),
                "probes_per_sec": round(qps, 1),
                "rows_out": n_out,
            }
            note = ""
            if name.startswith("ann"):
                # recall@K on a ~200-probe sample vs the exact answer
                # under the same predicate (every exact path returns
                # the same rows). HASH-sampled: a modulus sample on the
                # sequential probe_id is cluster-correlated on this
                # generator (probe_id % 5000 == 0 picked ONLY
                # even-cluster probes, which masked the r9
                # empty-probed-cell filtered-ANN bug)
                sample_pred = (
                    F.pmod(F.hash(F.col("probe_id")), F.lit(
                        max(1, n_probes // 200)
                    )) == 0
                )
                if name not in exact_samples:
                    sp = probes.filter(sample_pred)
                    gt_base = (
                        base.filter(FILT_PRED)
                        if name in ("ann_filt", "ann_adapt")
                        else base
                    )
                    exact_samples[name] = {}
                    for r in knn_join_blocks(
                        sp, gt_base, K, metric=sweep_metric
                    ).collect():
                        exact_samples[name].setdefault(
                            r["probe_id"], set()
                        ).add(r["vec_id"])
                got: dict[int, set] = {}
                for r in out.filter(sample_pred).collect():
                    got.setdefault(r["probe_id"], set()).add(r["vec_id"])
                recs = [
                    len(got.get(p, set()) & want) / len(want)
                    for p, want in exact_samples[name].items()
                ]
                rec["recall_at_k"] = round(sum(recs) / max(1, len(recs)), 4)
                note = f" recall@{K}={rec['recall_at_k']}"
                out.unpersist()
            results.append(rec)
            print(
                f"  {name:7s} probes={n_probes:>9,} {dt:8.2f}s "
                f"{qps:>10,.1f} probes/s rows={n_out}{note}",
                flush=True,
            )
    if out_json:
        with open(out_json, "w") as f:
            json.dump(
                {
                    "n_rows": n_rows,
                    "dim": dim,
                    "k": K,
                    # the ann operating point, embedded so the file is
                    # a self-describing frontier record consumable by
                    # operators/tiering.frontier_from_sweeps
                    "ann_nprobe": ann_nprobe,
                    "ann_refine": ann_refine,
                    "ann_m": ann_m,
                    "ann_ksub": ann_ksub,
                    "ann_opq": use_opq,
                    "coarse_stats": coarse_stats,
                    "aniso": aniso,
                    "esc_nprobe": esc_nprobe,
                    "esc_refine": esc_refine,
                    # which 0.5-selectivity predicate the *_filt columns
                    # used: 'parity' (cluster-correlated, adversarial on
                    # this generator) or 'hash' (uniform across clusters,
                    # the common metadata-filter shape). None = unfiltered.
                    "filter_mode": filter_mode if filtered else None,
                    "metric": sweep_metric,
                    "contention": dict(
                        zip(
                            (
                                "steal_jiffies_delta",
                                "total_jiffies_delta",
                                "steal_pct",
                            ),
                            sweep_ctn.delta(),
                        ),
                        load_start=sweep_load0,
                        load_end=_loadavg(),
                    ),
                    "results": results,
                },
                f,
                indent=1,
            )
    spark.stop()


if __name__ == "__main__":
    main()
