"""ANN tier guard: measure before you serve (VERDICT r7 item 2).

BASELINE.md (r7) measured the failure this module exists to catch: on
tightly clustered UNNORMALIZED vectors the 1-bit Hamming tier's
recall@10 collapses to 0/10 (every cluster member shares the same sign
pattern, so the Hamming cut cannot separate them) while SQ8 holds
10/10 on the same fixture — and SRP rotation does not fix it (metric
mismatch). Until round 8 the engine *measured* this but let a user
point any tier at any geometry; this module turns the measurement into
enforcement:

- ``tier_report(df, ...)`` — for each quantized tier (1-bit Hamming,
  SQ8), sampled recall@k against the exact scan on a SEEDED UNIFORM
  probe sample (the md5-of-id rule every trainer in this engine uses,
  operators/similarity._training_sample), plus a ``chosen`` flag: the
  first tier in preference order (cheapest scan first) whose recall
  clears the floor.
- ``choose_ann_tier(df, ...)`` — the enforcement wrapper: returns the
  chosen tier name, or ``"exact"`` when no quantized tier clears the
  floor (refuse-and-fall-back, never silently serve garbage
  neighbors).

Scale shape: the probe sample is O(n_probes x dim) driver metadata
(TakeOrdered by md5 — the same bounded serving-metadata class as a
codebook); each tier evaluation is n_probes 0-exchange
TakeOrderedAndProject subplans unioned into ONE job per tier, so the
guard costs a few extra scans at DEPLOY time, not per query. Every
ranking, overlap count and the chosen decision are engine expressions
(no driver arithmetic feeds the report values), so the registered
``ann_tier_report`` query replays exactly in SQL.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.distance import metric_expr
from .knn import _dim_checked
from .retrieval import sq8_train

# preference order: cheapest candidate scan first (packed words are
# 16x smaller than float32 vectors; SQ8 codes 4x). The IVF-PQ tier
# (32x-smaller codes, cell-pruned scans) arbitrates LAST despite its
# cheap serving scan because it is the only tier that needs a trained
# model: when a cheaper model-free tier clears the floor, prefer it.
# It is evaluated only when the caller supplies the model (VERDICT r8
# item 5 — tier arbitration must cover every serving path).
TIER_PREFERENCE = ("hamming", "sq8", "ivfpq")


def seeded_probe_rows(
    df: DataFrame,
    n_probes: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """The ``n_probes`` rows with smallest md5(id) — the engine's
    deterministic uniform-sample rule, mirrored verbatim by the SQL
    oracle (ORDER BY md5(CAST(id AS VARCHAR)))."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_probes)
        .collect()
    )
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def _probe_table(
    spark, probes: list[tuple[int, list[float]]], dim: int, sign_words: bool = False
):
    """The probe sample as a small broadcastable DataFrame
    (__pid long, __pv array<double>). With ``sign_words`` (the hamming
    tier) it also carries __pw0/__pw1, the packed sign words, replaying
    hamming_rerank's driver-side probe packing verbatim; packing splits
    the dims into two equal halves, so an odd dim raises here instead
    of silently dropping the last dim."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    fields = [
        StructField("__pid", LongType(), False),
        StructField("__pv", ArrayType(DoubleType(), False), False),
    ]
    rows = [(int(pid), [float(x) for x in vec]) for pid, vec in probes]
    if sign_words:
        if dim % 2 != 0:
            raise ValueError(f"sign packing needs an even dim, got {dim}")
        half = dim // 2
        rows = [
            (pid, vec,
             sum(1 << i for i in range(half) if vec[i] > 0),
             sum(1 << i for i in range(half) if vec[half + i] > 0))
            for pid, vec in rows
        ]
        fields += [
            StructField("__pw0", LongType(), False),
            StructField("__pw1", LongType(), False),
        ]
    return spark.createDataFrame(rows, StructType(fields))


def _topk_per_probe(
    scored: DataFrame,
    score_col: str,
    n: int,
    id_col: str,
    n_local_groups: int = 1,
) -> DataFrame:
    """Per-probe top-``n`` of ``scored`` under the (score asc, id asc)
    total order — the windowed equivalent of each per-probe
    TakeOrderedAndProject (identical selected sets: the order is total,
    so row_number <= n picks exactly the subplan's rows).

    ``n_local_groups`` > 1 splits the window into a local pass keyed by
    a deterministic hash group before the global per-probe pass (guide
    §2.5: a probe-count-only key space would put the whole base on
    n_probes tasks at scale; the local pass spreads the sort across the
    cluster and the global pass sees only n_groups x n survivors).
    """
    from pyspark.sql import Window

    if n_local_groups > 1:
        grp = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_local_groups))
        w1 = Window.partitionBy(F.col("__pid"), grp).orderBy(
            F.col(score_col).asc(), F.col(id_col).asc()
        )
        scored = scored.withColumn(
            "__rn_local", F.row_number().over(w1)
        ).filter(F.col("__rn_local") <= n)
    w2 = Window.partitionBy("__pid").orderBy(
        F.col(score_col).asc(), F.col(id_col).asc()
    )
    return scored.withColumn("__rn", F.row_number().over(w2)).filter(
        F.col("__rn") <= n
    )


def _topk_union(
    df: DataFrame,
    probes: list[tuple[int, list[float]]],
    tier: str,
    k: int,
    candidates: int,
    lo: list[float] | None,
    hi: list[float] | None,
    vec_col: str,
    id_col: str,
    dim: int,
    ivfpq: tuple | None = None,
) -> DataFrame:
    """(probe_id, vec_id) of each probe's top-k under ``tier`` — ONE
    batched plan whose size is independent of the probe count (the
    per-probe union form cost O(probes x tiers) driver-side subplan
    construction, ~16s at 8 probes x 4 tiers): the probes ship as a
    broadcast table and each per-probe TakeOrdered becomes a
    row_number window over the identical (score asc, id asc) total
    order, so the selected sets are exactly the per-probe subplans'
    (the DuckDB oracle replays this same probes-cross-join + window
    form). All scoring arithmetic is the same expression tree as the
    single-probe operators with the probe literal replaced by the
    probe column — identical folds over identical doubles.

    ``ivfpq`` = (encoded codes DataFrame, centroids, codebooks,
    nprobe) for the ivfpq tier."""
    from .retrieval import binary_quantize

    spark = df.sparkSession
    pdf = F.broadcast(_probe_table(spark, probes, dim, tier == "hamming"))
    par = spark.sparkContext.defaultParallelism
    # enough local groups that probes x groups covers the cluster;
    # scale-adaptive (follows defaultParallelism), never a constant
    n_groups = max(1, -(-4 * par // max(1, len(probes))))
    pv = F.col("__pv")

    if tier == "exact":
        # the knn() dimension guard: zip_with null-pads mismatched
        # arrays, which would sort nulls FIRST — fail loudly instead
        dist = metric_expr("euclidean_sq", vec_col, pv)
        scored = (
            df.select(id_col, vec_col)
            .crossJoin(pdf)
            .withColumn("__d", _dim_checked(dist, vec_col, F.size(pv)))
        )
        out = _topk_per_probe(scored, "__d", k, id_col, n_groups)
    elif tier == "hamming":
        packed = binary_quantize(
            df.select(id_col, vec_col), vec_col=vec_col, dim=dim
        )
        ham = (
            F.bit_count(F.col("w0").bitwiseXOR(F.col("__pw0")))
            + F.bit_count(F.col("w1").bitwiseXOR(F.col("__pw1")))
        ).cast("long")
        cand = _topk_per_probe(
            packed.crossJoin(pdf).withColumn("__h", ham),
            "__h",
            candidates,
            id_col,
            n_groups,
        ).drop("__rn", "__rn_local")
        dist = metric_expr("euclidean_sq", vec_col, pv)
        out = _topk_per_probe(cand.withColumn("__d", dist), "__d", k, id_col)
    elif tier == "sq8":
        # same quantize -> dequantize -> distance fold as sq8_rerank,
        # probe literal -> probe column
        if not (len(lo) == len(hi) == dim):
            raise ValueError("lo/hi/probe dims differ")
        if any(h <= l for l, h in zip(lo, hi)):
            raise ValueError("every quantizer range must have hi > lo")
        from ..functions.distance import vec_lit

        v = F.col(vec_col)
        lo_a = vec_lit([float(x) for x in lo])
        hi_a = vec_lit([float(x) for x in hi])

        def recon(i):
            x = F.element_at(v, i).cast("double")
            l, h = F.element_at(lo_a, i), F.element_at(hi_a, i)
            code = F.least(
                F.greatest(
                    F.floor((x - l) / (h - l) * F.lit(255.0)), F.lit(0)
                ),
                F.lit(255),
            )
            return l + (code + F.lit(0.5)) * (h - l) / F.lit(256.0)

        adist = F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)),
            F.lit(0.0),
            lambda acc, i: acc
            + (recon(i) - F.element_at(pv, i))
            * (recon(i) - F.element_at(pv, i)),
        )
        cand = _topk_per_probe(
            df.select(id_col, vec_col)
            .crossJoin(pdf)
            .withColumn("__a", adist),
            "__a",
            candidates,
            id_col,
            n_groups,
        ).drop("__rn", "__rn_local")
        dist = metric_expr("euclidean_sq", vec_col, pv)
        out = _topk_per_probe(cand.withColumn("__d", dist), "__d", k, id_col)
    elif tier == "ivfpq":
        out = _ivfpq_topk_batched(
            df, probes, pdf, k, max(1, candidates // k), vec_col, id_col,
            ivfpq, n_groups,
        )
    else:
        raise KeyError(tier)
    return out.select(
        F.col("__pid").cast("long").alias("probe_id"),
        F.col(id_col).alias("__nn"),
    )


def _ivfpq_topk_batched(
    df: DataFrame,
    probes: list[tuple[int, list[float]]],
    pdf,
    k: int,
    refine: int,
    vec_col: str,
    id_col: str,
    ivfpq: tuple,
    n_groups: int,
) -> DataFrame:
    """Batched ivfpq_search over the probe sample: the per-(probe,
    cell) residual LUTs — the exact same numpy values ivfpq_search
    bakes into per-probe CASE literals — ship as a small broadcast
    table joined on ``cell``, and the ADC sum is the same ascending
    left fold from 0.0 (F.aggregate over 1..m), so every candidate
    scores identically; top-k*refine and the exact re-rank use the
    same (score asc, id asc) total order as ivfpq_search."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    encoded, centroids, codebooks, nprobe = ivfpq
    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape
    lut_rows = []
    all_cells: set[int] = set()
    for pid, vec in probes:
        p = np.asarray([float(x) for x in vec], dtype=np.float64)
        order = np.argsort(((cents - p) ** 2).sum(axis=1))
        for cell in (int(c) for c in order[:nprobe]):
            r = p - cents[cell]
            lut = [
                ((books[j] - r[j * dsub : (j + 1) * dsub][None, :]) ** 2)
                .sum(axis=1)
                .tolist()
                for j in range(m)
            ]
            lut_rows.append((int(pid), int(cell), lut))
            all_cells.add(cell)
    lschema = StructType(
        [
            StructField("__pid", LongType(), False),
            StructField("__cell", IntegerType(), False),
            StructField(
                "__lut", ArrayType(ArrayType(DoubleType(), False), False),
                False,
            ),
        ]
    )
    ldf = F.broadcast(encoded.sparkSession.createDataFrame(lut_rows, lschema))
    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(m))),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("__lut"), j),
            F.element_at(F.col("pq_code"), j) + 1,
        ),
    )
    scored = (
        encoded.filter(F.col("cell").isin(sorted(all_cells)))
        .select(id_col, "cell", "pq_code")
        .join(ldf, F.col("cell").cast("int") == F.col("__cell"))
        .withColumn("__adc", adc)
    )
    cand = _topk_per_probe(
        scored, "__adc", k * refine, id_col, n_groups
    ).select("__pid", id_col)
    raw = df.select(id_col, vec_col)
    cand = F.broadcast(cand).join(raw, id_col).join(pdf, "__pid")
    dist = metric_expr("euclidean_sq", vec_col, F.col("__pv"))
    return _topk_per_probe(cand.withColumn("__d", dist), "__d", k, id_col)


def tier_report(
    df: DataFrame,
    k: int = 10,
    candidates: int = 50,
    n_probes: int = 8,
    floor: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    ivfpq: tuple | None = None,
) -> DataFrame:
    """Sampled recall@k per quantized tier vs the exact scan, plus the
    guard decision. Output (one row per tier, unordered):

    (tier string, n_overlap long, recall double, chosen boolean)

    ``chosen`` marks the first tier in TIER_PREFERENCE whose recall
    >= ``floor``; all-false means the guard refuses every quantized
    tier and the caller must serve exact (choose_ann_tier returns
    "exact").

    ``ivfpq`` = (encoded codes DataFrame from ivfpq_encode, centroids,
    codebooks, nprobe) adds the IVF-PQ tier to the arbitration at its
    registered operating point (refine = candidates // k, the same
    candidate budget the other tiers re-rank). Omitted -> the tier is
    not evaluated (it needs a trained model)."""
    if k < 1 or candidates < k or n_probes < 1:
        raise ValueError("need candidates >= k >= 1 and n_probes >= 1")
    probes = seeded_probe_rows(df, n_probes, vec_col, id_col)
    if not probes:
        raise ValueError("empty table")
    lo, hi = sq8_train(df, vec_col=vec_col, dim=dim)
    want = _topk_union(
        df, probes, "exact", k, candidates, None, None, vec_col, id_col, dim
    )
    denom = float(len(probes) * k)
    reports = []
    for pref, tier in enumerate(TIER_PREFERENCE):
        if tier == "ivfpq" and ivfpq is None:
            continue
        got = _topk_union(
            df, probes, tier, k, candidates, lo, hi, vec_col, id_col, dim,
            ivfpq=ivfpq,
        )
        reports.append(
            got.join(want, ["probe_id", "__nn"]).agg(
                F.lit(tier).alias("tier"),
                F.lit(pref).alias("__pref"),
                F.count(F.lit(1)).cast("long").alias("n_overlap"),
                F.round(F.count(F.lit(1)) / F.lit(denom), 6).alias("recall"),
            )
        )
    rep = reduce(lambda a, b: a.unionByName(b), reports)
    best = rep.filter(F.col("recall") >= F.lit(float(floor))).agg(
        F.min("__pref").alias("__best")
    )
    return (
        rep.crossJoin(best)
        .withColumn(
            "chosen",
            F.coalesce(F.col("__pref") == F.col("__best"), F.lit(False)),
        )
        .select("tier", "n_overlap", "recall", "chosen")
    )


def frontier_from_sweeps(
    files: dict[str, tuple[int, int] | None],
    n_probes: int | None = None,
    path: str = "ann",
) -> list[dict]:
    """Load recorded probe-sweep JSONs (tools/probe_sweep.py --json)
    into frontier records {nprobe, refine, recall, probes_per_sec,
    n_probes}. ``files`` maps path -> (nprobe, refine) for legacy
    sweeps that predate the embedded ``ann_nprobe``/``ann_refine``
    fields (pass None for self-describing files). Keeps the ``path``
    rows ('ann' by default; 'ann_filt' loads a FILTERED frontier — a
    predicate changes the recall/cost surface, especially when it
    correlates with the cell geometry, so filtered serving points must
    come from sweeps recorded UNDER the filter, BASELINE.md r9) at
    ``n_probes`` when given, else the LARGEST recorded probe count per
    file (the steady-state throughput point)."""
    import json

    out = []
    for fpath, params in files.items():
        with open(fpath) as f:
            doc = json.load(f)
        nprobe, refine = (
            params
            if params is not None
            else (doc["ann_nprobe"], doc["ann_refine"])
        )
        rows = [
            r
            for r in doc["results"]
            if r["path"] == path and "recall_at_k" in r
        ]
        if n_probes is not None:
            rows = [r for r in rows if r["n_probes"] == n_probes]
        elif rows:
            biggest = max(r["n_probes"] for r in rows)
            rows = [r for r in rows if r["n_probes"] == biggest]
        # the escalation knobs only influence the ADAPTIVE path's
        # measurements ('ann_adapt'); stamping them onto 'ann' /
        # 'ann_filt' rows from a sweep that happened to run with
        # --esc-nprobe would make ann_operating_point spuriously
        # refuse a plain-path frontier (ADVICE r10)
        esc_np = doc.get("esc_nprobe") if path == "ann_adapt" else None
        esc_rf = doc.get("esc_refine") if path == "ann_adapt" else None
        for r in rows:
            out.append(
                {
                    "nprobe": int(nprobe),
                    "refine": int(refine),
                    # PQ resolution axis (code bytes per vector): sweeps
                    # predating the --ann-m knob all ran m=8 (r10). A
                    # frontier mixing m values spans DIFFERENT index
                    # builds — resolve those with ann_serving_point,
                    # which returns m alongside the knobs.
                    "m": int(doc.get("ann_m", 8)),
                    # code-width axis (bits per code = log2(ksub)):
                    # ksub=16 is the nibble-packed fast-scan build
                    # (r11); sweeps predating --ann-ksub ran 256. Like
                    # m, ksub names a BUILD, not a query knob.
                    "ksub": int(doc.get("ann_ksub", 256)),
                    # OPQ axis: a rotation is part of the BUILD the
                    # recall was measured under — a rotation-measured
                    # record served onto a rotation-less snapshot (or
                    # vice versa) is the same cross-build mismatch the
                    # m field guards (ADVICE r10).
                    "opq": bool(doc.get("ann_opq", False)),
                    # the adaptive path's ESCALATION point is part of
                    # the operating point: (4,4) with esc (8,64)
                    # records 0.96 where (4,4) with the default esc
                    # records 0.90 — serving a resolved point without
                    # its esc knobs would silently miss the floor it
                    # was recorded to clear. None = the recorded run
                    # used the kernel defaults (2*nprobe, 8*refine).
                    "esc_nprobe": esc_np,
                    "esc_refine": esc_rf,
                    "recall": float(r["recall_at_k"]),
                    "probes_per_sec": float(r["probes_per_sec"]),
                    "n_probes": int(r["n_probes"]),
                }
            )
    return out


def ann_serving_point(recall_floor: float, frontier: list[dict]) -> dict | None:
    """The cheapest recorded serving point clearing ``recall_floor``
    across ALL recorded axes — (nprobe, refine) knobs AND the PQ
    resolution m (which selects a codes SNAPSHOT, not just a query
    knob: serving an m=16 point requires the m=16 index build).
    Returns the full frontier record (highest measured probes/sec
    wins; ties break to less work), or None when nothing recorded
    clears the floor — the standard refusal contract, serve exact.

    This is the m-aware generalization of ``ann_operating_point``,
    motivated by the r10 finding that the filtered-cosine regime is
    PQ-RESOLUTION-bound: no (nprobe, refine) at m=8 clears 0.95, while
    m=16 does — a fact only visible when the frontier spans builds."""
    ok = [r for r in frontier if r["recall"] >= recall_floor]
    if not ok:
        return None
    return max(
        ok,
        key=lambda r: (
            r["probes_per_sec"],
            -r["nprobe"],
            -r["refine"],
            -r.get("m", 8),
        ),
    )


def ann_operating_point(
    recall_floor: float, frontier: list[dict]
) -> tuple[int, int] | None:
    """The cheapest recorded (nprobe, refine) point clearing
    ``recall_floor`` — highest measured probes/sec wins; ties break to
    the smaller (nprobe, refine) (less work at equal measured
    throughput). None when no recorded point clears the floor (serve
    exact — the same refusal contract as choose_ann_tier). A
    driver-side table lookup over PROBE_SWEEP recordings (VERDICT r8
    item 7): serving queries read their operating point from the
    measured frontier instead of hard-coding nprobe/refine.

    FIXED-BUILD projection of ``ann_serving_point``: callers hold ONE
    codes snapshot, so a frontier mixing PQ resolutions (m) is an
    error here — a cross-build knob would silently serve the wrong
    index. Pass a single-m frontier, or use ann_serving_point and
    build/select the snapshot its m names."""
    ms = {r.get("m", 8) for r in frontier}
    if len(ms) > 1:
        raise ValueError(
            f"frontier spans PQ resolutions m={sorted(ms)}; "
            "ann_operating_point resolves knobs for ONE build — use "
            "ann_serving_point for cross-build resolution"
        )
    ksubs = {r.get("ksub", 256) for r in frontier}
    if len(ksubs) > 1:
        raise ValueError(
            f"frontier spans code widths ksub={sorted(ksubs)}; "
            "ann_operating_point resolves knobs for ONE build — use "
            "ann_serving_point for cross-build resolution"
        )
    opqs = {bool(r.get("opq", False)) for r in frontier}
    if len(opqs) > 1:
        # same single-build rule on the rotation axis: a record whose
        # recall was measured under an OPQ rotation names a DIFFERENT
        # codes snapshot than a plain-PQ record at the same m, and
        # projecting across them would serve knobs the caller's build
        # never measured (ADVICE r10)
        raise ValueError(
            "frontier mixes OPQ-rotated and plain-PQ records; "
            "ann_operating_point resolves knobs for ONE build — use "
            "ann_serving_point for cross-build resolution"
        )
    best = ann_serving_point(recall_floor, frontier)
    if best is None:
        return None
    if best.get("esc_nprobe") is not None or best.get("esc_refine") is not None:
        # the winning record's recall was measured UNDER explicit
        # escalation knobs; projecting it to (nprobe, refine) would
        # serve the default escalation — a configuration this frontier
        # never measured to clear the floor. Same refusal rule as the
        # mixed-m guard: hand the full record back instead.
        raise ValueError(
            "the resolved point was recorded with explicit escalation "
            f"knobs (esc_nprobe={best.get('esc_nprobe')}, "
            f"esc_refine={best.get('esc_refine')}); use "
            "ann_serving_point and pass them to ann_join_topk"
        )
    return int(best["nprobe"]), int(best["refine"])


def fixture_operating_point(
    path: str, floor: float, fallback: tuple[int, int]
) -> tuple[int, int]:
    """Resolve a serving query's (nprobe, refine) from a RECORDED
    fixture-frontier JSON (tools/fixture_frontier.py) — the measured
    table lookup replacing hard-coded knobs. Falls back to the given
    working point when the recording is ABSENT or no recorded point
    clears the floor (the refusal contract: a knob that was never
    measured to clear the floor must not be invented). A recording
    that exists but cannot be parsed RAISES (ADVICE r9): a corrupted
    frontier silently serving the fallback would degrade every
    resolved query with no signal."""
    import json

    try:
        with open(path) as f:
            doc = json.load(f)
    except FileNotFoundError:
        return fallback
    except (json.JSONDecodeError, UnicodeDecodeError) as e:
        raise ValueError(
            f"frontier recording {path} exists but is unreadable "
            f"({e}); re-record it with tools/fixture_frontier.py or "
            "delete it to serve the documented fallback"
        ) from e
    try:
        frontier = doc["results"]
        pt = ann_operating_point(floor, frontier)
    except (KeyError, TypeError) as e:
        raise ValueError(
            f"frontier recording {path} has an unexpected schema "
            f"({e}); re-record it with tools/fixture_frontier.py"
        ) from e
    return pt if pt is not None else fallback


def fixture_serving_point(
    path: str,
    floor: float,
    fallback: dict,
) -> dict:
    """Esc-aware fixture resolution (VERDICT r10 item 3): resolve a
    serving query's FULL operating point — (nprobe, refine) AND the
    per-probe escalation point (esc_nprobe, esc_refine) — from a
    recorded fixture-frontier JSON whose records carry the escalation
    axis (tools/fixture_frontier.py --shape adaptive).

    ``fixture_operating_point`` cannot serve these recordings: its
    (nprobe, refine) projection refuses esc-bearing records because
    the recall they recorded was measured UNDER those escalation
    knobs. This resolver hands the whole record back instead, so
    registered adaptive queries serve exactly the configuration the
    frontier measured to clear the floor.

    Returns a dict with keys nprobe / refine / esc_nprobe /
    esc_refine (esc_* None when the record used the kernel defaults).
    Same contracts as fixture_operating_point: absent file or no
    record clearing the floor -> the documented ``fallback`` dict;
    unreadable or mis-shaped recording RAISES."""
    import json

    try:
        with open(path) as f:
            doc = json.load(f)
    except FileNotFoundError:
        return dict(fallback)
    except (json.JSONDecodeError, UnicodeDecodeError) as e:
        raise ValueError(
            f"frontier recording {path} exists but is unreadable "
            f"({e}); re-record it with tools/fixture_frontier.py or "
            "delete it to serve the documented fallback"
        ) from e
    try:
        best = ann_serving_point(floor, doc["results"])
    except (KeyError, TypeError) as e:
        raise ValueError(
            f"frontier recording {path} has an unexpected schema "
            f"({e}); re-record it with tools/fixture_frontier.py"
        ) from e
    if best is None:
        return dict(fallback)
    return {
        "nprobe": int(best["nprobe"]),
        "refine": int(best["refine"]),
        "esc_nprobe": (
            int(best["esc_nprobe"])
            if best.get("esc_nprobe") is not None
            else None
        ),
        "esc_refine": (
            int(best["esc_refine"])
            if best.get("esc_refine") is not None
            else None
        ),
    }


def choose_ann_tier(
    df: DataFrame,
    k: int = 10,
    candidates: int = 50,
    n_probes: int = 8,
    floor: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    ivfpq: tuple | None = None,
) -> str:
    """Pick the cheapest quantized tier whose sampled recall clears
    ``floor``; ``"exact"`` when none does (the refusal path — the r7
    baseline's clustered fixture makes Hamming score 0/10, and this
    guard is what keeps that geometry off the 1-bit tier). Pass
    ``ivfpq`` (see tier_report) so arbitration covers the IVF-PQ
    serving path too."""
    rows = tier_report(
        df, k=k, candidates=candidates, n_probes=n_probes, floor=floor,
        vec_col=vec_col, id_col=id_col, dim=dim, ivfpq=ivfpq,
    ).collect()
    chosen = [r["tier"] for r in rows if r["chosen"]]
    return chosen[0] if chosen else "exact"
