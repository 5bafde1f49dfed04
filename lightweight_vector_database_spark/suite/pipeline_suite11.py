"""Training-pipeline queries, eleventh batch (round 8): the batched
ANN retrieval join (VERDICT r7 item 1).

``ann_join_topk`` — a probe TABLE served by the IVF-PQ tier
(plans/ann_join.py): distributed probe->cell assignment, cogrouped
per-cell ADC over the cell-partitioned CODES snapshot, global
candidate cut, exact re-rank. 1,000 probes (200 seeds x 5 deterministic
expansions) against the embeddings table; k=10, nprobe=8, refine=16 —
the (nprobe, refine) working point whose measured recall vs the exact
knn_join_bulk ground truth is >= 0.95 at this fixture geometry
(pinned by tests/test_ann_join.py).

The oracle replays the ENTIRE pipeline in DuckDB SQL: codebooks are
retrained in numpy from the identical md5-ordered sample (the
similarity._training_sample rule), coarse assignment + residual
encoding + per-probe cell choice + ADC + candidate cut + exact re-rank
all run as SQL folds whose accumulation order matches the kernel's
left folds bit-for-bit — so this APPROXIMATE operator still gets an
EXACT value-hash oracle (the approximation is deterministic).
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..probes import DIM
from ..sources import load_table
from . import register
from .index_suite import _ORACLE_SF_DIR, _dlst, _dlst2
from .knn_suite import _dist_sql

_AJ_CENTROIDS = 8
_AJ_M = 8
_AJ_KSUB = 64
_AJ_ITERS = 3
_AJ_SAMPLE = 8192
_AJ_K = 10
_AJ_NPROBE = 8
_AJ_REFINE = 16
_AJ_SEEDS = 200
_AJ_REPS = 5

_AJ_MEMO: dict[str, tuple] = {}
_AJ_SNAP: dict[tuple, DataFrame] = {}


def _aj_model(spark: SparkSession, sf_dir: str):
    from ..operators.similarity import train_ivfpq

    if sf_dir not in _AJ_MEMO:
        emb = load_table(spark, sf_dir, "embeddings")
        _AJ_MEMO[sf_dir] = train_ivfpq(
            emb, n_centroids=_AJ_CENTROIDS, m=_AJ_M, ksub=_AJ_KSUB,
            iters=_AJ_ITERS, sample_rows=_AJ_SAMPLE, sample_id_col="vec_id",
        )
    return _AJ_MEMO[sf_dir]


def _write_cell_snapshot(spark: SparkSession, name: str, build) -> DataFrame:
    """Build-once cell-partitioned parquet snapshot under
    ``.index_snapshots/<name>`` (the build-once-serve-many layout: one
    parquet directory per cell, so candidate-cell joins prune files).
    ``build()`` returns the DataFrame to write (must carry ``cell``).
    Concurrent builders race on an atomic directory rename; a loser
    whose rename fails verifies the winner's _SUCCESS marker before
    serving the directory (a stale PARTIAL dir must never be read as a
    snapshot — ADVICE r8)."""
    import os
    import shutil
    import tempfile

    root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".index_snapshots")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # sweep crash orphans before building (ADVICE r9): a builder
        # that died mid-write leaves '<name>.tmp*' trees (only the
        # rename-loser path cleaned its own). Age-gated so a CONCURRENT
        # builder's live tmp is never swept — a crashed build's tree
        # stops changing, a live one is minutes old at most.
        import time as _time

        for entry in os.listdir(root):
            if entry.startswith(name + ".tmp"):
                p = os.path.join(root, entry)
                try:
                    stale = _time.time() - os.path.getmtime(p) > 3600
                except OSError:
                    continue
                if stale:
                    shutil.rmtree(p, ignore_errors=True)
        tmp = tempfile.mkdtemp(dir=root, prefix=name + ".tmp")
        try:
            build().repartition("cell").write.mode("overwrite").partitionBy(
                "cell"
            ).parquet(tmp)
        except BaseException:
            # a failed build must not orphan its tmp tree (ADVICE r9)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.rename(tmp, path)
        except OSError:
            # re-check AFTER the failed rename with an age gate: a
            # concurrent winner may land its atomic rename between our
            # existence check and a recovery delete, and rmtree'ing a
            # COMPLETE fresh snapshot would yank it from under readers.
            # A crashed builder's partial target stops changing, so
            # only a target that is both _SUCCESS-less AND quiescent
            # for >10 min is treated as recoverable wreckage.
            import time as _time

            def _stale_partial() -> bool:
                if os.path.exists(os.path.join(path, "_SUCCESS")):
                    return False
                try:
                    mt = max(
                        os.path.getmtime(os.path.join(path, e))
                        for e in [""] + os.listdir(path)
                    )
                except OSError:
                    return False
                return _time.time() - mt > 600

            if _stale_partial():
                # the target is PARTIAL (a crashed builder's leftover,
                # not a concurrent winner — a winner's rename is atomic
                # and its tree carries _SUCCESS): recover automatically
                # instead of demanding manual deletion
                shutil.rmtree(path, ignore_errors=True)
                try:
                    os.rename(tmp, path)
                except OSError:
                    shutil.rmtree(tmp, ignore_errors=True)
                    if not os.path.exists(os.path.join(path, "_SUCCESS")):
                        raise RuntimeError(
                            f"incomplete codes snapshot at {path}: rename "
                            "failed twice and no _SUCCESS marker; remove "
                            "the stale directory and rebuild"
                        )
            else:
                shutil.rmtree(tmp, ignore_errors=True)
                if not os.path.exists(os.path.join(path, "_SUCCESS")):
                    # _SUCCESS-less but RECENTLY modified: another
                    # process's recovery may be mid-flight — never
                    # serve (or delete) an ambiguous tree
                    raise RuntimeError(
                        f"snapshot at {path} is incomplete but recently "
                        "modified (possible concurrent recovery); retry, "
                        "or remove the directory if no builder is alive"
                    )
    return spark.read.parquet(path).withColumn(
        "cell", F.col("cell").cast("int")
    )


def _aj_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-partitioned IVF-PQ code snapshot (the index BUILD, run once
    per sf_dir). v2 carries ``label`` so metadata predicates
    (ann_join_filtered) push into the pruned parquet scan —
    filter-then-retrieve at the code tier."""
    from ..operators.similarity import ivfpq_encode

    cents, books = _aj_model(spark, sf_dir)
    # applicationId, not id(spark): a CPython id can alias a NEW
    # session after the old one is garbage-collected, serving a
    # DataFrame bound to a stopped SparkContext (ADVICE r8)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _AJ_SNAP:
        name = (
            f"annjoin_{os.path.basename(sf_dir.rstrip('/'))}"
            f"_c{_AJ_CENTROIDS}m{_AJ_M}k{_AJ_KSUB}_v2"
        )
        _AJ_SNAP[key] = _write_cell_snapshot(
            spark, name,
            lambda: ivfpq_encode(
                load_table(spark, sf_dir, "embeddings"), cents, books
            ).select("vec_id", "label", "cell", "pq_code"),
        )
    return _AJ_SNAP[key]


def _aj_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic probe expansion (same arithmetic as the
    knn_join_bulk fixture: seed vectors scaled by 1 + rep*0.001, all
    in doubles so the oracle replays it exactly)."""
    emb = load_table(spark, sf_dir, "embeddings")
    reps = spark.range(_AJ_REPS).select(F.col("id").alias("rep"))
    return (
        emb.filter(F.col("vec_id") < _AJ_SEEDS)
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") * _AJ_REPS + F.col("rep")).alias("probe_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x
                * (F.lit(1.0) + F.col("rep").cast("double") * F.lit(0.001)),
            ).alias("probe_vec"),
        )
    )


def _ann_join_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.ann_join import ann_join_topk

    cents, books = _aj_model(spark, sf_dir)
    codes = _aj_codes(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    out = ann_join_topk(
        codes, cents, books, _aj_probes(spark, sf_dir), raw=emb,
        k=_AJ_K, nprobe=_AJ_NPROBE, refine=_AJ_REFINE,
    )
    return out.select(
        "probe_id",
        "vec_id",
        F.round(F.col("dist"), 6).alias("dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _aj_trained_np():
    """(cents, books) retrained in numpy from the sf0.01 fixture via
    the identical md5-ordered sample rule — None when the fixture is
    absent (queries register rows-only)."""
    try:
        import duckdb

        con = duckdb.connect()
        rows = con.execute(
            f"SELECT embedding FROM '{_ORACLE_SF_DIR}/embeddings.parquet' "
            f"ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_AJ_SAMPLE}"
        ).fetchall()
        con.close()
    except Exception:
        return None
    if not rows:
        return None
    from ..operators.similarity import train_ivfpq_np

    sample = np.array([r[0] for r in rows], dtype=np.float64)
    return train_ivfpq_np(
        sample, n_centroids=_AJ_CENTROIDS, m=_AJ_M, ksub=_AJ_KSUB,
        iters=_AJ_ITERS,
    )


def _aj_replay_sql(
    cents,
    books,
    probes_cte: str,
    k: int,
    nprobe: int,
    refine: int,
    base_where: str | None = None,
    norm: bool = False,
    exact_metric: str = "euclidean_sq",
    cte_prefix: str = "",
    cell_where: str | None = None,
    adaptive_esc: tuple[int, int] | None = None,
    imi: tuple | None = None,
    rotation=None,
) -> str:
    """The shared WITH-chain replaying ann_join_topk in DuckDB up to
    the per-probe top-k CTE ``topk(probe_id, vec_id, dist, rank)``.
    Every float sum is a 1-based-range list_sum fold or an explicit
    0.0 + t1 + ... chain — the same IEEE accumulation order as the
    kernel's fold_sq_dists / fold_residual_luts loops. Callers append
    their own final SELECT over ``topk``.

    ``base_where``: SQL predicate over embeddings (vec_id, label, ...)
    replaying ``ann_join_topk(pred=...)``'s filter-then-retrieve —
    filtering commutes with per-row encoding, so filtering the base
    before the encode CTE equals filtering the codes snapshot.
    ``norm``: replay ``metric='cosine'`` — base and probe vectors are
    L2-normalized (x / sqrt(left-fold norm), the exact arithmetic of
    the kernel's fold_norms and Spark's x / l2_norm) for assignment +
    ADC, while the exact re-rank scores ``exact_metric`` on the RAW
    vectors.

    ``cell_where``: SQL predicate over the 1-BASED coarse-cell position
    ``cellp`` (Spark cell id c == cellp c+1), replaying a predicate on
    the codes snapshot's cell column (retired-shard filtering) —
    qualifying rows, live cells and the ADC all see the filtered set.
    ``adaptive_esc``: (esc_nprobe, esc_refine) replaying
    ``ann_join_topk(adaptive=True)`` — per-probe displaced-home
    escalation + qualifying-mass widening, the same two signals as the
    kernel (see plans/ann_join.py), each expressed as window/aggregate
    SQL over the same bit-deterministic fold distances.

    ``rotation``: OPQ rotation matrix replaying
    ``ivfpq_encode(rotation=)`` + ``ann_join_topk(rotation=)`` — base
    and probe residuals are rotated before code assignment / ADC with
    a per-output-coordinate ``list_sum`` fold over input coordinates,
    the exact IEEE order of the kernel's ``fold_matvec``."""
    m, ksub, dsub = books.shape
    # literals hoisted into a ONE-ROW consts CTE (cross-joined where
    # needed): inlining the ~80 KB codebook array inside per-row
    # lambdas makes DuckDB re-evaluate the list constructor per row —
    # the first cut of this oracle did that and ran >9 min; with the
    # CTE the whole replay is seconds
    books_all = "[" + ",".join(_dlst2(books[j].tolist()) for j in range(m)) + "]"
    rng_dim = f"range(1, {DIM + 1})"

    def _rot_fold(src: str) -> str:
        """Rotated-list expression: out[i] = left fold over t of
        rot[i][t] * src[t] — fold_matvec's exact IEEE order."""
        return (
            f"list_transform({rng_dim}, i -> list_sum(list_transform("
            f"{rng_dim}, t -> rot[i][t] * {src}[t])))"
        )
    if imi is not None:
        # two-level (IMI) coarse model: the consts CTE carries the two
        # HALF codebooks; every site that read cents[cell][i] reads the
        # half value instead, and the cell-distance list is the product
        # d1[(p-1)//K2 + 1] + d2[(p-1)%K2 + 1] -- the same two
        # half-folds + single addition as the serving kernel
        # (plans/ann_join.py imi branch), so assignment ties out.
        import numpy as _np

        c1m = _np.asarray(imi[0], dtype=_np.float64)
        c2m = _np.asarray(imi[1], dtype=_np.float64)
        imi_k1, imi_dh = c1m.shape
        imi_k2, imi_dh2 = c2m.shape
        n_cells = imi_k1 * imi_k2
        consts_model = (
            f"{_dlst2(c1m.tolist())} AS cents1, "
            f"{_dlst2(c2m.tolist())} AS cents2"
        )
        if rotation is not None:
            rotm = _np.asarray(rotation, dtype=_np.float64)
            consts_model += f", {_dlst2(rotm.tolist())} AS rot"

        def _cellcent(ce: str) -> str:
            return (
                f"(CASE WHEN i <= {imi_dh} "
                f"THEN cents1[(({ce}) - 1) // {imi_k2} + 1][i] "
                f"ELSE cents2[(({ce}) - 1) % {imi_k2} + 1][i - {imi_dh}] "
                "END)"
            )

        def _imi_dist_cte(name: str, src: str, keys: str, v: str,
                          out: str) -> str:
            return (
                f"{name} AS (\n"
                f"  SELECT {keys},\n"
                f"         list_transform(range(1, {n_cells + 1}),\n"
                f"             p -> dd1[(p - 1) // {imi_k2} + 1] +\n"
                f"                  dd2[(p - 1) % {imi_k2} + 1]) AS {out}\n"
                "  FROM (\n"
                f"    SELECT {keys},\n"
                "           list_transform(cents1, c -> list_sum(list_transform(\n"
                f"               range(1, {imi_dh + 1}),\n"
                f"               i -> ({v}[i] - c[i]) * ({v}[i] - c[i])))) AS dd1,\n"
                "           list_transform(cents2, c -> list_sum(list_transform(\n"
                f"               range(1, {imi_dh2 + 1}),\n"
                f"               i -> ({v}[{imi_dh} + i] - c[i]) *\n"
                f"                    ({v}[{imi_dh} + i] - c[i])))) AS dd2\n"
                f"    FROM {src}, consts\n"
                "  )\n"
                ")"
            )

        res_cell = _cellcent("cellp")
        res_cell_r = _cellcent("r.cellp")
        cdist_cte = _imi_dist_cte("cdist", "base", "vec_id, bv", "bv", "cd")
        pdist_cte = _imi_dist_cte(
            "pdist", "pwork", "probe_id, probe_vec, wv", "wv", "pd"
        )
        if rotation is None:
            assigned_cte = (
                "assigned AS (\n"
                "  SELECT vec_id, cellp,\n"
                f"         list_transform({rng_dim}, i -> bv[i] - {res_cell}) AS rv\n"
                "  FROM (\n"
                "    SELECT vec_id, bv, list_position(cd, list_min(cd)) AS cellp"
                " FROM cdist\n"
                "  ), consts\n"
                ")"
            )
        else:
            # OPQ x IMI: the raw product-cell residual rv0, then the
            # rotation fold (same composition as the serving kernel —
            # rotation lives in the residual space)
            assigned_cte = (
                "assigned AS (\n"
                f"  SELECT vec_id, cellp, {_rot_fold('rv0')} AS rv\n"
                "  FROM (\n"
                "    SELECT vec_id, cellp,\n"
                f"           list_transform({rng_dim}, i -> bv[i] - {res_cell}) AS rv0\n"
                "    FROM (\n"
                "      SELECT vec_id, bv, list_position(cd, list_min(cd)) AS cellp"
                " FROM cdist\n"
                "    ), consts\n"
                "  ), consts\n"
                ")"
            )
    else:
        consts_model = f"{_dlst2(cents.tolist())} AS cents"
        if rotation is not None:
            import numpy as _np

            rotm = _np.asarray(rotation, dtype=_np.float64)
            consts_model += f", {_dlst2(rotm.tolist())} AS rot"
        res_cell = "cents[cellp][i]"
        res_cell_r = "cents[r.cellp][i]"
        cdist_cte = (
            "cdist AS (\n"
            "  SELECT vec_id, bv,\n"
            f"         list_transform(cents, c -> list_sum(list_transform({rng_dim},\n"
            "             i -> (bv[i] - c[i]) * (bv[i] - c[i])))) AS cd\n"
            "  FROM base, consts\n"
            ")"
        )
        pdist_cte = (
            "pdist AS (\n"
            "  SELECT probe_id, probe_vec, wv,\n"
            f"         list_transform(cents, c -> list_sum(list_transform({rng_dim},\n"
            "             i -> (wv[i] - c[i]) * (wv[i] - c[i])))) AS pd\n"
            "  FROM pwork, consts\n"
            ")"
        )
        if rotation is None:
            assigned_cte = (
                "assigned AS (\n"
                "  SELECT vec_id, list_position(cd, list_min(cd)) AS cellp,\n"
                f"         list_transform({rng_dim},\n"
                "             i -> bv[i] - cents[list_position(cd, list_min(cd))][i]) AS rv\n"
                "  FROM cdist, consts\n"
                ")"
            )
        else:
            # OPQ: raw residual rv0 materialized once per row in the
            # inner select, then rotated with the per-coordinate fold
            assigned_cte = (
                "assigned AS (\n"
                f"  SELECT vec_id, cellp, {_rot_fold('rv0')} AS rv\n"
                "  FROM (\n"
                "    SELECT vec_id, list_position(cd, list_min(cd)) AS cellp,\n"
                f"           list_transform({rng_dim},\n"
                "               i -> bv[i] - cents[list_position(cd, list_min(cd))][i]) AS rv0\n"
                "    FROM cdist, consts\n"
                "  ), consts\n"
                ")"
            )
    where = f" WHERE {base_where}" if base_where else ""

    # encoded-space vectors: raw doubles, or L2-normalized doubles
    if norm:
        base_cte = f"""base AS (
  SELECT vec_id, list_transform(v, x -> x / sqrt(nn)) AS bv
  FROM (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           list_sum(list_transform({rng_dim},
               i -> CAST(embedding[i] AS DOUBLE) *
                    CAST(embedding[i] AS DOUBLE))) AS nn
    FROM embeddings{where}
  )
)"""
        pwork_cte = f"""pwork AS (
  SELECT probe_id, probe_vec, list_transform(probe_vec, x -> x / sqrt(pn)) AS wv
  FROM (
    SELECT probe_id, probe_vec,
           list_sum(list_transform({rng_dim},
               i -> probe_vec[i] * probe_vec[i])) AS pn
    FROM probes
  )
)"""
    else:
        base_cte = f"""base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS bv
  FROM embeddings{where}
)"""
        pwork_cte = """pwork AS (
  SELECT probe_id, probe_vec, probe_vec AS wv FROM probes
)"""
    # residual code per subspace (same argmin construction as the
    # ann_ivfpq_refined oracle, index_suite._build_pq_oracle_sqls, but
    # over the precomputed residual vector rv)
    def code(j: int) -> str:
        dj = (
            f"list_transform(bks[{j + 1}], b -> "
            f"list_sum(list_transform(range(1, {dsub + 1}), i -> "
            f"(rv[{j * dsub} + i] - b[i]) * (rv[{j * dsub} + i] - b[i]))))"
        )
        return f"list_position({dj}, list_min({dj}))"

    # per-(probe, code row) ADC term for subspace j: the probe residual
    # prv (computed once per probe-cell pair, mirroring the kernel's
    # R = P - cents) against the row's codebook entry
    def adc_term(j: int) -> str:
        return (
            f"list_sum(list_transform(range(1, {dsub + 1}), i -> "
            f"(p.prv[{j * dsub} + i] - bks[{j + 1}][c.c{j}][i]) * "
            f"(p.prv[{j * dsub} + i] - bks[{j + 1}][c.c{j}][i])))"
        )

    adc = "0.0 + " + " + ".join(adc_term(j) for j in range(m))
    if exact_metric == "cosine":
        dot = (
            f"list_sum(list_transform({rng_dim}, i -> "
            "CAST(e.embedding[i] AS DOUBLE) * x.probe_vec[i]))"
        )
        na = (
            f"list_sum(list_transform({rng_dim}, i -> "
            "CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))"
        )
        nb = (
            f"list_sum(list_transform({rng_dim}, i -> "
            "x.probe_vec[i] * x.probe_vec[i]))"
        )
        exact = f"CAST(1.0 AS DOUBLE) - ({dot}) / (sqrt({na}) * sqrt({nb}))"
    else:
        exact = _dist_sql("e.embedding", "x.probe_vec", exact_metric)

    # qualifying codes: the cell-predicate filters the coded relation
    # (the Spark side filters the codes snapshot on its cell column;
    # cellp here is the SAME deterministic function of the row)
    qual = "codedq" if cell_where else "coded"
    qual_cte = (
        f""", codedq AS (
  SELECT * FROM coded WHERE {cell_where}
)"""
        if cell_where
        else ""
    )
    if rotation is None:
        pcells_head = f"""pcells AS (
  SELECT probe_id, probe_vec, cellp,
         list_transform({rng_dim},
             i -> wv[i] - {res_cell}) AS prv"""
        pcells_tail = ")"
    else:
        pcells_head = f"""pcells AS (
  SELECT probe_id, probe_vec, cellp, {_rot_fold('prv0')} AS prv
  FROM (
  SELECT probe_id, probe_vec, cellp,
         list_transform({rng_dim},
             i -> wv[i] - {res_cell}) AS prv0"""
        pcells_tail = "), consts )"
    if adaptive_esc is None:
        mid = f"""{pcells_head}
  FROM (
    SELECT probe_id, probe_vec, wv, u.i AS cellp,
           row_number() OVER (
             PARTITION BY probe_id ORDER BY pd[u.i], u.i
           ) AS rn
    -- nprobe nearest QUALIFYING cells (cells holding coded rows),
    -- mirroring the kernel's live-cell mask: a geometry-correlated
    -- predicate must not leave probes pointing at emptied cells
    FROM pdist, (SELECT DISTINCT cellp AS i FROM {qual}) u
  ), consts WHERE rn <= {nprobe}
{pcells_tail}, adc AS (
  SELECT p.probe_id, p.probe_vec, c.vec_id, ({adc}) AS adc_dist
  FROM pcells p JOIN {qual} c ON p.cellp = c.cellp, consts
), cand AS (
  SELECT probe_id, probe_vec, vec_id FROM (
    SELECT probe_id, probe_vec, vec_id,
           row_number() OVER (
             PARTITION BY probe_id ORDER BY adc_dist, vec_id
           ) AS crank
    FROM adc
  ) WHERE crank <= {k * refine}
)"""
    else:
        esc_np, esc_rf = adaptive_esc
        if rotation is None:
            adaptive_pcells = f"""pcells AS (
  SELECT r.probe_id, r.probe_vec, r.cellp,
         list_transform({rng_dim},
             i -> r.wv[i] - {res_cell_r}) AS prv
  FROM pranked r JOIN ptake t USING (probe_id), consts
  WHERE r.rn <= t.ntake
)"""
        else:
            adaptive_pcells = f"""pcells AS (
  SELECT probe_id, probe_vec, cellp, {_rot_fold('prv0')} AS prv
  FROM (
    SELECT r.probe_id, r.probe_vec, r.cellp,
           list_transform({rng_dim},
               i -> r.wv[i] - {res_cell_r}) AS prv0
    FROM pranked r JOIN ptake t USING (probe_id), consts
    WHERE r.rn <= t.ntake
  ), consts
)"""
        # per-probe escalation (plans/ann_join.py adaptive=True):
        # pesc  — displaced-home signal: the probe's FIRST-min cell over
        #         ALL centroids (list_position = smallest index on ties,
        #         the kernel's lexsort tie-break) holds no qualifying row
        # pranked/ptake — qualifying-mass widening: the smallest ranked-
        #         cell prefix whose cumulative mass covers the probe's
        #         budget, floored at its (esc_)nprobe, capped at all
        #         live cells (coalesce to max(rn) when mass runs short)
        mid = f"""ccnt AS (
  SELECT cellp, count(*) AS cnt FROM {qual} GROUP BY cellp
), pesc AS (
  SELECT probe_id,
         CASE WHEN list_position(pd, list_min(pd)) IN (SELECT cellp FROM ccnt)
              THEN 0 ELSE 1 END AS esc
  FROM pdist
), pranked AS (
  SELECT d.probe_id, d.probe_vec, d.wv, e.esc, u.cellp,
         row_number() OVER (
           PARTITION BY d.probe_id ORDER BY d.pd[u.cellp], u.cellp
         ) AS rn,
         sum(u.cnt) OVER (
           PARTITION BY d.probe_id ORDER BY d.pd[u.cellp], u.cellp
         ) AS cum
  FROM pdist d JOIN pesc e USING (probe_id), ccnt u
), ptake AS (
  SELECT probe_id,
         greatest(
           max(CASE WHEN esc = 1 THEN {esc_np} ELSE {nprobe} END),
           coalesce(min(CASE WHEN cum >= (CASE WHEN esc = 1
                        THEN {k * esc_rf} ELSE {k * refine} END)
                        THEN rn END), max(rn))
         ) AS ntake
  FROM pranked GROUP BY probe_id
), {adaptive_pcells}, adc AS (
  SELECT p.probe_id, p.probe_vec, c.vec_id, ({adc}) AS adc_dist
  FROM pcells p JOIN {qual} c ON p.cellp = c.cellp, consts
), cand AS (
  SELECT probe_id, probe_vec, vec_id FROM (
    SELECT a.probe_id, a.probe_vec, a.vec_id, e.esc,
           row_number() OVER (
             PARTITION BY a.probe_id ORDER BY a.adc_dist, a.vec_id
           ) AS crank
    FROM adc a JOIN pesc e USING (probe_id)
  ) WHERE crank <= (CASE WHEN esc = 1
                    THEN {k * esc_rf} ELSE {k * refine} END)
)"""
    sql = f"""
WITH consts AS (
  SELECT {consts_model}, {books_all} AS bks
), probes AS ({probes_cte}
), {base_cte}, {pwork_cte}, {cdist_cte}, {assigned_cte}, coded AS (
  SELECT vec_id, cellp,
         {", ".join(f"{code(j)} AS c{j}" for j in range(m))}
  FROM assigned, consts
){qual_cte}, {pdist_cte}, {mid}, refined AS (
  SELECT x.probe_id, x.vec_id, {exact} AS dist
  FROM cand x JOIN embeddings e ON e.vec_id = x.vec_id
), topk AS (
  SELECT probe_id, vec_id, dist, rank FROM (
    SELECT probe_id, vec_id, dist,
           row_number() OVER (PARTITION BY probe_id ORDER BY dist, vec_id) AS rank
    FROM refined
  ) WHERE rank <= {k}
)"""
    if cte_prefix:
        # rename every CTE (word-boundary; none of the names collides
        # with a column/alias in the template — adc_dist/crank/probe_vec
        # carry underscores, so \\b<name>\\b cannot match inside them)
        # so the chain can embed inside ANOTHER oracle's WITH list
        # (the ivfpq tier row of ann_tier_report)
        import re

        for name in ("consts", "probes", "base", "pwork", "cdist",
                     "assigned", "codedq", "coded", "ccnt", "pesc",
                     "pranked", "ptake", "pdist", "pcells", "adc",
                     "cand", "refined", "topk"):
            sql = re.sub(rf"\b{name}\b", f"{cte_prefix}{name}", sql)
        sql = sql.replace("WITH ", "", 1).lstrip("\n")
    return sql


_AJ_PROBES_CTE = f"""
  SELECT vec_id * {_AJ_REPS} + rep AS probe_id,
         list_transform(embedding,
             x -> CAST(x AS DOUBLE) *
                  (CAST(1 AS DOUBLE) + CAST(rep AS DOUBLE) * CAST(0.001 AS DOUBLE))
         ) AS probe_vec
  FROM embeddings, range({_AJ_REPS}) t(rep) WHERE vec_id < {_AJ_SEEDS}"""


def _ann_join_oracle() -> str | None:
    trained = _aj_trained_np()
    if trained is None:
        return None
    cents, books = trained
    body = _aj_replay_sql(
        cents, books, _AJ_PROBES_CTE, k=_AJ_K, nprobe=_AJ_NPROBE,
        refine=_AJ_REFINE,
    )
    return body + """
SELECT probe_id, vec_id, round(dist, 6) AS dist, rank FROM topk
"""


register("ann_join_topk", _ann_join_topk_query, _ann_join_oracle())


# --- ANN tier guard (VERDICT r7 item 2) --------------------------------------
# The r7 baseline MEASURED the 1-bit tier collapsing (0/10 recall) on
# clustered unnormalized vectors but nothing enforced tier choice;
# operators/tiering.py turns the measurement into a guard. This
# registers the guard's report as a driver query with the recall
# columns exact-oracled: both tier rankings, the exact ground truth,
# the overlap counts and the chosen decision all replay in SQL.

_TIER_K = 10
_TIER_CAND = 50
_TIER_PROBES = 8
_TIER_FLOOR = 0.8
_TIER_NPROBE = 2  # the IVF-PQ tier's arbitration operating point


def _ann_tier_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tiering import tier_report

    emb = load_table(spark, sf_dir, "embeddings")
    cents, books = _aj_model(spark, sf_dir)
    codes = _aj_codes(spark, sf_dir)
    return tier_report(
        emb, k=_TIER_K, candidates=_TIER_CAND, n_probes=_TIER_PROBES,
        floor=_TIER_FLOOR, dim=DIM,
        ivfpq=(codes, cents, books, _TIER_NPROBE),
    )


def _ann_tier_oracle() -> str | None:
    trained = _aj_trained_np()
    if trained is None:
        return None
    iq_cents, iq_books = trained
    # the IVF-PQ tier row replays through the shared ann_join chain,
    # CTE-prefixed so it embeds inside this oracle's WITH list; its
    # probe set is the same md5-seeded sample the report uses
    iq_chain = _aj_replay_sql(
        iq_cents, iq_books,
        f"""
  SELECT vec_id AS probe_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS probe_vec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_TIER_PROBES}""",
        k=_TIER_K, nprobe=_TIER_NPROBE, refine=_TIER_CAND // _TIER_K,
        cte_prefix="iq_",
    )
    half = DIM // 2
    denom = float(_TIER_PROBES * _TIER_K)

    def pack(src: str, lo: int, hi: int) -> str:
        return (
            f"CAST(list_sum(list_transform(range({lo}, {hi + 1}), "
            f"i -> CASE WHEN CAST({src}[i] AS DOUBLE) > 0 "
            f"THEN CAST(2**(i-{lo}) AS BIGINT) ELSE 0 END)) AS BIGINT)"
        )

    dist = _dist_sql("e.embedding", "p.pv", "euclidean_sq")
    recon = (
        "(sl.lo[i] + (least(greatest(floor((CAST(e.embedding[i] AS DOUBLE)"
        " - sl.lo[i]) / (sl.hi[i] - sl.lo[i]) * 255.0), 0), 255) + 0.5)"
        " * (sl.hi[i] - sl.lo[i]) / 256.0)"
    )
    adist = (
        f"list_sum(list_transform(range(1, {DIM + 1}), "
        f"i -> ({recon} - CAST(p.pv[i] AS DOUBLE)) * "
        f"({recon} - CAST(p.pv[i] AS DOUBLE))))"
    )
    return f"""
WITH {iq_chain}, probes AS (
  SELECT vec_id AS probe_id, embedding AS pv
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {_TIER_PROBES}
), dd AS (
  SELECT t.i, CAST(t.x AS DOUBLE) AS x FROM embeddings,
  LATERAL (SELECT unnest(embedding) AS x,
                  unnest(range(0, len(embedding))) AS i) t
), s AS (
  SELECT i, min(x) AS lo, max(x) AS hi FROM dd GROUP BY i
), sl AS (
  SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM s
), exact AS (
  SELECT probe_id, vec_id FROM (
    SELECT p.probe_id, e.vec_id,
           row_number() OVER (
             PARTITION BY p.probe_id ORDER BY {dist}, e.vec_id) AS rn
    FROM embeddings e CROSS JOIN probes p
  ) WHERE rn <= {_TIER_K}
), packed AS (
  SELECT vec_id, embedding,
         {pack('embedding', 1, half)} AS w0,
         {pack('embedding', half + 1, DIM)} AS w1
  FROM embeddings
), ppacked AS (
  SELECT probe_id, pv,
         {pack('pv', 1, half)} AS pw0,
         {pack('pv', half + 1, DIM)} AS pw1
  FROM probes
), hcand AS (
  SELECT probe_id, vec_id, embedding, pv FROM (
    SELECT p.probe_id, e.vec_id, e.embedding, p.pv,
           row_number() OVER (PARTITION BY p.probe_id ORDER BY
             CAST(bit_count(xor(e.w0, p.pw0))
                  + bit_count(xor(e.w1, p.pw1)) AS BIGINT),
             e.vec_id) AS rn
    FROM packed e CROSS JOIN ppacked p
  ) WHERE rn <= {_TIER_CAND}
), ham AS (
  SELECT probe_id, vec_id FROM (
    SELECT e.probe_id, e.vec_id,
           row_number() OVER (
             PARTITION BY e.probe_id
             ORDER BY {_dist_sql('e.embedding', 'e.pv', 'euclidean_sq')},
                      e.vec_id) AS rn
    FROM hcand e
  ) WHERE rn <= {_TIER_K}
), scand AS (
  SELECT probe_id, vec_id, embedding, pv FROM (
    SELECT p.probe_id, e.vec_id, e.embedding, p.pv,
           row_number() OVER (
             PARTITION BY p.probe_id ORDER BY {adist}, e.vec_id) AS rn
    FROM embeddings e CROSS JOIN probes p CROSS JOIN sl
  ) WHERE rn <= {_TIER_CAND}
), sq8 AS (
  SELECT probe_id, vec_id FROM (
    SELECT e.probe_id, e.vec_id,
           row_number() OVER (
             PARTITION BY e.probe_id
             ORDER BY {_dist_sql('e.embedding', 'e.pv', 'euclidean_sq')},
                      e.vec_id) AS rn
    FROM scand e
  ) WHERE rn <= {_TIER_K}
), rep AS (
  SELECT 'hamming' AS tier, 0 AS pref, count(*) AS n_overlap,
         round(count(*) / {denom}, 6) AS recall
  FROM ham JOIN exact USING (probe_id, vec_id)
  UNION ALL
  SELECT 'sq8' AS tier, 1 AS pref, count(*) AS n_overlap,
         round(count(*) / {denom}, 6) AS recall
  FROM sq8 JOIN exact USING (probe_id, vec_id)
  UNION ALL
  SELECT 'ivfpq' AS tier, 2 AS pref, count(*) AS n_overlap,
         round(count(*) / {denom}, 6) AS recall
  FROM iq_topk JOIN exact USING (probe_id, vec_id)
), best AS (
  SELECT min(pref) AS b FROM rep WHERE recall >= {_TIER_FLOOR}
)
SELECT tier, CAST(n_overlap AS BIGINT) AS n_overlap, recall,
       coalesce(pref = b, false) AS chosen
FROM rep CROSS JOIN best
"""


register("ann_tier_report", _ann_tier_report_query, _ann_tier_oracle())


# --- IVF drift staleness (VERDICT r7 item 5) ---------------------------------
# The serving-snapshot maintenance metric operators/drift.py adds to
# the ingest loop, registered as a diagnostics query: centroids
# trained on the "deploy-time" slice (vec_id < 400, seeded-uniform
# sample), the train-time p95 nearest-centroid distance taken as an
# exact order statistic, and the report evaluated over "streamed
# inserts" (vec_id >= 400, with the second half deterministically
# drifted by +1.2 per dimension). Everything — training sample rule,
# the integer-ppm rank, the distance folds, the strict-> comparison,
# the trigger boolean — replays exactly in SQL.

_DR_SPLIT = 400
_DR_DRIFT_FROM = 450
_DR_SHIFT = 1.2
_DR_CENTROIDS = 8
_DR_Q = 0.95
_DR_LIMIT = 0.3

_DR_MEMO: dict[str, tuple] = {}


def _drift_parts(spark: SparkSession, sf_dir: str):
    from ..operators.similarity import train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < _DR_SPLIT)
    new = emb.filter(F.col("vec_id") >= _DR_SPLIT).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.when(
                F.col("vec_id") >= _DR_DRIFT_FROM, x + F.lit(_DR_SHIFT)
            ).otherwise(x),
        ).alias("embedding"),
    )
    if sf_dir not in _DR_MEMO:
        _DR_MEMO[sf_dir] = train_centroids(
            old, n_centroids=_DR_CENTROIDS, iters=5, sample_rows=2048,
            sample_id_col="vec_id",
        )
    return old, new, _DR_MEMO[sf_dir]


def _ann_ivf_staleness_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import staleness_report, staleness_threshold

    old, new, cents = _drift_parts(spark, sf_dir)
    thr = staleness_threshold(old, cents, q=_DR_Q)
    return staleness_report(new, cents, thr, stale_limit=_DR_LIMIT)


def _ann_ivf_staleness_oracle() -> str | None:
    try:
        import duckdb

        con = duckdb.connect()
        rows = con.execute(
            f"SELECT embedding FROM '{_ORACLE_SF_DIR}/embeddings.parquet' "
            f"WHERE vec_id < {_DR_SPLIT} "
            "ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 2048"
        ).fetchall()
        con.close()
    except Exception:
        return None
    if not rows:
        return None
    from ..operators.similarity import train_centroids_np

    sample = np.array([r[0] for r in rows], dtype=np.float64)
    cents = train_centroids_np(sample, _DR_CENTROIDS, iters=5, seed=42)
    cents_sql = _dlst2(cents.tolist())
    rng = f"range(1, {DIM + 1})"
    q_ppm = round(_DR_Q * 1_000_000)
    mindist = (
        f"list_min(list_transform(cents, c -> list_sum(list_transform({rng}, "
        f"i -> (v[i] - c[i]) * (v[i] - c[i])))))"
    )
    return f"""
WITH consts AS (SELECT {cents_sql} AS cents),
old_d AS (
  SELECT {mindist} AS d FROM (
    SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id < {_DR_SPLIT}
  ), consts
), ranked AS (
  SELECT d, row_number() OVER (ORDER BY d) AS rn,
         count(*) OVER () AS n
  FROM old_d
), thr AS (
  SELECT max(d) AS t FROM ranked
  WHERE rn <= greatest(1, least(n, (n * {q_ppm} + 999999) // 1000000))
), new_d AS (
  SELECT {mindist} AS d FROM (
    SELECT CASE WHEN vec_id >= {_DR_DRIFT_FROM}
                THEN list_transform(embedding, x -> CAST(x AS DOUBLE) + {_DR_SHIFT})
                ELSE list_transform(embedding, x -> CAST(x AS DOUBLE))
           END AS v
    FROM embeddings WHERE vec_id >= {_DR_SPLIT}
  ), consts
)
SELECT CAST(count(*) AS BIGINT) AS n_new,
       CAST(coalesce(sum(CASE WHEN d > thr.t THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_stale,
       round(coalesce(sum(CASE WHEN d > thr.t THEN 1 ELSE 0 END), 0)
             / greatest(count(*), 1), 6) AS stale_frac,
       coalesce(sum(CASE WHEN d > thr.t THEN 1 ELSE 0 END), 0)
         / greatest(count(*), 1) > {_DR_LIMIT} AS retrain_needed
FROM new_d CROSS JOIN thr
"""


register(
    "ann_ivf_staleness", _ann_ivf_staleness_query, _ann_ivf_staleness_oracle()
)


# --- semantic dedup through the ANN tier --------------------------------------
# The flagship 100 TB dedup shape: the corpus probes ITSELF through
# the IVF-PQ index — each row retrieves its k approximate nearest
# neighbors and pairs within the distance threshold are emitted, so
# the work is |corpus| x (nprobe/ncells x |codes| ADC + k*refine exact
# distances) instead of the within-cell quadratic self-join the exact
# baseline (`dedup_semantic_pairs`) runs. Approximate in the standard
# SemDeDup sense (pairs beyond each row's k-NN or outside its probed
# cells are missed — recall vs the brute within-threshold pair set is
# pytest-pinned in tests/test_ann_join.py); DETERMINISTIC, so the
# oracle replays the entire pipeline exactly. Pair symmetry: squared
# euclidean is direction-exact ((x-y)^2 == (y-x)^2 in IEEE), so the
# (least, greatest) projection + DISTINCT collapses both directions of
# every pair to one row on both engines.

_SD_K = 8
_SD_TAU = 1.35
_SD_FLOOR = 0.9  # PAIR-recall floor the operating point must clear


def _sd_operating_point() -> tuple[int, int]:
    """(nprobe, refine) for the semantic-ANN dedup, resolved from the
    RECORDED fixture frontier (FRONTIER_sf001.json, written by
    tools/fixture_frontier.py) via ann_operating_point — the measured
    table lookup replacing hard-coded knobs (VERDICT r8 item 7). The
    recorded frontier at sf0.01: pair recall 0.36 at (1,2), 0.66 at
    (2,2), 0.9163 at (4,4), 0.9922 at (8,4) — the floor picks the
    cheapest point at or above 0.9. Falls back to (4, 4) (the r8
    working point) when no recording exists."""
    from ..operators.tiering import fixture_operating_point

    return fixture_operating_point(
        _repo_file("FRONTIER_sf001.json"), _SD_FLOOR, (4, 4)
    )


def _repo_file(name: str) -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), name)


_SD_NPROBE, _SD_REFINE = _sd_operating_point()


def _dedup_semantic_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.ann_join import ann_join_topk

    cents, books = _aj_model(spark, sf_dir)
    codes = _aj_codes(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    nn = ann_join_topk(
        codes, cents, books, probes, raw=emb,
        k=_SD_K, nprobe=_SD_NPROBE, refine=_SD_REFINE,
    )
    return (
        nn.filter(
            (F.col("vec_id") != F.col("probe_id"))
            & (F.col("dist") <= F.lit(_SD_TAU))
        )
        .select(
            F.least("probe_id", "vec_id").alias("id1"),
            F.greatest("probe_id", "vec_id").alias("id2"),
            F.round("dist", 6).alias("dist"),
        )
        .distinct()
    )


def _dedup_semantic_ann_oracle() -> str | None:
    trained = _aj_trained_np()
    if trained is None:
        return None
    cents, books = trained
    probes_cte = """
  SELECT vec_id AS probe_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS probe_vec
  FROM embeddings"""
    body = _aj_replay_sql(
        cents, books, probes_cte, k=_SD_K, nprobe=_SD_NPROBE,
        refine=_SD_REFINE,
    )
    return body + f"""
SELECT DISTINCT least(probe_id, vec_id) AS id1,
       greatest(probe_id, vec_id) AS id2,
       round(dist, 6) AS dist
FROM topk WHERE vec_id != probe_id AND dist <= {_SD_TAU}
"""


register("dedup_semantic_ann", _dedup_semantic_ann, _dedup_semantic_ann_oracle())
