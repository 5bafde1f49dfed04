"""Grid-index queries: cell assignment (oracle-checked against the
same quantization arithmetic in SQL) and index-pruned exact kNN
(oracle = brute-force SQL, since pruning never changes results)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.grid_index import GridIndex, build_index, knn_indexed
from ..probes import DIM, probe_vector
from ..sources import load_table
from . import register
from .knn_suite import _knn_oracle

# embeddings fixture geometry: values in ~[-0.45, 0.49]
_LOWER = [-0.5] * DIM
_UPPER = [0.5] * DIM
_INDEX = GridIndex(_LOWER, _UPPER, num_splits=2, depth=6)
_PROBE = probe_vector(seed=11)


def _cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = build_index(emb, _INDEX)
    return assigned.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))


def _cell_sql() -> str:
    # same quantization as GridIndex.cell_expr: one level per dim,
    # digit = clamp(floor((x - lo) / (hi - lo) * bins), 0, bins-1)
    bins = _INDEX.bins
    terms = []
    for level in range(_INDEX.depth):
        lo, hi = _LOWER[level], _UPPER[level]
        digit = (
            f"least(greatest(CAST(floor((CAST(embedding[{level + 1}] AS DOUBLE)"
            f" - {lo}) / {hi - lo} * {bins}) AS BIGINT), 0), {bins - 1})"
        )
        terms.append(f"{digit} * {bins ** (_INDEX.depth - 1 - level)}")
    return " + ".join(terms)


register(
    "grid_index_cell_stats",
    _cell_stats,
    f"""
SELECT ({_cell_sql()}) AS cell_id, count(*) AS n
FROM embeddings GROUP BY 1
""",
)


# Indexed-snapshot memo: the index BUILD step (grid_index.py module
# docstring) writes the table parquet-partitioned by cell_id, so the
# serving scan reads a physical partition column — the IN-list of
# candidate cells becomes file-level partition pruning and the depth-6
# quantization expression never appears in a serving plan. The fixture
# dirs are read-only, so a snapshot is immutable per sf_dir; the
# per-cell counts (index metadata) ship with it.
_SNAPSHOT_MEMO: dict[str, tuple[str, dict[int, int]]] = {}
# the loaded DataFrame is memoized per live session too: re-reading a
# cell-partitioned dir re-lists every partition directory, a fixed
# per-call cost the serving path shouldn't pay twice
_SNAPSHOT_DF_MEMO: dict[tuple[int, str], DataFrame] = {}


def _indexed_snapshot(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict[int, int]]:
    import os
    import shutil
    import tempfile

    from ..plans.grid_index import index_stats

    if sf_dir not in _SNAPSHOT_MEMO:
        root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), ".index_snapshots")
        os.makedirs(root, exist_ok=True)
        # v2 layout: repartition("cell_id") before the partitioned write
        # -> ONE file per cell instead of one per (cell, write task).
        # The r5->r6 profile measured the old 10-files-per-cell layout
        # costing ~5x the flat scan on the futility-fallback brute path
        # (1690 tiny files at sf1) — the classic small-file problem;
        # compacting the snapshot is the fix, at any scale.
        name = f"emb_{os.path.basename(sf_dir.rstrip('/'))}_d{_INDEX.depth}_v2"
        path = os.path.join(root, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            emb = load_table(spark, sf_dir, "embeddings")
            tmp = tempfile.mkdtemp(dir=root, prefix=name + ".tmp")
            build_index(emb, _INDEX).repartition("cell_id").write.mode(
                "overwrite"
            ).partitionBy("cell_id").parquet(tmp)
            # atomic publish so a concurrent reader never sees a partial dir
            try:
                os.rename(tmp, path)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # another process won
        snap = spark.read.parquet(path).withColumn(
            "cell_id", F.col("cell_id").cast("long")
        )
        _SNAPSHOT_MEMO[sf_dir] = (path, index_stats(snap))
    path, stats = _SNAPSHOT_MEMO[sf_dir]
    df_key = (id(spark), sf_dir)
    if df_key not in _SNAPSHOT_DF_MEMO:
        _SNAPSHOT_DF_MEMO[df_key] = spark.read.parquet(path).withColumn(
            "cell_id", F.col("cell_id").cast("long")
        )
    return _SNAPSHOT_DF_MEMO[df_key], stats


def _knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap, stats = _indexed_snapshot(spark, sf_dir)
    out = knn_indexed(snap, _INDEX, _PROBE, k=10, stats=stats)
    return out.select("vec_id", "label", F.round(F.col("dist"), 6).alias("dist"))


# exact pruning -> identical to brute force; reuse the brute-force oracle
register("knn_grid_indexed", _knn_grid, _knn_oracle("euclidean_sq", _PROBE))


def _knn_chebyshev_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-infinity kNN served through the grid index — completes the
    prune-every-metric parity with the reference (every metric class,
    distance_metric.py:95-104, prunes via kd_tree_database.py:180):
    chebyshev has closed-form box bounds (lower = max per-dim gap,
    upper = max per-dim farthest corner) in GridIndex.lower/
    upper_bound_dists, so the candidate-cell cut is exact and the
    result equals the brute scan (same oracle as knn_chebyshev)."""
    snap, stats = _indexed_snapshot(spark, sf_dir)
    out = knn_indexed(snap, _INDEX, _PROBE, k=10, metric="chebyshev", stats=stats)
    return out.select("vec_id", "label", F.round(F.col("dist"), 6).alias("dist"))


register(
    "knn_chebyshev_indexed",
    _knn_chebyshev_indexed,
    _knn_oracle("chebyshev", _PROBE),
)


def warm_index(spark: SparkSession, sf_dir: str) -> None:
    """Run the index *build + deploy* step: write (or reuse) the
    cell-partitioned snapshot, load its per-cell counts, and execute
    the serving query once to JIT-compile its codegen template (probe
    literals are unrolled into the generated code, so the compile is
    per-template — a deployment warms it exactly once). The bench
    calls this from its warmup, mirroring how it warms the brute-force
    kNN template, so the timed `knn_grid_indexed` measures steady-state
    serving."""
    _indexed_snapshot(spark, sf_dir)
    _knn_grid(spark, sf_dir).collect()


# --- product quantization (ANN tier; rows-only: k-means codebooks are
# not SQL-expressible, correctness is pytest recall/argmin/parity) ----------

_PQ_MEMO: dict[str, object] = {}


def _ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_encode, pq_search, train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    if sf_dir not in _PQ_MEMO:
        _PQ_MEMO[sf_dir] = train_pq_codebooks(
            emb, m=8, ksub=16, iters=4, sample_id_col="vec_id"
        )
    books = _PQ_MEMO[sf_dir]
    # arrow = the bulk index-build path (batched matmul); the serving
    # expressions (ADC + refine) downstream stay pure codegen
    encoded = pq_encode(emb, books, method="arrow")
    out = pq_search(encoded, books, _PROBE, k=10, refine=4)
    return out.select("vec_id", "label", F.round(F.col("dist"), 6).alias("dist"))


# --- exact DuckDB oracles for the PQ family ---------------------------------
#
# The codebooks are deterministic: seeded Lloyd on a seeded-UNIFORM
# sample (rows ordered by md5 of the id — similarity._training_sample;
# VERDICT r6 item 2). The oracle retrains the SAME codebooks from the
# same rows fetched via DuckDB with the same rule, then bakes the whole
# encode -> ADC -> refine pipeline into SQL literals: per-row code
# assignment as argmin over codebook literals, ADC as baked LUT sums
# (the very same numpy values Spark bakes into its plan), candidate
# cut and exact re-rank as ORDER BY ... LIMIT. Training reads the
# sf0.01 fixture because the driver differential runs at sf0.01; if
# that fixture is absent the queries register rows-only as before.

_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _dlst(v) -> str:
    return "[" + ",".join(repr(float(x)) for x in v) + "]"


def _dlst2(vv) -> str:
    return "[" + ",".join(_dlst(v) for v in vv) + "]"


def _exact_dist_sql(probe) -> str:
    p = _dlst(list(probe))
    return (
        f"list_sum(list_transform(range(1, {len(list(probe)) + 1}), i -> "
        f"(CAST(embedding[i] AS DOUBLE) - ({p})[i]) * "
        f"(CAST(embedding[i] AS DOUBLE) - ({p})[i])))"
    )


def _build_pq_oracle_sqls() -> tuple[str | None, str | None]:
    import numpy as np

    from ..operators.similarity import train_ivfpq_np, train_pq_codebooks_np

    try:
        import duckdb

        con = duckdb.connect()
        # the seeded-uniform sampling rule (similarity._training_sample):
        # ORDER BY md5(id-as-string) is the same deterministic
        # pseudo-random permutation Spark's TakeOrdered computes, so
        # the oracle retrains from the identical sample rows in the
        # identical order.
        rows = con.execute(
            f"SELECT embedding FROM '{_ORACLE_SF_DIR}/embeddings.parquet' "
            "ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8192"
        ).fetchall()
        con.close()
    except Exception:  # fixture absent: keep rows-only checks
        return None, None
    if not rows:
        return None, None
    sample = np.array([r[0] for r in rows], dtype=np.float64)
    probe = np.asarray(_PROBE, dtype=np.float64)
    dim = sample.shape[1]

    # ---- plain PQ (ann_pq_refined): m=8, ksub=16, iters=4, k=10, refine=4
    books = train_pq_codebooks_np(sample[:2048], m=8, ksub=16, iters=4)
    m, ksub, dsub = books.shape
    books_sql = [_dlst2(books[j].tolist()) for j in range(m)]
    luts = [
        (((books[j] - probe[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(axis=1))
        .tolist()
        for j in range(m)
    ]
    lut_sql = _dlst2(luts)

    def pq_code(j: int) -> str:
        sub = lambda i: f"CAST(embedding[{j * dsub} + {i}] AS DOUBLE)"  # noqa: E731
        dj = (
            f"list_transform({books_sql[j]}, b -> "
            f"list_sum(list_transform(range(1, {dsub + 1}), i -> "
            f"({sub('i')} - b[i]) * ({sub('i')} - b[i]))))"
        )
        return f"list_position({dj}, list_min({dj}))"

    adc = " + ".join(f"({lut_sql})[{j + 1}][c{j}]" for j in range(m))
    exact = _exact_dist_sql(probe)
    pq_sql = f"""
WITH coded AS (
  SELECT vec_id, label, embedding,
         {", ".join(f"{pq_code(j)} AS c{j}" for j in range(m))}
  FROM embeddings
), scored AS (
  SELECT vec_id, label, embedding, (0.0 + {adc}) AS adc_dist FROM coded
), cand AS (
  SELECT * FROM scored ORDER BY adc_dist, vec_id LIMIT 40
)
SELECT vec_id, label, round({exact}, 6) AS dist
FROM cand ORDER BY {exact}, vec_id LIMIT 10
"""

    # ---- residual IVF-PQ (ann_ivfpq_refined): 8 cells, m=8, ksub=16,
    # iters=3, k=10, nprobe=8, refine=8
    cents, rbooks = train_ivfpq_np(sample, n_centroids=8, m=8, ksub=16, iters=3)
    m, ksub, dsub = rbooks.shape
    cents_sql = _dlst2(cents.tolist())
    rbooks_sql = [_dlst2(rbooks[j].tolist()) for j in range(m)]
    order = np.argsort(((cents - probe) ** 2).sum(axis=1))
    cells = [int(c) for c in order[:8]]
    cell_luts: dict[int, list] = {}
    for cell in cells:
        r = probe - cents[cell]
        cell_luts[cell] = [
            (((rbooks[j] - r[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(axis=1))
            .tolist()
            for j in range(m)
        ]
    lut_by_cell = [
        cell_luts.get(c, [[0.0] * ksub] * m) for c in range(len(cents))
    ]
    ivf_lut_sql = "[" + ",".join(_dlst2(cj) for cj in lut_by_cell) + "]"

    def ivf_code(j: int) -> str:
        resi = (
            lambda i: f"(CAST(embedding[{j * dsub} + {i}] AS DOUBLE) - "  # noqa: E731
            f"({cents_sql})[cellp][{j * dsub} + {i}])"
        )
        dj = (
            f"list_transform({rbooks_sql[j]}, b -> "
            f"list_sum(list_transform(range(1, {dsub + 1}), i -> "
            f"({resi('i')} - b[i]) * ({resi('i')} - b[i]))))"
        )
        return f"list_position({dj}, list_min({dj}))"

    ivf_adc = " + ".join(
        f"({ivf_lut_sql})[cellp][{j + 1}][c{j}]" for j in range(m)
    )
    ivfpq_sql = f"""
WITH cdist AS (
  SELECT vec_id, label, embedding,
         list_transform({cents_sql}, c -> list_sum(list_transform(range(1, {dim + 1}),
             i -> (CAST(embedding[i] AS DOUBLE) - c[i]) *
                  (CAST(embedding[i] AS DOUBLE) - c[i])))) AS cd
  FROM embeddings
), assigned AS (
  SELECT vec_id, label, embedding, list_position(cd, list_min(cd)) AS cellp
  FROM cdist
), coded AS (
  SELECT vec_id, label, embedding, cellp,
         {", ".join(f"{ivf_code(j)} AS c{j}" for j in range(m))}
  FROM assigned
), scored AS (
  SELECT vec_id, label, embedding, (0.0 + {ivf_adc}) AS adc_dist FROM coded
), cand AS (
  SELECT * FROM scored ORDER BY adc_dist, vec_id LIMIT 80
)
SELECT vec_id, label, round({exact}, 6) AS dist
FROM cand ORDER BY {exact}, vec_id LIMIT 10
"""
    return pq_sql, ivfpq_sql


_PQ_ORACLE, _IVFPQ_ORACLE = _build_pq_oracle_sqls()

register("ann_pq_refined", _ann_pq, _PQ_ORACLE)


# --- batched kNN-join through the grid index (exact -> same oracle as
# the brute-force join) ------------------------------------------------------

def _knn_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.bulk_knn import knn_join_bulk

    assigned, stats = _indexed_snapshot(spark, sf_dir)
    probes = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    out = knn_join_bulk(assigned, _INDEX, probes, k=3, stats=stats)
    return out.select(
        "probe_id",
        "vec_id",
        F.round(F.col("dist"), 6).alias("dist"),
        F.col("rank").cast("long").alias("rank"),
    )


from .knn_suite import _KNN_JOIN_ORACLE  # noqa: E402

register("knn_join_grid_indexed", _knn_join_grid, _KNN_JOIN_ORACLE)


# --- fully distributed batched kNN-join at real probe scale -----------------
# VERDICT r6 item 4: the no-driver-materialization contract (plans/
# bulk_knn) oracle-checked at >=10^4 probes, not just pytest-pinned.
# Probes are a deterministic 25x expansion of the first 400 base
# vectors (10,000 probes); the same expansion arithmetic (all-double)
# runs in the DuckDB oracle, and the brute per-probe top-k over the
# full cross product is the oracle answer. The Spark plan derives
# candidate cells in mapInPandas (O(cells) closures), semi-join-prunes
# the base, and scores via cogrouped matmul — no probe vector ever
# reaches the driver.

_BULK_REPS = 25
_BULK_SEEDS = 400
_BULK_K = 2


def _knn_join_bulk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.bulk_knn import knn_join_bulk

    assigned, stats = _indexed_snapshot(spark, sf_dir)
    reps = spark.range(_BULK_REPS).select(F.col("id").alias("rep"))
    probes = (
        assigned.filter(F.col("vec_id") < _BULK_SEEDS)
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") * _BULK_REPS + F.col("rep")).alias("probe_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x
                * (F.lit(1.0) + F.col("rep").cast("double") * F.lit(0.001)),
            ).alias("probe_vec"),
        )
    )
    # futility fallback disabled: this query deliberately pins the
    # cogrouped-matmul machinery (candidate derivation, 2-D salting,
    # validation) under an exact oracle; the adaptive routing itself is
    # covered by test_bulk_knn and the probe sweep. (The dim-64
    # fixture's depth-6 grid barely prunes, which would otherwise
    # route this to the block join.)
    out = knn_join_bulk(
        assigned, _INDEX, probes, k=_BULK_K, stats=stats, futility_ratio=1.01
    )
    return out.select(
        "probe_id",
        "vec_id",
        F.round(F.col("dist"), 6).alias("dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _bulk_oracle() -> str:
    from .knn_suite import _dist_sql

    return f"""
WITH probes AS (
  SELECT vec_id * {_BULK_REPS} + rep AS probe_id,
         list_transform(embedding,
             x -> CAST(x AS DOUBLE) *
                  (CAST(1 AS DOUBLE) + CAST(rep AS DOUBLE) * CAST(0.001 AS DOUBLE))
         ) AS probe_vec
  FROM embeddings, range({_BULK_REPS}) t(rep) WHERE vec_id < {_BULK_SEEDS}
), scored AS (
  SELECT p.probe_id, e.vec_id,
         {_dist_sql('e.embedding', 'p.probe_vec', 'euclidean_sq')} AS dist
  FROM embeddings e CROSS JOIN probes p
)
SELECT probe_id, vec_id, round(dist, 6) AS dist, rank FROM (
  SELECT probe_id, vec_id, dist,
         row_number() OVER (PARTITION BY probe_id ORDER BY dist, vec_id) AS rank
  FROM scored
) WHERE rank <= {_BULK_K}
"""


register("knn_join_bulk", _knn_join_bulk_query, _bulk_oracle())


# --- distributed batched COSINE kNN-join (embedding-retrieval shape) --------

_BULKC_REPS = 5
_BULKC_SEEDS = 400
_BULKC_K = 2


def _knn_join_bulk_cosine_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched cosine kNN-join over the NORMALIZED cell-partitioned
    snapshot (plans/bulk_knn.knn_join_bulk_cosine): 2,000 probes,
    candidates pruned by the euclidean index on unit vectors, exact
    cosine on raw vectors decides — values match the brute cosine
    oracle bit-for-bit, no probe vector on the driver."""
    from ..plans.bulk_knn import knn_join_bulk_cosine

    assigned, stats = _cosine_snapshot(spark, sf_dir)
    reps = spark.range(_BULKC_REPS).select(F.col("id").alias("rep"))
    probes = (
        assigned.filter(F.col("vec_id") < _BULKC_SEEDS)
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") * _BULKC_REPS + F.col("rep")).alias("probe_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x
                * (F.lit(1.0) + F.col("rep").cast("double") * F.lit(0.001)),
            ).alias("probe_vec"),
        )
    )
    # futility_ratio=1.01: pin the cogroup path (see knn_join_bulk)
    out = knn_join_bulk_cosine(
        assigned, _COS_INDEX, probes, k=_BULKC_K, stats=stats,
        futility_ratio=1.01,
    )
    # + 0.0 canonicalizes IEEE negative zero: a probe and its scaled
    # copy have cos_dist ~ +-1e-16, and round() keeps the sign, so one
    # engine would emit -0.0 and the other 0.0 for the same pair
    return out.select(
        "probe_id",
        "vec_id",
        (F.round(F.col("cos_dist"), 6) + F.lit(0.0)).alias("cos_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _bulk_cosine_oracle() -> str:
    x = "CAST(e.embedding[i] AS DOUBLE)"
    p = "p.probe_vec[i]"
    rng = f"range(1, {DIM + 1})"
    dot = f"list_sum(list_transform({rng}, i -> {x} * {p}))"
    na = f"sqrt(list_sum(list_transform({rng}, i -> {x} * {x})))"
    nb = f"sqrt(list_sum(list_transform({rng}, i -> {p} * {p})))"
    return f"""
WITH probes AS (
  SELECT vec_id * {_BULKC_REPS} + rep AS probe_id,
         list_transform(embedding,
             x -> CAST(x AS DOUBLE) *
                  (CAST(1 AS DOUBLE) + CAST(rep AS DOUBLE) * CAST(0.001 AS DOUBLE))
         ) AS probe_vec
  FROM embeddings, range({_BULKC_REPS}) t(rep) WHERE vec_id < {_BULKC_SEEDS}
), scored AS (
  SELECT p.probe_id, e.vec_id,
         1.0 - ({dot}) / (({na}) * ({nb})) AS cos_dist
  FROM embeddings e CROSS JOIN probes p
)
SELECT probe_id, vec_id,
       round(cos_dist, 6) + CAST(0 AS DOUBLE) AS cos_dist, rank FROM (
  SELECT probe_id, vec_id, cos_dist,
         row_number() OVER (PARTITION BY probe_id ORDER BY cos_dist, vec_id) AS rank
  FROM scored
) WHERE rank <= {_BULKC_K}
"""


register(
    "knn_join_bulk_cosine", _knn_join_bulk_cosine_query, _bulk_cosine_oracle()
)


# --- residual IVF-PQ (rows-only like ann_pq_refined) ------------------------

_IVFPQ_MEMO: dict[str, object] = {}
_IVFPQ_SNAP: dict[str, DataFrame] = {}


def _ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Served from the PERSISTED code snapshot: the Arrow bulk encode
    (the index BUILD) runs once per sf_dir and lands cell-partitioned
    on disk — exactly the layout ivfpq_encode's docstring prescribes —
    so the serving query reads a few small code files per probe
    (nprobe cells x one file) instead of re-encoding the table per
    call (the sf3 sweep measured rebuild-per-call at 27s; warm serving
    is sub-second)."""
    import os
    import shutil
    import tempfile

    from ..operators.similarity import ivfpq_encode, ivfpq_search, train_ivfpq

    emb = load_table(spark, sf_dir, "embeddings")
    if sf_dir not in _IVFPQ_MEMO:
        _IVFPQ_MEMO[sf_dir] = train_ivfpq(
            emb, n_centroids=8, m=8, ksub=16, iters=3, sample_id_col="vec_id"
        )
    cents, books = _IVFPQ_MEMO[sf_dir]
    key = (id(spark), sf_dir)
    if key not in _IVFPQ_SNAP:
        root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), ".index_snapshots")
        os.makedirs(root, exist_ok=True)
        name = f"ivfpq_{os.path.basename(sf_dir.rstrip('/'))}_c8m8k16_v2"
        path = os.path.join(root, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            tmp = tempfile.mkdtemp(dir=root, prefix=name + ".tmp")
            ivfpq_encode(emb, cents, books).repartition("cell").write.mode(
                "overwrite"
            ).partitionBy("cell").parquet(tmp)
            try:
                os.rename(tmp, path)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
        _IVFPQ_SNAP[key] = spark.read.parquet(path).withColumn(
            "cell", F.col("cell").cast("int")
        )
    encoded = _IVFPQ_SNAP[key]
    out = ivfpq_search(
        encoded, cents, books, _PROBE, k=10, nprobe=8, refine=8, raw=emb
    )
    return out.select("vec_id", "label", F.round(F.col("dist"), 6).alias("dist"))


register("ann_ivfpq_refined", _ann_ivfpq, _IVFPQ_ORACLE)


# --- custom metric WITH cell bounds (reference #14: the scipy
# point2plane blackbox lets any metric prune, distance_metric.py:7-19;
# here the registered cell_bounds callable plays that role). Exact ->
# same brute-force oracle shape as every other knn query. -----------------

_W_L1 = [round(1.0 + (i % 4) * 0.5, 1) for i in range(DIM)]


def _weighted_l1_builder(a, b):
    from ..functions.distance import _as_double, _coerce, _fold_sum, vec_lit

    a, b = _as_double(a), _coerce(b)
    diff = F.zip_with(a, b, lambda x, y: F.abs(x - y))
    return _fold_sum(F.zip_with(diff, vec_lit(_W_L1), lambda d, w: d * w))


def _weighted_l1_cell_bounds(p, lo, hi):
    import numpy as np

    w = np.asarray(_W_L1, dtype=np.float64)
    gaps = np.maximum(0.0, np.maximum(lo - p, p - hi))
    far = np.maximum(np.abs(lo - p), np.abs(hi - p))
    return (gaps * w).sum(axis=1), (far * w).sum(axis=1)


def _register_weighted_l1() -> None:
    from ..functions.distance import METRICS, register_metric

    if "weighted_l1" not in METRICS:
        register_metric(
            "weighted_l1", _weighted_l1_builder,
            cell_bounds=_weighted_l1_cell_bounds,
        )


def _knn_weighted_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_weighted_l1()
    snap, stats = _indexed_snapshot(spark, sf_dir)
    out = knn_indexed(snap, _INDEX, _PROBE, k=10, metric="weighted_l1", stats=stats)
    return out.select("vec_id", "label", F.round(F.col("dist"), 6).alias("dist"))


def _weighted_l1_oracle() -> str:
    from ..probes import sql_array

    w = sql_array([float(x) for x in _W_L1])
    x = "CAST(embedding[i] AS DOUBLE)"
    p = "CAST(p[i] AS DOUBLE)"
    dist = (
        f"list_sum(list_transform(range(1, {DIM + 1}), "
        f"i -> abs({x} - {p}) * ({w})[i]))"
    )
    return f"""
WITH probe AS (SELECT {sql_array(_PROBE)} AS p)
SELECT vec_id, label, round(dist, 6) AS dist FROM (
  SELECT vec_id, label, {dist} AS dist
  FROM embeddings CROSS JOIN probe
) ORDER BY dist, vec_id LIMIT 10
"""


register("knn_weighted_l1_indexed", _knn_weighted_l1, _weighted_l1_oracle())


# --- cosine kNN through the index (normalize-then-euclidean) ---------------

_COS_INDEX = GridIndex([-1.0] * DIM, [1.0] * DIM, num_splits=2, depth=6)
_COS_MEMO: dict[str, tuple[str, dict[int, int]]] = {}
_COS_DF_MEMO: dict[tuple[int, str], DataFrame] = {}


def _cosine_snapshot(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict[int, int]]:
    """Build-once-serve-many for the NORMALIZED index: the L2-normalized
    vectors and their cell assignment are written cell-partitioned to
    disk exactly like the euclidean snapshot (one file per cell), so a
    cosine serving query reads pruned partitions instead of
    re-normalizing and re-assigning the whole table per call (the sf3
    sweep measured the rebuild-per-query form at 36s; the index BUILD
    belongs in the deploy step, not the query)."""
    import os
    import shutil
    import tempfile

    from ..functions.distance import l2_norm
    from ..plans.grid_index import index_stats

    if sf_dir not in _COS_MEMO:
        root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), ".index_snapshots")
        os.makedirs(root, exist_ok=True)
        name = f"cos_{os.path.basename(sf_dir.rstrip('/'))}_d{_COS_INDEX.depth}_v2"
        path = os.path.join(root, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            emb = load_table(spark, sf_dir, "embeddings")
            v = F.col("embedding").cast("array<double>")
            nrm = l2_norm("embedding")
            normalized = emb.withColumn("__nv", F.transform(v, lambda x: x / nrm))
            tmp = tempfile.mkdtemp(dir=root, prefix=name + ".tmp")
            build_index(normalized, _COS_INDEX, vec_col="__nv").repartition(
                "cell_id"
            ).write.mode("overwrite").partitionBy("cell_id").parquet(tmp)
            try:
                os.rename(tmp, path)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
        snap = spark.read.parquet(path).withColumn(
            "cell_id", F.col("cell_id").cast("long")
        )
        _COS_MEMO[sf_dir] = (path, index_stats(snap))
    path, stats = _COS_MEMO[sf_dir]
    df_key = (id(spark), sf_dir)
    if df_key not in _COS_DF_MEMO:
        _COS_DF_MEMO[df_key] = spark.read.parquet(path).withColumn(
            "cell_id", F.col("cell_id").cast("long")
        )
    return _COS_DF_MEMO[df_key], stats


def _knn_cosine_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine kNN served by the grid index: on L2-normalized vectors,
    squared Euclidean = 2 * cosine distance, so the euclidean cell
    bounds prune for cosine too — the standard normalize-then-index
    equivalence. Served from the cell-partitioned normalized snapshot
    (build-once, see _cosine_snapshot). The index ranks a 3x-padded
    candidate set (same fp-boundary padding argument as
    knn_join_matmul); the final exact cosine on RAW vectors decides
    the top k, so reported values match the brute oracle bit-for-bit."""
    from ..functions.distance import cosine_distance

    assigned, stats = _cosine_snapshot(spark, sf_dir)

    import math

    probe = probe_vector(seed=3)
    pn = math.sqrt(sum(x * x for x in probe))
    probe_unit = [x / pn for x in probe]

    k = 10
    cand = knn_indexed(
        assigned, _COS_INDEX, probe_unit, k=3 * k, vec_col="__nv", stats=stats
    )
    return (
        cand.withColumn(
            "cos_dist", F.round(cosine_distance("embedding", probe), 6)
        )
        .orderBy(F.col("cos_dist").asc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", "label", "cos_dist")
    )


def _cosine_oracle() -> str:
    from ..probes import sql_array

    probe = probe_vector(seed=3)
    x = "CAST(embedding[i] AS DOUBLE)"
    p = "CAST(p[i] AS DOUBLE)"
    rng = f"range(1, {DIM + 1})"
    dot = f"list_sum(list_transform({rng}, i -> {x} * {p}))"
    na = f"sqrt(list_sum(list_transform({rng}, i -> {x} * {x})))"
    nb = f"sqrt(list_sum(list_transform({rng}, i -> {p} * {p})))"
    return f"""
WITH probe AS (SELECT {sql_array(probe)} AS p)
SELECT vec_id, label, round(cos_dist, 6) AS cos_dist FROM (
  SELECT vec_id, label, 1.0 - ({dot}) / (({na}) * ({nb})) AS cos_dist
  FROM embeddings CROSS JOIN probe
) ORDER BY cos_dist, vec_id LIMIT 10
"""


register("knn_cosine_indexed", _knn_cosine_indexed, _cosine_oracle())


# --- indexed radius search (one-pass cell pruning, exact) -------------------


def _radius_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query through the grid index — the index's cleanest win
    (the bound is known upfront: candidates = cells with box lower
    bound <= radius, ONE pass, no verification needed). Served from the
    cell-partitioned snapshot so the IN-list prunes partitions. Exact
    -> same brute-scan oracle as `radius_search` (different probe)."""
    from ..plans.grid_index import radius_search_indexed

    snap, stats = _indexed_snapshot(spark, sf_dir)
    out = radius_search_indexed(snap, _INDEX, _PROBE, radius=4.2, stats=stats)
    return out.select("vec_id", "label", F.round(F.col("dist"), 6).alias("dist"))


def _radius_indexed_oracle() -> str:
    from ..probes import sql_array

    x = "CAST(embedding[i] AS DOUBLE)"
    p = "CAST(p[i] AS DOUBLE)"
    dist = (
        f"list_sum(list_transform(range(1, {DIM + 1}), "
        f"i -> ({x} - {p}) * ({x} - {p})))"
    )
    return f"""
WITH probe AS (SELECT {sql_array(_PROBE)} AS p)
SELECT vec_id, label, round(dist, 6) AS dist FROM (
  SELECT vec_id, label, {dist} AS dist
  FROM embeddings CROSS JOIN probe
) WHERE dist <= 4.2
ORDER BY dist, vec_id
"""


register("radius_search_indexed", _radius_indexed, _radius_indexed_oracle())


# --- adaptive (variable-depth) index serving --------------------------------

_ADAPTIVE_MEMO: dict[tuple[int, str], tuple] = {}


def _knn_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN through the ADAPTIVE grid index (reference leaf-split rule,
    kd_tree_database.py:94-104, as a build-time refinement): hot
    regions get deep leaves, sparse regions stay shallow. fit() runs
    one count-by-cell job per dataset (memoized — it IS the index
    build); serving goes through the same knn_indexed machinery with
    per-depth bound decoding. Exact -> brute-scan oracle."""
    from ..plans.grid_index import AdaptiveGridIndex, knn_indexed

    key = (id(spark), sf_dir)
    if key not in _ADAPTIVE_MEMO:
        emb = load_table(spark, sf_dir, "embeddings")
        idx = AdaptiveGridIndex(
            _LOWER, _UPPER, num_splits=2, max_depth=8, max_leaf_size=64
        )
        idx.fit(emb)
        assigned, stats = idx.assign(emb)
        _ADAPTIVE_MEMO[key] = (idx, assigned.cache(), stats)
    idx, assigned, stats = _ADAPTIVE_MEMO[key]
    out = knn_indexed(assigned, idx, probe_vector(seed=21), k=10, stats=stats)
    return out.select("vec_id", "label", F.round(F.col("dist"), 6).alias("dist"))


register(
    "knn_adaptive_indexed",
    _knn_adaptive,
    _knn_oracle("euclidean_sq", probe_vector(seed=21)),
)
