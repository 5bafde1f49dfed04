"""Deduplication operators for LLM-training-data pipelines.

Five families, each with an explicit 100 TB story:

- ``exact_dedup``      — hash-groupBy on a normalized content hash.
  One shuffle on the hash; keeps min-id representative.
- ``jaccard_pairs``    — exact token/shingle-set Jaccard via an
  inverted-index self-join (explode -> join on token -> pair counts).
  Exact but O(sum_token df^2); the ``max_df`` knob drops
  ubiquitous tokens (standard prefix-filter trick) to tame skew.
  Used as the small-scale oracle for the approximate paths.
- ``minhash_signatures`` + ``lsh_candidate_pairs`` — MinHash + banded
  LSH: per-row signature (k independent (a*h+b) mod p permutations,
  all codegen), band hashing, candidates = equal band-bucket pairs.
  Shuffle is on band buckets — linear in data, the scale path.
- ``simhash64``        — 64-bit SimHash folded entirely in Catalyst
  higher-order functions (no UDF): token hashes vote per bit.
- ``embedding_topk_pairs`` — nearest embedding pairs by cosine
  (exact top-k baseline, O(n^2)); ``embedding_srp_pairs`` — the scale
  path: signed-random-projection cosine LSH, banded self-join, exact
  at signature hamming <= bands-1 by pigeonhole (IVF bucketing in
  similarity.py is the search-time alternative).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import cosine_distance
from ..functions.text import (
    content_sha256,
    tokens,
    winnow_fingerprints,
    word_ngrams,
)

_LOG = logging.getLogger(__name__)

# The persisted-relation registry lives in the shared public
# ``caching`` module (ADVICE r9: plans/ann_join and plans/bulk_knn
# depended on this module's private name); re-exported here because
# the established release hook for every tool/test is
# ``operators.dedup.unpersist_caches``.
from ..caching import register_cache as _register_cache  # noqa: F401
from ..caching import unpersist_caches  # noqa: F401

# --- exact ---------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per normalized-content hash.
    Adds ``dup_count`` (group size)."""
    hashed = df.withColumn("__h", content_sha256(text_col))
    w = Window.partitionBy("__h")
    return (
        hashed.withColumn("dup_count", F.count(F.lit(1)).over(w))
        .withColumn("__keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__h", "__keep")
    )


# --- exact jaccard via inverted index -------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    threshold: float | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """(id1, id2, jaccard) for id1 < id2 over distinct token/ngram sets.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) computed from integer
    counts -> the double division is engine-portable.
    """
    if not df.isStreaming:
        # scan-parallelism fix (see minhash_signatures): the shingle
        # explode is the dominant per-row cost and a small single-file
        # corpus runs it on one task (no-op at scale)
        from ..sources import fan_out

        df = fan_out(df)
    grams = (
        F.array_distinct(tokens(text_col))
        if ngram == 1
        else F.array_distinct(word_ngrams(text_col, ngram))
    )
    sets = df.select(F.col(id_col).alias("id"), grams.alias("grams")).withColumn(
        "set_size", F.size("grams").cast("long")
    )
    inv = sets.select("id", "set_size", F.explode("grams").alias("tok"))
    if max_df is not None:
        df_counts = inv.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
        inv = (
            inv.join(df_counts, "tok")
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
        # jaccard is now over the FILTERED token sets, so set sizes must
        # come from the filtered index too — carrying the pre-filter
        # sizes would mix filtered/unfiltered worlds in the denominator.
        filtered_sizes = inv.groupBy("id").agg(
            F.count(F.lit(1)).alias("set_size")
        )
        inv = inv.drop("set_size").join(filtered_sizes, "id")
    a = inv.select(
        F.col("tok"), F.col("id").alias("id1"), F.col("set_size").alias("n1")
    )
    b = inv.select(
        F.col("tok"), F.col("id").alias("id2"), F.col("set_size").alias("n2")
    )
    pairs = (
        a.join(b, "tok")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common")).cast("double"),
        )
        .select("id1", "id2", "jaccard")
    )
    if threshold is not None:
        pairs = pairs.filter(F.col("jaccard") >= threshold)
    return pairs


# --- short-side banded containment candidates --------------------------------


def containment_candidates_short(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    h: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate (id1 < id2) pairs for ASYMMETRIC containment — the
    tiny-doc-inside-huge-doc case jaccard-keyed MinHash-LSH structurally
    misses (a 15-word quote inside a 200-word template has jaccard
    ~0.07: no band ever collides), called out in curation_suite3's own
    scale-twin docstring (VERDICT r9 item 9).

    Key the SHORT side: every doc emits its ``h`` smallest gram hashes
    (a bottom-h sketch of its OWN gram set — the banding is over the
    candidate containee). If doc S is contained in doc B, every sampled
    gram of S is in B's gram set, so S's probes hit B's postings with
    certainty at containment 1.0 and with probability ~1-(1-c)^h at
    containment c. Candidates join the probes against the distinct-gram
    inverted index — shuffle is h rows per doc on the probe side and
    the gram stream on the posting side, both linear in the corpus.

    ``max_df`` drops grams appearing in more than that many docs from
    BOTH sides (boilerplate n-grams are the classic mega-posting
    blowup). The bottom-h sketch is drawn over the KEPT grams — if the
    sketch were drawn over ALL grams, a short doc whose h smallest
    hashes all land on boilerplate would probe only grams the index
    dropped and find NOTHING even at containment 1.0; over the kept
    vocabulary the hit guarantee holds (S ⊆ B implies S's kept grams ⊆
    B's kept grams — df is a global property). A doc consisting
    ENTIRELY of over-df grams emits no probes and no postings: that is
    the df-cap's documented drop mass, now symmetric. Deterministic (a
    df-cap, not a per-bucket sample), so the whole candidate set
    replays exactly in SQL.

    Returns (id1, id2) distinct; compose with the exact containment
    scorer exactly like the jaccard-keyed twin (see
    suite/curation_suite3.dedup_containment_banded)."""
    if h < 1:
        raise ValueError("h must be >= 1")
    if not df.isStreaming:
        # scan-parallelism fix (see minhash_signatures): the shingle
        # explode feeds several subtrees and a small single-file corpus
        # runs each on one task (no-op at scale)
        from ..sources import fan_out

        df = fan_out(df)
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams(text_col, ngram))).alias("ng"),
    )
    kept = grams
    if max_df is not None:
        df_counts = grams.groupBy("ng").agg(F.count(F.lit(1)).alias("__df"))
        kept = (
            grams.join(df_counts, "ng")
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    hashed = kept.withColumn("gh", portable_token_hash(F.col("ng")))
    w = Window.partitionBy("id").orderBy(F.col("gh").asc(), F.col("ng").asc())
    probes = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= h)
        .select(F.col("id").alias("pid"), "ng")
    )
    postings = kept
    return (
        probes.join(postings.withColumnRenamed("id", "oid"), "ng")
        .filter(F.col("pid") != F.col("oid"))
        .select(
            F.least("pid", "oid").alias("id1"),
            F.greatest("pid", "oid").alias("id2"),
        )
        .distinct()
    )


# --- winnowing fingerprints -------------------------------------------------

def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """(id1, id2, shared_fps) for document pairs sharing at least
    ``min_shared`` winnowing fingerprints (functions/text.py::
    winnow_fingerprints — local min-hash sampling of k-gram hashes,
    Schleimer et al. SIGMOD 2003).

    Complements the whole-document MinHash/SimHash family: winnowing
    guarantees detection of any shared run of >= w + k - 1 tokens
    (local overlap — quotes, boilerplate blocks, partial copies)
    rather than global set similarity. The fingerprint computation is
    shuffle-free per document; pair generation is the same bounded
    inverted-index join as ``jaccard_pairs``, shuffling only the
    ~2/(w+1)-sampled fingerprints instead of every gram — at 100 TB
    that sampling factor is the win. ``max_df`` drops fingerprints
    appearing in more than that many documents (ubiquitous boilerplate
    grams — the same Σ df² hazard as LSH mega-buckets), with the
    dropped mass logged, never silent.
    """
    # cached: the fingerprint relation is read by the dropped-mass log
    # action, the df filter, and both self-join sides — recomputing the
    # HOF pipeline for each would triple the work. At corpus scale
    # you'd persist it anyway: it IS the fingerprint index (same note
    # as minhash_dedup_candidates' signature cache).
    if not df.isStreaming:
        # scan-parallelism fix (see minhash_signatures): the winnow
        # fingerprint HOF pipeline is interpreted per token and a small
        # single-file corpus runs it on one task (no-op at scale)
        from ..sources import fan_out

        df = fan_out(df)
    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(text_col, k, w)).alias("fp"),
    ).distinct()
    fps = _register_cache(fps.cache())
    if max_df is not None:
        df_counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
        hot = df_counts.filter(F.col("__df") > max_df)
        dropped = hot.agg(
            F.count(F.lit(1)).alias("fps"), F.sum("__df").alias("mass")
        ).collect()[0]
        if dropped["fps"]:
            _LOG.warning(
                "winnow_pairs: dropping %d fingerprints with df > %d "
                "(membership mass %d) from pair generation",
                dropped["fps"], max_df, dropped["mass"],
            )
        fps = fps.join(hot.select("fp"), "fp", "left_anti")
    a = fps.select("fp", F.col("id").alias("id1"))
    b = fps.select("fp", F.col("id").alias("id2"))
    return (
        a.join(b, "fp")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# --- minhash + LSH ---------------------------------------------------------

_MERSENNE31 = (1 << 31) - 1

# method='auto' crossover: 'explode' (codegen min-aggs, one shuffle of
# exploded token hashes) measured faster up to ~50k docs and ~17%
# slower at 1M; the crossover sits in between — 200k is conservative.
AUTO_EXPLODE_MAX_ROWS = 200_000


def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = (state % (_MERSENNE31 - 1)) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % _MERSENNE31
        params.append((a, b))
    return params


def portable_token_hash(t: Column) -> Column:
    """Engine-portable token hash in [0, 2^31-1): the top 60 bits of
    md5 parsed as an integer, mod p.

    Portable because every SQL engine has md5 + hex parsing — DuckDB
    computes the identical value with
    ``('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647``, which is
    what lets the full MinHash+LSH pipeline be differential-tested
    value-exactly against an independent engine (xxhash64 is
    Spark-only). md5 and conv are both codegen'd JVM expressions; the
    k-permutation fold, not the per-token hash, dominates signature
    cost (measured: see bench notes)."""
    return F.pmod(
        F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        F.lit(_MERSENNE31),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    ngram: int = 1,
    seed: int = 42,
    method: str = "expr",
    token_hash: str = "portable",
) -> DataFrame:
    """(id, signature array<long>[num_hashes]) — token -> hash -> k
    affine permutations mod 2^31-1 -> min per permutation.

    token_hash='portable' (default): md5-based hash reproducible in any
    SQL engine (see ``portable_token_hash``) — keeps the whole pipeline
    oracle-checkable. 'xxhash64': Spark-native alternative (same cost
    class; both codegen).

    method='expr': one Catalyst fold updating all k slots per token —
    plan stays JVM-only. Interpreted HOF cost ~k ops per token.

    method='explode': token hashes to rows, k codegen'd min-aggregates
    — no interpreted HOF at all, at the price of shuffling the
    exploded hashes. MEASURED: wins WARM below ~100k docs (repeat
    executions of an already-compiled plan: 2.71s vs 3.02s at 5k docs,
    3.26s vs 3.71s at 50k) but LOSES COLD (~0.7s extra Janino compile
    for 32 aggregate expressions: 6.1s vs 5.5s first execution) and is
    ~17% slower at 1M docs (the 78M-row shuffle outweighs the saved
    fold). 'expr' stays the pipeline default: one-shot execution is
    the common case for a dedup pass.

    method='auto': pick 'explode' when the input is under
    AUTO_EXPLODE_MAX_ROWS (one cheap count-star job), 'expr' above —
    for repeat-execution serving contexts where the compile is
    amortized. Both produce IDENTICAL signatures (tested), so the
    switch is purely physical.

    method='arrow': hybrid path — shingle hashing in the JVM, the k
    permutations as one numpy matrix op per Arrow batch (flatten
    ragged hash arrays + segment-min via minimum.reduceat). Identical
    signatures (tested) but MEASURED 4x SLOWER at 1M docs (145s vs
    35s): the ragged per-token hash arrays must cross the Arrow
    boundary, which costs more than the interpreted fold saves.
    Retained as the template for environments with faster IPC.

    Intermediates stay < 2^62 (a, h < 2^31), so int64 never overflows.
    """
    if method == "auto":
        n = df.count()
        method = "explode" if n <= AUTO_EXPLODE_MAX_ROWS else "expr"
    if not df.isStreaming:
        # the k-permutation fold is the dominant per-row cost of the
        # whole LSH pipeline; a small single-file corpus scans as ONE
        # task, serializing that fold on one core (guide §2.5). No-op
        # when the scan already spans the cluster, and skipped for
        # streaming inputs (stream_near_dup_pairs must stay stateless
        # expressions).
        from ..sources import fan_out

        df = fan_out(df)
    grams = (
        F.array_distinct(tokens(text_col))
        if ngram == 1
        else F.array_distinct(word_ngrams(text_col, ngram))
    )
    if token_hash == "portable":
        hashes = F.transform(grams, portable_token_hash)
    else:
        hashes = F.transform(
            grams, lambda t: F.pmod(F.xxhash64(t), F.lit(_MERSENNE31))
        )

    if method == "arrow":
        import numpy as np
        import pandas as pd

        params = _perm_params(num_hashes, seed)
        a_v = np.array([a for a, _ in params], dtype=np.int64)
        b_v = np.array([b for _, b in params], dtype=np.int64)

        hashed = df.select(F.col(id_col).alias("id"), hashes.alias("__h"))

        def sign(batches):
            for pdf in batches:
                arrs = pdf["__h"].to_numpy()
                lens = np.array([len(x) for x in arrs], dtype=np.int64)
                out = np.full((len(arrs), num_hashes), _MERSENNE31, dtype=np.int64)
                nz = lens > 0
                if nz.any():
                    flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in arrs[nz]])
                    # (T, k) permuted hashes; values < 2^62, no overflow
                    perm = (flat[:, None] * a_v[None, :] + b_v[None, :]) % _MERSENNE31
                    starts = np.zeros(int(nz.sum()), dtype=np.int64)
                    starts[1:] = lens[nz].cumsum()[:-1]
                    out[nz] = np.minimum.reduceat(perm, starts, axis=0)
                yield pd.DataFrame(
                    {"id": pdf["id"], "signature": [row.tolist() for row in out]}
                )

        return hashed.mapInPandas(sign, schema="id long, signature array<bigint>")
    if method == "explode":
        # explode token hashes to rows, then k codegen'd min-aggregates:
        # no interpreted HOF anywhere — permutation arithmetic and min
        # run inside whole-stage codegen with map-side partials, at the
        # price of one shuffle on id. MEASURED: ~15% faster at 5k docs,
        # ~17% SLOWER at 1M docs (48.7s vs 41.6s — shuffling 78M
        # exploded rows costs more than the interpreted fold saves), so
        # 'expr' stays the default. Identical signatures (tested);
        # empty docs get the all-sentinel row via the left join back.
        params = _perm_params(num_hashes, seed)
        ids = df.select(F.col(id_col).alias("id"))
        exploded = df.select(
            F.col(id_col).alias("id"), F.explode(hashes).alias("h")
        )
        aggs = [
            F.min(
                F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE31))
            ).alias(f"s{i}")
            for i, (a, b) in enumerate(params)
        ]
        per_doc = exploded.groupBy("id").agg(*aggs)
        sig_col = F.array(*[F.col(f"s{i}") for i in range(num_hashes)])
        sentinel = F.array_repeat(F.lit(_MERSENNE31).cast("long"), num_hashes)
        return (
            ids.join(per_doc, "id", "left")
            .select(
                "id",
                F.when(F.col("s0").isNull(), sentinel)
                .otherwise(sig_col)
                .alias("signature"),
            )
        )
    # ONE fold over the token hashes updating every signature slot per
    # element — k separate array_min(transform(...)) expressions would
    # re-evaluate the (expensive) shingle+hash array k times, since
    # Catalyst does no CSE across projection expressions.
    params = _perm_params(num_hashes, seed)
    ab = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in params
        ]
    )
    init = F.array_repeat(F.lit(_MERSENNE31).cast("long"), num_hashes)
    sig = F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            ab,
            lambda cur, p: F.least(
                cur, F.pmod(h * p["a"] + p["b"], F.lit(_MERSENNE31))
            ),
        ),
    )
    return df.select(F.col(id_col).alias("id"), sig.alias("signature"))


def _cap_band_sides(
    banded: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    oversize: str = "drop",
    id_col: str = "id",
    label: str = "lsh",
) -> tuple[DataFrame, DataFrame]:
    """Bound the Σ bucket² pair blowup of a banded self-join.

    A boilerplate-heavy corpus (near-identical templates, legal
    headers, SEO spam) lands thousands of docs in ONE (band, bucket):
    the self-join then emits bucket² pairs for it — at 100 TB that one
    bucket is the whole job. This is the analogue of the reference's
    bounded ``max_leaf_size`` (kd_tree_database.py:98): no unbounded
    per-cell work, ever. Two strategies for buckets over ``max_bucket``:

    - ``oversize='drop'``: exclude the bucket from BOTH join sides.
      Pairs below the cap are untouched (tested pair-set equality);
      the dropped membership mass is logged — never a silent cap.
      Members of a mega-bucket are near-certain duplicates of each
      other; a follow-up exact pass on just those (tiny) groups
      recovers them if needed.
    - ``oversize='star'``: keep only the bucket's min-id member on the
      probe side, all members on the build side — b-1 star edges
      instead of b(b-1)/2, linear in bucket size. Preserves
      connected-component reachability (every member still linked to
      the representative), so LSH->CC clustering loses nothing; pair
      ENUMERATION semantics change (non-star pairs of the mega-bucket
      are not emitted), and downstream exact filters (hamming/jaccard)
      apply to the star edges only.

    Cost: one count aggregate per (band, bucket) — same key the join
    shuffles on — joined back to the banded relation. The stats
    relation is persisted when the dropped-mass log runs (one small
    action) so the main query reuses it.
    """
    if max_bucket is None:
        return banded, banded
    if max_bucket < 2:
        raise ValueError("max_bucket must be >= 2 (a pair needs 2 members)")
    if oversize not in ("drop", "star"):
        raise ValueError(f"oversize must be 'drop' or 'star', got {oversize!r}")
    stats = banded.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__bsz"), F.min(id_col).alias("__bmin")
    )
    # "no silent caps": surface the dropped mass. One small aggregate
    # action over the persisted stats; the pair join below reuses it.
    stats = _register_cache(stats.persist())
    d = (
        stats.filter(F.col("__bsz") > max_bucket)
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.coalesce(F.sum("__bsz"), F.lit(0)).alias("members"),
        )
        .first()
    )
    if d is not None and d["nb"]:
        _LOG.warning(
            "%s: %d bucket(s) over max_bucket=%d (%d memberships) %s",
            label,
            d["nb"],
            max_bucket,
            d["members"],
            "dropped from candidate generation"
            if oversize == "drop"
            else "reduced to star edges on the min-id representative",
        )
    joined = banded.join(stats, keys)
    if oversize == "drop":
        kept = joined.filter(F.col("__bsz") <= max_bucket).drop("__bsz", "__bmin")
        return kept, kept
    a_side = joined.filter(
        (F.col("__bsz") <= max_bucket) | (F.col(id_col) == F.col("__bmin"))
    ).drop("__bsz", "__bmin")
    return a_side, joined.drop("__bsz", "__bmin")


def banded_signatures(
    signatures: DataFrame, bands: int, sig_len: int, id_col: str = "id"
) -> DataFrame:
    """(id, band, bucket) — one row per signature band, bucket =
    xxhash64 of the band's slice. Stateless expression-only transform,
    so it works identically on batch AND streaming DataFrames (the
    stream-static near-dup join in streaming/neardup.py keys on it)."""
    rows_per_band = sig_len // bands
    if rows_per_band == 0:
        raise ValueError("bands exceeds signature length")
    return signatures.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("signature"), i * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    id_col: str = "id",
    sig_len: int | None = None,
    max_bucket: int | None = None,
    oversize: str = "drop",
) -> DataFrame:
    """Banded LSH: split each signature into ``bands`` bands, bucket by
    (band index, band hash), emit distinct (id1 < id2) pairs sharing a
    bucket. Shuffle cost is linear in rows x bands.

    ``max_bucket`` bounds per-bucket pair generation (see
    ``_cap_band_sides``) — without it a boilerplate mega-bucket costs
    bucket² pairs, the classic 100 TB LSH failure mode.

    Pass ``sig_len`` when known to avoid a probe job on ``signatures``.

    EAGER when ``max_bucket`` is set: the dropped-mass audit runs one
    small aggregate action at plan-construction time (ADVICE r6), so
    the capped form executes its bucket-stats job immediately and is
    NOT usable on streaming DataFrames — cap in the foreachBatch body
    instead (streaming/neardup.py does exactly that)."""
    if sig_len is None:
        sig_len_row = signatures.select(F.size("signature").alias("n")).first()
        sig_len = sig_len_row.n if sig_len_row else 0
    banded = banded_signatures(signatures, bands, sig_len, id_col)
    a_src, b_src = _cap_band_sides(
        banded, ["band", "bucket"], max_bucket, oversize, label="lsh_candidate_pairs"
    )
    a = a_src.select("band", "bucket", F.col("id").alias("id1"))
    b = b_src.select("band", "bucket", F.col("id").alias("id2"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def minhash_dedup_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 1,
    max_bucket: int | None = None,
    oversize: str = "drop",
) -> DataFrame:
    """MinHash LSH near-dup candidates with estimated jaccard (fraction
    of agreeing signature positions). ``max_bucket``/``oversize`` bound
    oversized LSH buckets (see ``_cap_band_sides``).

    Signatures are cached: the 32-permutation expression is expensive
    enough that recomputing it for the bucket join and both est-jaccard
    joins would triple the work (at any scale you'd persist the
    signature table anyway — it IS the index)."""
    sigs = _register_cache(
        minhash_signatures(df, id_col, text_col, num_hashes, ngram).cache()
    )
    cands = lsh_candidate_pairs(
        sigs, bands, sig_len=num_hashes, max_bucket=max_bucket, oversize=oversize
    )
    s1 = sigs.select(F.col("id").alias("id1"), F.col("signature").alias("__s1"))
    s2 = sigs.select(F.col("id").alias("id2"), F.col("signature").alias("__s2"))
    est = F.size(
        F.filter(
            F.zip_with(F.col("__s1"), F.col("__s2"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(num_hashes))
    return (
        cands.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("est_jaccard", est)
        .select("id1", "id2", "est_jaccard")
    )


# --- simhash ---------------------------------------------------------------

def _md5_token64(t: Column) -> Column:
    """Deterministic 64-bit token hash from the md5 hex digest:
    (hi32 << 32) | lo32. md5 is bit-identical across engines, so the
    whole simhash pipeline is exactly reproducible in portable SQL
    (unlike xxhash64). shiftleft wraps two's-complement — the oracle
    mirrors it with a checked sign-fold multiply."""
    d = F.md5(t)
    hi = F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(d, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash without UDFs: ONE fold over the token hashes
    carrying all 64 bit-votes as an array accumulator (zip_with against
    a constant bit-index array), then one fold assembling the signed
    simhash from the vote signs.

    The single-fold shape matters for the same reason as in
    ``minhash_signatures``: Catalyst does no CSE across expressions, so
    the earlier 64-separate-folds form re-evaluated the md5 token-hash
    array 64 times per row — A/B measured 17.9s -> 1.3s at sf0.1 and
    21.1s -> 1.9s at sf3 for identical values (xor-checksummed).
    ``F.call_function("shiftright", h, i)`` is the column-shift form
    the Python ``F.shiftright`` wrapper doesn't expose (it demands a
    literal shift); the underlying SQL expression takes two columns.
    Bit assembly: bit values are disjoint, so bitwiseOR of the
    per-bit contributions (with i=63 as the negative sign-bit pattern,
    mirrored by the oracle's checked sign-fold) equals the two's-
    complement reassembly."""
    if not df.isStreaming:
        # same scan-parallelism fix as minhash_signatures: the 64-slot
        # vote fold is interpreted per token, and a small single-file
        # corpus runs it on ONE task (guide §2.5; no-op at scale)
        from ..sources import fan_out

        df = fan_out(df)
    toks = F.array_distinct(tokens(text_col))
    hashes = F.transform(toks, _md5_token64)
    bits = F.array(*[F.lit(i).cast("int") for i in range(64)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            bits,
            lambda v, i: v
            + F.when(
                F.call_function("shiftright", h, i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        ),
    )
    bitvals = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    sim = F.aggregate(
        F.zip_with(
            votes,
            bitvals,
            lambda v, b: F.when(v > 0, b).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )
    return df.select(F.col(id_col).alias("id"), sim.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = None,
    oversize: str = "drop",
) -> DataFrame:
    """EXACT near-dup pairs at hamming <= ``max_hamming`` without an
    all-pairs join: band the 64-bit simhash into ``bands`` equal bit
    slices and self-join on (band, slice). Pigeonhole guarantees
    exactness when ``max_hamming <= bands - 1``: a pair differing in
    at most bands-1 bits must agree on at least one full band, so the
    banded join loses nothing; the exact hamming filter then removes
    false candidates. (The classic SimHash trick — Manku et al.,
    WWW'07 — as a pure dataflow join.)

    The join shuffles on the band key: at 100 TB the pair space is
    bounded by per-bucket collisions, not n^2. Raise ``bands`` to
    widen the guaranteed radius at the cost of more candidates.
    ``max_bucket`` bounds per-bucket pair work (``_cap_band_sides``);
    NOTE under a cap the pigeonhole-exactness guarantee applies only
    to pairs whose shared bucket is under the cap.

    EAGER when ``max_bucket`` is set: the dropped-mass audit runs one
    small aggregate action at plan-construction time (ADVICE r6), so
    the capped form is NOT usable on streaming DataFrames — cap in the
    foreachBatch body instead.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"exactness needs max_hamming <= bands-1 (got {max_hamming} > {bands - 1})"
        )
    width = 64 // bands
    sh = simhash64(df, id_col, text_col)
    if not df.isStreaming:
        # the banded self-join consumes sh on BOTH sides and Catalyst
        # does no CSE across DataFrame reuse, so without the persist the
        # interpreted 64-vote simhash fold executes twice per document
        # (same rationale as the minhash signature cache below; freed
        # via the shared registry)
        sh = _register_cache(sh.persist())
    mask = (1 << width) - 1
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.key")
    a_src, b_src = _cap_band_sides(
        banded, ["band", "key"], max_bucket, oversize, label="simhash_candidate_pairs"
    )
    a = a_src.select(
        F.col("id").alias("id1"), F.col("simhash").alias("__h1"), "band", "key"
    )
    b = b_src.select(
        F.col("id").alias("id2"), F.col("simhash").alias("__h2"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "__h1", "__h2")
        .distinct()  # a pair may share several bands
        .withColumn("hamming", hamming64(F.col("__h1"), F.col("__h2")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", F.col("hamming").cast("int").alias("hamming"))
    )


# --- embedding near-dup -----------------------------------------------------

def embedding_topk_pairs(
    df: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k closest pairs by cosine distance (id1 < id2).

    O(n^2) distances — the correctness baseline. At scale use the LSH
    bucketing in similarity.py to restrict the pair space first.

    Physical shape: the L2 norms are hoisted to a per-ROW projection
    below the nested-loop join (one fold per vector instead of two per
    pair — bit-identical, see cosine_distance_prenormed), and the
    streamed side is fanned out so the O(n^2) interpreted pair scoring
    spans the cluster instead of inheriting a single-row-group scan's
    one task.
    """
    from ..functions.distance import cosine_distance_prenormed, l2_norm
    from ..sources import fan_out

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    if not df.isStreaming:
        base = fan_out(base)
    a = base.select(
        F.col("__id").alias("id1"),
        F.col("__v").alias("__v1"),
        F.col("__n").alias("__n1"),
    )
    b = base.select(
        F.col("__id").alias("id2"),
        F.col("__v").alias("__v2"),
        F.col("__n").alias("__n2"),
    )
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn(
            "cos_dist",
            cosine_distance_prenormed(
                F.col("__v1"), F.col("__v2"), F.col("__n1"), F.col("__n2")
            ),
        )
        .select("id1", "id2", "cos_dist")
        .orderBy(F.col("cos_dist").asc(), F.col("id1").asc(), F.col("id2").asc())
        .limit(k)
    )


# --- signed random projection (cosine LSH) ---------------------------------

def _srp_planes(num_bits: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, rounded to 6 decimals
    so the same coefficients embed exactly into oracle SQL (same trick
    as probes.probe_vector)."""
    import math

    return [
        [
            round(math.sin(seed * 7.0 + j * dim + i + 1.0), 6)
            for i in range(dim)
        ]
        for j in range(num_bits)
    ]


def srp_signature_expr(
    vec_col: str, num_bits: int = 32, dim: int = 64, seed: int = 7
) -> Column:
    """``num_bits`` sign bits of <v, h_j> packed into one long — the
    cosine analogue of simhash64 (Charikar's SRP-LSH, STOC'02): the
    probability two vectors agree on a bit is 1 - angle/pi, so small
    cosine distance => small hamming distance on the signature. Pure
    codegen: one left-fold dot product per bit, no UDF."""
    if not 1 <= num_bits <= 63:
        raise ValueError("num_bits must be in [1, 63] (bit 63 is the sign)")
    v = F.col(vec_col).cast("array<double>")
    # One nested array<array<double>> literal + three higher-order
    # lambdas instead of num_bits separate (64-literal chain + fold)
    # expressions: the per-plane chain form cost ~7.5s of DRIVER-side
    # py4j construction per call (measured, OPTIMIZATION_r12.md) and
    # bloated every consuming subtree's analysis. Arithmetic is
    # bit-identical: per plane the same ascending zip_with/left-fold
    # dot, and the OR-accumulation visits planes in the same ascending
    # j via aggregate over transform output (1L << j as a shiftleft of
    # the same ints).
    from ..functions.distance import matrix_lit

    planes = matrix_lit(_srp_planes(num_bits, dim, seed))
    dots = F.transform(
        planes,
        lambda p: F.aggregate(
            F.zip_with(v, p, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )
    powers = F.lit([1 << j for j in range(num_bits)]).cast("array<long>")
    bits = F.zip_with(
        dots,
        powers,
        lambda d, pw: F.when(d >= 0, pw).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b)
    )


def embedding_srp_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_hamming: int = 7,
    bands: int = 8,
    num_bits: int = 32,
    dim: int = 64,
    seed: int = 7,
    max_bucket: int | None = None,
    oversize: str = "drop",
) -> DataFrame:
    """EXACT embedding near-dup pairs at SRP-hamming <= ``max_hamming``
    without an all-pairs join — the scale path ``embedding_topk_pairs``
    (the O(n^2) baseline) points to. Same pigeonhole argument as
    ``simhash_candidate_pairs``: with ``max_hamming <= bands - 1`` a
    qualifying pair must agree on one full band, so the banded
    self-join loses nothing; exact hamming + exact cosine are then
    computed only on candidates. Output (id1, id2, hamming, cos_dist).

    The join shuffles on the band key: pair space is bounded by
    per-bucket collisions, not n^2 — at 100 TB this is the difference
    between a dedup pass and an impossibility. ``max_bucket`` bounds
    per-bucket pair work too (``_cap_band_sides``): a cluster of
    near-identical embeddings (re-encoded boilerplate) otherwise pays
    bucket² in EVERY band it collides in. Under a cap the pigeonhole
    exactness applies only to pairs with an under-cap shared bucket.

    EAGER when ``max_bucket`` is set: the dropped-mass audit runs one
    small aggregate action at plan-construction time (ADVICE r6), so
    the capped form is NOT usable on streaming DataFrames — cap in the
    foreachBatch body instead.
    """
    if num_bits % bands != 0:
        raise ValueError("num_bits must divide evenly into bands")
    if max_hamming > bands - 1:
        raise ValueError(
            f"exactness needs max_hamming <= bands-1 (got {max_hamming} > {bands - 1})"
        )
    width = num_bits // bands
    mask = (1 << width) - 1
    sh = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        srp_signature_expr(vec_col, num_bits, dim, seed).alias("sig"),
    )
    if not df.isStreaming:
        # scan-parallelism fix (see minhash_signatures): the 32-plane
        # signature fold and the banded pair probing otherwise run on
        # a single-row-group scan's ONE task (no-op at scale)
        from ..sources import fan_out

        sh = fan_out(sh)
    banded = sh.select(
        "id",
        "__v",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "__v", "sig", "bk.band", "bk.key")
    a_src, b_src = _cap_band_sides(
        banded, ["band", "key"], max_bucket, oversize, label="embedding_srp_pairs"
    )
    a = a_src.select(
        F.col("id").alias("id1"),
        F.col("sig").alias("__s1"), "band", "key",
    )
    b = b_src.select(
        F.col("id").alias("id2"),
        F.col("sig").alias("__s2"), "band", "key",
    )
    from ..functions.distance import (
        cosine_distance_prenormed,
        l2_norm,
    )

    # Candidate enumeration carries only (id, sig) — never the vectors
    # (guide §2.3: shuffle keys/metadata, not payloads). The hamming
    # filter runs BEFORE the pair distinct (hamming is a pure function
    # of the two signatures, so filter and distinct commute; fewer rows
    # deduped), and the vectors are re-attached to the surviving pairs
    # by id joins. Result set identical: (sig, vec) are functions of
    # id, so distinct on (id1, id2, hamming) ≡ the old distinct over
    # the 6-tuple, and cos_dist is the same expression over the same
    # vector values (norms hoisted per-row — see
    # cosine_distance_prenormed).
    #
    # The explicit repartition pins the pair-distinct exchange at one
    # partition per core (defaultParallelism): AQE's byte-based
    # coalescing would otherwise fold the tiny (id, id, hamming) rows
    # onto one task and serialize the per-pair interpreted cosine that
    # follows (same failure mode as the ANN cogroup fix,
    # OPTIMIZATION_r12.md). Partitioning by (id1, id2) — a subset of
    # the distinct key — satisfies the aggregate's required
    # distribution, so no extra exchange appears.
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("__s1").bitwiseXOR(F.col("__s2"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
        .repartition(par, "id1", "id2")
        .distinct()  # a pair may share several bands
    )
    v1 = sh.select(
        F.col("id").alias("id1"),
        F.col("__v").alias("__v1"),
        l2_norm(F.col("__v")).alias("__n1"),
    )
    v2 = sh.select(
        F.col("id").alias("id2"),
        F.col("__v").alias("__v2"),
        l2_norm(F.col("__v")).alias("__n2"),
    )
    return (
        pairs.join(v1, "id1")
        .join(v2, "id2")
        .withColumn(
            "cos_dist",
            F.round(
                cosine_distance_prenormed(
                    F.col("__v1"), F.col("__v2"), F.col("__n1"), F.col("__n2")
                ),
                6,
            ),
        )
        .select("id1", "id2", "hamming", "cos_dist")
    )
