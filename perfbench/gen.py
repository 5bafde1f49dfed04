"""Seeded input generator for the benchmark.

Everything the measured program reads is made here from ``--seed``:

* ``write_tables`` -- the ten fixture tables the headline queries read
  (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), with the schemas and value ranges the query suite
  expects. ``scale`` plays the role of the scale factor: 0.1 gives
  600k lineitem rows, like the sf0.1 fixture.
* ``mixture`` / ``write_corpus`` -- a Gaussian-mixture vector corpus
  and probes drawn from the same mixture, inside the bounds the grid
  index is built over. Clustered on purpose: uniform vectors defeat
  grid pruning.

The same seed gives byte-identical parquet files (``tree_digest``);
``python3 perfbench/gen.py`` checks that, and that another seed gives
other bytes.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "new", "cold", "large", "old"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DIM = 64
# fixture embeddings: 64-d, roughly N(0, 0.125) per coordinate, inside
# the [-0.5, 0.5] box the suite's grid index is built over
EMB_BOUND = 0.5


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((b - a).astype(np.int64))
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> list[str]:
    return [choices[i] for i in rng.choice(len(choices), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    text, pos = [], 0
    for ln in lengths.tolist():
        text.append(" ".join(WORDS[w] for w in words[pos : pos + ln]))
        pos += ln
    # near-duplicates (an earlier text plus a marker token) and a few
    # exact copies, so the dedup queries have something to find
    for i in range(n // 20, n, 20):
        text[i] = text[int(rng.integers(0, i))][:200] + " dup"
    for i in range(n // 7, n, max(1, n // 8)):
        text[i] = text[i - 1]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": text,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.08, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.095, (n, DIM))
    vecs = np.clip(vecs, -EMB_BOUND + 1e-3, EMB_BOUND - 1e-3).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten fixture tables at ``scale`` (0.1 ~ the sf0.1 fixture)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    t0 = np.datetime64("2024-01-01", "us")
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": np.sort(t0 + rng.integers(0, span_us, n_ev).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """One ``<table>.parquet`` file per table, the fixture layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def mixture(
    seed: int,
    n: int,
    n_probes: int,
    dim: int = DIM,
    clusters: int = 32,
    bound: float = 1.0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(corpus float32 [n, dim], cluster labels [n], probes float32
    [n_probes, dim]) from one isotropic Gaussian mixture clipped into
    [-bound, bound]^dim. Probes are fresh draws from the same mixture,
    so they land in populated cells the way real queries do. The
    mixture itself is fixed; the seed draws the samples, so seeds vary
    the inputs but not how hard they are."""
    centers = np.random.default_rng(0).uniform(-0.6 * bound, 0.6 * bound, (clusters, dim))
    rng = np.random.default_rng([seed, 2])
    sigma = 0.12 * bound

    def draw(m: int) -> tuple[np.ndarray, np.ndarray]:
        lab = rng.integers(0, clusters, m)
        v = centers[lab] + rng.normal(0.0, sigma, (m, dim))
        return np.clip(v, -bound, bound).astype(np.float32), lab

    corpus, labels = draw(n)
    probes, _ = draw(n_probes)
    return corpus, labels, probes


def write_corpus(path: str, ids: np.ndarray, vecs: np.ndarray, labels=None) -> None:
    """(vec_id long, embedding array<float>[, label int]) parquet file."""
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }
    if labels is not None:
        cols["label"] = pa.array(labels, pa.int32())
    pq.write_table(pa.table(cols), path)


def tree_digest(root: str) -> str:
    """sha256 over the names and bytes of every parquet file under root."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(f for f in files if f.endswith(".parquet")):
            h.update(os.path.relpath(os.path.join(d, name), root).encode())
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _selfcheck(work: str) -> int:
    digests = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = os.path.join(work, tag)
        write_tables(d, seed, 0.002)
        c, lab, p = mixture(seed, 2_000, 50)
        write_corpus(os.path.join(d, "corpus.parquet"), np.arange(len(c)), c, lab)
        write_corpus(os.path.join(d, "probes.parquet"), np.arange(len(p)), p)
        digests[tag] = tree_digest(d)
    same, other = digests["a"] == digests["b"], digests["a"] != digests["c"]
    print(f"same seed identical: {same}; other seed differs: {other}")
    return 0 if same and other else 1


if __name__ == "__main__":
    import tempfile

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.makedirs(os.path.join(here, ".perfbench_work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(here, ".perfbench_work")) as tmp:
        sys.exit(_selfcheck(tmp))
