"""Seeded input generator for the benchmark.

Writes the ten tables the query catalog reads (TPC-H-style star schema,
``events``, ``documents``, ``embeddings``), one parquet file each, with the
same schemas and value domains as the repository's test data
(TESTDATA.md). The same seed and sizes always give byte-identical files.

The ``documents`` and ``embeddings`` tables can be expanded with seeded
duplicates: byte-identical copies and near-duplicates (a few seeded token
edits for text, small seeded noise for vectors), shuffled into the corpus
so that copies land in ``doc_id`` order the way a crawl backlog would.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generator's output changes: it keys the reference cache.
INPUT_VERSION = 1

VOCAB = (
    "a the row column table value key hash join merge sort scan filter agg group "
    "window stream batch spark query data line part order customer vector small "
    "big fast slow"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
EMBED_DIM = 64
N_LABELS = 10
MAX_EDITS = 3  # near-duplicate documents get 1..MAX_EDITS token edits
VECTOR_NOISE = 0.01  # near-duplicate vectors get this much gaussian noise


@dataclass(frozen=True)
class InputSpec:
    """Sizes of one generated input set."""

    sf: float  # TPC-H-style scale: lineitem has 6e6 * sf rows
    events: int
    docs: int  # base documents before expansion
    vectors: int  # base embeddings before expansion
    exact_share: float = 0.0  # share of the final corpus that are byte-identical copies
    near_share: float = 0.0  # share of the final corpus that are near-duplicates


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, size=n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(adj + " " + noun, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _choice(rng, ("P", "O", "F"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _choice(rng, ("R", "A", "N"), n_line),
            "l_linestatus": _choice(rng, ("O", "F"), n_line),
            "l_shipdate": _dates(rng, n_line, "1995-01-02", 2499),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n // 66, 10), n, dtype=np.int64)),
            "event_type": _choice(rng, EVENT_TYPES, n),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _expand(rng: np.random.Generator, n_base: int, spec: InputSpec):
    """Source index and kind (0 base, 1 exact copy, 2 near copy) of every row
    of the expanded set, shuffled into a seeded order."""
    total = int(round(n_base / max(1.0 - spec.exact_share - spec.near_share, 1e-9)))
    n_exact = int(round(total * spec.exact_share))
    n_near = total - n_base - n_exact
    src = np.concatenate(
        [np.arange(n_base), rng.integers(0, n_base, n_exact), rng.integers(0, n_base, n_near)]
    )
    kind = np.concatenate(
        [np.zeros(n_base, np.int8), np.ones(n_exact, np.int8), np.full(n_near, 2, np.int8)]
    )
    order = rng.permutation(len(src))
    return src[order], kind[order]


def documents_table(rng: np.random.Generator, spec: InputSpec) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, spec.docs)
    base = [list(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    lang = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), spec.docs, p=LANG_P)]
    src, kind = _expand(rng, spec.docs, spec)
    texts, langs = [], []
    for s, k in zip(src, kind):
        toks = base[s]
        if k == 2:
            toks = list(toks)
            for _ in range(int(rng.integers(1, MAX_EDITS + 1))):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(toks))
        langs.append(lang[s])
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, spec: InputSpec) -> pa.Table:
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, spec.vectors)
    base = centroids[labels] * 0.3 + rng.normal(size=(spec.vectors, EMBED_DIM))
    src, kind = _expand(rng, spec.vectors, spec)
    vecs = base[src]
    near = kind == 2
    vecs[near] += rng.normal(scale=VECTOR_NOISE, size=(int(near.sum()), EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    n = len(src)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels[src], pa.int32()),
        }
    )


def generate(seed: int, spec: InputSpec) -> dict[str, pa.Table]:
    """All ten tables for ``seed``; each table family draws from its own
    seeded stream so resizing one family leaves the others unchanged."""
    tables = tpch_tables(np.random.default_rng([seed, 1]), spec.sf)
    tables["events"] = events_table(np.random.default_rng([seed, 2]), spec.events)
    tables["documents"] = documents_table(np.random.default_rng([seed, 3]), spec)
    tables["embeddings"] = embeddings_table(np.random.default_rng([seed, 4]), spec)
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write one parquet file per table; return a digest of the bytes."""
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    for name in sorted(tables):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        with open(path, "rb") as f:
            digest.update(name.encode())
            digest.update(f.read())
    return digest.hexdigest()[:16]
