"""Seeded generator for the query-mix fixtures.

Writes the ten fixture tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings; schemas as in FIXTURES.md) as one parquet file each, at the
sf0.1 row counts. Every value comes from ``seed``, so the same seed
gives byte-identical inputs.

Two shapes differ on purpose from a plain uniform draw:

- ``documents`` uses a 6,000-word vocabulary plus one or two stopwords
  per text, and plants about 2% near-copies (at most one token
  changed). The exact-Jaccard oracle then joins a few million token
  pairs instead of the hundreds of millions a tiny vocabulary gives,
  and the near-duplicate rows still have pairs to find.
- ``embeddings`` are unit vectors drawn around ten label centres, so
  approximate nearest-neighbour recall does not hinge on the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "for", "on", "with", "as", "at", "by", "from", "that", "this"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
              "do", "fe", "gu", "hi", "ju", "be", "co", "ly", "qu", "wo"]
_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Prices with exactly two decimals, as TPC-H money columns have."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _vocabulary(rng, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(_SYLLABLES[j] for j in rng.integers(0, len(_SYLLABLES), k)))
    return sorted(words)


def _tpch(rng) -> dict[str, pa.Table]:
    n = SF01
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"])),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    adjectives = ["blue", "hot", "large", "small", "red", "smooth", "bright", "dark"]
    nouns = ["ring", "bolt", "anvil", "widget", "gear", "spring", "valve", "lever"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": pa.array([
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n["part"])]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"])),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 1000.0, n["part"]),
    })
    day = pa.timestamp("ms")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"])),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": pa.array(
            _EPOCH_1995_MS + rng.integers(0, 2404, n["orders"]) * _DAY_MS, day),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"])),
    })
    m = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m)),
        "l_shipdate": pa.array(_EPOCH_1995_MS + 86_400_000 + rng.integers(0, 2499, m) * _DAY_MS, day),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem}


def _events(rng) -> pa.Table:
    n = SF01["events"]
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng) -> pa.Table:
    n = SF01["documents"]
    vocab = _vocabulary(rng, 6000)
    texts: list[str] = []
    for i in range(n):
        if i > 50 and rng.random() < 0.02:
            toks = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.5:
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            toks = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(6, 60)))]
            for s in rng.choice(STOPWORDS, int(rng.integers(1, 3))):
                toks.insert(int(rng.integers(0, len(toks) + 1)), str(s))
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(["de", "en", "es", "fr", "zh"], n)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n, dim = SF01["embeddings"], 64
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(scale=1.2, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, seed: int) -> str:
    """Write every fixture table under ``out_dir``; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = _tpch(rng)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
