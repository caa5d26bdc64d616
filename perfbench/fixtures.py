"""Seeded fixture tables for the benchmark.

Writes the ten tables the query registry reads (``<dir>/<table>.parquet``)
with the same column names, parquet types and value domains as the sf
fixtures described in FIXTURES.md, but drawn from ``numpy`` with the
benchmark's own seed. The benchmark never reads data from outside its
checkout, so it makes its inputs here instead.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Rows per table at scale factor 1 (lineitem is 6k at sf0.001).
_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
# Share of documents that are a one-word edit of an earlier document, so
# the near-duplicate operators find real candidate pairs.
_NEAR_DUP_SHARE = 0.03


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    span = (last - first).days + 1
    start = dt.datetime(first.year, first.month, first.day)
    return _ts_us(start, rng.integers(0, span, n) * 86_400_000_000)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = []
    for _ in range(n):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    for i in rng.choice(np.arange(1, n), int(n * _NEAR_DUP_SHARE), replace=False):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts[i] = " ".join(words)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, type=pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), 64).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * sf))) for k, v in _ROWS_SF1.items()}
    n_users = max(1, int(round(15_000 * sf)))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(rng, _SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, len(_PART_ADJ), p)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, len(_PART_NOUN), p)]
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, _PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(rng, _PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li).astype(np.int64),
            "l_partkey": rng.integers(0, p, li).astype(np.int64),
            "l_suppkey": rng.integers(0, s, li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts_us(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, span_us, e))),
            "user_id": rng.integers(0, n_users, e).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_fixtures(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
