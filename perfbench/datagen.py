"""Seeded input generators for the benchmark.

The batch tables follow the schemas of the package's catalog (TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``; see
FIXTURES.md) with uniform value distributions, so every declared query
returns rows and the DuckDB oracle can check each of them.  The same seed
always gives byte-identical parquet files.

The streaming generator returns the full change schedule up front; the
load generator only decides *when* each tick is published.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01
_EPOCH_2024_NS = 1_704_067_200 * 10**9  # 2024-01-01


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_batch_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict:
    """Write the ten catalog tables for ``scale`` (1.0 ~ 6M lineitem rows)
    under ``out_dir`` and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_evt = max(1000, int(1_000_000 * scale))
    n_users = max(15, n_cust // 10)
    n_docs = 500
    n_vecs = 500

    _write(out_dir, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation",
           {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": (nk % 5).astype(np.int32)},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer",
           {"c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier",
           {"s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                        rng.choice(PART_NOUN, n_part))]
    _write(out_dir, "part",
           {"p_partkey": pk, "p_name": names,
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    ok = np.arange(n_ord, dtype=np.int64)
    odate = _EPOCH_1995_MS + rng.integers(0, 2404, n_ord) * _DAY_MS
    _write(out_dir, "orders",
           {"o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(odate, pa.timestamp("ms")),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()),
                      ("o_totalprice", pa.float64()),
                      ("o_orderdate", pa.timestamp("ms")),
                      ("o_orderpriority", pa.string())]))
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(ok, lines)
    n_li = len(l_ord)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem",
           {"l_orderkey": l_ord, "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": l_num, "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(
                _EPOCH_1995_MS + rng.integers(1, 2500, n_li) * _DAY_MS,
                pa.timestamp("ms"))},
           pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()),
                      ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()),
                      ("l_linestatus", pa.string()),
                      ("l_shipdate", pa.timestamp("ms"))]))
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_evt)) * 1000
    _write(out_dir, "events",
           {"event_id": np.arange(n_evt, dtype=np.int64),
            "ts": pa.array(_EPOCH_2024_NS + ts, pa.timestamp("ns")),
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]},
           pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("ns")),
                      ("user_id", pa.int64()), ("event_type", pa.string()),
                      ("value", pa.float64()), ("props", pa.string())]))
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, n_words)))
    _write(out_dir, "documents",
           {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32)},
           pa.schema([("vec_id", pa.int64()),
                      ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_li, "events": n_evt,
            "documents": n_docs, "embeddings": n_vecs}


@dataclass(frozen=True)
class Change:
    seq: int
    key: str
    value: str


def notify_schedule(seed: int, n_keys: int, per_tick: int,
                    n_ticks: int) -> list[list[Change]]:
    """Open-loop change schedule: ``n_ticks`` ticks of ``per_tick`` value
    changes each, keys uniform over the ``n_keys`` preloaded keys.  Every
    value is unique, so each change differs from the key's last value and
    must fire exactly one notification."""
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, n_keys, n_ticks * per_tick)
    ticks = []
    for t in range(n_ticks):
        ticks.append([
            Change(s, key_name(int(keys[s])), f"s{seed}-{s}")
            for s in range(t * per_tick, (t + 1) * per_tick)
        ])
    return ticks


def key_name(i: int) -> str:
    return f"k{i:06d}"
