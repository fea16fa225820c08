"""Seeded fixture tables for the query panel.

Writes the star schema of FIXTURES.md (without `embeddings`, which no
panel query reads) as one parquet file per table, shaped like the fixtures
that file describes: the same column names and types, the same
vocabularies (region names, `p_type`, `p_name` words, event types,
`{"k": n}` props) and the same value ranges, so every registered query
and its DuckDB oracle see familiar data. The same seed gives the same
tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "hot", "large", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words prose; one doc in ten is a light edit of an earlier one
    so the near-duplicate funnels have real candidate pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            base = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(base)))
            base[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(base))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_ev, n_doc = max(1000, int(1_000_000 * sf)), max(500, int(50_000 * sf))

    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines_per)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype("int32")
    o_date = _EPOCH_1995_US + rng.integers(0, 2404, n_ord) * _DAY_US
    qty = rng.integers(1, 51, n_li).astype("float64")
    part_of_line = rng.integers(0, n_part, n_li)
    p_price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)

    ev_gap_us = rng.integers(1, 2 * 30 * _DAY_US // n_ev, n_ev)
    ev_k = rng.integers(0, 100, n_ev)

    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": pa.array([
                f"{_P_ADJ[a]} {_P_NOUN[b]}"
                for a, b in zip(rng.integers(0, len(_P_ADJ), n_part),
                                rng.integers(0, len(_P_NOUN), n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(p_price),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(part_of_line.astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
            "l_linenumber": pa.array(l_linenumber),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * p_price[part_of_line], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, n_li) * _DAY_US),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype="int64")),
            "ts": _ts(_EPOCH_2024_US + np.cumsum(ev_gap_us)),
            "user_id": pa.array(rng.integers(0, 150, n_ev).astype("int64")),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(_money(rng, 0.01, 490.0, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in ev_k]),
        }),
        "documents": _documents(rng, n_doc),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
