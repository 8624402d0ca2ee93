"""Seeded input generation for the benchmark workloads.

The tables follow the fixture schemas in FIXTURES.md (column names, parquet
types, value domains) so the package's loaders, type mapper and corpus
oracles treat them exactly like the repository fixtures.  Row counts scale
with ``sf`` and never depend on the seed; the seed changes only the values,
so every seed asks the program for the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The nine tables ``convert_all`` can map.  ``embeddings`` is left out:
#: its ``array<float>`` column has no JDBC type mapping (UnknownTypeError,
#: spanner_jdbc_converter_spark/types.py:233).
MIGRATION_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
#: The fixture documents draw from this 30-word vocabulary (plus "dup").
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_1995_US = 788_918_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables; lineitem has a unique (l_orderkey, l_linenumber)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_lines = int(1_500_000 * sf), int(6_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj, noun = rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_dates = _EPOCH_1995_US + rng.integers(0, 2404, n_orders) * _DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts(order_dates),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    # Every order gets 1..7 lines; nudge random orders by one line until
    # the total is exactly n_lines.
    per_order = rng.integers(1, 8, n_orders)
    diff = n_lines - int(per_order.sum())
    room = np.flatnonzero(per_order < 7) if diff > 0 else np.flatnonzero(per_order > 1)
    per_order[rng.choice(room, abs(diff), replace=False)] += np.sign(diff)
    l_orderkey = np.repeat(np.arange(n_orders), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_linenumber = np.arange(n_lines) - starts + 1
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_orderkey, i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
            "l_linenumber": pa.array(l_linenumber, i32),
            "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": _ts(order_dates[l_orderkey] + rng.integers(1, 122, n_lines) * _DAY_US),
        }
    )
    return out


def events_table(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 1), n), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": _money(rng, 0.0, 560.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(
    rng: np.random.Generator, n_docs: int, near_dup_share: float = 0.0
) -> pa.Table:
    """Random-vocabulary documents of 10-100 tokens, 20 sources, 5 langs.

    ``near_dup_share`` appends that share of near-duplicate copies: each
    copies a random base document, edits 1-3 tokens, and takes a fresh
    ``doc_id`` — the input property the dedup stages key on."""
    vocab = np.array(_VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(vocab, k)) for k in lengths]
    langs = list(rng.choice(_LANGS, n_docs))
    sources = [f"src{s}" for s in rng.integers(0, 20, n_docs)]
    for _ in range(int(n_docs * near_dup_share)):
        base = int(rng.integers(0, n_docs))
        toks = texts[base].split(" ")
        for pos in rng.integers(0, len(toks), int(rng.integers(1, 4))):
            toks[pos] = str(rng.choice(vocab))
        texts.append(" ".join(toks))
        langs.append(langs[base])
        sources.append(f"src{int(rng.integers(1, 20))}")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(tables: dict[str, pa.Table], root: str) -> None:
    """One parquet file per table at ``{root}/{name}.parquet`` — the
    layout ``catalog.load_table`` and ``oracle.duckdb_connection`` read."""
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def migration_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The nine mappable tables at scale ``sf``."""
    rng = np.random.default_rng(seed)
    tables = star_tables(rng, sf)
    tables["events"] = events_table(rng, sf)
    tables["documents"] = documents_table(rng, int(50_000 * sf))
    return tables
