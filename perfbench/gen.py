"""Seeded input generator for the benchmark.

``make_base`` writes the ten fixture tables the engine reads (TPC-H-ish star
schema, ``events``, ``documents``, ``embeddings``) with the shapes and value
distributions of the engine's sf fixtures: uniform independent columns,
ts-ordered events over 30 days, 5% near-duplicate and a few exact-duplicate
documents, unit-norm 64-d float embeddings.  Timestamp columns are parquet
TIMESTAMP(MICROS), as in the sf fixtures, so ``read_table`` reads them as
timestamps directly (its nanos-as-long branch is for ns-encoded files).  The
same seed gives the same files byte for byte.

``make_tier`` builds a K-times tier from a base directory by replicating
orders, lineitem, customer and events with key offsets (DuckDB, no Spark),
then checks that row counts are exactly K times the base and that keys stay
unique.  Dimension, document and embedding tables are copied unchanged,
because replicating them would create duplicates for dedup and ANN queries.

Every table is written as ONE parquet file with several row groups, so both
Spark and DuckDB read the same bytes through ``{dir}/{name}.parquet``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
ROW_GROUPS = 4

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "green", "hot", "large", "red", "small", "tiny"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    rg = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rg)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, n)
    return cents / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _labelled(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def base_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # 5% near-duplicates (a copy of another document plus one token) and a
    # handful of exact duplicates, so dedup queries have real matches.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    values = pa.array(x.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n + 1, 64), pa.int32()), values),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_base(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the ten fixture tables for ``sf`` under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = base_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": _labelled("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": _labelled("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"])
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([
            f"{_P_ADJ[a]} {_P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": _pick(rng, _P_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": (900 * 10 + pk % 1000) / 10.0,
    })
    order_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, order_days + 1, n["orders"]) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"]),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, order_days + 95, nl) * _DAY_US),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    for name in TABLES:
        _write(t[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}


# Replicated tables: (key column, offset source) pairs.  Every replica r adds
# r * (max key + 1) of the referenced table, so foreign keys stay inside
# their replica and primary keys stay unique.
_REPLICATED: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "customer.c_custkey"},
    "orders": {"o_orderkey": "orders.o_orderkey", "o_custkey": "customer.c_custkey"},
    "lineitem": {"l_orderkey": "orders.o_orderkey"},
    "events": {"event_id": "events.event_id", "user_id": "events.user_id"},
}
_UNIQUE_KEYS = {"customer": "c_custkey", "orders": "o_orderkey", "events": "event_id"}


def make_tier(base_dir: str, out_dir: str, k: int) -> dict[str, int]:
    """Write a ``k``-times tier of ``base_dir`` under ``out_dir`` and check it.

    Raises ``ValueError`` if a replicated table's row count is not exactly
    ``k`` times the base or a primary key repeats."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB"})
    con.execute("SET enable_progress_bar = false")
    try:
        src = {t: os.path.join(base_dir, f"{t}.parquet") for t in TABLES}
        span: dict[str, int] = {}
        for ref in {r for cols in _REPLICATED.values() for r in cols.values()}:
            table, col = ref.split(".")
            span[ref] = con.sql(f"SELECT max({col}) + 1 FROM read_parquet('{src[table]}')").fetchone()[0]
        counts = {}
        for table in TABLES:
            dst = os.path.join(out_dir, f"{table}.parquet")
            base_rows = pq.ParquetFile(src[table]).metadata.num_rows
            if table not in _REPLICATED:
                shutil.copyfile(src[table], dst)
                counts[table] = base_rows
                continue
            cols = [
                f"{c} + rep * {span[ref]} AS {c}" for c, ref in _REPLICATED[table].items()
            ]
            rows_per_group = max(1, -(-base_rows * k // ROW_GROUPS))
            con.execute(
                f"COPY (SELECT b.* REPLACE ({', '.join(cols)}) FROM read_parquet('{src[table]}') b,"
                f" range({k}) r(rep)) TO '{dst}'"
                f" (FORMAT parquet, ROW_GROUP_SIZE {rows_per_group})"
            )
            counts[table] = pq.ParquetFile(dst).metadata.num_rows
            if counts[table] != k * base_rows:
                raise ValueError(f"{table}: {counts[table]} rows, expected {k} x {base_rows}")
            key = _UNIQUE_KEYS.get(table)
            if key:
                distinct = con.sql(f"SELECT count(DISTINCT {key}) FROM read_parquet('{dst}')").fetchone()[0]
                if distinct != counts[table]:
                    raise ValueError(f"{table}.{key}: {distinct} distinct of {counts[table]} rows")
        return counts
    finally:
        con.close()
