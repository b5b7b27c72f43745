"""Typed sources.

Replaces the reference's inferred CSV scans (S1, ``src/spark/preprocessing.py:32``)
with explicit-schema readers: no double scan for inference, correct timestamp
parsing (SURVEY §1.4), and column pruning + predicate pushdown reach the
parquet reader because types are right from the start.
"""

from __future__ import annotations

import os
import weakref

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from ..schemas import CLICKSTREAM_RAW, EVENT_TIME_FORMAT, FIXTURE_TABLES

# The driver fixtures store timestamps as parquet TIMESTAMP(MICROS,
# isAdjustedToUTC=false), which Spark 4 reads as timestamp_ntz.  Parquet
# written by pandas/pyarrow with its default ns precision is
# TIMESTAMP(NANOS) instead, which Spark's reader rejects; with
# ``nanosAsLong`` set such a column reads as long, and integer-dividing to
# µs is lossless for µs-aligned values and bit-identical to what DuckDB sees.
_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

# Per-session memo: absolute path -> ((st_size, st_mtime_ns), schema Spark
# resolved on the first read of that file version).  Per session because
# session confs (``nanosAsLong`` among them) shape the resolved types.
# Threads racing on a miss each resolve and store the same schema.
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[tuple[int, int], StructType]]] = (
    weakref.WeakKeyDictionary()
)


def _file_version(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver fixture table from ``{sf_dir}/{name}.parquet``.

    Parquet carries its own schema.  Resolving it reads the footers in a
    Spark job, so the first read of each file version in a session
    memoizes the resolved schema and later reads pass it back with
    ``.schema(...)``, starting no job.  A rewritten file (new size or
    mtime) or a path ``os.stat`` cannot see resolves again.  The only
    adjustment is the nanosecond timestamp conversion above (``ts div
    1000`` stays in whole-stage codegen; the cast is a cheap projection,
    no shuffle).
    """
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {sorted(FIXTURE_TABLES)}")
    if name in _TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key, version = os.path.abspath(path), _file_version(path)
    memo = _SCHEMAS.setdefault(spark, {})
    cached = memo.get(key)
    if cached is not None and cached[0] == version:
        schema = cached[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        if version is not None:
            memo[key] = (version, schema)
    for c in _TS_COLUMNS.get(name, ()):
        if c in schema.names and schema[c].dataType == LongType():
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# U2 — data auto-detection priority list (reference
# src/streaming/config.py:24-53: a fixed candidate list probed in order,
# sample-first so dev runs never accidentally grab the full dataset).
# Ours probes scale-factor dirs smallest-first; $SPARK_GRAFT_SF_DIR wins.
DATA_DIR_CANDIDATES: tuple[str, ...] = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
)


def available_tables(sf_dir: str) -> set[str]:
    """Fixture tables present in a directory (as ``{name}.parquet``)."""
    return {
        t for t in FIXTURE_TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    }


def detect_data_dir(
    candidates: tuple[str, ...] | None = None,
    required: tuple[str, ...] = ("events",),
) -> str:
    """Return the first candidate directory containing every ``required``
    table.  ``$SPARK_GRAFT_SF_DIR`` (the bench/driver contract env var)
    short-circuits the probe when set.  Raises FileNotFoundError with the
    probed list when nothing matches — the reference's behavior of falling
    through its priority list to an error."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    probed = candidates or DATA_DIR_CANDIDATES
    for d in probed:
        if set(required) <= available_tables(d):
            return d
    raise FileNotFoundError(
        f"no data directory with tables {sorted(required)} among {list(probed)}"
    )


class Catalog:
    """Lazy handle to one scale-factor directory of fixture tables.

    ``Catalog(spark, sf_dir).lineitem`` → DataFrame.  Each access builds a
    fresh scan, so callers can't accidentally share cached plans across
    tests; only the resolved schema is shared, through ``read_table``'s
    per-session memo, so repeat accesses start no Spark job.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return read_table(self.spark, self.sf_dir, name)

    def table(self, name: str) -> DataFrame:
        return read_table(self.spark, self.sf_dir, name)


def read_clickstream_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read the reference-shaped clickstream CSV with an explicit schema and
    a *parsed* event_time.

    The reference (``preprocessing.py:32``) infers the schema, leaving
    ``event_time`` a string because of the trailing ``' UTC'`` token; every
    downstream comparison then happens lexicographically and
    ``cast('long')`` nulls out (SURVEY §1.4).  Here we parse it properly so
    ordering and duration semantics are exact.
    """
    raw = spark.read.schema(CLICKSTREAM_RAW).option("header", True).csv(path)
    return raw.withColumn(
        "event_time", F.to_timestamp("event_time", EVENT_TIME_FORMAT)
    ).fillna({"category_code": "unknown", "brand": "unknown"})
