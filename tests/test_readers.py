"""``read_table``'s per-session schema memo and the declared fixture schemas.

Jobs are counted under a job group with ``statusTracker``.  The tracker is
fed by the asynchronous listener bus, so every count first waits for a
fence job run after the counted work: events are delivered in order, so
once the fence is visible every earlier job is too.
"""

from __future__ import annotations

import itertools
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType

from big_data_analytics_project_spark.schemas import FIXTURE_TABLES
from big_data_analytics_project_spark.sources import read_table
from big_data_analytics_project_spark.sources.readers import DATA_DIR_CANDIDATES

_groups = itertools.count()


def jobs_started(spark, fn):
    """(fn's result, number of Spark jobs ``fn`` started)."""
    sc = spark.sparkContext
    group = f"test-readers-{next(_groups)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"{group}-fence", "fence")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{group}-fence"):
        assert time.monotonic() < deadline, "fence job never reached the status tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def test_second_read_starts_no_job_and_returns_first_schema(spark, tmp_path):
    pq.write_table(
        pa.table({"c_custkey": pa.array([1, 2, 3], pa.int64()), "c_name": ["a", "b", "c"]}),
        tmp_path / "customer.parquet",
    )
    first, n_first = jobs_started(spark, lambda: read_table(spark, str(tmp_path), "customer"))
    second, n_second = jobs_started(spark, lambda: read_table(spark, str(tmp_path), "customer"))
    assert n_first >= 1  # the miss resolves the footer in a job
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_fixture_reads_start_no_job_once_resolved(spark, sf_dir):
    for name in ("lineitem", "events", "embeddings"):
        first = read_table(spark, sf_dir, name)
        again, n = jobs_started(spark, lambda: read_table(spark, sf_dir, name))
        assert n == 0, name
        assert again.schema == first.schema, name


def test_rewritten_file_resolves_its_new_schema(spark, tmp_path):
    path = tmp_path / "customer.parquet"
    pq.write_table(pa.table({"c_custkey": pa.array([1], pa.int64()), "c_name": ["a"]}), path)
    assert read_table(spark, str(tmp_path), "customer").columns == ["c_custkey", "c_name"]
    pq.write_table(
        pa.table({"c_custkey": pa.array([7], pa.int64()), "c_acctbal": [2.5], "c_mktsegment": ["X"]}),
        path,
    )
    df = read_table(spark, str(tmp_path), "customer")
    assert df.columns == ["c_custkey", "c_acctbal", "c_mktsegment"]
    assert [tuple(r) for r in df.collect()] == [(7, 2.5, "X")]


def test_new_session_does_not_share_memo_entries(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_name": ["AFRICA"]}),
                   tmp_path / "region.parquet")
    read_table(spark, str(tmp_path), "region")
    _, n_same = jobs_started(spark, lambda: read_table(spark, str(tmp_path), "region"))
    other = spark.newSession()
    df, n_other = jobs_started(other, lambda: read_table(other, str(tmp_path), "region"))
    assert n_same == 0
    assert n_other >= 1
    assert df.schema == read_table(spark, str(tmp_path), "region").schema


def test_pandas_nanosecond_timestamps_read_as_micros_on_miss_and_hit(spark, tmp_path):
    pd = pytest.importorskip("pandas")
    ts = pd.to_datetime(["2024-01-01 00:00:00.000000", "2024-01-02 03:04:05.123456", "2024-03-01 23:59:59.000001"])
    pd.DataFrame({
        "event_id": [1, 2, 3], "ts": ts, "user_id": [10, 11, 12],
        "event_type": ["view", "cart", "purchase"], "value": [1.0, 2.0, 3.0], "props": ["{}"] * 3,
    }).to_parquet(tmp_path / "events.parquet")
    ts_type = pq.read_schema(tmp_path / "events.parquet").field("ts").type
    assert ts_type == pa.timestamp("ns"), "pandas default must write TIMESTAMP(NANOS) for this test"

    miss, n_miss = jobs_started(spark, lambda: read_table(spark, str(tmp_path), "events"))
    hit, n_hit = jobs_started(spark, lambda: read_table(spark, str(tmp_path), "events"))
    assert n_miss >= 1 and n_hit == 0
    assert miss.schema == hit.schema
    assert isinstance(hit.schema["ts"].dataType, TimestampType)
    assert sorted(miss.collect()) == sorted(hit.collect())
    us = [r.us for r in hit.orderBy("event_id").selectExpr("unix_micros(ts) AS us").collect()]
    assert us == [t.value // 1000 for t in ts]


@pytest.mark.parametrize("sf_path", DATA_DIR_CANDIDATES, ids=os.path.basename)
def test_declared_schemas_match_fixture_footers(spark, sf_path):
    """Names, order and types as Spark resolves each footer, checked once per
    scale factor.  The one intended difference: the files hold
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which reads as timestamp_ntz,
    while the declared type is TimestampType (``from_json`` in
    ``streaming/processor.py`` parses the staged JSON with it)."""
    if not os.path.isdir(sf_path):
        pytest.skip(f"{sf_path} not present")
    ts_columns = {("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")}
    for name, declared in FIXTURE_TABLES.items():
        footer = spark.read.parquet(f"{sf_path}/{name}.parquet").schema
        assert footer.names == declared.names, name
        for got, want in zip(footer.fields, declared.fields):
            if (name, got.name) in ts_columns:
                unit = pq.read_schema(f"{sf_path}/{name}.parquet").field(got.name).type
                assert unit == pa.timestamp("us"), (name, got.name, unit)
                assert isinstance(got.dataType, TimestampNTZType), (name, got.name)
                assert isinstance(want.dataType, TimestampType), (name, got.name)
            else:
                assert got.dataType == want.dataType, (name, got.name, got.dataType, want.dataType)
