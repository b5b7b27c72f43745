import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    d = tmp_path_factory.mktemp("base")
    counts = gen.make_base(str(d), seed=3, sf=0.001)
    return str(d), counts


def _rows(path):
    return pq.ParquetFile(path).metadata.num_rows


def test_base_row_counts_follow_scale_factor(base):
    d, counts = base
    sizes = gen.base_sizes(0.001)
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert counts[t] == sizes[t] == _rows(f"{d}/{t}.parquet")
    assert counts["region"] == 5 and counts["nation"] == 25
    assert pq.ParquetFile(f"{d}/lineitem.parquet").metadata.num_row_groups > 1


def test_base_is_deterministic_in_the_seed(base, tmp_path):
    d, _ = base
    gen.make_base(str(tmp_path), seed=3, sf=0.001)
    for t in gen.TABLES:
        assert pq.read_table(f"{d}/{t}.parquet").equals(pq.read_table(tmp_path / f"{t}.parquet"))


def _ts_units(path):
    schema = pq.ParquetFile(path).schema_arrow
    return {f.name: f.type.unit for f in schema if pa.types.is_timestamp(f.type)}


def test_timestamps_are_micros_like_the_sf_fixtures(base, tmp_path):
    d, _ = base
    gen.make_tier(d, str(tmp_path), 2)
    expected = {"events": {"ts": "us"}, "orders": {"o_orderdate": "us"}, "lineitem": {"l_shipdate": "us"}}
    for root in (d, tmp_path):
        for t, units in expected.items():
            assert _ts_units(f"{root}/{t}.parquet") == units


def test_tier_replicates_with_unique_keys(base, tmp_path):
    d, counts = base
    tier = gen.make_tier(d, str(tmp_path), 3)
    for t in ("customer", "orders", "lineitem", "events"):
        assert tier[t] == 3 * counts[t] == _rows(tmp_path / f"{t}.parquet")
    for t in ("part", "supplier", "documents", "embeddings"):
        assert tier[t] == counts[t]
    con = duckdb.connect()
    orphans = con.sql(
        f"SELECT count(*) FROM '{tmp_path}/lineitem.parquet' l"
        f" ANTI JOIN '{tmp_path}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"
    ).fetchone()[0]
    assert orphans == 0
