"""The driver's pruned-read queries (three colcodec stores, one
exported parquet directory) against their unchanged DuckDB oracles at
sf0.01, compared the way scripts/check_oracle.py compares
every driver query: row count, column names, then the row multiset with
values canonicalized to strings."""

from __future__ import annotations

import importlib.util
import os

import pytest

SF_DIR = "/root/testdata/sf0.01"
ORDERS = f"{SF_DIR}/orders.parquet"


def _canon():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


@pytest.mark.parametrize("name", ["prune_decode_orders", "range_prune_orders",
                                  "bloom_point_orders",
                                  "parquet_read_golden"])
def test_pruned_read_query_matches_oracle(spark, name):
    duckdb = pytest.importorskip("duckdb")
    if not os.path.exists(ORDERS):
        pytest.skip(f"testdata absent: {ORDERS}")
    import __spark_entry__ as entry

    got = entry.queries()[name](spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM '{ORDERS}'")
    want = con.sql(entry.oracle_sql()[name]).df()
    assert len(want) > 0
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    canon = _canon()
    assert canon(got).equals(canon(want))
