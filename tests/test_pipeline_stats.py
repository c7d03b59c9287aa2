"""Manifest statistics, chunk pruning, column projection, list columns."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

from parquet_go_spark.plans import pipeline
from tests.colcodec_read import all_chunks, direct_read, same_rows, spark_where


@pytest.fixture(scope="module")
def orders_blobs(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "orders")
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    pipeline.encode_table(
        spark, df, out, repo_col="o_orderpriority",
        salt_cols=["o_orderkey"], sort_cols=["o_orderkey"],
    )
    return out, df


def test_manifest_minmax_match_data(spark, orders_blobs):
    out, df = orders_blobs
    m = pipeline.manifest(spark, out).where(
        (F.col("column") == "o_orderkey") & (F.col("stream") == "values")
    )
    lo = m.agg(F.min(F.col("min_val").cast("double"))).collect()[0][0]
    hi = m.agg(F.max(F.col("max_val").cast("double"))).collect()[0][0]
    true_lo, true_hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    assert lo == float(true_lo) and hi == float(true_hi)


def test_string_stats_truncated_bounds(spark, orders_blobs):
    out, df = orders_blobs
    m = pipeline.manifest(spark, out).where(
        (F.col("column") == "o_orderstatus") & (F.col("stream") == "values")
    )
    rows = m.collect()
    assert all(len(r["min_val"]) <= pipeline.STAT_TRUNCATE for r in rows)
    # bounds actually bound: global min/max inside [min(min), max(max)]
    glo = min(r["min_val"] for r in rows)
    ghi = max(r["max_val"] for r in rows)
    slo, shi = df.agg(F.min("o_orderstatus"), F.max("o_orderstatus")).collect()[0]
    assert glo <= slo and ghi >= shi


def test_ds_range_read_matches_filter(spark, orders_blobs):
    out, df = orders_blobs
    cond = F.col("o_orderkey").between(50, 300)
    got = spark_where(spark, out, cond)
    assert same_rows(got, df.where(cond))
    rows, _ = direct_read(out, [GreaterThanOrEqual(("o_orderkey",), 50),
                                LessThanOrEqual(("o_orderkey",), 300)])
    assert {r["o_orderkey"] for r in rows} >= set(range(50, 301))


def test_ds_range_read_skips_chunks(spark, orders_blobs):
    out, df = orders_blobs
    # each o_orderpriority chunk spans the key space; only the chunks
    # holding key 0 or 1 reach below 2, so the rest are refuted by min
    cond = F.col("o_orderkey").between(0, 1)
    got = spark_where(spark, out, cond)
    assert same_rows(got, df.where(cond)) and got.count() == 2
    rows, kept = direct_read(out, [GreaterThanOrEqual(("o_orderkey",), 0),
                                   LessThanOrEqual(("o_orderkey",), 1)])
    assert {0, 1} <= {r["o_orderkey"] for r in rows}
    assert kept < all_chunks(out)


def test_column_projection(spark, orders_blobs):
    out, df = orders_blobs
    sub = pipeline.decode_table(spark, out, columns_subset=["o_orderkey", "o_totalprice"])
    assert set(sub.columns) == {"o_orderkey", "o_totalprice"}
    assert sub.count() == df.count()


def test_list_column_roundtrip(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "emb")
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    stats = pipeline.encode_table(
        spark, df, out, repo_col="label",
        salt_cols=["vec_id"], sort_cols=["vec_id"],
    )
    assert stats["chunks"] > 0
    dec = pipeline.decode_table(spark, out)
    a = {r["vec_id"]: r["embedding"] for r in df.collect()}
    b = {r["vec_id"]: r["embedding"] for r in dec.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert np.array_equal(np.array(a[k], np.float32), np.array(b[k], np.float32))
    # manifest has two streams for the list column
    m = pipeline.manifest(spark, out)
    streams = {
        r["stream"] for r in m.where(F.col("column") == "embedding").collect()
    }
    assert streams == {"lengths", "values"}
