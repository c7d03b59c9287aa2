"""Null (optional-column) support: validity bitmap round trips at the
chunk level and through the Spark pipeline — the flat-schema analog of
definition levels (/root/reference/column_buffer_optional.go:11-30)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet_go_spark.codecs import chunk as chunklib, selector
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Codec, Kind


@pytest.mark.parametrize("codec,dict_wrap", [
    (Codec.PLAIN, False), (Codec.DELTA_BINARY_PACKED, False),
    (Codec.PLAIN, True),
])
def test_chunk_nulls_int64(codec, dict_wrap):
    rng = np.random.default_rng(7)
    validity = rng.random(1000) > 0.3
    values = rng.integers(0, 100, int(validity.sum())).astype(np.int64)
    blob = chunklib.encode_chunk(values, Kind.INT64, codec,
                                 dict_wrap=dict_wrap, validity=validity)
    dec, meta = chunklib.decode_chunk(blob)
    assert meta["n"] == 1000
    assert np.array_equal(meta["validity"], validity)
    assert np.array_equal(dec, values)


@pytest.mark.parametrize("codec", [
    Codec.PLAIN, Codec.DELTA_LENGTH_BYTE_ARRAY, Codec.FSST,
])
def test_chunk_nulls_byte_array(codec):
    rng = np.random.default_rng(9)
    validity = rng.random(500) > 0.5
    vals = ByteArrays.from_pylist(
        [f"value_{i}".encode() * (i % 5 + 1) for i in range(int(validity.sum()))]
    )
    blob = chunklib.encode_chunk(vals, Kind.BYTE_ARRAY, codec, validity=validity)
    dec, meta = chunklib.decode_chunk(blob)
    assert np.array_equal(meta["validity"], validity)
    assert dec == vals


def test_chunk_all_null():
    validity = np.zeros(64, dtype=bool)
    blob = chunklib.encode_chunk(np.empty(0, np.int64), Kind.INT64,
                                 Codec.PLAIN, validity=validity)
    dec, meta = chunklib.decode_chunk(blob)
    assert meta["n"] == 64 and len(dec) == 0
    assert not meta["validity"].any()


def test_selector_with_validity():
    rng = np.random.default_rng(3)
    validity = rng.random(2000) > 0.2
    values = rng.integers(0, 10, int(validity.sum())).astype(np.int64)
    blob, info = selector.select_and_encode(values, Kind.INT64, validity=validity)
    dec, meta = chunklib.decode_chunk(blob)
    assert np.array_equal(dec, values)
    assert np.array_equal(meta["validity"], validity)


def test_pipeline_nullable_roundtrip(spark, tmp_path_factory):
    from parquet_go_spark.plans import pipeline

    out = str(tmp_path_factory.mktemp("enc") / "nullable")
    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .withColumn("o_orderstatus",
                    F.when(F.col("o_orderkey") % 3 == 0, None)
                    .otherwise(F.col("o_orderstatus")))
        .withColumn("o_custkey",
                    F.when(F.col("o_orderkey") % 5 == 0, None)
                    .otherwise(F.col("o_custkey")))
    )
    pipeline.encode_table(spark, df, out, repo_col="o_orderpriority",
                          salt_cols=["o_orderkey"], sort_cols=["o_orderkey"])
    res = pipeline.verify_roundtrip(spark, df, out)
    assert res["ok"], res
    m = pipeline.manifest(spark, out)
    nc = {r["column"]: r["nc"] for r in
          m.groupBy("column").agg(F.sum("null_count").alias("nc")).collect()}
    n_null_status = df.where(F.col("o_orderstatus").isNull()).count()
    assert nc["o_orderstatus"] == n_null_status
    assert nc["o_orderkey"] == 0


@pytest.mark.parametrize("writer", ["hash", "range", "export", "datasource"])
def test_null_repo_rows_survive_every_writer(spark, tmp_path, writer):
    """A third of the repo values NULL: every writer groups them under
    "None" (pipeline._repo_key) and every row comes back, NULL intact;
    a resumed run finds those groups done."""
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.plans import pipeline
    from parquet_go_spark.sources import datasource

    df = spark.range(300).select(
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .otherwise((F.col("id") % 4).cast("string")).alias("repo"),
        F.col("id").alias("k"),
        F.concat(F.lit("path/"), F.col("id").cast("string")).alias("path"),
    )
    out = str(tmp_path / writer)
    if writer in ("hash", "range"):
        kw = dict(salt_cols=["k"], sort_cols=["path"], layout=writer)
        pipeline.encode_table(spark, df, out, resume=False, **kw)
        res = pipeline.verify_roundtrip(spark, df, out)
        assert res["ok"], res
        n_blobs = pipeline.manifest(spark, out).count()
        again = pipeline.encode_table(spark, df, out, resume=True, **kw)
        assert again["skipped_chunks"] > 0
        assert pipeline.manifest(spark, out).count() == n_blobs
        return
    if writer == "export":
        export_parquet(spark, df, out, salt_cols=["k"])
        back = spark.read.parquet(out)
        assert export_parquet(spark, df, out, salt_cols=["k"],
                              resume=True).count() == 0
    else:
        datasource.register(spark)
        df.write.format("colcodec").option("repo_col", "repo") \
          .mode("overwrite").save(out)
        back = spark.read.format("colcodec").load(out)
    rows = back.collect()  # one query: a reused DS DataFrame may serve
    # an earlier query's pruned scan (see the datasource docstring)
    assert sum(r.repo is None for r in rows) == 100
    assert sorted(map(str, rows)) == sorted(map(str, df.collect()))


@pytest.fixture
def small_batches(spark):
    """50-row Arrow batches: a group spans batches, so the writers'
    size flushes fall between batches of one sorted stream."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "50")
    yield
    spark.conf.set(key, old)


def _null_keyed_repo(spark):
    """One repo, one bucket (salted on the constant repo), 600 rows of
    ~215 bytes: a permuted bigint k, NULL on every 20th row."""
    return spark.range(600).select(
        F.lit("r").alias("repo"),
        F.when(F.col("id") % 20 == 0, None)
        .otherwise((F.col("id") * 7919) % 600).alias("k"),
        F.concat(F.lit("x" * 200), F.col("id").cast("string")).alias("body"),
    )


def test_null_sort_keys_sort_last_in_parts_and_chunks(spark, tmp_path,
                                                      small_batches):
    """The shuffling writers sort NULL keys last, as the footers'
    SortingColumn{nulls_first=false} declares: a group's export parts
    hold disjoint ascending k ranges with NULLs only at the end of the
    last part, and its hash-layout chunks hold disjoint k ranges."""
    import os

    import pyarrow.parquet as pq

    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.plans import pipeline

    df = _null_keyed_repo(spark)
    target = 16 << 10
    out = str(tmp_path / "exp")
    rows = export_parquet(spark, df, out, salt_cols=["repo"],
                          sort_cols=["k"], target_chunk_bytes=target).collect()
    assert len({(r.repo, r.bucket) for r in rows}) == 1
    parts = sorted(rows, key=lambda r: r.part)
    assert len(parts) >= 2
    ks = []
    for r in parts:
        pf = pq.ParquetFile(os.path.join(out, r.file))
        sc = pf.metadata.row_group(0).sorting_columns
        assert [(c.column_index, c.descending, c.nulls_first)
                for c in sc] == [(1, False, False)]
        ks.append(pf.read(columns=["k"]).column("k").to_pylist())
    n_null = 30
    assert all(None not in k for k in ks[:-1])
    assert ks[-1][-n_null:] == [None] * n_null
    flat = [v for k in ks for v in k if v is not None]
    assert flat == sorted(flat) and len(flat) == 600 - n_null
    for a, b in zip(ks, ks[1:]):
        assert max(v for v in a if v is not None) < b[0]

    store = str(tmp_path / "store")
    pipeline.encode_table(spark, df, store, salt_cols=["repo"],
                          sort_cols=["k"], target_chunk_bytes=target,
                          layout="hash", resume=False)
    m = (pipeline.manifest(spark, store).where("column = 'k'")
         .select("chunk_id", "min_val", "max_val", "null_count").collect())
    assert len(m) >= 2
    spans = sorted((int(r.min_val), int(r.max_val)) for r in m
                   if r.min_val is not None)
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:]))
    assert sum(r.null_count for r in m) == n_null
    res = pipeline.verify_roundtrip(spark, df, store, content_col="body")
    assert res["ok"], res
