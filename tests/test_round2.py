"""Round-2 surface: ADVICE correctness fixes (byte-space string pruning,
NULL-bound handling, bigint stat comparison, bloom -0.0, compact guard),
DecimalType / array<string> / struct encoding, and the streaming decode
kernel's one-chunk-in-flight property."""

from __future__ import annotations

import tempfile
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual,
                                    LessThanOrEqual)

from parquet_go_spark.codecs import bloom as bloomlib
from parquet_go_spark.codecs.kinds import Kind
from parquet_go_spark.plans import pipeline
from tests.colcodec_read import all_chunks, direct_read, same_rows, spark_where


# ---------- ADVICE fixes ----------

def test_bloom_negative_zero_double():
    vals = np.array([-0.0, 1.5, 2.5], dtype=np.float64)
    blob = bloomlib.build(vals, Kind.DOUBLE)
    probe = np.array([0.0], dtype=np.float64)
    assert bloomlib.might_contain(blob, probe, Kind.DOUBLE)[0]


def test_bloom_negative_zero_float():
    vals = np.array([0.0, 3.0], dtype=np.float32)
    blob = bloomlib.build(vals, Kind.FLOAT)
    probe = np.array([-0.0], dtype=np.float32)
    assert bloomlib.might_contain(blob, probe, Kind.FLOAT)[0]


def test_compact_refuses_in_place():
    with tempfile.TemporaryDirectory() as d:
        with pytest.raises(ValueError, match="is also an input"):
            pipeline.compact_tables(None, [d, d + "x"], d)


def test_prune_non_ascii_strings(spark):
    # ' ' encodes as 0xC2 0xA0; latin-1 stat storage must not leak
    # into the comparison — probing the exact value must keep its chunk
    # one chunk per value family, so the probe's chunk is the one that
    # must survive and the other one is refuted
    rows = [("a", i, f" nbsp-{i:03d}") for i in range(50)]
    rows += [("b", 100 + i, f"zé-{i:03d}") for i in range(50)]
    df = spark.createDataFrame(rows, "repo string, k bigint, s string")
    out = tempfile.mkdtemp(prefix="colcodec_nonascii_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    probe = " nbsp-007"
    got = spark_where(spark, out, F.col("s") == probe)
    assert same_rows(got, df.where(F.col("s") == probe))
    assert [r["k"] for r in got.collect()] == [7]
    rows, kept = direct_read(out, [EqualTo(("s",), probe)])
    assert 7 in {r["k"] for r in rows}
    assert kept < all_chunks(out)


def test_prune_large_int64(spark):
    # values above 2^53: a double cast would round and mis-prune
    base = 1 << 60
    rows = [("r", base + i) for i in range(10)]
    df = spark.createDataFrame(rows, "repo string, k bigint")
    out = tempfile.mkdtemp(prefix="colcodec_bigint_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    got = spark_where(spark, out, F.col("k") == base + 1)
    assert same_rows(got, df.where(F.col("k") == base + 1))
    assert got.count() == 1
    rows, _ = direct_read(out, [EqualTo(("k",), base + 1)])
    assert base + 1 in {r["k"] for r in rows}


def test_prune_null_bounds_kept(spark):
    # binary values of all-0xFF bytes → _truncate_max returns None; the
    # NULL max bound must mean "unbounded", not "prunable"
    rows = [("r", i, bytes([0xFF] * 20)) for i in range(5)]
    rows += [("r", 10 + i, b"aa" * 10) for i in range(5)]
    df = spark.createDataFrame(rows, "repo string, k bigint, b binary")
    out = tempfile.mkdtemp(prefix="colcodec_ffbin_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    cond = F.col("b") >= F.lit(bytes([0xFE]))
    got = spark_where(spark, out, cond)
    assert same_rows(got, df.where(cond))
    assert got.count() == 5  # the all-0xFF rows survive pruning
    rows, _ = direct_read(out, [GreaterThanOrEqual(("b",), bytes([0xFE]))])
    assert sorted(r["k"] for r in rows if r["b"] >= bytes([0xFE])) == [
        0, 1, 2, 3, 4]


# ---------- decimal ----------

def test_decimal_kernel_roundtrip_int64():
    s = pa.array([Decimal("12.34"), Decimal("-99999999.99"), Decimal("0.01")],
                 pa.decimal128(12, 2))
    vals = pipeline._decimal_to_values(s, 12)
    assert vals.dtype == np.int64
    assert list(vals) == [1234, -9999999999, 1]
    back = pipeline._values_to_decimal(vals, 12, 2)
    assert back.to_pylist() == s.to_pylist()


def test_decimal_kernel_roundtrip_flba():
    big = Decimal("123456789012345678901234.5678")
    s = pa.array([big, -big, Decimal("0.0001")], pa.decimal128(38, 4))
    vals = pipeline._decimal_to_values(s, 38)
    assert vals.shape == (3, 16)
    back = pipeline._values_to_decimal(vals, 38, 4)
    assert back.to_pylist() == s.to_pylist()


def test_decimal_pipeline_roundtrip(spark):
    df = spark.createDataFrame(
        [("r", i) for i in range(200)], "repo string, k bigint"
    ).select(
        "repo", "k",
        (F.col("k") * 7 / 100).cast("decimal(12,2)").alias("money"),
        (F.col("k") * F.lit(10) ** 18 + F.col("k")).cast("decimal(38,4)")
        .alias("bignum"),
        (F.col("k") % 100).cast("decimal(7,0)").alias("small"),
    )
    out = tempfile.mkdtemp(prefix="colcodec_decimal_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    dec = pipeline.decode_table(spark, out)
    assert dec.schema["money"].dataType.simpleString() == "decimal(12,2)"
    src = {r["k"]: r for r in df.collect()}
    for r in dec.collect():
        assert r["money"] == src[r["k"]]["money"]
        assert r["bignum"] == src[r["k"]]["bignum"]
        assert r["small"] == src[r["k"]]["small"]


def test_decimal_pruning(spark):
    df = spark.createDataFrame(
        [("r", i) for i in range(100)], "repo string, k bigint"
    ).select("repo", "k", (F.col("k") + 0.25).cast("decimal(10,2)").alias("d"))
    out = tempfile.mkdtemp(prefix="colcodec_decprune_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    lo, hi = Decimal("7.25"), Decimal("9.25")
    got = spark_where(spark, out, F.col("d").between(lo, hi))
    assert same_rows(got, df.where(F.col("d").between(lo, hi)))
    assert got.count() == 3
    rows, _ = direct_read(out, [GreaterThanOrEqual(("d",), lo),
                                LessThanOrEqual(("d",), hi)])
    assert {7, 8, 9} <= {r["k"] for r in rows}


# ---------- array<string> + struct ----------

def test_array_string_roundtrip(spark):
    df = spark.createDataFrame(
        [("r", i, [f"tag{i}", "common", f"x{i % 3}"] if i % 5 else [])
         for i in range(300)],
        "repo string, k bigint, tags array<string>",
    )
    out = tempfile.mkdtemp(prefix="colcodec_tags_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    dec = pipeline.decode_table(spark, out)
    src = {r["k"]: r["tags"] for r in df.collect()}
    got = {r["k"]: r["tags"] for r in dec.collect()}
    assert got == src


def test_struct_roundtrip(spark):
    df = spark.createDataFrame(
        [("r", i) for i in range(300)], "repo string, k bigint"
    ).select(
        "repo", "k",
        F.struct(
            (F.col("k") % 7).alias("a"),
            F.when(F.col("k") % 3 == 0, None)
            .otherwise(F.concat(F.lit("s"), F.col("k"))).alias("b"),
            (F.col("k") / 8).cast("decimal(10,3)").alias("c"),
        ).alias("props"),
    )
    out = tempfile.mkdtemp(prefix="colcodec_struct_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    dec = pipeline.decode_table(spark, out)
    src = {r["k"]: r["props"] for r in df.collect()}
    got = {r["k"]: r["props"] for r in dec.collect()}
    assert got == src


def test_map_roundtrip(spark):
    """map<string,V> → three streams (entry lengths + flattened keys +
    flattened nullable values), the MAP key_value shredding analog
    (/root/reference/node.go:528-540). Covers null entry values and
    empty maps."""
    df = spark.createDataFrame(
        [("r", i) for i in range(300)], "repo string, k bigint"
    ).select(
        "repo", "k",
        F.when(F.col("k") % 11 == 0, F.create_map().cast("map<string,string>"))
        .otherwise(F.create_map(
            F.lit("st"), F.concat(F.lit("v"), F.col("k") % 5),
            F.lit("opt"),
            F.when(F.col("k") % 3 == 0, None).otherwise(F.lit("present")),
        )).alias("attrs"),
    )
    out = tempfile.mkdtemp(prefix="colcodec_map_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    dec = pipeline.decode_table(spark, out)
    src = {r["k"]: r["attrs"] for r in df.collect()}
    got = {r["k"]: r["attrs"] for r in dec.collect()}
    assert got == src


def test_map_bigint_values_roundtrip(spark):
    df = spark.createDataFrame(
        [("r", i) for i in range(200)], "repo string, k bigint"
    ).select(
        "repo", "k",
        F.create_map(F.lit("n"), F.col("k") * 3,
                     F.lit("m"), F.col("k") % 9).alias("counts"),
    )
    out = tempfile.mkdtemp(prefix="colcodec_mapint_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    dec = pipeline.decode_table(spark, out)
    src = {r["k"]: r["counts"] for r in df.collect()}
    got = {r["k"]: r["counts"] for r in dec.collect()}
    assert got == src


def test_map_kv_parser():
    assert pipeline._map_kv("map<string,string>") == ("string", "string")
    assert pipeline._map_kv("map<string,decimal(10,2)>") == (
        "string", "decimal(10,2)")
    assert pipeline._map_kv("bigint") is None
    # round 3: nested map VALUES are supported (recursive shredding);
    # container KEYS remain rejected (the parquet MAP key contract)
    pipeline._col_kind("map<string,map<string,int>>")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="map keys must be scalar"):
        pipeline._col_kind("map<struct<a:int>,int>")


def test_struct_fields_parser():
    assert pipeline._struct_fields("struct<a:int,b:string>") == [
        ("a", "int"), ("b", "string")
    ]
    assert pipeline._struct_fields(
        "struct<m:decimal(10,2),n:bigint>"
    ) == [("m", "decimal(10,2)"), ("n", "bigint")]
    assert pipeline._struct_fields("bigint") is None


# ---------- streaming decode kernel ----------

def _blob_batch(chunk_id: str, column: str, values: np.ndarray):
    from parquet_go_spark.codecs import chunk as chunklib
    from parquet_go_spark.codecs.kinds import Codec

    blob = chunklib.encode_chunk(values, Kind.INT64, Codec.PLAIN)
    return pa.RecordBatch.from_pydict({
        "chunk_id": [chunk_id], "column": [column], "stream": ["values"],
        "n_rows": [len(values)], "blob": [blob],
    })


def test_decode_kernel_streams_one_chunk_at_a_time():
    """The kernel must yield chunk A's batch BEFORE consuming chunk B's
    blob rows — peak memory is one decoded chunk per task."""
    fn = pipeline._decode_stream_fn([("v", "bigint")])
    consumed = []

    def batches():
        for cid in ("a", "b", "c"):
            consumed.append(cid)
            yield _blob_batch(cid, "v", np.arange(5, dtype=np.int64))

    out = fn(batches())
    first = next(out)
    # after producing the first output chunk, input may be at most one
    # chunk ahead (the boundary row that triggered the flush)
    assert consumed == ["a", "b"]
    assert first.num_rows == 5
    rest = list(out)
    assert len(rest) == 2


def test_decode_kernel_merges_split_chunks():
    """Blob rows of one chunk split across input batches still assemble
    into a single output chunk (sortWithinPartitions guarantees order)."""
    fn = pipeline._decode_stream_fn([("v", "bigint"), ("w", "bigint")])
    b1 = _blob_batch("a", "v", np.arange(4, dtype=np.int64))
    b2 = _blob_batch("a", "w", np.arange(4, dtype=np.int64) * 2)
    out = list(fn(iter([b1, b2])))
    assert len(out) == 1
    assert out[0].column("w").to_pylist() == [0, 2, 4, 6]


# ---------- range-ordered chunk layout ----------

def test_range_layout_prunes_more_than_hash(spark):
    rows = [("r", i) for i in range(20000)]
    df = spark.createDataFrame(rows, "repo string, k bigint").select(
        "repo", "k", F.concat(F.lit("v"), F.col("k")).alias("payload"),
        F.sha2(F.col("k").cast("string"), 256).alias("pad"),
    )
    out_h = tempfile.mkdtemp(prefix="colcodec_hash_")
    out_r = tempfile.mkdtemp(prefix="colcodec_range_")
    kw = dict(repo_col="repo", salt_cols=["k"], sort_cols=["k"],
              target_chunk_bytes=64 << 10, resume=False)
    pipeline.encode_table(spark, df, out_h, layout="hash", **kw)
    pipeline.encode_table(spark, df, out_r, layout="range", **kw)

    assert len(all_chunks(out_r)) >= 8  # enough buckets for pruning to matter

    k_range = [GreaterThanOrEqual(("k",), 5000), LessThanOrEqual(("k",), 5400)]
    _, kept_h = direct_read(out_h, k_range)
    rows, kept_r = direct_read(out_r, k_range)
    # hash interleaving makes every chunk span ~the full key range;
    # range buckets are disjoint, so strictly fewer chunks survive
    assert len(kept_r) < len(kept_h)
    assert {r["k"] for r in rows} >= set(range(5000, 5401))

    # and the range table's Spark read is exact
    cond = F.col("k").between(5000, 5400)
    got = spark_where(spark, out_r, cond)
    assert got.count() == 401
    assert same_rows(got, df.where(cond))


def test_range_layout_resume_skips_encoded_repo(spark):
    rows = [("r", i) for i in range(2000)]
    df = spark.createDataFrame(rows, "repo string, k bigint").select(
        "repo", "k", F.sha2(F.col("k").cast("string"), 256).alias("pad"),
    )
    out = tempfile.mkdtemp(prefix="colcodec_rresume_")
    kw = dict(repo_col="repo", salt_cols=["k"], sort_cols=["k"],
              target_chunk_bytes=32 << 10)
    pipeline.encode_table(spark, df, out, layout="range", resume=False, **kw)
    m1 = pipeline.encode_table(spark, df, out, layout="range", resume=True, **kw)
    assert m1["skipped_chunks"] > 0
    dec = pipeline.decode_table(spark, out)
    assert dec.count() == 2000  # the encoded repo is skipped whole


# ---------- metadata-based planning + kernel-side splitting ----------

def test_metadata_sizing_no_second_scan(spark, tmp_path_factory):
    """A parquet input plans from its footers + a repo-only count scan;
    the resulting table still round-trips and is chunked."""
    src = str(tmp_path_factory.mktemp("meta_src") / "t.parquet")
    # distinct-per-row content: parquet footers record ENCODED page bytes,
    # so repetitive data would understate logical size — the estimator is
    # documented as encoded-size-based, with kernel splitting as the bound
    df0 = spark.createDataFrame(
        [(f"repo{i % 4}", i) for i in range(4000)], "repo string, k bigint"
    ).select(
        "repo", "k",
        F.repeat(F.sha2(F.col("k").cast("string"), 256), 10).alias("content"),
    )
    df0.write.parquet(src)
    df = spark.read.parquet(src)

    avg = pipeline._avg_row_bytes_from_metadata(df)
    assert avg is not None and avg > 300  # content dominates

    out = tempfile.mkdtemp(prefix="colcodec_meta_")
    m = pipeline.encode_table(
        spark, df, out, repo_col="repo", salt_cols=["k"], sort_cols=["k"],
        target_chunk_bytes=1 << 20, resume=False,
    )
    assert m["chunks"] >= 4
    v = pipeline.verify_roundtrip(spark, df, out, content_col="content")
    assert v["ok"], v


def test_kernel_splits_oversized_groups(spark, tmp_path_factory):
    """A repo whose rows dwarf the global average row size gets split
    into bounded sub-chunks inside the encode kernel (ids ...s<i>)."""
    src = str(tmp_path_factory.mktemp("split_src") / "t.parquet")
    rows = [("small", i, "x") for i in range(2000)]
    rows += [("big", i, "y" * 20000) for i in range(200)]
    spark.createDataFrame(rows, "repo string, k bigint, content string") \
        .write.parquet(src)
    df = spark.read.parquet(src)

    out = tempfile.mkdtemp(prefix="colcodec_split_")
    pipeline.encode_table(
        spark, df, out, repo_col="repo", salt_cols=["k"], sort_cols=["k"],
        target_chunk_bytes=256 << 10, resume=False,
    )
    m = pipeline.manifest(spark, out)
    split_ids = [r["chunk_id"] for r in
                 m.select("chunk_id").distinct().collect() if "s" in r["chunk_id"].split("#")[1]]
    assert split_ids, "oversized group was not split"
    v = pipeline.verify_roundtrip(spark, df, out, content_col="content")
    assert v["ok"], v
    # resume: split sub-chunks count as done under their (repo, bucket)
    n_blobs = m.count()
    res = pipeline.encode_table(
        spark, df, out, repo_col="repo", salt_cols=["k"], sort_cols=["k"],
        target_chunk_bytes=256 << 10, resume=True,
    )
    assert res["skipped_chunks"] > 0
    assert pipeline.manifest(spark, out).count() == n_blobs


# ---------- outer compression codecs beyond zstd ----------

def test_outer_compression_codecs_roundtrip():
    from parquet_go_spark.codecs import chunk as chunklib
    from parquet_go_spark.codecs.kinds import Codec

    vals = np.arange(5000, dtype=np.int64) % 97
    for name in ("zstd", "snappy", "gzip", "lz4", "brotli"):
        blob = chunklib.encode_chunk(vals, Kind.INT64, Codec.PLAIN,
                                     compression=name)
        dec, meta = chunklib.decode_chunk(blob)
        assert meta["zstd"] is True
        assert np.array_equal(dec, vals), name


def test_outer_compression_legacy_zstd_flag():
    from parquet_go_spark.codecs import chunk as chunklib
    from parquet_go_spark.codecs.kinds import Codec

    vals = np.arange(100, dtype=np.int32)
    blob = chunklib.encode_chunk(vals, Kind.INT32, Codec.PLAIN,
                                 compression="zstd")
    dec, _ = chunklib.decode_chunk(blob)
    assert np.array_equal(dec, vals)


def test_pipeline_snappy_roundtrip(spark):
    df = spark.createDataFrame(
        [("r", i, f"payload-{i}" * 20) for i in range(500)],
        "repo string, k bigint, content string",
    )
    out = tempfile.mkdtemp(prefix="colcodec_snappy_")
    pipeline.encode_table(spark, df, out, repo_col="repo", salt_cols=["k"],
                          sort_cols=["k"], compression="snappy", resume=False)
    v = pipeline.verify_roundtrip(spark, df, out, content_col="content")
    assert v["ok"], v
