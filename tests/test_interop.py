"""Write-direction format interop: .parquet files produced by our
encoders + thrift compact metadata writer must be readable bit-exact by
third-party readers (pyarrow, DuckDB, and Spark's parquet-mr in the
Spark tests). The mirror of test_golden_decode.py, which proves the
read direction against reference-written pages (the reference is a
full parquet writer, writer.go)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Codec, Kind
from parquet_go_spark.interop import thriftc as tc
from parquet_go_spark.interop.pqwriter import ColumnSpec, write_table

from tests.parquet_rawpages import read_struct


# ---------------------------------------------------------------------------
# thrift compact writer vs our independent reader
# ---------------------------------------------------------------------------

def test_thrift_struct_roundtrip():
    inner = tc.struct([(1, tc.I32, 42), (2, tc.BINARY, "hi")])
    buf = tc.struct([
        (1, tc.I32, -7),
        (2, tc.I64, 1 << 40),
        (3, tc.BINARY, b"\x00\xff"),
        (4, tc.LIST, [1, 2, 300], tc.I32),
        (5, tc.STRUCT, inner),
        (7, tc.BOOL, True),
        (8, tc.BOOL, False),
        (30, tc.I32, 9),          # id delta > 15 → long-form header
        (9, tc.LIST, list(range(20)), tc.I32),  # list size ≥ 15
    ])
    out, _ = read_struct(buf, 0)
    assert out[1] == -7
    assert out[2] == 1 << 40
    assert out[3] == b"\x00\xff"
    assert out[4] == [1, 2, 300]
    assert out[5] == {1: 42, 2: b"hi"}
    assert out[7] is True and out[8] is False
    assert out[30] == 9
    assert out[9] == list(range(20))


def test_thrift_none_fields_skipped():
    buf = tc.struct([(1, tc.I32, 1), (2, tc.I32, None), (3, tc.I32, 3)])
    out, _ = read_struct(buf, 0)
    assert out == {1: 1, 3: 3}


# ---------------------------------------------------------------------------
# codec × kind matrix through pyarrow
# ---------------------------------------------------------------------------

def _rng():
    return np.random.default_rng(11)


MATRIX = [
    ("i64_plain", Kind.INT64, Codec.PLAIN),
    ("i64_delta", Kind.INT64, Codec.DELTA_BINARY_PACKED),
    ("i64_dict", Kind.INT64, Codec.RLE_DICTIONARY),
    ("i32_plain", Kind.INT32, Codec.PLAIN),
    ("i32_delta", Kind.INT32, Codec.DELTA_BINARY_PACKED),
    ("f64_plain", Kind.DOUBLE, Codec.PLAIN),
    ("f64_bss", Kind.DOUBLE, Codec.BYTE_STREAM_SPLIT),
    ("f32_bss", Kind.FLOAT, Codec.BYTE_STREAM_SPLIT),
    ("bool_plain", Kind.BOOLEAN, Codec.PLAIN),
    ("bool_rle", Kind.BOOLEAN, Codec.RLE),
    ("ba_plain", Kind.BYTE_ARRAY, Codec.PLAIN),
    ("ba_dlba", Kind.BYTE_ARRAY, Codec.DELTA_LENGTH_BYTE_ARRAY),
    ("ba_dba", Kind.BYTE_ARRAY, Codec.DELTA_BYTE_ARRAY),
    ("ba_dict", Kind.BYTE_ARRAY, Codec.RLE_DICTIONARY),
]


def _values(kind: int, n: int = 4000):
    r = _rng()
    if kind == Kind.INT64:
        return r.integers(-(10**12), 10**12, n).astype(np.int64)
    if kind == Kind.INT32:
        return r.integers(-(10**6), 10**6, n).astype(np.int32)
    if kind == Kind.DOUBLE:
        return r.random(n)
    if kind == Kind.FLOAT:
        return r.random(n).astype(np.float32)
    if kind == Kind.BOOLEAN:
        return r.random(n) > 0.4
    return ByteArrays.from_pylist(
        [f"src/mod_{i % 97}/file_{i % 13}.go".encode() for i in range(n)])


def _expected(vals, kind):
    if kind == Kind.BYTE_ARRAY:
        return vals.to_pylist()
    return list(vals)


@pytest.mark.parametrize("name,kind,codec", MATRIX,
                         ids=[m[0] for m in MATRIX])
def test_pyarrow_reads_each_encoding(tmp_path, name, kind, codec):
    vals = _values(kind)
    p = str(tmp_path / f"{name}.parquet")
    write_table(p, [ColumnSpec("c", kind, vals, encoding=codec)],
                page_rows=1500)  # force multi-page
    t = pq.read_table(p)
    got = t.column("c").to_pylist()
    assert got == _expected(vals, kind)
    # footer records the declared encoding
    md = pq.ParquetFile(p).metadata.row_group(0).column(0)
    assert md.num_values == len(got)


@pytest.mark.parametrize("comp", [None, "snappy", "gzip", "zstd"])
def test_pyarrow_reads_compressions(tmp_path, comp):
    vals = _values(Kind.BYTE_ARRAY)
    p = str(tmp_path / f"c_{comp}.parquet")
    write_table(p, [ColumnSpec("s", Kind.BYTE_ARRAY, vals,
                               logical="string")],
                compression=comp, page_rows=1000)
    t = pq.read_table(p)
    assert t.column("s").to_pylist() == [
        v.decode() for v in vals.to_pylist()]


def test_optional_columns_def_levels(tmp_path):
    r = _rng()
    n = 3000
    validity = r.random(n) > 0.3
    vals = r.integers(0, 100, int(validity.sum())).astype(np.int64)
    strs = ByteArrays.from_pylist(
        [f"v{i}".encode() for i in range(int(validity.sum()))])
    p = str(tmp_path / "opt.parquet")
    write_table(p, [
        ColumnSpec("num", Kind.INT64, vals, validity=validity,
                   encoding=Codec.RLE_DICTIONARY),
        ColumnSpec("txt", Kind.BYTE_ARRAY, strs, validity=validity,
                   logical="string"),
    ], page_rows=700)
    t = pq.read_table(p)
    exp_num, exp_txt, j = [], [], 0
    for v in validity:
        if v:
            exp_num.append(int(vals[j]))
            exp_txt.append(f"v{j}")
            j += 1
        else:
            exp_num.append(None)
            exp_txt.append(None)
    assert t.column("num").to_pylist() == exp_num
    assert t.column("txt").to_pylist() == exp_txt


def test_all_null_and_empty_values(tmp_path):
    p = str(tmp_path / "edge.parquet")
    write_table(p, [
        ColumnSpec("a", Kind.INT64, np.array([], dtype=np.int64),
                   validity=np.zeros(3, dtype=bool)),
        ColumnSpec("e", Kind.BYTE_ARRAY,
                   ByteArrays.from_pylist([b"", b"x", b""]),
                   logical="string"),
    ])
    t = pq.read_table(p)
    assert t.column("a").to_pylist() == [None, None, None]
    assert t.column("e").to_pylist() == ["", "x", ""]


def test_flba_roundtrip(tmp_path):
    r = _rng()
    flba = r.integers(0, 256, (500, 16)).astype(np.uint8)
    p = str(tmp_path / "flba.parquet")
    write_table(p, [ColumnSpec("u", Kind.FIXED_LEN_BYTE_ARRAY, flba,
                               flba_size=16, encoding=Codec.PLAIN)])
    t = pq.read_table(p)
    assert t.column("u").to_pylist() == [bytes(row) for row in flba]


def test_duckdb_reads_mixed_file(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    r = _rng()
    n = 2000
    ints = np.sort(r.integers(0, 10**9, n)).astype(np.int64)
    strs = ByteArrays.from_pylist([f"w{i % 7}".encode() for i in range(n)])
    p = str(tmp_path / "mix.parquet")
    write_table(p, [
        ColumnSpec("k", Kind.INT64, ints),
        ColumnSpec("s", Kind.BYTE_ARRAY, strs, logical="string"),
    ], page_rows=600)
    got = duckdb.sql(
        f"SELECT count(*), sum(k), count(DISTINCT s) "
        f"FROM read_parquet('{p}')").fetchall()[0]
    assert got == (n, int(ints.sum()), 7)


# ---------------------------------------------------------------------------
# Spark (parquet-mr) reads our files; distributed export
# ---------------------------------------------------------------------------

def test_spark_reads_our_file(spark, tmp_path):
    r = _rng()
    n = 5000
    ints = r.integers(0, 10**9, n).astype(np.int64)
    validity = r.random(n) > 0.25
    opt = r.integers(0, 9, int(validity.sum())).astype(np.int32)
    strs = ByteArrays.from_pylist(
        [f"lang_{i % 5}".encode() for i in range(n)])
    flags = r.random(n) > 0.6
    p = str(tmp_path / "spark_read.parquet")
    write_table(p, [
        ColumnSpec("k", Kind.INT64, ints),
        ColumnSpec("lang", Kind.BYTE_ARRAY, strs, logical="string"),
        ColumnSpec("opt", Kind.INT32, opt, validity=validity),
        ColumnSpec("flag", Kind.BOOLEAN, flags, encoding=Codec.RLE),
    ], page_rows=1024)
    df = spark.read.parquet(p)
    rows = df.orderBy("k").collect()
    assert len(rows) == n
    assert df.selectExpr("sum(k)").head()[0] == int(ints.sum())
    assert df.where("opt IS NULL").count() == int((~validity).sum())
    assert df.select("lang").distinct().count() == 5
    assert df.where("flag").count() == int(flags.sum())


def test_export_parquet_spark_roundtrip(spark, tmp_path):
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.sources import repogen
    from pyspark.sql import functions as F

    df = repogen.repos_table(spark, n_rows=20000, seed=5).select(
        "repo", "path", "commit", "lang", "content")
    out = str(tmp_path / "exported")
    summary = export_parquet(spark, df, out, target_chunk_bytes=1 << 20)
    files = summary.collect()
    assert len(files) > 1  # multiple repos → multiple files
    assert sum(r.n_rows for r in files) == 20000

    back = spark.read.parquet(out + "/*.parquet")
    assert back.count() == 20000
    a = df.select(F.sha2("content", 256).alias("h"))
    b = back.select(F.sha2("content", 256).alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # pyarrow agrees too
    t = pq.read_table(out)
    assert t.num_rows == 20000


def test_export_rolls_oversized_groups(spark, tmp_path):
    from parquet_go_spark.interop.export import export_parquet
    from pyspark.sql import functions as F

    # one giant repo forced into one bucket → kernel must roll files
    df = (spark.range(4000)
          .select(F.lit("mono").alias("repo"),
                  F.col("id").alias("k"),
                  F.concat(F.lit("x" * 2000),
                           F.col("id").cast("string")).alias("body")))
    out = str(tmp_path / "roll")
    summary = export_parquet(spark, df, out, salt_cols=["k"],
                             target_chunk_bytes=1 << 20)
    files = summary.collect()
    assert sum(r.n_rows for r in files) == 4000
    back = spark.read.parquet(out + "/*.parquet")
    assert back.count() == 4000
    assert back.selectExpr("sum(k)").head()[0] == sum(range(4000))


# ---------------------------------------------------------------------------
# round-3b: row groups, statistics, data page v2
# ---------------------------------------------------------------------------

def test_row_groups_and_statistics(tmp_path):
    r = _rng()
    n = 20000
    ints = np.sort(r.integers(0, 10**9, n)).astype(np.int64)
    valid = r.random(n) > 0.25
    opt = r.integers(0, 30, int(valid.sum())).astype(np.int64)
    strs = ByteArrays.from_pylist(
        [f"key_{i % 400:04d}".encode() for i in range(n)])
    p = str(tmp_path / "rg.parquet")
    write_table(p, [
        ColumnSpec("k", Kind.INT64, ints),
        ColumnSpec("opt", Kind.INT64, opt, validity=valid),
        ColumnSpec("s", Kind.BYTE_ARRAY, strs, logical="string"),
    ], row_group_rows=6000, page_rows=2500)
    t = pq.read_table(p)
    assert np.array_equal(t.column("k").to_numpy(), ints)
    md = pq.ParquetFile(p).metadata
    assert md.num_row_groups == 4
    st = md.row_group(0).column(0).statistics
    assert st.min == int(ints[0]) and st.max == int(ints[5999])
    assert (md.row_group(0).column(1).statistics.null_count
            == int((~valid[:6000]).sum()))
    sts = md.row_group(0).column(2).statistics
    assert sts.min == "key_0000" and sts.max == "key_0399"


def test_statistics_truncation_carry(tmp_path):
    longs = ByteArrays.from_pylist(
        [b"prefix-shared-" + bytes([65 + i % 26]) * 20 for i in range(100)])
    p = str(tmp_path / "trunc.parquet")
    write_table(p, [ColumnSpec("s", Kind.BYTE_ARRAY, longs)])
    st = pq.ParquetFile(p).metadata.row_group(0).column(0).statistics
    # 16-byte bound with carry: still a valid lower/upper bound pair
    assert len(st.min) <= 16 and len(st.max) <= 16
    assert st.min <= min(longs.to_pylist())
    assert st.max >= max(longs.to_pylist())


@pytest.mark.parametrize("comp", [None, "zstd"])
def test_data_page_v2(tmp_path, comp):
    r = _rng()
    n = 8000
    ints = r.integers(-(10**6), 10**6, n).astype(np.int64)
    valid = r.random(n) > 0.3
    opt = r.integers(0, 9, int(valid.sum())).astype(np.int32)
    dbl = r.random(n)
    bl = r.random(n) > 0.5
    p = str(tmp_path / f"v2_{comp}.parquet")
    write_table(p, [
        ColumnSpec("k", Kind.INT64, ints),
        ColumnSpec("opt", Kind.INT32, opt, validity=valid),
        # BSS is v2-legal for every reader tested here
        ColumnSpec("d", Kind.DOUBLE, dbl, encoding=Codec.BYTE_STREAM_SPLIT),
        ColumnSpec("b", Kind.BOOLEAN, bl, encoding=Codec.RLE),
    ], page_version=2, page_rows=1500, compression=comp)
    t = pq.read_table(p)
    assert np.array_equal(t.column("k").to_numpy(), ints)
    assert np.array_equal(t.column("d").to_numpy(), dbl)
    assert np.array_equal(t.column("b").to_numpy(), bl)
    exp, j = [], 0
    for v in valid:
        exp.append(int(opt[j]) if v else None)
        j += v
    assert t.column("opt").to_pylist() == exp


def test_duckdb_filters_with_our_statistics(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    r = _rng()
    n = 20000
    ints = np.sort(r.integers(0, 10**9, n)).astype(np.int64)
    p = str(tmp_path / "prune.parquet")
    write_table(p, [ColumnSpec("k", Kind.INT64, ints)],
                row_group_rows=5000)
    cut = int(ints[4999])
    got = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{p}') WHERE k < {cut}"
    ).fetchone()[0]
    assert got == int((ints < cut).sum())


def test_spark_reads_v2_pages_and_row_groups(spark, tmp_path):
    r = _rng()
    n = 10000
    ints = np.sort(r.integers(0, 10**9, n)).astype(np.int64)
    valid = r.random(n) > 0.4
    opt = r.integers(0, 7, int(valid.sum())).astype(np.int64)
    p = str(tmp_path / "v2_spark.parquet")
    write_table(p, [
        ColumnSpec("k", Kind.INT64, ints),
        ColumnSpec("opt", Kind.INT64, opt, validity=valid),
    ], page_version=2, page_rows=1300, row_group_rows=2600)
    df = spark.read.parquet(p)
    assert df.count() == n
    assert df.selectExpr("sum(k)").head()[0] == int(ints.sum())
    assert df.where("opt IS NULL").count() == int((~valid).sum())
    # row-group pruning path: predicate below first group's max
    cut = int(ints[2599])
    assert df.where(f"k < {cut}").count() == int((ints < cut).sum())


def test_export_resume_skips_done_groups(spark, tmp_path):
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.sources import repogen

    df = repogen.repos_table(spark, n_rows=6000, seed=8).select(
        "repo", "path", "lang", "content")
    out = str(tmp_path / "resume")
    first = export_parquet(spark, df, out, target_chunk_bytes=1 << 20)
    n_files = len(first.collect())
    assert n_files > 0
    # second run with resume: nothing left to export
    second = export_parquet(spark, df, out, target_chunk_bytes=1 << 20,
                            resume=True)
    assert second.count() == 0
    # data still complete and not duplicated; the _export_manifest
    # sidecar is invisible to parquet directory readers
    back = spark.read.parquet(out + "/*.parquet")
    assert back.count() == 6000
    assert pq.read_table(out).num_rows == 6000


@pytest.mark.parametrize("pv,comp", [(1, None), (1, "zstd"),
                                     (2, None), (2, "zstd")])
def test_page_crc_checksums(tmp_path, pv, comp):
    r = _rng()
    n = 9000
    ints = r.integers(0, 10**9, n).astype(np.int64)
    valid = r.random(n) > 0.3
    opt = r.integers(0, 5, int(valid.sum())).astype(np.int64)
    p = str(tmp_path / f"crc_{pv}_{comp}.parquet")
    write_table(p, [
        ColumnSpec("k", Kind.INT64, ints),
        ColumnSpec("o", Kind.INT64, opt, validity=valid),
    ], page_version=pv, compression=comp, page_rows=2000)
    # pyarrow re-computes and verifies our CRC32 per page
    t = pq.ParquetFile(p, page_checksum_verification=True).read()
    assert np.array_equal(t.column("k").to_numpy(), ints)
    # negative control: flip one payload byte → verification must fail
    bad = str(tmp_path / "bad.parquet")
    data = bytearray(open(p, "rb").read())
    data[5000] ^= 0xFF
    open(bad, "wb").write(bytes(data))
    with pytest.raises(Exception):
        pq.ParquetFile(bad, page_checksum_verification=True).read()


def _read_page_indexes(path):
    """Parse ColumnIndex/OffsetIndex structs back out of a file using
    the independent thrift reader (parquet_rawpages)."""
    buf = open(path, "rb").read()
    flen = int.from_bytes(buf[-8:-4], "little")
    footer, _ = read_struct(memoryview(buf)[len(buf) - 8 - flen:], 0)
    out = []
    for rg in footer[4]:
        for cc in rg[1]:
            ci = oi = None
            if 6 in cc:
                ci, _ = read_struct(memoryview(buf)[cc[6]:cc[6] + cc[7]], 0)
            if 4 in cc:
                oi, _ = read_struct(memoryview(buf)[cc[4]:cc[4] + cc[5]], 0)
            out.append((ci, oi, cc))
    return out


def test_page_index_contents(tmp_path):
    r = _rng()
    n = 12000
    ints = np.sort(r.integers(0, 10**9, n)).astype(np.int64)
    valid = r.random(n) > 0.5
    opt = r.integers(0, 99, int(valid.sum())).astype(np.int64)
    p = str(tmp_path / "pidx.parquet")
    write_table(p, [
        ColumnSpec("k", Kind.INT64, ints),
        ColumnSpec("o", Kind.INT64, opt, validity=valid),
    ], page_rows=3000, row_group_rows=6000)

    idx = _read_page_indexes(p)
    assert len(idx) == 4  # 2 row groups × 2 columns
    import struct as _s
    # column "k", row group 0: sorted → boundary_order ASC, correct bounds
    ci, oi, cc = idx[0]
    assert ci[4] == 1  # ASC
    assert ci[1] == [False, False]  # no null pages
    mins = [_s.unpack("<q", m)[0] for m in ci[2]]
    maxs = [_s.unpack("<q", m)[0] for m in ci[3]]
    assert mins == [int(ints[0]), int(ints[3000])]
    assert maxs == [int(ints[2999]), int(ints[5999])]
    assert ci[5] == [0, 0]  # null_counts
    # offset index page locations: offsets point at real page starts
    # whose sizes tile the chunk contiguously, first_row_index correct
    locs = oi[1]
    assert [loc[3] for loc in locs] == [0, 3000]
    assert locs[0][1] + locs[0][2] == locs[1][1]
    # optional column: per-page null_counts sum to the chunk total
    ci_o, oi_o, cc_o = idx[1]
    assert sum(ci_o[5]) == int((~valid[:6000]).sum())

    # pyarrow agrees the indexes exist; data round-trips
    md = pq.ParquetFile(p).metadata
    assert md.row_group(0).column(0).has_column_index
    assert md.row_group(0).column(0).has_offset_index
    t = pq.read_table(p)
    assert np.array_equal(t.column("k").to_numpy(), ints)


def test_spark_filters_with_page_indexes(spark, tmp_path):
    r = _rng()
    n = 40000
    ints = np.sort(r.integers(0, 10**9, n)).astype(np.int64)
    p = str(tmp_path / "pidx_spark.parquet")
    write_table(p, [ColumnSpec("k", Kind.INT64, ints)],
                page_rows=2000, row_group_rows=20000)
    df = spark.read.parquet(p)
    # predicates that cross page boundaries — parquet-mr consults the
    # ColumnIndex/OffsetIndex for v1 files when filtering
    for cut_i in (1999, 2000, 19999, 20000, 35000):
        cut = int(ints[cut_i])
        got = df.where(f"k < {cut}").count()
        assert got == int((ints < cut).sum()), cut_i
    lo, hi = int(ints[5000]), int(ints[30000])
    got = df.where(f"k >= {lo} AND k < {hi}").count()
    assert got == int(((ints >= lo) & (ints < hi)).sum())


def test_sorted_export_declares_sorting_columns(spark, tmp_path):
    from parquet_go_spark.interop.export import export_parquet
    from pyspark.sql import functions as F

    df = (spark.range(12000)
          .select((F.col("id") % 3).cast("string").alias("repo"),
                  F.xxhash64("id").alias("k"),
                  F.col("id").alias("row")))
    out = str(tmp_path / "sorted")
    export_parquet(spark, df, out, salt_cols=["row"], sort_cols=["k"],
                   target_chunk_bytes=1 << 20)
    import glob
    files = sorted(glob.glob(out + "/*.parquet"))
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        sc = md.row_group(0).sorting_columns
        assert sc and sc[0].column_index == 1  # "k"
        # sorted file → per-page bounds ordered → boundary_order ASC
        ci, oi, cc = _read_page_indexes(f)[1]
        assert ci[4] == 1
        t = pq.read_table(f)
        k = t.column("k").to_numpy()
        assert np.all(k[1:] >= k[:-1])
    back = spark.read.parquet(out + "/*.parquet")
    assert back.count() == 12000
    assert back.agg({"row": "sum"}).head()[0] == sum(range(12000))


def test_compact_export_folds_small_files(spark, tmp_path):
    from parquet_go_spark.interop.compact import compact_export
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.sources import repogen
    from pyspark.sql import functions as F
    import glob

    df = repogen.repos_table(spark, n_rows=8000, seed=9).select(
        "repo", "path", "lang", "content")
    out = str(tmp_path / "cmp")
    export_parquet(spark, df, out, target_chunk_bytes=1 << 20)
    before = sorted(glob.glob(out + "/*.parquet"))
    assert len(before) > 20  # many tiny per-repo files

    done = compact_export(spark, out, small_bytes=4 << 20,
                          target_bytes=2 << 20)
    n_new = done.count()
    after = sorted(glob.glob(out + "/*.parquet"))
    assert n_new > 0 and len(after) < len(before)

    # data identical through all readers
    back = spark.read.parquet(out + "/*.parquet")
    a = df.select(F.sha2(F.col("content").cast("binary"), 256).alias("h"))
    b = back.select(F.sha2(F.col("content").cast("binary"), 256).alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert pq.read_table(out).num_rows == 8000

    # resume keys survive: re-export with resume finds nothing to do
    again = export_parquet(spark, df, out, target_chunk_bytes=1 << 20,
                           resume=True)
    assert again.count() == 0
    assert spark.read.parquet(out + "/*.parquet").count() == 8000

    # a second compaction round is safe (names never collide)
    compact_export(spark, out, small_bytes=4 << 20, target_bytes=2 << 20)
    assert spark.read.parquet(out + "/*.parquet").count() == 8000
    assert pq.read_table(out).num_rows == 8000


def test_rowgroup_total_byte_size_is_uncompressed(tmp_path):
    r = _rng()
    strs = ByteArrays.from_pylist(
        [(b"line-" + bytes([65 + i % 3]) * 40) for i in range(5000)])
    p = str(tmp_path / "rgsize.parquet")
    write_table(p, [ColumnSpec("s", Kind.BYTE_ARRAY, strs)],
                compression="zstd")
    md = pq.ParquetFile(p).metadata
    rg = md.row_group(0)
    assert rg.total_byte_size == sum(
        rg.column(i).total_uncompressed_size
        for i in range(rg.num_columns))
    assert rg.total_byte_size > rg.column(0).total_compressed_size


def test_default_encoding_flba_no_crash(tmp_path):
    r = _rng()
    flba = r.integers(0, 3, (200, 8)).astype(np.uint8)  # low NDV
    p = str(tmp_path / "flba_auto.parquet")
    info = write_table(p, [ColumnSpec(
        "u", Kind.FIXED_LEN_BYTE_ARRAY, flba, flba_size=8)])
    t = pq.read_table(p)
    assert t.column("u").to_pylist() == [bytes(row) for row in flba]


def test_default_encoding_byte_array_dict_vs_delta(tmp_path):
    # high-NDV strings → DELTA_LENGTH; low-NDV → dictionary (guards the
    # kind-vs-sample-size shadowing regression)
    uniq = ByteArrays.from_pylist(
        [f"unique-{i}".encode() for i in range(1000)])
    rep = ByteArrays.from_pylist(
        [f"w{i % 5}".encode() for i in range(1000)])
    info = write_table(str(tmp_path / "a.parquet"), [
        ColumnSpec("u", Kind.BYTE_ARRAY, uniq),
        ColumnSpec("r", Kind.BYTE_ARRAY, rep),
    ])
    assert info["encodings"]["u"] == Codec.DELTA_LENGTH_BYTE_ARRAY
    assert info["encodings"]["r"] == Codec.RLE_DICTIONARY


def test_export_reconciles_orphans(spark, tmp_path):
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.sources import repogen
    import glob

    df = repogen.repos_table(spark, n_rows=2000, seed=13).select(
        "repo", "path", "lang", "content")
    out = str(tmp_path / "orph")
    export_parquet(spark, df, out, target_chunk_bytes=1 << 20)
    # plant an orphan (e.g. left by a crashed attempt's extra part)
    orphan = os.path.join(out, "deadbeef-b0-9.parquet")
    open(orphan, "wb").write(b"PAR1garbagePAR1")
    export_parquet(spark, df, out, target_chunk_bytes=1 << 20,
                   resume=True)
    assert not os.path.exists(orphan)
    assert spark.read.parquet(out + "/*.parquet").count() == 2000


def test_reconcile_raises_when_an_orphan_cannot_go(spark, tmp_path,
                                                   monkeypatch):
    """An orphan part that cannot be deleted would stay visible to
    readers that glob the directory (duplicate rows), so the sweep
    raises; only an orphan already gone is skipped. os.remove is
    patched because file modes do not stop a root process."""
    from parquet_go_spark.interop import export
    from pyspark.sql import functions as F

    df = spark.range(50).select(F.lit("r").alias("repo"),
                                F.col("id").alias("k"))
    out = str(tmp_path / "rec")
    export.export_parquet(spark, df, out, salt_cols=["k"])
    orphan = os.path.join(out, "deadbeef-b0-9.parquet")
    open(orphan, "wb").write(b"PAR1garbagePAR1")
    mpath = os.path.join(out, "_export_manifest")

    def denied(path):
        raise PermissionError(13, "Permission denied", path)

    monkeypatch.setattr(export.os, "remove", denied)
    with pytest.raises(PermissionError):
        export._reconcile_dir(spark, out, mpath)

    def gone(path):
        raise FileNotFoundError(2, "No such file or directory", path)

    monkeypatch.setattr(export.os, "remove", gone)
    export._reconcile_dir(spark, out, mpath)


def test_compact_inherits_compression_and_sort(spark, tmp_path):
    from parquet_go_spark.interop.compact import compact_export
    from parquet_go_spark.interop.export import export_parquet
    from pyspark.sql import functions as F
    import glob

    df = (spark.range(6000)
          .select((F.col("id") % 40).cast("string").alias("repo"),
                  F.xxhash64("id").alias("k"),
                  F.col("id").alias("row")))
    out = str(tmp_path / "inherit")
    export_parquet(spark, df, out, salt_cols=["row"], sort_cols=["k"],
                   compression="zstd", target_chunk_bytes=1 << 20)
    done = compact_export(spark, out, small_bytes=4 << 20,
                          target_bytes=1 << 20)
    assert done.count() > 0
    for r in done.collect():
        md = pq.ParquetFile(os.path.join(out, r.file)).metadata
        assert md.row_group(0).column(0).compression == "ZSTD"
        sc = md.row_group(0).sorting_columns
        assert sc and sc[0].column_index == 1
        t = pq.read_table(os.path.join(out, r.file))
        k = t.column("k").to_numpy()
        assert np.all(k[1:] >= k[:-1])
    back = spark.read.parquet(out + "/*.parquet")
    assert back.count() == 6000
    assert back.agg({"row": "sum"}).head()[0] == sum(range(6000))


def test_compact_inherits_lz4_flavor_by_codec_id(tmp_path):
    """pyarrow's "lz4" writes LZ4_RAW (codec 7), reported by pyarrow as
    plain "LZ4"; the legacy Hadoop-framed LZ4 is codec 5. Both must be
    inherited as the matching writer codec, not as UNCOMPRESSED."""
    import pyarrow as pa

    from parquet_go_spark.interop.compact import _inherit_props

    p = str(tmp_path / "pa_lz4.parquet")
    pq.write_table(pa.table({"x": list(range(100))}), p, compression="lz4")
    assert pq.ParquetFile(p).metadata.row_group(0).column(0).compression \
        == "LZ4"
    assert _inherit_props(p, None)[0] == "lz4_raw"
    x = np.arange(100, dtype=np.int64)
    for comp in ("lz4_raw", "lz4_legacy", None):
        p = str(tmp_path / f"ours_{comp}.parquet")
        write_table(p, [ColumnSpec("x", Kind.INT64, x)], compression=comp)
        assert _inherit_props(p, None)[0] == comp


@pytest.mark.parametrize("codec_id, name", [(3, "LZO"), (9, "codec id 9")])
def test_compact_inherit_rejects_unwritable_codec(tmp_path, monkeypatch,
                                                   codec_id, name):
    from parquet_go_spark.interop import pqwriter
    from parquet_go_spark.interop.compact import _inherit_props

    # uncompressed pages under a footer that names another codec
    monkeypatch.setitem(pqwriter._COMPRESSION, None, codec_id)
    p = str(tmp_path / "odd.parquet")
    write_table(p, [ColumnSpec("x", Kind.INT64,
                               np.arange(10, dtype=np.int64))])
    with pytest.raises(ValueError, match=name):
        _inherit_props(p, None)
    # an explicit codec needs nothing from the source
    assert _inherit_props(p, None, "zstd")[0] == "zstd"


def test_compact_recovery_cleans_stale_pending(spark, tmp_path):
    from parquet_go_spark.interop.compact import compact_export
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.sources import repogen

    df = repogen.repos_table(spark, n_rows=3000, seed=14).select(
        "repo", "path", "lang", "content")
    out = str(tmp_path / "rec")
    export_parquet(spark, df, out, target_chunk_bytes=1 << 20)
    # a pending file from a run that died before its manifest swap
    stale = os.path.join(out, "ghost-b0-5.parquet.pending")
    open(stale, "wb").write(b"junk")
    compact_export(spark, out, small_bytes=4 << 20, target_bytes=2 << 20)
    assert not os.path.exists(stale)
    assert spark.read.parquet(out + "/*.parquet").count() == 3000


# ---------------------------------------------------------------------------
# LIST columns: 3-level group, true Dremel rep/def levels
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("pv,comp", [(1, None), (2, "zstd")])
def test_list_column_roundtrip(tmp_path, pv, comp):
    r = _rng()
    n = 2000
    lens = r.integers(0, 6, n)
    valid = r.random(n) > 0.15  # null lists
    eff = np.where(valid, lens, 0)
    elems = r.random(int(eff.sum()))
    lens2 = r.integers(0, 4, n)
    strs = ByteArrays.from_pylist(
        [f"s{i % 9}".encode() for i in range(int(lens2.sum()))])
    p = str(tmp_path / f"list_{pv}_{comp}.parquet")
    write_table(p, [
        ColumnSpec("k", Kind.INT64, np.arange(n, dtype=np.int64)),
        ColumnSpec("v", Kind.DOUBLE, elems, lengths=lens, validity=valid),
        ColumnSpec("s", Kind.BYTE_ARRAY, strs, lengths=lens2,
                   logical="string"),
    ], page_version=pv, compression=comp, page_rows=700,
        row_group_rows=1000)
    t = pq.ParquetFile(p, page_checksum_verification=True).read()
    exp_v, j = [], 0
    for i in range(n):
        if not valid[i]:
            exp_v.append(None)
        else:
            exp_v.append([float(elems[j + x]) for x in range(lens[i])])
            j += lens[i]
    assert t.column("v").to_pylist() == exp_v
    exp_s, j = [], 0
    sl = [v.decode() for v in strs.to_pylist()]
    for i in range(n):
        exp_s.append(sl[j:j + lens2[i]])
        j += lens2[i]
    assert t.column("s").to_pylist() == exp_s
    # num_values counts Dremel entries (elements + empty/null markers)
    md = pq.ParquetFile(p).metadata
    ent = sum(md.row_group(g).column(1).num_values
              for g in range(md.num_row_groups))
    assert ent == int(eff.sum()) + int((eff == 0).sum())


def test_list_column_duckdb(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    r = _rng()
    n = 1500
    lens = r.integers(0, 5, n)
    elems = r.integers(0, 100, int(lens.sum())).astype(np.int64)
    p = str(tmp_path / "ld.parquet")
    write_table(p, [ColumnSpec("v", Kind.INT64, elems, lengths=lens)])
    got = duckdb.sql(
        f"SELECT count(*), sum(len(v)), CAST(sum(list_sum(v)) AS BIGINT) "
        f"FROM read_parquet('{p}')").fetchone()
    assert got == (n, int(lens.sum()), int(elems.sum()))


# ---------------------------------------------------------------------------
# nested export shapes: NULLs and empties at every level, each column
# through the one Dremel walk (export._nested_spec)
# ---------------------------------------------------------------------------

_NESTED_TYPES = {
    "a": "array<int>",
    "m": "map<string,int>",
    "sm": "struct<m:map<string,array<int>>,x:bigint>",
    "am": "array<map<string,int>>",
}


def _nested_rows(n=600, seed=4):
    """{column: values} for _NESTED_TYPES plus `id` and `grp`."""
    r = np.random.default_rng(seed)

    def null(p, make):
        return None if r.random() < p else make()

    def ints():  # NULL elements, empty lists
        return [null(0.2, lambda: int(r.integers(-50, 50)))
                for _ in range(r.integers(0, 4))]

    def smap(val):  # NULL values, empty maps
        return {f"k{j}": null(0.25, val) for j in range(r.integers(0, 3))}

    def small():
        return int(r.integers(100))

    cols = {"id": list(range(n)), "grp": [f"g{i % 4}" for i in range(n)]}
    cols["a"] = [null(0.1, ints) for _ in range(n)]
    cols["m"] = [null(0.1, lambda: smap(small)) for _ in range(n)]
    cols["sm"] = [null(0.1, lambda: {"m": null(0.2, lambda: smap(ints)),
                                     "x": null(0.2, small)})
                  for _ in range(n)]
    cols["am"] = [null(0.1, lambda: [null(0.2, lambda: smap(small))
                                     for _ in range(r.integers(0, 3))])
                  for _ in range(n)]
    return cols


def _export_rows_equal(spark, tmp_path, cols):
    """export_parquet of `cols` (name, spark type) over _nested_rows,
    read back with spark.read.parquet: every row equal."""
    from parquet_go_spark.interop.export import export_parquet

    data = _nested_rows()
    names = ["id", "grp"] + [c for c, _ in cols]
    ddl = ", ".join(["id bigint", "grp string"]
                    + [f"{c} {t}" for c, t in cols])
    src = spark.createDataFrame(
        list(zip(*(data[c] for c in names))), ddl)
    out = str(tmp_path / ("nested_" + "_".join(names[2:])))
    export_parquet(spark, src, out, repo_col="grp", salt_cols=["id"],
                   target_chunk_bytes=16 << 10)
    back = spark.read.parquet(out + "/*.parquet").select(*names)

    def rows(df):
        return [r.asDict(recursive=True)
                for r in sorted(df.collect(), key=lambda r: r.id)]

    assert rows(back) == rows(src)


@pytest.mark.parametrize("col", sorted(_NESTED_TYPES))
def test_export_nested_shapes_three_readers(tmp_path, col):
    """_to_specs + write_table of each nested shape (NULL elements,
    values, lists, maps and structs; empty lists and maps; sliced
    input; several pages and row groups) reads back equal through
    pyarrow, DuckDB and pqreader."""
    import pyarrow as pa

    duckdb = pytest.importorskip("duckdb")
    from parquet_go_spark.interop import export, pqreader

    data = _nested_rows()
    spark_t = _NESTED_TYPES[col]
    arrow_t = {
        "a": pa.list_(pa.int32()),
        "m": pa.map_(pa.string(), pa.int32()),
        "sm": pa.struct([("m", pa.map_(pa.string(), pa.list_(pa.int32()))),
                         ("x", pa.int64())]),
        "am": pa.list_(pa.map_(pa.string(), pa.int32())),
    }[col]
    full = pa.table({"id": pa.array(data["id"], pa.int64()),
                     col: pa.array(data[col], arrow_t)})
    for lo, n in ((0, full.num_rows), (37, 300)):
        tbl = full.slice(lo, n)
        want = tbl.column(col).to_pylist()
        f = str(tmp_path / f"{col}_{lo}.parquet")
        write_table(f, export._to_specs(
            tbl, [("id", "bigint"), (col, spark_t)]),
            page_rows=64, row_group_rows=128)
        assert pq.read_table(f).column(col).to_pylist() == want
        assert pqreader.read_table(f).column(col).to_pylist() == want
        got = duckdb.sql(
            f"select {col} from read_parquet('{f}') order by id").arrow()
        assert got.column(col).to_pylist() == want
        pq.ParquetFile(f, page_checksum_verification=True).read()


def test_export_supported_types():
    """One recursive rule: any list/struct/map nesting of scalar leaves,
    with scalar map keys."""
    from parquet_go_spark.interop.export import _supported

    for t in list(_NESTED_TYPES.values()) + [
            "bigint", "map<int,array<struct<a:string>>>",
            "array<array<decimal(20,2)>>"]:
        assert _supported(t), t
    for t in ("map<array<int>,int>", "map<struct<a:int>,int>",
              "array<interval>", "struct<a:map<map<int,int>,int>>"):
        assert not _supported(t), t


def test_export_array_column_spark_roundtrip(spark, tmp_path):
    from parquet_go_spark.interop.export import export_parquet
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = str(tmp_path / "emb")
    export_parquet(spark, emb, out, repo_col="label",
                   salt_cols=["vec_id"], target_chunk_bytes=256 << 10)
    back = spark.read.parquet(out + "/*.parquet")
    assert back.count() == emb.count()

    def chk(df):
        return df.select(F.sum(F.aggregate(
            "embedding", F.lit(0.0),
            lambda a, x: a + x.cast("double")))).head()[0]

    assert abs(chk(back) - chk(emb)) < 1e-9
    assert pq.read_table(out).num_rows == emb.count()

    # array<int> with NULL elements, NULL lists and empty lists
    _export_rows_equal(spark, tmp_path, [("a", "array<int>")])


# ---------------------------------------------------------------------------
# MAP columns: optional group (MAP) { repeated key_value { key; value } },
# two leaf chunks sharing the entry levels; value leaf def runs 0..3
# ---------------------------------------------------------------------------

def _map_fixture(n=2000, seed=11):
    r = np.random.default_rng(seed)
    lens = r.integers(0, 5, n)
    valid = r.random(n) > 0.15          # null maps
    eff = np.where(valid, lens, 0)
    E = int(eff.sum())
    keys = ByteArrays.from_pylist(
        [f"k{i % 7}".encode() for i in range(E)])
    entry_valid = r.random(E) > 0.3     # null values
    vals = r.integers(0, 1000, int(entry_valid.sum())).astype(np.int64)
    exp, j, vj = [], 0, 0
    kl = [k.decode() for k in keys.to_pylist()]
    for i in range(n):
        if not valid[i]:
            exp.append(None)
            continue
        m = []
        for _ in range(lens[i]):
            if entry_valid[j]:
                m.append((kl[j], int(vals[vj])))
                vj += 1
            else:
                m.append((kl[j], None))
            j += 1
        exp.append(m)
    return lens, valid, keys, entry_valid, vals, exp


@pytest.mark.parametrize("pv,comp", [(1, None), (2, "zstd")])
def test_map_column_roundtrip(tmp_path, pv, comp):
    from parquet_go_spark.interop.pqwriter import MapColumnSpec

    n = 2000
    lens, valid, keys, entry_valid, vals, exp = _map_fixture(n)
    p = str(tmp_path / f"map_{pv}_{comp}.parquet")
    write_table(p, [
        ColumnSpec("id", Kind.INT64, np.arange(n, dtype=np.int64)),
        MapColumnSpec(
            "m",
            key=ColumnSpec("key", Kind.BYTE_ARRAY, keys, logical="string"),
            value=ColumnSpec("value", Kind.INT64, vals),
            lengths=lens, validity=valid, entry_validity=entry_valid),
    ], page_version=pv, compression=comp, page_rows=700,
        row_group_rows=1000)
    t = pq.ParquetFile(p, page_checksum_verification=True).read()
    assert t.column("m").to_pylist() == exp
    # num_values counts Dremel entries on BOTH leaves of the group
    md = pq.ParquetFile(p).metadata
    eff = np.where(valid, lens, 0)
    ent = int(eff.sum()) + int((eff == 0).sum())
    for leaf in (1, 2):
        got = sum(md.row_group(g).column(leaf).num_values
                  for g in range(md.num_row_groups))
        assert got == ent


def test_map_column_required_values(tmp_path):
    """entry_validity=None → a required value leaf (def scheme 0..2)."""
    from parquet_go_spark.interop.pqwriter import MapColumnSpec

    n = 800
    r = np.random.default_rng(3)
    lens = r.integers(0, 4, n)
    E = int(lens.sum())
    keys = np.arange(E, dtype=np.int32)
    vals = (np.arange(E, dtype=np.int64) * 3)
    p = str(tmp_path / "map_req.parquet")
    write_table(p, [MapColumnSpec(
        "m", key=ColumnSpec("key", Kind.INT32, keys),
        value=ColumnSpec("value", Kind.INT64, vals), lengths=lens)])
    t = pq.ParquetFile(p, page_checksum_verification=True).read()
    exp, j = [], 0
    for i in range(n):
        exp.append([(int(keys[j + x]), int(vals[j + x]))
                    for x in range(lens[i])])
        j += lens[i]
    assert t.column("m").to_pylist() == exp


def test_encodings_summary_keyed_by_leaf_name(tmp_path):
    """write_table's encodings summary uses the leaf addressing names:
    a ColumnSpec (flat or list) by its column name, every other leaf by
    its dotted schema path."""
    from parquet_go_spark.codecs.kinds import Codec
    from parquet_go_spark.interop.pqwriter import (
        MapColumnSpec, StructColumnSpec)

    lens = np.array([1, 2, 0], dtype=np.int64)
    info = write_table(str(tmp_path / "enc.parquet"), [
        ColumnSpec("k", Kind.INT64, np.arange(3), encoding=Codec.PLAIN),
        ColumnSpec("l", Kind.INT32, np.arange(3, dtype=np.int32),
                   lengths=lens, encoding=Codec.PLAIN),
        StructColumnSpec("s", fields=[("a", ColumnSpec(
            "a", Kind.INT64, np.arange(3), encoding=Codec.PLAIN))]),
        MapColumnSpec(
            "m", key=ColumnSpec("key", Kind.INT32,
                                np.arange(3, dtype=np.int32),
                                encoding=Codec.PLAIN),
            value=ColumnSpec("value", Kind.INT64, np.arange(3),
                             encoding=Codec.DELTA_BINARY_PACKED),
            lengths=lens),
    ])
    assert info["encodings"] == {
        "k": Codec.PLAIN, "l": Codec.PLAIN, "s.a": Codec.PLAIN,
        "m.key_value.key": Codec.PLAIN,
        "m.key_value.value": Codec.DELTA_BINARY_PACKED,
    }


def test_map_column_duckdb(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from parquet_go_spark.interop.pqwriter import MapColumnSpec

    n = 1500
    lens, valid, keys, entry_valid, vals, exp = _map_fixture(n, seed=5)
    p = str(tmp_path / "md.parquet")
    write_table(p, [MapColumnSpec(
        "m", key=ColumnSpec("key", Kind.BYTE_ARRAY, keys, logical="string"),
        value=ColumnSpec("value", Kind.INT64, vals),
        lengths=lens, validity=valid, entry_validity=entry_valid)])
    got = duckdb.sql(
        f"SELECT count(*), count(m), sum(cardinality(m)), "
        f"CAST(coalesce(sum(list_sum(map_values(m))), 0) AS BIGINT) "
        f"FROM read_parquet('{p}')").fetchone()
    eff = np.where(valid, lens, 0)
    assert got == (n, int(valid.sum()), int(eff.sum()), int(vals.sum()))


def test_export_map_column_spark_roundtrip(spark, tmp_path):
    from parquet_go_spark.interop.export import export_parquet
    from pyspark.sql import functions as F

    src = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 8).cast("string").alias("grp"),
            F.create_map(
                F.lit("status"), F.col("o_orderstatus"),
                F.lit("prio"),
                F.when(F.col("o_orderkey") % 3 == 0, None)
                .otherwise(F.col("o_orderpriority")),
            ).alias("attrs"),
        )
    )
    out = str(tmp_path / "maps")
    export_parquet(spark, src, out, repo_col="grp",
                   salt_cols=["o_orderkey"], target_chunk_bytes=256 << 10)
    back = spark.read.parquet(out + "/*.parquet")
    assert back.count() == src.count()

    def chk(df):
        return df.select(
            F.sum(F.when(F.element_at("attrs", "prio").isNull(), 0)
                  .otherwise(F.length(F.element_at("attrs", "prio")))),
            F.sum(F.length(F.element_at("attrs", "status"))),
        ).head()

    assert chk(back) == chk(src)
    assert pq.read_table(out).num_rows == src.count()

    # NULL maps, empty maps and NULL values, and maps nested in a
    # struct and in a list
    _export_rows_equal(spark, tmp_path, [
        ("m", "map<string,int>"),
        ("sm", "struct<m:map<string,array<int>>,x:bigint>"),
        ("am", "array<map<string,int>>"),
    ])


def test_compact_export_map_column(spark, tmp_path):
    """Compaction must merge map-columned files whose value-leaf
    nullability differs (a file whose slice had no null values declares
    the leaf required) and keep leaf-indexed sorting_columns aligned."""
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.interop.compact import compact_export
    from pyspark.sql import functions as F

    src = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 4).cast("string").alias("grp"),
            F.create_map(
                F.lit("s"), F.col("o_orderstatus"),
                F.lit("p"),
                F.when(F.col("o_orderkey") % 3 == 0, None)
                .otherwise(F.col("o_orderpriority")),
            ).alias("attrs"),
        )
    )
    out = str(tmp_path / "cm")
    export_parquet(spark, src, out, repo_col="grp",
                   salt_cols=["o_orderkey"], target_chunk_bytes=16 << 10,
                   sort_cols=["o_orderkey"])
    n_before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    compact_export(spark, out, small_bytes=1 << 20, target_bytes=4 << 20)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_after < n_before
    back = spark.read.parquet(out + "/*.parquet")

    def proj(d):
        return sorted(
            (r.o_orderkey, r.s, r.p) for r in d.select(
                "o_orderkey",
                F.element_at("attrs", "s").alias("s"),
                F.element_at("attrs", "p").alias("p")).collect())

    assert proj(back) == proj(src)
    # compacted files re-declare the sort: footer sorting_columns point
    # at the o_orderkey LEAF and pages stay ordered
    biggest = max(
        (f for f in os.listdir(out) if f.endswith(".parquet")),
        key=lambda f: os.path.getsize(os.path.join(out, f)))
    md = pq.ParquetFile(os.path.join(out, biggest)).metadata
    sc = md.row_group(0).sorting_columns
    assert sc and sc[0].column_index == 0


def test_compact_export_sorted_after_multi_leaf_column(spark, tmp_path):
    """A sorted export whose sort key follows a column with several
    leaves (array<struct<x,y>> writes two chunks) compacts: the footer's
    leaf-indexed sorting_columns map back to the top-level key through
    the source file's schema tree, and merged files stay sorted."""
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.interop.compact import compact_export
    from pyspark.sql import functions as F

    src = spark.range(600).select(
        F.array(F.struct((F.col("id") % 7).cast("int").alias("x"),
                         (F.col("id") % 5).cast("int").alias("y")))
        .alias("s"),
        (F.lit(10_000) - F.col("id")).alias("k"),
        (F.col("id") % 3).cast("string").alias("grp"),
    )
    out = str(tmp_path / "cs")
    export_parquet(spark, src, out, repo_col="grp", salt_cols=["k"],
                   target_chunk_bytes=2 << 10, sort_cols=["k"])
    files = lambda: sorted(  # noqa: E731
        f for f in os.listdir(out) if f.endswith(".parquet"))
    n_before = len(files())
    md = pq.ParquetFile(os.path.join(out, files()[0])).metadata
    assert md.row_group(0).sorting_columns[0].column_index == 2
    compact_export(spark, out, small_bytes=1 << 20, target_bytes=4 << 20)
    assert len(files()) < n_before
    back = spark.read.parquet(out + "/*.parquet")
    assert sorted(r.k for r in back.select("k").collect()) == \
        sorted(r.k for r in src.select("k").collect())
    for f in files():
        pf = pq.ParquetFile(os.path.join(out, f))
        assert pf.metadata.row_group(0).sorting_columns[0].column_index == 2
        k = pf.read(columns=["k"]).column("k").to_pylist()
        assert k == sorted(k)


# ---------------------------------------------------------------------------
# STRUCT columns: group with one leaf per field; field def levels 0..2
# (null struct / field null / present)
# ---------------------------------------------------------------------------

def _struct_fixture(n=1500, seed=13):
    r = np.random.default_rng(seed)
    sv = r.random(n) > 0.2                  # null structs
    fv = (r.random(n) > 0.3) & sv           # nullable field
    a_vals = r.integers(0, 10000, int(fv.sum())).astype(np.int64)
    b_vals = ByteArrays.from_pylist(
        [f"s{i % 4}".encode() for i in range(int(sv.sum()))])
    exp, aj, bj = [], 0, 0
    bl = [x.decode() for x in b_vals.to_pylist()]
    for i in range(n):
        if not sv[i]:
            exp.append(None)
            continue
        row = {"a": int(a_vals[aj]) if fv[i] else None, "b": bl[bj]}
        if fv[i]:
            aj += 1
        bj += 1
        exp.append(row)
    return sv, fv, a_vals, b_vals, exp


@pytest.mark.parametrize("pv,comp", [(1, None), (2, "zstd")])
def test_struct_column_roundtrip(tmp_path, pv, comp):
    from parquet_go_spark.interop.pqwriter import StructColumnSpec

    n = 1500
    sv, fv, a_vals, b_vals, exp = _struct_fixture(n)
    p = str(tmp_path / f"struct_{pv}_{comp}.parquet")
    write_table(p, [
        ColumnSpec("id", Kind.INT64, np.arange(n, dtype=np.int64)),
        StructColumnSpec("st", fields=[
            ("a", ColumnSpec("a", Kind.INT64, a_vals, validity=fv)),
            ("b", ColumnSpec("b", Kind.BYTE_ARRAY, b_vals,
                             logical="string")),
        ], validity=sv),
    ], page_version=pv, compression=comp, page_rows=400,
        row_group_rows=800)
    t = pq.ParquetFile(p, page_checksum_verification=True).read()
    assert t.column("st").to_pylist() == exp
    # chunk stats: null counts differ per leaf (struct-null rows count
    # as nulls on both; field-null rows only on `a`)
    md = pq.ParquetFile(p).metadata
    a_nulls = sum(md.row_group(g).column(1).statistics.null_count
                  for g in range(md.num_row_groups))
    b_nulls = sum(md.row_group(g).column(2).statistics.null_count
                  for g in range(md.num_row_groups))
    assert a_nulls == n - int(fv.sum())
    assert b_nulls == n - int(sv.sum())


def test_struct_column_required(tmp_path):
    """No struct validity, no field validity → def-less required leaves
    inside the group."""
    from parquet_go_spark.interop.pqwriter import StructColumnSpec

    m = 600
    p = str(tmp_path / "struct_req.parquet")
    write_table(p, [StructColumnSpec("st", fields=[
        ("x", ColumnSpec("x", Kind.INT32, np.arange(m, dtype=np.int32))),
        ("y", ColumnSpec("y", Kind.DOUBLE, np.arange(m) * 0.5)),
    ])])
    t = pq.ParquetFile(p, page_checksum_verification=True).read()
    assert t.column("st").to_pylist() == [
        {"x": i, "y": i * 0.5} for i in range(m)]


def test_struct_column_duckdb(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from parquet_go_spark.interop.pqwriter import StructColumnSpec

    n = 1200
    sv, fv, a_vals, b_vals, _ = _struct_fixture(n, seed=17)
    p = str(tmp_path / "sd.parquet")
    write_table(p, [StructColumnSpec("st", fields=[
        ("a", ColumnSpec("a", Kind.INT64, a_vals, validity=fv)),
        ("b", ColumnSpec("b", Kind.BYTE_ARRAY, b_vals, logical="string")),
    ], validity=sv)])
    got = duckdb.sql(
        f"SELECT count(*), count(st), sum(st.a), count(st.b) "
        f"FROM read_parquet('{p}')").fetchone()
    assert got == (n, int(sv.sum()), int(a_vals.sum()), int(sv.sum()))


def test_export_struct_column_spark_roundtrip(spark, tmp_path):
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.interop.compact import compact_export
    from pyspark.sql import functions as F

    src = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 6).cast("string").alias("grp"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.when(F.col("o_orderkey") % 4 == 0, None)
                .otherwise(F.col("o_custkey")).alias("ckey"),
                F.col("o_totalprice").alias("price"),
            ).alias("props"),
        )
    )
    out = str(tmp_path / "structs")
    export_parquet(spark, src, out, repo_col="grp",
                   salt_cols=["o_orderkey"], target_chunk_bytes=32 << 10)
    back = spark.read.parquet(out + "/*.parquet")

    def proj(d):
        return sorted(
            (r.o_orderkey, r.s, r.c, r.p) for r in d.select(
                "o_orderkey",
                F.col("props.status").alias("s"),
                F.col("props.ckey").alias("c"),
                F.col("props.price").alias("p")).collect())

    exp = proj(src)
    assert proj(back) == exp
    assert pq.read_table(out).num_rows == src.count()
    # compaction merges struct-columned files (value-presence differs
    # per file) and the result still matches
    compact_export(spark, out, small_bytes=1 << 20, target_bytes=4 << 20)
    assert proj(spark.read.parquet(out + "/*.parquet")) == exp
