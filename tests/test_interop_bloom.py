"""Parquet split-block bloom filters: spec parity + pruning soundness.

Cross-implementation evidence is the golden fixture
data_index_bloom_encoding_stats.parquet (written by parquet-mr): our
builder must reproduce its bitset BYTE-IDENTICALLY from the stored
values, and our prober must accept every stored value and reject
absent ones. The write path is then checked end-to-end: a file we
write with bloom_columns still reads in pyarrow/DuckDB, probes
soundly (zero false negatives per row group), and prunes files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_go_spark.codecs import bloom
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Kind
from parquet_go_spark.interop import pqbloom
from parquet_go_spark.interop.pqwriter import ColumnSpec, write_table

from tests.refcorpus import need
from xxh64ref import hash_bytes

GOLDEN = "/root/reference/testdata/data_index_bloom_encoding_stats.parquet"
GOLDEN_VALUES = [
    "Hello", "This is", "a", "test", "How", "are you", "doing ", "today",
    "the quick", "brown fox", "jumps", "over", "the lazy", "dog",
]


def _hash_strs(strs):
    return bloom.spec_hashes(
        ByteArrays.from_pylist([s.encode() for s in strs]), Kind.BYTE_ARRAY)


def test_golden_bitset_byte_identical():
    blooms = pqbloom.read_blooms(need(GOLDEN))
    words = blooms[(0, "String")]
    mine = bloom.build_bitset(_hash_strs(GOLDEN_VALUES), words.size * 4)
    assert mine == words.astype("<u4").tobytes()


def test_golden_probe_present_and_absent():
    words = pqbloom.read_blooms(need(GOLDEN))[(0, "String")]
    assert bloom.probe(words, _hash_strs(GOLDEN_VALUES)).all()
    absent = _hash_strs(["zebra", "xylophone", "NOT-THERE", "qq", "claw"])
    assert not bloom.probe(words, absent).any()


@given(st.lists(st.binary(max_size=80), max_size=60))
@settings(max_examples=25)
def test_xxh64_matches_reference(vals):
    ba = ByteArrays.from_pylist(vals)
    ours = bloom.spec_hashes(ba, Kind.BYTE_ARRAY)
    ref = np.array([hash_bytes(v, 0) & ((1 << 64) - 1) for v in vals],
                   dtype=np.uint64)
    assert np.array_equal(ours, ref)


@pytest.mark.parametrize("data,want", [
    (b"", 0xEF46DB3751D8E999),
    (b"a", 0xD24EC4F1A98C6E5B),
    (b"abc", 0x44BC2CF5AD770999),
])
def test_xxh64_published_vectors(data, want, monkeypatch):
    """XXH64(seed 0) reference vectors through the Python reference,
    the C kernel (when it loads) and the numpy fallback."""
    assert hash_bytes(data, 0) & ((1 << 64) - 1) == want
    buf = np.frombuffer(data, dtype=np.uint8)
    offsets = np.array([0, len(data)])
    assert int(bloom.xxh64(buf, offsets)[0]) == want
    monkeypatch.setattr(bloom, "_NATIVE", None)
    assert int(bloom.xxh64(buf, offsets)[0]) == want


def test_xxh64_python_fallback_matches(monkeypatch):
    """The numpy XXH64 reproduces the compiled kernel (or, with no C
    toolchain, the Python reference) bit for bit: every stripe/tail
    boundary, empties, content-sized values, and the numeric kinds.
    (test_bloom covers the colcodec build/probe across the two paths.)"""
    rng = np.random.default_rng(11)
    edge = [0, 1, 3, 4, 7, 8, 15, 31, 32, 33, 100]
    lens = np.concatenate([
        edge,
        rng.integers(0, 50, 4000),          # short values + empties
        rng.integers(1000, 4001, 100),      # content-sized values
        [0, 0, 1],
    ]).astype(np.int64)
    data = rng.integers(0, 256, int(lens.sum()), dtype=np.uint8)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    ba = ByteArrays(data, offsets)
    ints = rng.integers(-2**62, 2**62, 1000)
    cases = [
        (ByteArrays.from_pylist([b"x" * n for n in edge]), Kind.BYTE_ARRAY),
        (ba, Kind.BYTE_ARRAY),
        (ints.astype(np.int64), Kind.INT64),
        (ints.astype(np.int32), Kind.INT32),
        (rng.standard_normal(1000), Kind.DOUBLE),
        (rng.standard_normal(1000).astype(np.float32), Kind.FLOAT),
        (data[:1600].reshape(-1, 16), Kind.FIXED_LEN_BYTE_ARRAY),
    ]
    if bloom._NATIVE is not None:
        want = [bloom.spec_hashes(v, k) for v, k in cases]
    else:
        want = [np.array([hash_bytes(bytes(s), 0) & ((1 << 64) - 1)
                          for s in _plain_slices(v, k)], dtype=np.uint64)
                for v, k in cases]
    monkeypatch.setattr(bloom, "_NATIVE", None)
    for (v, k), w in zip(cases, want):
        assert np.array_equal(bloom.spec_hashes(v, k), w), k


def _plain_slices(values, kind):
    """Each value's plain-encoded bytes (the spec hash input)."""
    if kind == Kind.BYTE_ARRAY:
        return values.to_pylist()
    a = np.ascontiguousarray(values)
    return [row.tobytes() for row in a.reshape(len(a), -1)]


def test_numeric_hash_is_plain_encoding():
    iv = np.array([1, -3, 2**40], dtype=np.int64)
    ref = np.array(
        [hash_bytes(int(v).to_bytes(8, "little", signed=True), 0)
         & ((1 << 64) - 1) for v in iv], dtype=np.uint64)
    assert np.array_equal(bloom.spec_hashes(iv, Kind.INT64), ref)
    i32 = np.array([7, -9], dtype=np.int32)
    ref32 = np.array(
        [hash_bytes(int(v).to_bytes(4, "little", signed=True), 0)
         & ((1 << 64) - 1) for v in i32], dtype=np.uint64)
    assert np.array_equal(bloom.spec_hashes(i32, Kind.INT32), ref32)


def _write_bloom_file(tmp_path, n=8000, rg=2000):
    rng = np.random.default_rng(11)
    keys = rng.permutation(n).astype(np.int64)
    names = ByteArrays.from_pylist(
        [f"repo_{i % 701}".encode() for i in range(n)])
    path = os.path.join(tmp_path, "bloomed.parquet")
    write_table(path, [
        ColumnSpec("k", Kind.INT64, keys),
        ColumnSpec("name", Kind.BYTE_ARRAY, names, logical="string"),
    ], row_group_rows=rg, bloom_columns=["k", "name"])
    return path, keys, rg


def test_written_file_still_reads_everywhere(tmp_path):
    import duckdb

    path, keys, _ = _write_bloom_file(str(tmp_path))
    assert pq.read_table(path).column("k").to_numpy().tolist() == \
        keys.tolist()
    pf = pq.ParquetFile(path, page_checksum_verification=True)
    for i in range(pf.metadata.num_row_groups):
        pf.read_row_group(i)
    assert duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0] == \
        len(keys)


def test_written_bloom_sound_and_selective(tmp_path):
    path, keys, rg = _write_bloom_file(str(tmp_path))
    blooms = pqbloom.read_blooms(path)
    n_groups = len(keys) // rg
    assert set(blooms) == {(g, c) for g in range(n_groups)
                           for c in ("k", "name")}
    # soundness: every value probes true in its own row group
    for g in range(n_groups):
        h = bloom.spec_hashes(keys[g * rg:(g + 1) * rg], Kind.INT64)
        assert bloom.probe(blooms[(g, "k")], h).all()
    # selectivity: rg0's keys are absent from the others at ~fpp
    h0 = bloom.spec_hashes(keys[:rg], Kind.INT64)
    fp = np.mean([bloom.probe(blooms[(g, "k")], h0).mean()
                  for g in range(1, n_groups)])
    assert fp < 0.05


def test_prune_files_keeps_match_drops_rest(tmp_path):
    # three files with disjoint key ranges; a point probe must keep
    # exactly the owning file (bloom fpp can add a file, never drop one)
    paths = []
    for fi in range(3):
        keys = np.arange(fi * 1000, (fi + 1) * 1000, dtype=np.int64)
        p = os.path.join(str(tmp_path), f"f{fi}.parquet")
        write_table(p, [ColumnSpec("k", Kind.INT64, keys)],
                    bloom_columns=["k"])
        paths.append(p)
    keep = pqbloom.prune_files(
        paths, "k", np.array([1500], dtype=np.int64), Kind.INT64)
    assert paths[1] in keep and len(keep) <= 2
    # a column with no bloom keeps everything
    keep_all = pqbloom.prune_files(
        paths, "absent_col", np.array([1], dtype=np.int64), Kind.INT64)
    assert keep_all == paths


def test_bloom_skips_boolean_and_repeated(tmp_path):
    # boolean leaves and LIST leaves are silently skipped, not written
    path = os.path.join(str(tmp_path), "skip.parquet")
    write_table(path, [
        ColumnSpec("b", Kind.BOOLEAN, np.array([True, False] * 50)),
        ColumnSpec("l", Kind.INT64, np.arange(300, dtype=np.int64),
                   lengths=np.full(100, 3, dtype=np.int64)),
    ], bloom_columns=["b", "l"])
    assert pqbloom.read_blooms(path) == {}
    assert pq.read_table(path).num_rows == 100


def test_bloom_on_non_repeated_nested_leaf(tmp_path):
    """One bloom rule per leaf: a leaf under structs only (max_rep 0)
    gets its bloom like a flat leaf; only repeated and boolean leaves
    are skipped."""
    import pyarrow as pa

    from parquet_go_spark.interop.export import _nested_spec

    n = 400
    arr = pa.array(
        [None if i % 9 == 0 else
         {"a": None if i % 5 == 0 else {"x": i * 2, "y": f"v{i % 7}"}}
         for i in range(n)],
        pa.struct([("a", pa.struct([("x", pa.int32()),
                                    ("y", pa.string())]))]))
    spec = _nested_spec("s", arr, "struct<a:struct<x:int,y:string>>")
    path = os.path.join(str(tmp_path), "nested.parquet")
    write_table(path, [spec], row_group_rows=200,
                bloom_columns=["s.a.x"])
    blooms = pqbloom.read_blooms(path)
    assert sorted(blooms) == [(0, "s.a.x"), (1, "s.a.x")]
    assert pq.read_table(path).column("s").to_pylist() == arr.to_pylist()
    present = pa.compute.struct_field(arr, [0, 0]).drop_null().to_pylist()
    keep = pqbloom.prune_files(
        [path], "s.a.x", np.array(present[:5], dtype=np.int32), Kind.INT32)
    assert keep == [path]
    # odd values are never written (x = 2i): at fpp 0.01 a few may
    # pass as false positives, not a quarter of them
    absent = np.arange(1, 200, 2, dtype=np.int32)
    hits = sum(bool(pqbloom.prune_files([path], "s.a.x", absent[i:i + 1],
                                        Kind.INT32))
               for i in range(len(absent)))
    assert hits < len(absent) // 4


def test_optimal_bytes_power_of_two_and_clamped():
    assert pqbloom.optimal_bytes(1) == 32
    for ndv in (10, 100, 10_000, 1_000_000):
        b = pqbloom.optimal_bytes(ndv)
        assert b & (b - 1) == 0 and b >= 32
    assert pqbloom.optimal_bytes(10**12) == pqbloom.MAX_BYTES


def test_export_and_compact_inherit_blooms(spark, tmp_path):
    """export_parquet(bloom_cols=...) writes blooms into every file;
    compact_export detects them in the sources (footer-only) and writes
    them into the merged files too, still sound for point probes."""
    import glob

    from parquet_go_spark.interop.compact import compact_export
    from parquet_go_spark.interop.export import export_parquet
    from parquet_go_spark.sources import repogen

    df = repogen.repos_table(spark, n_rows=6000, seed=21).select(
        "repo", "path", "lang", "content")
    out = str(tmp_path / "bexp")
    export_parquet(spark, df, out, target_chunk_bytes=1 << 20,
                   bloom_cols=["path"])
    before = sorted(glob.glob(out + "/*.parquet"))
    assert before
    for p in before:
        assert pqbloom.bloom_column_names(p) == ["path"]

    compact_export(spark, out, small_bytes=4 << 20, target_bytes=2 << 20)
    after = sorted(glob.glob(out + "/*.parquet"))
    assert len(after) < len(before)
    for p in after:
        assert pqbloom.bloom_column_names(p) == ["path"]

    # soundness through the rewrite: a real path value keeps its file
    sample = df.select("path").limit(1).collect()[0][0]
    keep = pqbloom.prune_files(
        after, "path",
        ByteArrays.from_pylist([sample.encode()]), Kind.BYTE_ARRAY)
    import pyarrow.compute as pc

    found = sum(
        pq.read_table(p, columns=["path"])
        .column("path").to_pylist().count(sample) for p in keep)
    total = sum(
        pq.read_table(p, columns=["path"])
        .column("path").to_pylist().count(sample) for p in after)
    assert found == total > 0


def test_prune_files_distributed_matches_driver(tmp_path, spark, monkeypatch):
    """Above _PROBE_DRIVER_MAX with a session, the probe runs as a Spark
    job over the path list; result and ordering must equal the
    driver-side loop."""
    paths = []
    for fi in range(6):
        keys = np.arange(fi * 100, (fi + 1) * 100, dtype=np.int64)
        p = os.path.join(str(tmp_path), f"f{fi}.parquet")
        write_table(p, [ColumnSpec("k", Kind.INT64, keys)],
                    bloom_columns=["k"])
        paths.append(p)
    probe = np.array([150, 450], dtype=np.int64)
    driver = pqbloom.prune_files(paths, "k", probe, Kind.INT64)
    monkeypatch.setattr(pqbloom, "_PROBE_DRIVER_MAX", 2)
    dist = pqbloom.prune_files(paths, "k", probe, Kind.INT64, spark=spark)
    assert dist == driver
    assert paths[1] in dist and paths[4] in dist
