"""Split-block bloom filter: no false negatives, useful fpp, and
bloom-pruned point lookup through the pipeline."""

from __future__ import annotations

import numpy as np
import pytest

from parquet_go_spark.codecs import bloom
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Kind


def test_no_false_negatives_int64():
    rng = np.random.default_rng(1)
    vals = rng.integers(0, 1 << 40, 5000).astype(np.int64)
    blob = bloom.build(vals, Kind.INT64)
    assert bloom.might_contain(blob, vals, Kind.INT64).all()


def test_false_positive_rate_int64():
    rng = np.random.default_rng(2)
    vals = np.arange(10_000, dtype=np.int64)
    blob = bloom.build(vals, Kind.INT64)
    absent = np.arange(1_000_000, 1_100_000, dtype=np.int64)
    fpp = bloom.might_contain(blob, absent, Kind.INT64).mean()
    assert fpp < 0.05, fpp  # ~1% expected at 10 bits/value


def test_no_false_negatives_byte_array():
    vals = ByteArrays.from_pylist([f"key-{i}".encode() for i in range(3000)])
    blob = bloom.build(vals, Kind.BYTE_ARRAY)
    assert bloom.might_contain(blob, vals, Kind.BYTE_ARRAY).all()
    absent = ByteArrays.from_pylist([f"other-{i}".encode() for i in range(3000)])
    assert bloom.might_contain(blob, absent, Kind.BYTE_ARRAY).mean() < 0.05


def test_double_and_float():
    vals = np.linspace(0, 1, 1000)
    blob = bloom.build(vals, Kind.DOUBLE)
    assert bloom.might_contain(blob, vals, Kind.DOUBLE).all()


def test_bloom_point_lookup_through_ds(spark, tmp_path_factory):
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    from parquet_go_spark.plans import pipeline
    from tests.colcodec_read import direct_read, same_rows, spark_where

    out = str(tmp_path_factory.mktemp("enc") / "orders")
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    pipeline.encode_table(spark, df, out, repo_col="o_orderpriority",
                          salt_cols=["o_orderkey"], sort_cols=["o_orderkey"])
    key = df.select("o_custkey").head()[0]
    cond = F.col("o_custkey") == key
    got = spark_where(spark, out, cond)
    assert same_rows(got, df.where(cond)) and got.count() >= 1
    rows, _ = direct_read(out, [EqualTo(("o_custkey",), key)])
    want = {r["o_orderkey"] for r in df.where(cond).collect()}
    assert want <= {r["o_orderkey"] for r in rows}


@pytest.mark.skipif(bloom._NATIVE is None, reason="no C toolchain on this host")
def test_native_byte_array_hash_matches_numpy(monkeypatch):
    """The compiled XXH64 kernel and the numpy fallback must hash
    BYTE_ARRAY chunks bit-for-bit: filters built by one path are probed
    by the other (mixed deployments / resume across hosts with and
    without cc)."""
    rng = np.random.default_rng(11)
    lens = np.concatenate([
        rng.integers(0, 50, 4000),          # short values + empties
        rng.integers(1000, 4000, 100),      # content-sized values
        [0, 0, 1],
    ]).astype(np.int64)
    data = rng.integers(0, 256, int(lens.sum()), dtype=np.uint8)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    vals = ByteArrays(data, offsets)
    h_native = bloom.spec_hashes(vals, Kind.BYTE_ARRAY)
    blob_native = bloom.build(vals, Kind.BYTE_ARRAY)
    monkeypatch.setattr(bloom, "_NATIVE", None)
    h_numpy = bloom.spec_hashes(vals, Kind.BYTE_ARRAY)
    assert np.array_equal(h_native, h_numpy)
    # cross-path build/probe, both directions
    blob_numpy = bloom.build(vals, Kind.BYTE_ARRAY)
    assert blob_numpy == blob_native
    assert bloom.might_contain(blob_native, vals, Kind.BYTE_ARRAY).all()
    monkeypatch.undo()
    assert bloom.might_contain(blob_numpy, vals, Kind.BYTE_ARRAY).all()


def test_blooms_on_scalar_columns_only():
    """Container element streams (array<scalar> elements and map values
    are both named `values`) carry no bloom: only scalar columns are
    pushed to the chunk prune rule, so nothing would probe one."""
    import pyarrow as pa

    from parquet_go_spark.plans import pipeline

    tbl = pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "tags": pa.array([["a", "b"], [], ["c"]], pa.list_(pa.string())),
        "attrs": pa.array([[("k", "v")], [("x", "y")], []],
                          pa.map_(pa.string(), pa.string())),
    })
    cols = [("id", "bigint"), ("tags", "array<string>"),
            ("attrs", "map<string,string>")]
    recs = pipeline._encode_one_chunk(tbl, cols, "r", 0, None, "").to_pylist()
    bloomed = {(r["column"], r["stream"]) for r in recs
               if r["bloom"] is not None}
    assert bloomed == {("id", "values")}
    assert {("tags", "values"), ("attrs", "values")} <= {
        (r["column"], r["stream"]) for r in recs}


def _bitset_reference(h: np.ndarray, nbytes: int) -> bytes:
    """The insert as an unbuffered OR of each hash's 8 word masks."""
    words = np.zeros((nbytes // 32, 8), dtype=np.uint32)
    block = bloom._block_index(h, len(words))
    np.bitwise_or.at(words, (block[:, None], np.arange(8)[None, :]),
                     bloom._bit_masks(h))
    return words.astype("<u4").tobytes()


class _InsertSpy:
    def __init__(self, lib):
        self.lib, self.calls = lib, 0

    def sbbf_insert(self, *args):
        self.calls += 1
        return self.lib.sbbf_insert(*args)


@pytest.mark.parametrize("n,nbytes", [
    (0, 32), (0, 4096), (1, 32), (300, 32), (500, 32 * 37),
    (2000, 4096), (65536, 128 * 1024)])
def test_bitset_insert_paths_match(n, nbytes, monkeypatch):
    """The compiled insert and the numpy scatter + packbits give the
    bits of an OR per hash: tiny and non-power-of-two block counts (the
    colcodec `build` sizes), duplicate hashes, 65,536 random hashes."""
    rng = np.random.default_rng(n + nbytes)
    h = rng.integers(0, 2**64, n, dtype=np.uint64, endpoint=False)
    h[: n // 4] = h[n // 4: n // 2]  # duplicates
    got = {}
    if bloom._NATIVE is not None:
        spy = _InsertSpy(bloom._NATIVE)
        monkeypatch.setattr(bloom, "_NATIVE", spy)
        got["native"] = bloom.build_bitset(h, nbytes)
        assert spy.calls == 1
    monkeypatch.setattr(bloom, "_NATIVE", None)
    got["numpy"] = bloom.build_bitset(h, nbytes)
    assert set(got.values()) == {_bitset_reference(h, nbytes)}
    assert len(got["numpy"]) == nbytes
    assert bloom.probe(got["numpy"], h).all()
