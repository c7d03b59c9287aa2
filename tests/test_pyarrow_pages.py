"""Decode pages ANOTHER writer produced with our kernels.

pyarrow writes each file at test time with an explicit
``column_encoding=`` (or its dictionary default), ``tests/parquet_rawpages``
pulls the raw page payloads, and our decoders must return exactly the
values pyarrow itself reads back, page by page. This is the byte-level
oracle of ``test_golden_decode`` without the reference corpus: it runs
on any host with pyarrow, for data pages v1 and v2.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_go_spark.codecs import (bytestreamsplit, delta, dictionary,
                                     plain, rle)
from parquet_go_spark.codecs.kinds import Codec, Kind

from tests.parquet_rawpages import page_nonnull, read_columns, split_levels

N = 6000
VERSIONS = ["1.0", "2.0"]


def _nulls(rng, values, every=7):
    """A python list with about 1/every of the slots NULL."""
    out = list(values)
    for i in np.flatnonzero(rng.integers(0, every, len(out)) == 0):
        out[i] = None
    return out


def _write(tmp_path, table, version, data_page_size=4096, **kw) -> str:
    p = str(tmp_path / f"pa-{version}.parquet")
    pq.write_table(table, p, data_page_version=version,
                   data_page_size=data_page_size, **kw)
    return p


def _data_pages(path: str, name: str, encoding: int):
    """(raw column, page, values bytes, non-null count, pyarrow's
    non-null values of that page) for every data page of `name`, after
    checking each page really carries `encoding`."""
    (col,) = [c for c in read_columns(path) if c.name == name]
    expected = pq.read_table(path, columns=[name]).column(name)
    expected = expected.combine_chunks()
    off = 0
    pages = [p for p in col.pages if p.page_type in (0, 3)]
    assert len(pages) >= 2, "fixture should span several pages"
    for page in pages:
        assert page.encoding == encoding, (name, page.encoding)
        levels, values = split_levels(page, col.optional)
        n = page_nonnull(page, levels)
        exp = expected.slice(off, page.num_values).drop_null()
        assert len(exp) == n
        yield col, page, np.frombuffer(values, np.uint8), n, exp
        off += page.num_values
    assert off == len(expected)


def _as_bytes(arr) -> list[bytes]:
    return [v.as_py() for v in arr.cast(pa.binary())]


@pytest.mark.parametrize("version", VERSIONS)
def test_delta_binary_packed_pyarrow_pages(tmp_path, version):
    rng = np.random.default_rng(1)
    walk = np.cumsum(rng.integers(-1000, 1000, N))
    walk[::97] += rng.integers(-2**40, 2**40, len(walk[::97]))
    t = pa.table({
        "i32": pa.array(_nulls(rng, (walk % 2**31).astype(np.int32)),
                        pa.int32()),
        "i64": pa.array(_nulls(rng, walk), pa.int64()),
    })
    p = _write(tmp_path, t, version, use_dictionary=False,
               column_encoding="DELTA_BINARY_PACKED")
    for name, bits in (("i32", 32), ("i64", 64)):
        for _, _, buf, n, exp in _data_pages(
                p, name, Codec.DELTA_BINARY_PACKED):
            got, _ = delta.decode_binary_packed(buf, bits)
            assert np.array_equal(got[:n], exp.to_numpy()), name


@pytest.mark.parametrize("version", VERSIONS)
def test_delta_length_byte_array_pyarrow_pages(tmp_path, version):
    rng = np.random.default_rng(2)
    words = [("x" * int(k)) + f"-{i}" + "ü" * (i % 3)
             for i, k in enumerate(rng.integers(0, 40, N))]
    t = pa.table({"s": pa.array(_nulls(rng, words), pa.string())})
    # the DLBA encoder only cuts pages between write batches
    p = _write(tmp_path, t, version, use_dictionary=False,
               column_encoding="DELTA_LENGTH_BYTE_ARRAY",
               data_page_size=1024, write_batch_size=500)
    for _, _, buf, n, exp in _data_pages(
            p, "s", Codec.DELTA_LENGTH_BYTE_ARRAY):
        got = delta.decode_length_byte_array(buf, n)
        assert got.to_pylist() == _as_bytes(exp)


@pytest.mark.parametrize("version", VERSIONS)
def test_delta_byte_array_pyarrow_pages(tmp_path, version):
    rng = np.random.default_rng(3)
    paths = sorted(f"src/pkg{i // 200}/mod_{i // 17}/file_{i}.py"
                   for i in rng.permutation(N))
    t = pa.table({"path": pa.array(_nulls(rng, paths), pa.string())})
    p = _write(tmp_path, t, version, use_dictionary=False,
               column_encoding="DELTA_BYTE_ARRAY")
    for _, _, buf, n, exp in _data_pages(p, "path",
                                         Codec.DELTA_BYTE_ARRAY):
        got = delta.decode_byte_array(buf, n)
        assert got.to_pylist() == _as_bytes(exp)


@pytest.mark.parametrize("version", VERSIONS)
def test_byte_stream_split_pyarrow_pages(tmp_path, version):
    rng = np.random.default_rng(4)
    x = rng.standard_normal(N) * 1e3
    t = pa.table({
        "f32": pa.array(_nulls(rng, x.astype(np.float32)), pa.float32()),
        "f64": pa.array(_nulls(rng, x), pa.float64()),
    })
    p = _write(tmp_path, t, version, use_dictionary=False,
               column_encoding="BYTE_STREAM_SPLIT")
    for name, width, kind in (("f32", 4, Kind.FLOAT),
                              ("f64", 8, Kind.DOUBLE)):
        for _, _, buf, n, exp in _data_pages(
                p, name, Codec.BYTE_STREAM_SPLIT):
            got = bytestreamsplit.decode(buf, n, width, kind)
            assert np.array_equal(got, exp.to_numpy()), name


@pytest.mark.parametrize("version", VERSIONS)
def test_rle_boolean_pyarrow_pages(tmp_path, version):
    rng = np.random.default_rng(5)
    runs = np.repeat(rng.integers(0, 2, N // 20), 20).astype(bool)
    runs[::3] = rng.integers(0, 2, len(runs[::3])).astype(bool)
    t = pa.table({"b": pa.array(_nulls(rng, runs), pa.bool_())})
    p = _write(tmp_path, t, version, use_dictionary=False,
               column_encoding="RLE", data_page_size=256)
    for _, _, buf, n, exp in _data_pages(p, "b", Codec.RLE):
        got = rle.decode_boolean(buf, n)
        assert got[:n].tolist() == exp.to_pylist()


@pytest.mark.parametrize("version", VERSIONS)
def test_plain_pyarrow_pages(tmp_path, version):
    rng = np.random.default_rng(6)
    k = rng.integers(-2**62, 2**62, N)
    t = pa.table({
        "i32": pa.array(_nulls(rng, (k >> 33).astype(np.int32)),
                        pa.int32()),
        "i64": pa.array(_nulls(rng, k), pa.int64()),
        "f32": pa.array(_nulls(rng, (k / 7).astype(np.float32)),
                        pa.float32()),
        "f64": pa.array(_nulls(rng, k / 3), pa.float64()),
        "s": pa.array(_nulls(rng, [f"v{v}" for v in k]), pa.string()),
    })
    p = _write(tmp_path, t, version, use_dictionary=False,
               column_encoding="PLAIN")
    for name, kind in (("i32", Kind.INT32), ("i64", Kind.INT64),
                       ("f32", Kind.FLOAT), ("f64", Kind.DOUBLE)):
        for _, _, buf, n, exp in _data_pages(p, name, Codec.PLAIN):
            got = plain.decode_numeric(buf, n, kind)
            assert np.array_equal(got, exp.to_numpy()), name
    for _, _, buf, n, exp in _data_pages(p, "s", Codec.PLAIN):
        assert plain.decode_byte_array(buf, n).to_pylist() \
            == _as_bytes(exp)


@pytest.mark.parametrize("version", VERSIONS)
def test_dictionary_pyarrow_pages(tmp_path, version):
    """PLAIN dictionary page + RLE_DICTIONARY index pages (pyarrow's
    default encoding), numeric and string."""
    rng = np.random.default_rng(7)
    pick = rng.integers(0, 50, N)
    t = pa.table({
        "i64": pa.array(_nulls(rng, pick * 1_000_003), pa.int64()),
        "s": pa.array(_nulls(rng, [f"cat-{v}" for v in pick]),
                      pa.string()),
    })
    p = _write(tmp_path, t, version, data_page_size=512)
    for name in ("i64", "s"):
        for col, _, buf, n, exp in _data_pages(p, name,
                                               Codec.RLE_DICTIONARY):
            (dpage,) = [d for d in col.pages if d.page_type == 2]
            assert dpage.encoding == Codec.PLAIN
            dbuf = np.frombuffer(dpage.payload, np.uint8)
            idx = rle.decode_dictionary_indexes(buf, n)
            if name == "s":
                uniq = plain.decode_byte_array(dbuf, dpage.num_values)
                got = dictionary.lookup_byte_array(uniq, idx).to_pylist()
                assert got == _as_bytes(exp)
            else:
                uniq = plain.decode_numeric(dbuf, dpage.num_values,
                                            Kind.INT64)
                got = dictionary.lookup_numeric(uniq, idx)
                assert np.array_equal(got, exp.to_numpy())
