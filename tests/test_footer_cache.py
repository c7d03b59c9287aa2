"""The per-process cache of parsed parquet footers (pqreader._file_meta).

Its key is the raw footer bytes, read on every call, so these tests pin
what that promises: a file rewritten in place is parsed afresh even when
its size and mtime are unchanged, encrypted and signed footers are never
cached (a wrong key still raises), the cache stays within its byte bound,
and no reader mutates a shared cached entry."""

from __future__ import annotations

import copy
import os

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Codec, Kind
from parquet_go_spark.interop import pqbloom, pqcrypt, pqreader
from parquet_go_spark.interop.pqwriter import ColumnSpec, write_table

FOOTER_KEY = b"0123456789112345"
WRONG_KEY = b"5432109876543210"


@pytest.fixture(autouse=True)
def empty_cache():
    with pqreader._footers_lock:
        pqreader._footers.clear()
        pqreader._footers_bytes = 0
    yield


def _footer_bytes(path: str) -> bytes:
    raw = open(path, "rb").read()
    flen = int.from_bytes(raw[-8:-4], "little")
    return raw[len(raw) - 8 - flen:len(raw) - 8]


def _plain_int_file(path: str, values) -> None:
    write_table(path, [ColumnSpec("k", Kind.INT64,
                                  np.asarray(values, np.int64),
                                  encoding=Codec.PLAIN)])


def test_in_place_rewrite_same_size_and_mtime(tmp_path):
    p = str(tmp_path / "f.parquet")
    _plain_int_file(p, range(1000, 1100))
    got = pqreader.read_table(p)
    assert got.column("k").to_pylist() == list(range(1000, 1100))
    assert _footer_bytes(p) in pqreader._footers
    st = os.stat(p)

    _plain_int_file(p, range(5000, 5100))
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(p)
    assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    got = pqreader.read_table(p)
    assert got.column("k").to_pylist() == list(range(5000, 5100))
    # the new footer's own statistics, not the first file's
    agg = pqreader.footer_aggregates(p)["columns"]["k"]
    assert (agg["min"], agg["max"]) == (5000, 5099)
    assert pqreader.read_table(p, predicate=("k", "=", 1005)).num_rows == 0


def _enc_cols():
    n = 3000
    x = np.arange(n, dtype=np.int64)
    names = ByteArrays.from_pylist([f"n{i % 41}".encode() for i in range(n)])
    return [ColumnSpec("x", Kind.INT64, x),
            ColumnSpec("s", Kind.BYTE_ARRAY, names, logical="string")], x


@pytest.mark.parametrize("plaintext_footer", [False, True])
def test_encrypted_footers_never_cached(tmp_path, plaintext_footer):
    cols, x = _enc_cols()
    p = str(tmp_path / "enc.parquet")
    write_table(p, cols, encryption=pqcrypt.FileEncryption(
        footer_key=FOOTER_KEY, plaintext_footer=plaintext_footer))
    assert open(p, "rb").read(4) == (b"PAR1" if plaintext_footer
                                     else b"PARE")
    right = pqcrypt.FileDecryption(footer_key=FOOTER_KEY)
    wrong = pqcrypt.FileDecryption(footer_key=WRONG_KEY)

    got = pqreader.read_table(p, decryption=right)
    assert np.array_equal(got.column("x").to_numpy(), x)
    assert pqreader.read_schema(p, right).names == ["x", "s"]
    assert pqbloom.read_blooms(p, decryption=right) == {}
    assert not pqreader._footers
    match = ("footer signature mismatch" if plaintext_footer
             else "GCM authentication")
    for _ in range(2):  # a right-key read in between changes nothing
        with pytest.raises(ValueError, match=match):
            pqreader.read_table(p, decryption=wrong)
        with pytest.raises(ValueError, match=match):
            pqreader.footer_aggregates(p, decryption=wrong)
        pqreader.read_table(p, decryption=right)
    assert not pqreader._footers
    assert pqreader._footers_bytes == 0


def test_cache_bound_evicts_oldest(tmp_path, monkeypatch):
    paths = []
    for i in range(8):
        p = str(tmp_path / f"f{i}.parquet")
        _plain_int_file(p, np.arange(i * 1000, i * 1000 + 50))
        paths.append(p)
    flen = len(_footer_bytes(paths[0]))
    assert all(len(_footer_bytes(p)) == flen for p in paths)
    bound = 3 * flen + flen // 2  # holds three footers
    monkeypatch.setattr(pqreader, "_FOOTER_CACHE_BYTES", bound)
    for p in paths:
        pqreader.read_schema(p)
        assert pqreader._footers_bytes <= bound
        assert sum(map(len, pqreader._footers)) == pqreader._footers_bytes
    assert len(pqreader._footers) == 3
    cached = pqreader._footers[_footer_bytes(paths[-1])]
    assert pqreader._file_meta(paths[-1]) is cached  # newest still hits
    assert _footer_bytes(paths[0]) not in pqreader._footers

    # a footer larger than the whole bound is never cached
    monkeypatch.setattr(pqreader, "_FOOTER_CACHE_BYTES", flen - 1)
    pqreader._footers.clear()
    pqreader._footers_bytes = 0
    pqreader.read_schema(paths[0])
    assert not pqreader._footers


def _battery_file(path: str) -> pa.Table:
    n = 20000
    rng = np.random.default_rng(5)
    key = np.arange(n, dtype=np.int64) * 3
    val = rng.standard_normal(n)
    valid = rng.random(n) < 0.8
    cat = [f"c{i % 13}".encode() for i in range(n)]
    write_table(path, [
        ColumnSpec("key", Kind.INT64, key,
                   encoding=Codec.DELTA_BINARY_PACKED),
        ColumnSpec("val", Kind.DOUBLE, val[valid], validity=valid),
        ColumnSpec("cat", Kind.BYTE_ARRAY, ByteArrays.from_pylist(cat),
                   encoding=Codec.RLE_DICTIONARY, logical="string"),
    ], row_group_rows=4096, page_rows=1024, bloom_columns=["key", "cat"])
    return pa.table({"key": key,
                     "val": pa.array(val, mask=~valid),
                     "cat": pa.array([c.decode() for c in cat])})


def test_readers_never_mutate_cached_entries(spark, tmp_path):
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from parquet_go_spark.sources import pqread

    d = tmp_path / "d"
    d.mkdir()
    p = str(d / "part-0.parquet")
    want = _battery_file(p)
    entry = pqreader._file_meta(p)
    assert pqreader._footers[_footer_bytes(p)] is entry
    snapshot = copy.deepcopy(entry)

    key = pc.field("key")
    cases = [
        (("key", "=", 300), key == 300),
        (("key", "in", [3, 9000, 7]), pc.is_in(key, pa.array([3, 9000]))),
        ([("key", ">=", 1000), ("key", "<", 15000)],
         (key >= 1000) & (key < 15000)),
        (("val", "isnull"), pc.field("val").is_null()),
        (("or", [("key", "<", 30), ("cat", "=", "c4")]),
         (key < 30) | (pc.field("cat") == "c4")),
    ]
    for pred, expr in cases:
        got = pqreader.read_table(p, predicate=pred)
        assert got.equals(want.filter(expr)), pred
    got = pqreader.read_table(p, columns=["key", "cat"],
                              predicate=("key", ">", 59000))
    assert got.equals(want.select(["key", "cat"]).filter(key > 59000))
    assert pqreader.read_table(p, row_range=(4000, 9000)).equals(
        want.slice(4000, 5000))
    agg = pqreader.footer_aggregates(p)
    assert agg["rows"] == want.num_rows
    assert agg["columns"]["key"]["max"] == int(want["key"][-1].as_py())
    assert pqbloom.read_blooms(p)
    assert pqbloom.prune_files([p], "key", [300], Kind.INT64) == [p]
    assert pqbloom.prune_files([p], "key", [301], Kind.INT64) == []
    assert pqreader.read_schema(p).names == ["key", "val", "cat"]

    pqread.register(spark)
    rows = (spark.read.format("pqread").load(str(d))
            .where(F.col("key") < 90).select("key").collect())
    assert sorted(r.key for r in rows) == list(range(0, 90, 3))

    assert pqreader._file_meta(p) is entry
    assert entry == snapshot
