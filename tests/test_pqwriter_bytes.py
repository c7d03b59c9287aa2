"""Golden bytes for pqwriter: a fixed seeded matrix of column shapes
(flat required/optional, FLBA, boolean, struct, list, map with and
without null entries, a generic nested column) × page v1/v2 ×
dictionary/plain/default encodings × uncompressed/zstd, each file cut
into several row groups with blooms, statistics and page indexes on.

Every file's sha256 is pinned. The writer is deterministic for
unencrypted files, so any change to page breaks, level widths,
encodings, statistics, page indexes, blooms or footer layout shows up
here, and a refactor of the writer that claims byte identity is held to
it. Pyarrow must also read each file back to the source rows."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Codec, Kind
from parquet_go_spark.interop.pqwriter import (
    ColumnSpec, MapColumnSpec, StructColumnSpec, write_table,
)

N_ROWS = 1000
ROW_GROUP_ROWS = 313  # row groups start mid-page: 0, 313, 626, 939
PAGE_ROWS = 100


def _strings(rng, n: int, ndv: int) -> list[bytes]:
    return [b"v%03d" % i for i in rng.integers(0, ndv, n)]


def _matrix(mode: str) -> tuple[list, pa.Array]:
    """The column matrix → (specs, the generic nested column's source
    array). mode "dict" asks RLE_DICTIONARY for every non-boolean leaf,
    "plain" PLAIN, "default" leaves the choice to the writer."""
    from parquet_go_spark.interop.export import _nested_spec

    rng = np.random.default_rng(20261018)
    n = N_ROWS

    def enc(kind=None):
        if mode == "default":
            return None
        if kind == Kind.BOOLEAN:
            return Codec.RLE
        return Codec.RLE_DICTIONARY if mode == "dict" else Codec.PLAIN

    key = np.cumsum(rng.integers(0, 3, n)).astype(np.int64)
    opt_valid = rng.random(n) < 0.8
    opt_str = _strings(rng, int(opt_valid.sum()), 40)
    flba_valid = rng.random(n) < 0.7
    flba = rng.integers(0, 8, (int(flba_valid.sum()), 4)).astype(np.uint8)
    flag_valid = rng.random(n) < 0.9
    flag = rng.random(int(flag_valid.sum())) < 0.5

    # struct s (optional) { a: optional int64, b: required string }
    s_valid = rng.random(n) < 0.85
    a_valid = s_valid & (rng.random(n) < 0.75)
    n_s = int(s_valid.sum())
    # struct r (required) { c: required int32, d: optional double }
    d_valid = rng.random(n) < 0.6

    # list l: null rows (with junk lengths), empty rows, 0..4 elements
    l_valid = rng.random(n) < 0.8
    l_len = rng.integers(0, 5, n).astype(np.int64)
    l_n = int(np.where(l_valid, l_len, 0).sum())

    # map m: null maps, null entry values; map m2: required values
    m_valid = rng.random(n) < 0.85
    m_len = rng.integers(0, 4, n).astype(np.int64)
    m_n = int(np.where(m_valid, m_len, 0).sum())
    m_ev = rng.random(m_n) < 0.7
    m2_len = rng.integers(0, 3, n).astype(np.int64)
    m2_n = int(m2_len.sum())

    # generic nested: array<struct<x:int,y:string>> with nulls everywhere
    rows = []
    for _ in range(n):
        if rng.random() < 0.1:
            rows.append(None)
            continue
        rows.append([
            None if rng.random() < 0.1 else {
                "x": None if rng.random() < 0.2 else int(rng.integers(0, 50)),
                "y": None if rng.random() < 0.2
                else "y%d" % rng.integers(0, 9),
            }
            for _ in range(int(rng.integers(0, 4)))
        ])
    nested = pa.array(rows, pa.list_(pa.struct(
        [("x", pa.int32()), ("y", pa.string())])))
    nspec = _nested_spec("n", nested, "array<struct<x:int,y:string>>")
    for lf in nspec.leaves:
        lf.encoding = enc(lf.kind)

    return [
        ColumnSpec("key", Kind.INT64, key, encoding=enc()),
        ColumnSpec("opt", Kind.BYTE_ARRAY, ByteArrays.from_pylist(opt_str),
                   validity=opt_valid, encoding=enc(), logical="string"),
        ColumnSpec("f", Kind.FIXED_LEN_BYTE_ARRAY, flba, validity=flba_valid,
                   flba_size=4, encoding=enc()),
        ColumnSpec("flag", Kind.BOOLEAN, flag, validity=flag_valid,
                   encoding=enc(Kind.BOOLEAN)),
        StructColumnSpec("s", fields=[
            ("a", ColumnSpec("a", Kind.INT64,
                             rng.integers(-9, 9, int(a_valid.sum())),
                             validity=a_valid, encoding=enc())),
            ("b", ColumnSpec("b", Kind.BYTE_ARRAY,
                             ByteArrays.from_pylist(_strings(rng, n_s, 12)),
                             encoding=enc(), logical="string")),
        ], validity=s_valid),
        StructColumnSpec("r", fields=[
            ("c", ColumnSpec("c", Kind.INT32,
                             rng.integers(0, 20, n).astype(np.int32),
                             encoding=enc())),
            ("d", ColumnSpec("d", Kind.DOUBLE,
                             np.round(rng.random(int(d_valid.sum())), 1),
                             validity=d_valid, encoding=enc())),
        ]),
        ColumnSpec("l", Kind.INT64, rng.integers(0, 30, l_n),
                   validity=l_valid, lengths=l_len, encoding=enc()),
        MapColumnSpec(
            "m",
            key=ColumnSpec("key", Kind.BYTE_ARRAY,
                           ByteArrays.from_pylist(_strings(rng, m_n, 7)),
                           encoding=enc(), logical="string"),
            value=ColumnSpec("value", Kind.INT32,
                             rng.integers(0, 5, int(m_ev.sum()))
                             .astype(np.int32), encoding=enc()),
            lengths=m_len, validity=m_valid, entry_validity=m_ev),
        MapColumnSpec(
            "m2",
            key=ColumnSpec("key", Kind.INT32,
                           rng.integers(0, 9, m2_n).astype(np.int32),
                           encoding=enc()),
            value=ColumnSpec("value", Kind.INT64, rng.integers(0, 99, m2_n),
                             encoding=enc()),
            lengths=m2_len),
        nspec,
    ], nested


CASES = [(v, mode, comp)
         for v in (1, 2)
         for mode in ("dict", "plain", "default")
         for comp in (None, "zstd")]

# sha256 of each case's file, recorded with the writer that kept one
# chunk writer per spec shape (flat, 1-level list, nested)
GOLDEN = {
    (1, "dict", None):
        "2f2121374b71a741d2389a57273fc6ff7c5d67825a8a5b6224019e91a2f39385",
    (1, "dict", "zstd"):
        "3b34f248780e3186db9d7e21b548a1cea38d24576bc9b7b4f51496b415b01370",
    (1, "plain", None):
        "f63247c8e2a87a138e393dee39c95ecbd82b2b8e4f0248dd9ec191e7dded0f34",
    (1, "plain", "zstd"):
        "46cdcb3e3986654554612cccd0322e1dcee3eb97be10812c9616e3fd42cf23af",
    (1, "default", None):
        "d55bbce16198e2c8bb1d456f9a8859aa76bf8eeaf8fce2e188d7f531ba598f75",
    (1, "default", "zstd"):
        "60f638aab8ce85047623eb187455affab321891df6783b0a2e46ded000b8911e",
    (2, "dict", None):
        "a359457c8e2f1ecf6251e3a74a6ce6e07c6dd74b6fe7059c9331b16526d2d78c",
    (2, "dict", "zstd"):
        "1582c342bd63afbcaad97313621829fb9943836be53a8772bff88a797f059d3b",
    (2, "plain", None):
        "2b7e09f820cdb4b2f6dfb718e5ec5ef2ac6cb3828a1c32b07707954dca5410dd",
    (2, "plain", "zstd"):
        "71cfdf4dcf9bc34f37ca62b6ca427a24b520783bfe4b1f5b524bbe90845bb9cd",
    (2, "default", None):
        "3bd31e33293d3f7995da1573533bd6c2d2e6aea702b6f4e0888bae432069b22f",
    (2, "default", "zstd"):
        "23af04101238e3893834d1304305027f6acd315e7dc6e847b365d6803db4ae95",
}


def _write(path, version: int, mode: str, comp) -> tuple:
    specs, nested = _matrix(mode)
    write_table(str(path), specs, compression=comp,
                page_rows=PAGE_ROWS, row_group_rows=ROW_GROUP_ROWS,
                page_version=version, page_index=True,
                sorting_columns=[0],
                bloom_columns=["key", "opt", "f", "s.a", "s.b", "r.c"])
    return specs, nested


@pytest.mark.parametrize("version,mode,comp", CASES)
def test_writer_bytes_pinned(tmp_path, version, mode, comp):
    p = tmp_path / "t.parquet"
    _write(p, version, mode, comp)
    digest = hashlib.sha256(p.read_bytes()).hexdigest()
    assert digest == GOLDEN[(version, mode, comp)]


@pytest.mark.parametrize("version", [1, 2])
def test_writer_matrix_reads_back(tmp_path, version):
    """The pinned files hold the source rows."""
    p = tmp_path / "t.parquet"
    specs, nested = _write(p, version, "dict", "zstd")
    assert pq.ParquetFile(p).metadata.num_row_groups == 4
    t = pq.read_table(p)
    assert t.num_rows == N_ROWS
    key, opt, _, flag, s, r, lst, m, m2, _ = specs
    np.testing.assert_array_equal(t.column("key").to_numpy(), key.values)
    col = t.column("opt").combine_chunks()
    assert col.drop_null().to_pylist() == \
        [v.decode() for v in opt.values.to_pylist()]
    assert col.null_count == N_ROWS - int(opt.validity.sum())
    assert t.column("flag").combine_chunks().drop_null() \
        .to_numpy(zero_copy_only=False).tolist() == flag.values.tolist()
    sa = t.column("s").combine_chunks()
    assert sa.null_count == N_ROWS - int(s.validity.sum())
    np.testing.assert_array_equal(
        sa.field("a").drop_null().to_numpy(), s.fields[0][1].values)
    np.testing.assert_array_equal(
        t.column("r").combine_chunks().field("c").to_numpy(),
        r.fields[0][1].values)
    la = t.column("l").combine_chunks()
    assert la.null_count == N_ROWS - int(lst.validity.sum())
    np.testing.assert_array_equal(la.flatten().to_numpy(), lst.values)
    ma = t.column("m").combine_chunks()
    assert ma.null_count == N_ROWS - int(m.validity.sum())
    vals = ma.items.drop_null().to_numpy()
    np.testing.assert_array_equal(vals, m.value.values)
    np.testing.assert_array_equal(
        t.column("m2").combine_chunks().keys.to_numpy(), m2.key.values)
    assert t.column("n").to_pylist() == nested.to_pylist()


def test_write_table_leaves_caller_spec_unchanged(tmp_path):
    """The default encoding is resolved on a copy of each leaf: writing
    a spec does not change it, so a second write resolves afresh."""
    from parquet_go_spark.interop import export

    spec = export._nested_spec("s", pa.array([{"a": 1}, None]),
                               "struct<a:bigint>")
    write_table(str(tmp_path / "s.parquet"), [spec])
    assert spec.leaves[0].encoding is None
    got = pq.read_table(str(tmp_path / "s.parquet"))
    assert got.column("s").to_pylist() == [{"a": 1}, None]
