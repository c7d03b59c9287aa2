"""Chunk container + auto-selector tests, incl. the dictionary-fallback
semantics mirrored from writer.go:2049-2077 / writer_dictionary_fallback_test.go."""

from __future__ import annotations

import numpy as np
import pytest

from parquet_go_spark.codecs import chunk as chunklib
from parquet_go_spark.codecs import selector
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Codec, Kind


def _rt(values, kind, codec, **kw):
    blob = chunklib.encode_chunk(values, kind, codec, **kw)
    got, meta = chunklib.decode_chunk(blob)
    assert meta["codec"] == codec and meta["kind"] == kind
    return got, blob


@pytest.mark.parametrize("codec", [Codec.PLAIN, Codec.DELTA_BINARY_PACKED, Codec.RLE])
def test_chunk_int64(codec):
    a = np.array([5, 5, 5, 9, 1, 0, 7, 7, 7, 7] * 30, dtype=np.int64)
    got, _ = _rt(a, Kind.INT64, codec)
    assert np.array_equal(got, a)


@pytest.mark.parametrize("dict_wrap", [False, True])
def test_chunk_int32_dict(dict_wrap):
    a = np.array([3, 1, 3, 3, 2] * 100, dtype=np.int32)
    blob = chunklib.encode_chunk(a, Kind.INT32, Codec.DELTA_BINARY_PACKED, dict_wrap=dict_wrap)
    got, meta = chunklib.decode_chunk(blob)
    assert meta["dict"] == dict_wrap
    assert np.array_equal(got, a)


@pytest.mark.parametrize(
    "codec", [Codec.PLAIN, Codec.DELTA_LENGTH_BYTE_ARRAY, Codec.DELTA_BYTE_ARRAY, Codec.FSST]
)
def test_chunk_byte_array(codec):
    vals = [b"src/a/file1.py", b"src/a/file2.py", b"", b"src/b/zzz.go"] * 25
    ba = ByteArrays.from_pylist(vals)
    got, _ = _rt(ba, Kind.BYTE_ARRAY, codec)
    assert got.to_pylist() == vals


def test_chunk_byte_array_dict():
    vals = [b"go", b"py", b"rs", b"py", b"go"] * 200
    ba = ByteArrays.from_pylist(vals)
    blob = chunklib.encode_chunk(ba, Kind.BYTE_ARRAY, Codec.DELTA_LENGTH_BYTE_ARRAY, dict_wrap=True)
    got, meta = chunklib.decode_chunk(blob)
    assert meta["dict"] and got.to_pylist() == vals
    assert len(blob) < int(ba.offsets[-1])  # smaller than raw


def test_chunk_boolean_rle():
    a = np.array([True] * 100 + [False] * 50 + [True, False] * 20)
    got, blob = _rt(a, Kind.BOOLEAN, Codec.RLE)
    assert np.array_equal(got, a)


def test_chunk_double_bss_zstd():
    a = np.linspace(0, 1, 500)
    blob = chunklib.encode_chunk(a, Kind.DOUBLE, Codec.BYTE_STREAM_SPLIT,
                               compression="zstd")
    got, meta = chunklib.decode_chunk(blob)
    assert meta["zstd"]
    assert np.array_equal(got, a)
    assert len(blob) < a.nbytes  # transpose + zstd wins on smooth data


def test_chunk_flba():
    a = np.frombuffer(b"0123456789abcdef" * 32, dtype=np.uint8).reshape(-1, 16)
    for codec in (Codec.PLAIN, Codec.BYTE_STREAM_SPLIT, Codec.DELTA_BYTE_ARRAY):
        blob = chunklib.encode_chunk(a, Kind.FIXED_LEN_BYTE_ARRAY, codec, flba_size=16)
        got, _ = chunklib.decode_chunk(blob)
        assert np.array_equal(got, a)


def test_chunk_empty():
    for kind, values in [
        (Kind.INT64, np.empty(0, np.int64)),
        (Kind.BYTE_ARRAY, ByteArrays.from_pylist([])),
        (Kind.BOOLEAN, np.empty(0, bool)),
    ]:
        codec = Codec.DELTA_LENGTH_BYTE_ARRAY if kind == Kind.BYTE_ARRAY else Codec.PLAIN
        blob = chunklib.encode_chunk(values, kind, codec)
        got, meta = chunklib.decode_chunk(blob)
        assert meta["n"] == 0 and len(got) == 0


# -- selector ---------------------------------------------------------------

def test_selector_int96_plain():
    """INT96 (12-byte rows) has its own shortlist: PLAIN only, which
    round-trips with and without nulls."""
    rows = np.arange(12 * 300, dtype=np.uint8).reshape(300, 12)
    assert selector.shortlist(
        selector.column_stats(rows, Kind.INT96)) == [(Codec.PLAIN, False)]
    blob, info = selector.select_and_encode(rows, Kind.INT96)
    assert info["codec"] == Codec.PLAIN and info["raw_bytes"] == rows.size
    got, _ = chunklib.decode_chunk(blob)
    assert np.array_equal(got, rows)
    valid = np.arange(450) % 3 != 0
    blob, _ = selector.select_and_encode(rows, Kind.INT96, validity=valid)
    got, meta = chunklib.decode_chunk(blob)
    assert np.array_equal(got, rows)
    assert np.array_equal(meta["validity"], valid)


def test_selector_low_ndv_string_picks_dict():
    langs = [b"python", b"go", b"rust", b"python", b"python"] * 500
    ba = ByteArrays.from_pylist(langs)
    blob, info = selector.select_and_encode(ba, Kind.BYTE_ARRAY)
    assert info["dict"] is True
    got, _ = chunklib.decode_chunk(blob)
    assert got.to_pylist() == langs
    assert info["enc_bytes"] < info["raw_bytes"] / 4


def test_selector_high_entropy_hex_avoids_dict():
    import hashlib

    commits = [hashlib.sha1(str(i).encode()).hexdigest().encode() for i in range(2000)]
    ba = ByteArrays.from_pylist(commits)
    blob, info = selector.select_and_encode(ba, Kind.BYTE_ARRAY)
    assert info["dict"] is False
    got, _ = chunklib.decode_chunk(blob)
    assert got.to_pylist() == commits


def test_selector_sorted_paths_pick_prefix_codec():
    paths = sorted(f"src/pkg{i//100}/mod_{i//10}/f_{i}.py".encode() for i in range(3000))
    ba = ByteArrays.from_pylist(paths)
    blob, info = selector.select_and_encode(ba, Kind.BYTE_ARRAY)
    assert info["codec"] == Codec.DELTA_BYTE_ARRAY
    got, _ = chunklib.decode_chunk(blob)
    assert got.to_pylist() == paths


def test_selector_sorted_ints_pick_delta():
    a = np.arange(10_000, dtype=np.int64) * 3
    blob, info = selector.select_and_encode(a, Kind.INT64)
    assert info["codec"] == Codec.DELTA_BINARY_PACKED
    got, _ = chunklib.decode_chunk(blob)
    assert np.array_equal(got, a)
    assert info["enc_bytes"] < info["raw_bytes"] / 10


def test_selector_dictionary_max_bytes_fallback():
    """Giant near-unique strings must NOT pick dictionary (size cap),
    mirroring the reference's DictionaryMaxBytes fallback."""
    rng = np.random.default_rng(1)
    vals = [rng.bytes(2000) for _ in range(800)]  # 1.6MB, ndv=1.0
    ba = ByteArrays.from_pylist(vals)
    blob, info = selector.select_and_encode(ba, Kind.BYTE_ARRAY)
    assert info["dict"] is False
    got, _ = chunklib.decode_chunk(blob)
    assert got.to_pylist() == vals


def test_selector_deterministic():
    rng = np.random.default_rng(3)
    vals = [rng.bytes(int(rng.integers(1, 50))) for _ in range(1000)]
    ba = ByteArrays.from_pylist(vals)
    b1, i1 = selector.select_and_encode(ba, Kind.BYTE_ARRAY)
    b2, i2 = selector.select_and_encode(ba, Kind.BYTE_ARRAY)
    assert b1 == b2 and i1["codec"] == i2["codec"]
