"""Negative tests: malformed blobs must raise cleanly, never decode
garbage — the analog of the reference's testdata/malformed corpus
(file_test.go negatives)."""

from __future__ import annotations

import numpy as np
import pytest

from parquet_go_spark.codecs import chunk as chunklib, delta, fsst, rle
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Codec, Kind


def _good_blob() -> bytes:
    return chunklib.encode_chunk(
        np.arange(100, dtype=np.int64), Kind.INT64, Codec.DELTA_BINARY_PACKED
    )


def test_bad_magic():
    blob = b"XXXX" + _good_blob()[4:]
    with pytest.raises(ValueError, match="magic"):
        chunklib.decode_chunk(blob)


def test_truncated_blob():
    blob = _good_blob()
    with pytest.raises(Exception):
        chunklib.decode_chunk(blob[: len(blob) // 2])


def test_unknown_codec():
    blob = bytearray(_good_blob())
    blob[4] = 250  # not a registered codec
    with pytest.raises(ValueError):
        chunklib.decode_chunk(bytes(blob))


def test_delta_bad_header():
    # block size not a multiple of 128 → explicit header validation
    # (binary_packed.go:409-452 analog)
    bad = bytearray()
    from parquet_go_spark.codecs.varint import write_uvarint

    write_uvarint(bad, 100)  # blockSize=100 (invalid)
    write_uvarint(bad, 4)
    write_uvarint(bad, 10)
    bad += b"\x00"
    with pytest.raises(ValueError, match="DELTA_BINARY_PACKED"):
        delta.decode_binary_packed(bytes(bad), 64)


def test_fsst_size_mismatch():
    vals = ByteArrays.from_pylist([b"hello world"] * 200)
    blob = bytearray(fsst.encode_byte_array(vals))
    blob[-1] ^= 0xFF  # corrupt the last payload byte
    with pytest.raises(Exception):
        out = fsst.decode_byte_array(bytes(blob))
        # if decode happened to succeed structurally, it must not be silent
        assert out != vals
        raise ValueError("corruption detected by equality")


def test_rle_truncated_tolerated_or_raises():
    """Truncated trailing runs: decode either raises or returns exactly n
    values — never over-reads (TestRLEDecodeToleratesEmptyRuns analog,
    encoding_test.go:218)."""
    vals = np.arange(64, dtype=np.uint64) % 4
    payload = rle.encode_hybrid(vals, 2)
    try:
        out = rle.decode_hybrid(payload[:-1], 64, 2)
        assert len(out) <= 64
    except Exception:
        pass


@pytest.fixture(params=["native", "numpy"])
def kernels(request, monkeypatch):
    """Each case runs on the compiled kernels (where this host builds
    them) and on the numpy reference, as SPARK_COLCODEC_NATIVE=0 does."""
    if request.param == "numpy":
        for mod in (delta, fsst, rle):
            monkeypatch.setattr(mod, "_NATIVE", None)
    elif delta._NATIVE is None:
        pytest.skip("no C toolchain on this host")
    return request.param


def _bad_lengths() -> bytes:
    """Lengths [100, -90]: they sum to the 10 bytes that follow, but the
    offsets [0, 100, 10] they give run past the data and descend."""
    return delta.encode_binary_packed(np.array([100, -90], np.int32), 32)


def _dict_blob(dict_payload: bytes, codec: int) -> bytes:
    """A FLAG_DICT BYTE_ARRAY blob over two uniques, indexes [0, 1, 1, 0]."""
    from parquet_go_spark.codecs.varint import write_uvarint

    out = bytearray(chunklib.MAGIC)
    out += bytes([codec, Kind.BYTE_ARRAY, chunklib.FLAG_DICT, 0])
    write_uvarint(out, 4)
    write_uvarint(out, 2)
    write_uvarint(out, len(dict_payload))
    out += dict_payload
    out += rle.encode_dictionary_indexes(np.array([0, 1, 1, 0], np.int32))
    return bytes(out)


def test_dict_uniques_negative_length_dlba(kernels):
    payload = _bad_lengths() + b"x" * 10
    with pytest.raises(ValueError, match="negative length"):
        delta.decode_length_byte_array(payload, 2)
    with pytest.raises(ValueError):
        chunklib.decode_chunk(
            _dict_blob(payload, Codec.DELTA_LENGTH_BYTE_ARRAY))


def test_dict_uniques_negative_length_fsst(kernels):
    """A good two-string FSST stream (5 + 5 bytes) with its length
    stream swapped for [100, -90]: the total still matches."""
    from parquet_go_spark.codecs.varint import read_uvarint

    good = fsst.encode_byte_array(ByteArrays.from_pylist([b"hello", b"world"]))
    _, pos = read_uvarint(good, 0)
    _, consumed = delta.decode_binary_packed(good[pos:], 32)
    payload = good[:pos] + _bad_lengths() + good[pos + consumed:]
    with pytest.raises(ValueError, match="negative"):
        fsst.decode_byte_array(payload, 2)
    with pytest.raises(ValueError):
        chunklib.decode_chunk(_dict_blob(payload, Codec.FSST))


@pytest.mark.parametrize("codec", ["snappy", "zstd", "gzip"])
def test_page_negative_uncompressed_size(codec):
    """A corrupt page header's negative uncompressed_page_size raises
    ValueError before the codec sees it (it raised SystemError)."""
    import pyarrow as pa

    from parquet_go_spark.interop import pqreader

    raw = pa.Codec(codec).compress(b"page body " * 20, asbytes=True)
    assert pqreader._page_decompress(codec, raw, 200) == b"page body " * 20
    for bad in (-1, -(2**31)):
        with pytest.raises(ValueError, match="negative"):
            pqreader._page_decompress(codec, raw, bad)


def test_plain_byte_array_count_past_buffer():
    """A PLAIN BYTE_ARRAY count that the bytes cannot hold (4 length
    bytes a value) raises ValueError before anything is allocated (10**10
    values over 7 bytes asked for 74.5 GiB)."""
    from parquet_go_spark.codecs import plain

    buf = b"\x03\x00\x00\x00abc"
    assert plain.decode_byte_array(buf, 1).to_pylist() == [b"abc"]
    for n in (2, 10**10):
        with pytest.raises(ValueError, match="cannot fit"):
            plain.decode_byte_array(buf, n)


@pytest.mark.parametrize("encoding", [
    Codec.DELTA_BINARY_PACKED, Codec.PLAIN, None])
def test_int32_column_out_of_range(tmp_path, encoding):
    """An INT32 column given int64 values outside the int32 range
    raises ValueError naming the column (it raised struct.error from
    the statistics); int64 values inside the range still write."""
    import pyarrow.parquet as pq

    from parquet_go_spark.interop.pqwriter import ColumnSpec, write_table

    p = str(tmp_path / "k.parquet")
    for vals in (np.arange(2**33, 2**33 + 100),
                 np.arange(-2**31 - 1, -2**31 + 99)):
        with pytest.raises(ValueError, match=r"column k: INT32 values"):
            write_table(p, [ColumnSpec("k", Kind.INT32, vals,
                                       encoding=encoding)])
    write_table(p, [ColumnSpec("k", Kind.INT32, np.arange(-5, 95),
                               encoding=encoding)])
    assert pq.read_table(p).column("k").to_pylist() == list(range(-5, 95))
