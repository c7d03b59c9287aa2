"""Custom codec registry — RegisterEncoding analog
(/root/reference/encoding.go:97-106): a user codec plugs into the chunk
container and the auto-selector without touching engine code."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from parquet_go_spark.codecs import chunk as chunklib
from parquet_go_spark.codecs import registry, selector
from parquet_go_spark.codecs.kinds import Kind

ZLIB_ID = 150


def _enc(values, kind):
    a = np.ascontiguousarray(values)
    return zlib.compress(a.tobytes(), 6)


def _dec(buf, n, kind):
    raw = zlib.decompress(bytes(buf))
    dt = {Kind.INT32: np.int32, Kind.INT64: np.int64}[kind]
    return np.frombuffer(raw, dtype=dt)[:n].copy()


@pytest.fixture
def zlib_codec():
    codec = registry.CustomCodec(
        codec_id=ZLIB_ID, name="zlib-int", encode=_enc, decode=_dec,
        kinds=frozenset({Kind.INT32, Kind.INT64}), selectable=True,
        shortlist=lambda stats: stats["n"] > 0,
    )
    registry.register(codec)
    yield codec
    registry.unregister(ZLIB_ID)


def test_custom_codec_chunk_roundtrip(zlib_codec):
    vals = (np.arange(10000, dtype=np.int64) % 13) * 1000
    blob = chunklib.encode_chunk(vals, Kind.INT64, ZLIB_ID)
    dec, meta = chunklib.decode_chunk(blob)
    assert meta["codec"] == ZLIB_ID
    assert np.array_equal(dec, vals)


def test_custom_codec_competes_in_selector(zlib_codec):
    # constant-ish data: zlib crushes it, so the measured selector picks
    # the custom codec over every built-in
    vals = np.zeros(50000, dtype=np.int64)
    vals[::97] = 7
    blob, info = selector.select_and_encode(vals, Kind.INT64)
    assert ZLIB_ID in [int(k.split("+")[0]) for k in info["trials"]]
    dec, _ = chunklib.decode_chunk(blob)
    assert np.array_equal(dec, vals)


def test_custom_codec_wrong_kind_rejected(zlib_codec):
    from parquet_go_spark.codecs.bytearrays import ByteArrays

    ba = ByteArrays.from_pylist([b"a", b"bb"])
    with pytest.raises(ValueError, match="does not support kind"):
        chunklib.encode_chunk(ba, Kind.BYTE_ARRAY, ZLIB_ID)


def test_reserved_ids_rejected():
    with pytest.raises(ValueError, match="reserved"):
        registry.register(registry.CustomCodec(
            codec_id=5, name="clash", encode=_enc, decode=_dec,
            kinds=frozenset({Kind.INT64}),
        ))


def test_unregistered_id_fails_decode():
    vals = np.arange(10, dtype=np.int64)
    with pytest.raises(ValueError, match="unsupported codec"):
        chunklib.encode_chunk(vals, Kind.INT64, 151)


def test_selector_propagates_a_failing_trial():
    """A selectable codec whose encode raises is a fault, not a lost
    trial: select_and_encode lets the error out instead of quietly
    picking another codec."""
    def broken(values, kind):
        raise RuntimeError("kernel bug")

    registry.register(registry.CustomCodec(
        codec_id=ZLIB_ID + 1, name="broken-int", encode=broken,
        decode=_dec, kinds=frozenset({Kind.INT64}), selectable=True,
    ))
    try:
        with pytest.raises(RuntimeError, match="kernel bug"):
            selector.select_and_encode(
                np.arange(1000, dtype=np.int64), Kind.INT64)
    finally:
        registry.unregister(ZLIB_ID + 1)
