"""Self-describing encoded column-chunk container.

The analog of a parquet data page + its ColumnChunk metadata
(/root/reference/writer.go:862-871, 2365-2500), reduced to what the
engine needs: a single binary blob per (chunk, column) that decodes
without any side information.

Frame layout:
  magic "SCC1" (4B)
  codec   u8      (Codec.*; for dictionary-wrapped chunks this is the
                   VALUE codec of the dictionary page)
  kind    u8      (Kind.*)
  flags   u8      bit0 = dictionary-wrapped, bit1 = zstd outer compression
  reserved u8
  uvarint n       (value count)
  [uvarint flba_size   if kind == FIXED_LEN_BYTE_ARRAY]
  payload:
    plain chunk     → codec payload bytes
    dict-wrapped    → uvarint n_dict | uvarint dict_len |
                      dict payload (codec applied to unique values) |
                      RLE_DICTIONARY indexes (1B bit-width + hybrid)
Outer compression (flags bit1) zstd-compresses the payload only —
orthogonal to the lightweight encodings, mirroring the reference's
compress/ layer (/root/reference/compress/compress.go:19-37).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import (bitpacked, bytestreamsplit, delta, dictionary, fsst, plain,
               registry, rle)
from .bytearrays import ByteArrays
from .kinds import Codec, Kind, KIND_WIDTHS
from .varint import read_uvarint, write_uvarint

MAGIC = b"SCC1"
FLAG_DICT = 1
FLAG_ZSTD = 2  # historical name; means "outer-compressed" — the codec
# id lives in the header's 4th byte (0 = legacy zstd blobs)
FLAG_NULLS = 4  # payload prefixed by an RLE validity bitmap — the flat-
# schema analog of definition levels (/root/reference/
# column_buffer_optional.go:11-30; levels RLE per writer.go:2374-2379)

# Outer compression codecs — the compress/ layer of the reference
# (/root/reference/compress/compress.go:19-37: snappy, gzip, brotli,
# zstd, lz4). Orthogonal to the lightweight encodings; id 0 is reserved
# for legacy blobs written before the codec-id byte existed (zstd).
COMPRESSION_IDS = {"zstd": 1, "snappy": 2, "gzip": 3, "lz4": 4, "brotli": 5}
_COMPRESSION_NAMES = {0: "zstd", **{v: k for k, v in COMPRESSION_IDS.items()}}


def _outer(name: str):
    return pa.Codec(name)


def _encode_payload(values, kind: int, codec: int, flba_size: int | None,
                    fsst_table=None) -> bytes:
    if codec == Codec.PLAIN:
        if kind == Kind.BOOLEAN:
            return plain.encode_boolean(values)
        if kind == Kind.BYTE_ARRAY:
            return plain.encode_byte_array(values)
        if kind in (Kind.FIXED_LEN_BYTE_ARRAY, Kind.INT96):
            return plain.encode_flba(values, flba_size)
        return plain.encode_numeric(values, kind)
    if codec == Codec.RLE:
        if kind == Kind.BOOLEAN:
            return rle.encode_boolean(values)
        if kind in (Kind.INT32, Kind.INT64):
            # extension: RLE for non-negative ints (1B bit-width + hybrid)
            u = values.astype(np.uint64)
            width = rle.max_bit_width(u)
            return bytes([width]) + rle.encode_hybrid(u, width)
        raise ValueError("RLE: unsupported kind")
    if codec == Codec.BIT_PACKED:
        width = rle.max_bit_width(values.astype(np.uint64)) or 1
        return bytes([width]) + bitpacked.encode_levels(values, width)
    if codec == Codec.DELTA_BINARY_PACKED:
        bits = 32 if kind == Kind.INT32 else 64
        return delta.encode_binary_packed(values, bits)
    if codec == Codec.DELTA_LENGTH_BYTE_ARRAY:
        return delta.encode_length_byte_array(values)
    if codec == Codec.DELTA_BYTE_ARRAY:
        if kind == Kind.FIXED_LEN_BYTE_ARRAY:
            values = _flba_to_byte_arrays(values, flba_size)
        return delta.encode_byte_array(values)
    if codec == Codec.BYTE_STREAM_SPLIT:
        width = flba_size if kind == Kind.FIXED_LEN_BYTE_ARRAY else KIND_WIDTHS[kind]
        return bytestreamsplit.encode(values, width)
    if codec == Codec.FSST:
        return fsst.encode_byte_array(values, table=fsst_table)
    custom = registry.lookup(codec)
    if custom is not None:
        if kind not in custom.kinds:
            raise ValueError(f"codec {custom.name} does not support kind {kind}")
        return custom.encode(values, kind)
    raise ValueError(f"unsupported codec {codec} for kind {kind}")


def _decode_payload(buf, n: int, kind: int, codec: int, flba_size: int | None):
    if codec == Codec.PLAIN:
        if kind == Kind.BOOLEAN:
            return plain.decode_boolean(buf, n)
        if kind == Kind.BYTE_ARRAY:
            return plain.decode_byte_array(buf, n)
        if kind == Kind.FIXED_LEN_BYTE_ARRAY:
            return plain.decode_flba(buf, n, flba_size)
        if kind == Kind.INT96:
            return plain.decode_flba(buf, n, KIND_WIDTHS[kind])
        return plain.decode_numeric(buf, n, kind)
    if codec == Codec.RLE:
        if kind == Kind.BOOLEAN:
            return rle.decode_boolean(buf, n)
        width = buf[0]
        vals = rle.decode_hybrid(buf[1:], n, width)
        return vals.astype(np.int32 if kind == Kind.INT32 else np.int64)
    if codec == Codec.BIT_PACKED:
        width = buf[0]
        return bitpacked.decode_levels(buf[1:], n, width)
    if codec == Codec.DELTA_BINARY_PACKED:
        bits = 32 if kind == Kind.INT32 else 64
        vals, _ = delta.decode_binary_packed(buf, bits)
        return vals[:n]
    if codec == Codec.DELTA_LENGTH_BYTE_ARRAY:
        return delta.decode_length_byte_array(buf, n)
    if codec == Codec.DELTA_BYTE_ARRAY:
        out = delta.decode_byte_array(buf, n)
        if kind == Kind.FIXED_LEN_BYTE_ARRAY:
            return _byte_arrays_to_flba(out, flba_size)
        return out
    if codec == Codec.BYTE_STREAM_SPLIT:
        if kind == Kind.FIXED_LEN_BYTE_ARRAY:
            return bytestreamsplit.decode(buf, n, flba_size)
        return bytestreamsplit.decode(buf, n, KIND_WIDTHS[kind], kind)
    if codec == Codec.FSST:
        return fsst.decode_byte_array(buf, n)
    custom = registry.lookup(codec)
    if custom is not None:
        return custom.decode(buf, n, kind)
    raise ValueError(f"unsupported codec {codec} for kind {kind}")


def _flba_to_byte_arrays(values: np.ndarray, size: int) -> ByteArrays:
    n = len(values)
    offsets = np.arange(n + 1, dtype=np.int64) * size
    return ByteArrays(np.ascontiguousarray(values, dtype=np.uint8).reshape(-1), offsets)


def _byte_arrays_to_flba(values: ByteArrays, size: int) -> np.ndarray:
    return values.data[: values.offsets[-1]].reshape(-1, size)


def encode_chunk(
    values,
    kind: int,
    codec: int,
    *,
    dict_wrap: bool = False,
    flba_size: int | None = None,
    compression: str | None = None,
    validity: np.ndarray | None = None,
    capture: dict | None = None,
    fsst_table=None,
) -> bytes:
    """Encode one column chunk into a self-describing blob.

    validity: optional bool ndarray over ALL rows; `values` then holds
    only the non-null values (len == validity.sum()). The header's row
    count stays the total row count.

    fsst_table: optional pre-trained FsstTable reused across chunks of
    the same column (training amortization — the table is still
    serialized into every blob, so decode never needs side state).

    capture: optional dict that receives by-products already computed
    during encoding — currently `uniques` for dict-wrapped chunks, so
    callers can build bloom filters from the dictionary for free (the
    writer.go:2089-2095 analog) instead of re-hashing every value."""
    if compression is not None and compression not in COMPRESSION_IDS:
        raise ValueError(f"unknown outer compression {compression!r}")
    if kind == Kind.BYTE_ARRAY and not isinstance(values, ByteArrays):
        values = ByteArrays.from_pylist(list(values))
    n = len(validity) if validity is not None else len(values)
    header = bytearray(MAGIC)
    flags = (FLAG_DICT if dict_wrap else 0) | (
        FLAG_ZSTD if compression else 0
    )
    if validity is not None:
        if len(values) != int(validity.sum()):
            raise ValueError("values must be null-stripped when validity given")
        flags |= FLAG_NULLS
    header += bytes([codec, kind, flags,
                     COMPRESSION_IDS[compression] if compression else 0])
    write_uvarint(header, n)
    if kind == Kind.FIXED_LEN_BYTE_ARRAY:
        write_uvarint(header, flba_size)
    if dict_wrap:
        if kind == Kind.BYTE_ARRAY:
            uniques, indexes = dictionary.factorize_byte_array(values)
        elif kind == Kind.FIXED_LEN_BYTE_ARRAY:
            uniques_ba, indexes = dictionary.factorize_byte_array(
                _flba_to_byte_arrays(values, flba_size)
            )
            uniques = _byte_arrays_to_flba(uniques_ba, flba_size)
        else:
            uniques, indexes = dictionary.factorize_numeric(values)
        if capture is not None:
            capture["uniques"] = uniques
        dict_payload = _encode_payload(uniques, kind, codec, flba_size,
                                       fsst_table)
        idx_payload = rle.encode_dictionary_indexes(indexes)
        body = bytearray()
        write_uvarint(body, len(uniques))
        write_uvarint(body, len(dict_payload))
        body += dict_payload
        body += idx_payload
        payload = bytes(body)
    else:
        payload = _encode_payload(values, kind, codec, flba_size, fsst_table)
    if validity is not None:
        vpay = rle.encode_boolean(np.ascontiguousarray(validity, dtype=bool))
        pre = bytearray()
        write_uvarint(pre, len(vpay))
        payload = bytes(pre) + vpay + payload
    if compression:
        comp = _outer(compression).compress(payload, asbytes=True)
        pre = bytearray()
        write_uvarint(pre, len(payload))  # pyarrow needs decompressed_size
        payload = bytes(pre) + comp
    return bytes(header) + payload


def decode_chunk(blob):
    """Decode a blob produced by encode_chunk → (values, meta dict)."""
    mv = memoryview(blob)
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("bad chunk magic")
    codec, kind, flags, comp_id = mv[4], mv[5], mv[6], mv[7]
    pos = 8
    n, pos = read_uvarint(mv, pos)
    flba_size = None
    if kind == Kind.FIXED_LEN_BYTE_ARRAY:
        flba_size, pos = read_uvarint(mv, pos)
    payload = mv[pos:]
    if flags & FLAG_ZSTD:
        raw_len, p = read_uvarint(payload, 0)
        name = _COMPRESSION_NAMES[comp_id]
        payload = memoryview(
            _outer(name).decompress(payload[p:].tobytes(), raw_len, asbytes=True)
        )
    meta = {
        "codec": codec,
        "kind": kind,
        "n": n,
        "dict": bool(flags & FLAG_DICT),
        "zstd": bool(flags & FLAG_ZSTD),
        "validity": None,
    }
    n_values = n
    if flags & FLAG_NULLS:
        vlen, p = read_uvarint(payload, 0)
        validity = rle.decode_boolean(payload[p : p + vlen], n)
        payload = payload[p + vlen :]
        meta["validity"] = validity
        n_values = int(validity.sum())
    n = n_values
    if flags & FLAG_DICT:
        p = 0
        n_dict, p = read_uvarint(payload, p)
        dict_len, p = read_uvarint(payload, p)
        dict_payload = payload[p : p + dict_len]
        idx_payload = payload[p + dict_len :]
        uniques = _decode_payload(dict_payload, n_dict, kind, codec, flba_size)
        indexes = rle.decode_dictionary_indexes(idx_payload, n)
        if kind == Kind.BYTE_ARRAY:
            values = dictionary.lookup_byte_array(uniques, indexes)
        elif kind == Kind.FIXED_LEN_BYTE_ARRAY:
            values = _byte_arrays_to_flba(
                dictionary.lookup_byte_array(
                    _flba_to_byte_arrays(uniques, flba_size), indexes
                ),
                flba_size,
            )
        else:
            values = dictionary.lookup_numeric(uniques, indexes)
        return values, meta
    return _decode_payload(payload, n, kind, codec, flba_size), meta
