"""PLAIN encoding (parquet code 0).

Semantics from /root/reference/encoding/plain/plain.go:35-210:
  - fixed-width kinds: raw little-endian serialization
  - booleans: bit-packed LSB-first (plain.go:128-148)
  - BYTE_ARRAY: 4-byte LE length prefix per value (plain.go:43-56, 182-210)
  - FIXED_LEN_BYTE_ARRAY: raw concatenation

All encode paths are vectorized numpy. BYTE_ARRAY decode is inherently
sequential (each length sits after the previous value) and is only used
for dictionary pages, which are bounded by the dictionary size cap.
"""

from __future__ import annotations

import numpy as np

from .bytearrays import ByteArrays
from .kinds import KIND_DTYPES, Kind


def encode_numeric(values: np.ndarray, kind: int) -> bytes:
    return np.ascontiguousarray(values, dtype=KIND_DTYPES[kind]).tobytes()


def decode_numeric(buf, n: int, kind: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=KIND_DTYPES[kind], count=n)


def encode_boolean(values: np.ndarray) -> bytes:
    return np.packbits(values.astype(bool), bitorder="little").tobytes()


def decode_boolean(buf, n: int) -> np.ndarray:
    arr = np.frombuffer(buf, dtype=np.uint8, count=(n + 7) // 8)
    return np.unpackbits(arr, bitorder="little")[:n].astype(bool)


def encode_byte_array(values: ByteArrays) -> bytes:
    """Interleave 4-byte LE length prefixes with value bytes — vectorized:
    length prefixes land via 4 strided scatter-writes; value bytes shift
    right by 4*(i+1) via one fancy-index assignment."""
    n = len(values)
    offsets = values.offsets
    data = values.data[: offsets[-1]]
    lengths = np.diff(offsets)
    total = int(offsets[-1]) + 4 * n
    out = np.zeros(total, dtype=np.uint8)
    len_pos = offsets[:-1] + 4 * np.arange(n, dtype=np.int64)
    lu = lengths.astype(np.uint32)
    for b in range(4):
        out[len_pos + b] = ((lu >> np.uint32(8 * b)) & np.uint32(0xFF)).astype(np.uint8)
    if len(data):
        dst = np.arange(len(data), dtype=np.int64) + np.repeat(
            4 * np.arange(1, n + 1, dtype=np.int64), lengths
        )
        out[dst] = data
    return out.tobytes()


def decode_byte_array(buf, n: int) -> ByteArrays:
    """Sequential scan (length i's position depends on all prior lengths).
    Only on the dictionary-page path; data pages use DELTA_LENGTH."""
    mv = memoryview(buf)
    if n > len(mv) // 4:  # each value carries a 4-byte length
        raise ValueError(
            f"PLAIN BYTE_ARRAY: {n} values cannot fit in {len(mv)} bytes")
    offsets = np.zeros(n + 1, dtype=np.int64)
    pos = 0
    total = 0
    lengths = np.empty(n, dtype=np.int64)
    for i in range(n):
        ln = int.from_bytes(mv[pos : pos + 4], "little")
        lengths[i] = ln
        pos += 4 + ln
        total += ln
    offsets[1:] = np.cumsum(lengths)
    # gather value bytes: src position of byte j of value i = 4*(i+1) + offsets[i] + j
    arr = np.frombuffer(buf, dtype=np.uint8, count=pos)
    if total:
        src = np.arange(total, dtype=np.int64) + np.repeat(
            4 * np.arange(1, n + 1, dtype=np.int64), lengths
        )
        data = arr[src]
    else:
        data = np.empty(0, dtype=np.uint8)
    return ByteArrays(data, offsets)


def encode_flba(values: np.ndarray, size: int) -> bytes:
    """Fixed-len byte arrays: raw concat. values is (n, size) uint8 or flat."""
    return np.ascontiguousarray(values, dtype=np.uint8).tobytes()


def decode_flba(buf, n: int, size: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.uint8, count=n * size).reshape(n, size)
