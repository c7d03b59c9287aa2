"""Flat byte-array representation: (data, offsets) with n+1 offsets.

Mirrors the reference's encoding.Values BYTE_ARRAY layout
(/root/reference/encoding/values.go:108-116, 162-164), which is exactly
the Arrow variable-binary layout, so conversion to/from pyarrow is
zero-copy-ish.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


class ByteArrays:
    """n variable-length byte strings as one flat uint8 buffer + offsets."""

    __slots__ = ("data", "offsets")

    def __init__(self, data: np.ndarray, offsets: np.ndarray):
        self.data = np.ascontiguousarray(data, dtype=np.uint8)
        self.offsets = np.ascontiguousarray(offsets, dtype=np.int64)

    def __len__(self) -> int:
        return len(self.offsets) - 1

    @property
    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    @property
    def nbytes(self) -> int:
        return int(self.offsets[-1]) + 8 * len(self)  # data + offset overhead

    def __getitem__(self, i: int) -> bytes:
        return self.data[self.offsets[i] : self.offsets[i + 1]].tobytes()

    def to_pylist(self) -> list[bytes]:
        o = self.offsets
        d = self.data
        return [d[o[i] : o[i + 1]].tobytes() for i in range(len(self))]

    def __eq__(self, other) -> bool:
        if not isinstance(other, ByteArrays):
            return NotImplemented
        return bool(
            np.array_equal(self.offsets, other.offsets)
            and np.array_equal(
                self.data[: self.offsets[-1]], other.data[: other.offsets[-1]]
            )
        )

    @staticmethod
    def from_pylist(values: list[bytes]) -> "ByteArrays":
        bufs = [v.encode() if isinstance(v, str) else v for v in values]
        offsets = np.zeros(len(bufs) + 1, dtype=np.int64)
        if bufs:
            offsets[1:] = np.cumsum([len(b) for b in bufs])
        data = np.frombuffer(b"".join(bufs), dtype=np.uint8).copy()
        return ByteArrays(data, offsets)

    @staticmethod
    def from_arrow(arr: pa.Array) -> "ByteArrays":
        """From a pyarrow (large_)string/(large_)binary array (no nulls)."""
        if arr.null_count:
            raise ValueError("ByteArrays requires non-null input")
        large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
        buffers = arr.buffers()
        off = np.frombuffer(buffers[1], dtype=np.int64 if large else np.int32,
                            count=len(arr) + 1 + arr.offset)
        off = off[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
        data = np.frombuffer(buffers[2], dtype=np.uint8) if buffers[2] is not None else np.empty(0, np.uint8)
        # normalize to zero-based offsets over a tight slice
        base = off[0]
        return ByteArrays(data[base : off[-1]], off - base)

    def to_arrow(self, typ: pa.DataType | None = None) -> pa.Array:
        typ = typ or pa.binary()
        n = len(self)
        off32 = self.offsets.astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(),
            n,
            [None, pa.py_buffer(off32.tobytes()), pa.py_buffer(self.data.tobytes())],
        ).cast(typ)


def slice_values(vals, lo: int, hi: int):
    """Values [lo, hi) of a ByteArrays (a view of its data, offsets
    rebased to zero) or of an ndarray (a view)."""
    if isinstance(vals, ByteArrays):
        o = vals.offsets
        return ByteArrays(vals.data[o[lo]:o[hi]], o[lo:hi + 1] - o[lo])
    return vals[lo:hi]


# Byte-array min/max statistics keep at most this many bytes: the
# reference's DefaultColumnIndexSizeLimit (config.go:27-29). The store
# manifest's chunk stats and the parquet writer's Statistics share it.
STAT_TRUNCATE = 16


def truncate_max(b: bytes) -> bytes | None:
    """A byte-array max statistic cut to STAT_TRUNCATE bytes that stays
    an upper bound: chop, then increment the last byte with carry (the
    reference's column-index truncation, column_index.go:684-700). None
    when every kept byte is 0xFF: no bound is representable."""
    if len(b) <= STAT_TRUNCATE:
        return b
    t = bytearray(b[:STAT_TRUNCATE])
    for i in range(len(t) - 1, -1, -1):
        if t[i] < 0xFF:
            t[i] += 1
            return bytes(t[: i + 1])
    return None
