"""Split-block bloom filters (parquet SBBF layout, XXH64-hashed) — the
one filter of the package: colcodec chunk blooms and parquet interop
blooms (interop/pqbloom.py adds only the parquet container) share the
hash, the bit math, and bitset build and probe.

Mirrors the reference's bloom/block.go:16-28, bloom/filter.go:16-76 and
bloom.go:56+: a value's hash is XXH64 (seed 0) of its plain-encoded
bytes — BYTE_ARRAY/FLBA with no length prefix, numerics in their
little-endian width — so a uniform-width binary value hashes the same
as BYTE_ARRAY or FLBA. Bitsets are 32-byte blocks of 8 uint32 words; a
value sets one bit per word, the bit index being the top 5 bits of the
low 32 hash bits times one of 8 fixed odd salts. The block is the high
32 bits scaled to the block count (fixed-point trick, filter.go).

The hash runs in the compiled `xxh64_batch` kernel (_native.py) or, with
no C compiler, in a vectorized numpy XXH64: length-sorted values step
through their 32-byte stripes in lock-step, then the 8/4/1-byte tails.
Both produce the same bits (tests pin the published vectors). The
insert likewise runs in the compiled `sbbf_insert` loop or, with no C
compiler, as one scatter of each value's 8 bits into a flat bool array
that `np.packbits` folds into the same little-endian words.

Colcodec chunk blooms (`build`/`might_contain`) store the raw bitset,
ceil(n·BITS_PER_VALUE/256) blocks, so the blob length is a multiple of
32. Stores written before the XXH64 change hold a uvarint block count
ahead of the words (length % 32 ≠ 0): the probe abstains on those, so
an old or verbatim-spliced chunk is kept, never wrongly pruned. Floats
hash with -0.0 folded onto +0.0 on this side only (the exact filter
treats them as equal); parquet spec blooms hash raw bits.
"""

from __future__ import annotations

import ctypes

import numpy as np

from . import _native
from .bytearrays import ByteArrays
from .kinds import Kind

#: compiled XXH64 batch and bitset insert kernels; None → the numpy
#: XXH64 and insert below (same bits)
_NATIVE = _native.load()

SALT = np.array(
    [0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
     0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31],
    dtype=np.uint32,
)  # bloom/block.go:20-28

BITS_PER_VALUE = 10  # default sizing, ~1% fpp (README.md:395-465)

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
# seed-0 lane initialisers: P1+P2, P2, 0, -P1 (mod 2^64)
_LANES0 = np.array([(int(_P1) + int(_P2)) & ((1 << 64) - 1), int(_P2), 0,
                    (-int(_P1)) & ((1 << 64) - 1)], dtype=np.uint64)
_STRIPE = np.arange(0, 32, 8, dtype=np.int64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, k: np.ndarray) -> np.ndarray:
    return _rotl(acc + k * _P2, 31) * _P1


def _xxh64_numpy(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """XXH64(seed 0) of each data[offsets[i]:offsets[i+1]], vectorized
    over values: only the stripe loop is a Python loop, one step per
    32-byte stripe of the longest value."""
    starts, lens = offsets[:-1], np.diff(offsets)
    # 8 zero bytes of slack, then an overlapping little-endian uint64
    # view: words[q] is the word at byte q, so every read is a gather
    buf = np.zeros(int(offsets[-1]) + 8, dtype=np.uint8)
    buf[: offsets[-1]] = data[: offsets[-1]]
    words = np.ndarray((len(buf) - 7,), dtype="<u8", buffer=buf,
                       strides=(1,))
    n_stripes = lens // 32
    h = np.full(len(lens), _P5, dtype=np.uint64)
    long = np.flatnonzero(n_stripes)
    if len(long):
        # longest first: the values still striping are always a prefix
        long = long[np.argsort(-n_stripes[long], kind="stable")]
        ns = n_stripes[long]
        active = len(long) - np.searchsorted(
            ns[::-1], np.arange(ns[0]), "right")
        pos = starts[long]
        v = np.tile(_LANES0, (len(long), 1))
        for s, k in enumerate(active):
            v[:k] = _round(v[:k], words[(pos[:k] + 32 * s)[:, None]
                                        + _STRIPE])
        hl = (_rotl(v[:, 0], 1) + _rotl(v[:, 1], 7)
              + _rotl(v[:, 2], 12) + _rotl(v[:, 3], 18))
        for lane in range(4):
            hl = (hl ^ _round(0, v[:, lane])) * _P1 + _P4
        h[long] = hl
    h += lens.astype(np.uint64)
    p = starts + 32 * n_stripes
    rem = lens - 32 * n_stripes
    for j in range(3):  # up to three 8-byte words
        sel = np.flatnonzero(rem >= 8 * (j + 1))
        k = words[p[sel] + 8 * j]
        h[sel] = _rotl(h[sel] ^ _round(0, k), 27) * _P1 + _P4
    p += rem & ~7
    rem &= 7
    sel = np.flatnonzero(rem >= 4)
    k = words[p[sel]] & np.uint64(0xFFFFFFFF)
    h[sel] = _rotl(h[sel] ^ (k * _P1), 23) * _P2 + _P3
    p[sel] += 4
    rem[sel] -= 4
    for t in range(3):  # up to three single bytes
        sel = np.flatnonzero(rem > t)
        k = buf[p[sel] + t].astype(np.uint64)
        h[sel] = _rotl(h[sel] ^ (k * _P5), 11) * _P1
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def xxh64(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """XXH64(seed 0) of each [offsets[i], offsets[i+1]) slice of data."""
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    n = len(offsets) - 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    if _NATIVE is None:
        return _xxh64_numpy(data, offsets)
    out = np.empty(n, dtype=np.uint64)
    _NATIVE.xxh64(
        data.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        offsets.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        n, 0, out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    return out


def spec_hashes(values, kind: int, flba_size: int | None = None) -> np.ndarray:
    """Per-value bloom hash: XXH64(plain encoding, seed 0).

    BYTE_ARRAY hashes the raw bytes (no length prefix); numerics hash
    their little-endian plain width; FLBA hashes the fixed bytes.
    BOOLEAN is not bloomed (two possible values — the spec's writers
    skip it too)."""
    if kind == Kind.BYTE_ARRAY:
        assert isinstance(values, ByteArrays)
        return xxh64(values.data[: values.offsets[-1]], values.offsets)
    if kind == Kind.BOOLEAN:
        raise ValueError("boolean columns are not bloom-filtered")
    a = np.ascontiguousarray(values)
    if kind == Kind.FIXED_LEN_BYTE_ARRAY:
        width = flba_size or (a.shape[1] if a.ndim == 2 else a.itemsize)
        flat = a.reshape(-1).view(np.uint8)
    else:
        width = {Kind.INT32: 4, Kind.INT64: 8,
                 Kind.FLOAT: 4, Kind.DOUBLE: 8}[kind]
        if a.dtype.byteorder == ">":
            a = a.astype(a.dtype.newbyteorder("<"))
        flat = a.view(np.uint8)
    n = len(flat) // width
    return xxh64(flat, np.arange(n + 1, dtype=np.int64) * width)


def _block_index(h: np.ndarray, n_blocks: int) -> np.ndarray:
    return (((h >> np.uint64(32)) * np.uint64(n_blocks))
            >> np.uint64(32)).astype(np.int64)


def _bit_index(h: np.ndarray) -> np.ndarray:
    """(n, 8) bit index within each word: one bit per word per value."""
    lo = (h & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    return (lo[:, None] * SALT[None, :]) >> np.uint32(27)  # uint32 wrap


def _bit_masks(h: np.ndarray) -> np.ndarray:
    """(n, 8) uint32 word masks: one bit per word per value."""
    return np.uint32(1) << _bit_index(h)


def build_bitset(hashes: np.ndarray, nbytes: int) -> bytes:
    """Insert hashes into a split-block bitset of nbytes (multiple of 32)."""
    n_blocks = nbytes // 32
    hashes = np.ascontiguousarray(hashes, dtype=np.uint64)
    if _NATIVE is not None and n_blocks:
        words = np.zeros(8 * n_blocks, dtype=np.uint32)
        _NATIVE.sbbf_insert(hashes.ctypes.data, len(hashes),
                            words.ctypes.data, n_blocks)
        return words.tobytes()
    # word j of block b is bits [(8b + j)·32, +32) of one flat bit array
    # that packs LSB-first into the same little-endian words
    bits = np.zeros(256 * n_blocks, dtype=bool)
    if len(hashes):
        word = _block_index(hashes, n_blocks)[:, None] * 8 + np.arange(8)
        bits[(word * 32 + _bit_index(hashes)).reshape(-1)] = True
    return np.packbits(bits, bitorder="little").tobytes()


def probe(bitset: bytes | np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Bitset membership → bool per hash (no false negatives). `bitset`
    is the raw bytes or the (blocks, 8) uint32 word matrix."""
    words = bitset if isinstance(bitset, np.ndarray) \
        else np.frombuffer(bitset, dtype="<u4").reshape(-1, 8)
    hashes = np.asarray(hashes, dtype=np.uint64)
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    masks = _bit_masks(hashes)
    got = words[_block_index(hashes, len(words))]
    return np.all((got & masks) == masks, axis=1)


def _chunk_hashes(values, kind: int) -> np.ndarray:
    """Colcodec-side hash: the spec hash with -0.0 folded onto +0.0 — a
    probe of 0.0 pruning a chunk holding only -0.0 would be a false
    negative (parquet writers normalize stats the same way)."""
    if kind in (Kind.FLOAT, Kind.DOUBLE):
        a = np.asarray(values)
        values = np.where(a == 0, a.dtype.type(0), a)
    return spec_hashes(values, kind)


def build(values, kind: int, bits_per_value: int = BITS_PER_VALUE) -> bytes:
    """Raw bitset sized for len(values) distinct-ish values."""
    h = _chunk_hashes(values, kind)
    n_blocks = max(1, (max(len(h), 1) * bits_per_value + 255) // 256)
    return build_bitset(h, 32 * n_blocks)


def might_contain(blob: bytes, values, kind: int) -> np.ndarray:
    """Vectorized membership probe → bool per value (no false
    negatives). A legacy uvarint-framed blob abstains: all True."""
    if len(blob) % 32:
        return np.ones(len(values), dtype=bool)
    return probe(blob, _chunk_hashes(values, kind))
