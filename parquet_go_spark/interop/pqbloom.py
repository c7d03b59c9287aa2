"""Parquet split-block bloom filters (spec-exact, XXH64-hashed).

The engine's own chunk blooms (codecs/bloom.py) use a vectorized
splitmix64 hash — fine for our manifest format, but parquet interop
requires the spec's hash: XXH64 (seed 0) of each value's plain-encoded
bytes (BYTE_ARRAY/FLBA without any length prefix). This module supplies
that hash plus the header/bitset container, reusing the split-block
bit math from codecs/bloom.py (SALT constants and block selection are
already the parquet spec's — bloom/block.go:20-28 in the reference).

Parity evidence (tests/test_interop_bloom.py): inserting the 14 values
of /root/reference/testdata/data_index_bloom_encoding_stats.parquet
into a bitset of that file's recorded size reproduces parquet-mr's
bitset BYTE-IDENTICALLY, and probing the golden bitset finds every
stored value and rejects absent ones.

Mirrors the reference writing bloom filters per column chunk
(writer.go:2089-2095 builds them from the dictionary; here, from the
chunk's distinct hashes — same filter, since inserts are idempotent).
"""

from __future__ import annotations

import math
import os

import numpy as np

from parquet_go_spark.codecs import _native
from parquet_go_spark.codecs.bloom import SALT
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Kind
from parquet_go_spark.interop import thriftc as tc

_NATIVE = _native.load()

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

MIN_BYTES = 32          # one block
MAX_BYTES = 128 << 20   # parquet-mr's upper bound
DEFAULT_FPP = 0.01


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _xxh64_py(data: bytes, seed: int = 0) -> int:
    """Portable XXH64 (public-domain algorithm) — the fallback when the
    compiled batch kernel is unavailable. Unsigned result."""
    n = len(data)
    off = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while off <= n - 32:
            k1 = int.from_bytes(data[off:off + 8], "little")
            k2 = int.from_bytes(data[off + 8:off + 16], "little")
            k3 = int.from_bytes(data[off + 16:off + 24], "little")
            k4 = int.from_bytes(data[off + 24:off + 32], "little")
            v1 = (_rotl((v1 + k1 * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + k2 * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + k3 * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + k4 * _P2) & _M, 31) * _P1) & _M
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while off <= n - 8:
        k = int.from_bytes(data[off:off + 8], "little")
        h ^= (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        off += 8
    if off <= n - 4:
        k = int.from_bytes(data[off:off + 4], "little")
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        off += 4
    while off < n:
        h ^= (data[off] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        off += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _hash_buffer(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """XXH64(seed 0) of each [offsets[i], offsets[i+1]) slice of data."""
    n = len(offsets) - 1
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    if _NATIVE is not None and getattr(_NATIVE, "xxh64", None) is not None:
        import ctypes

        data = np.ascontiguousarray(data)
        offsets = np.ascontiguousarray(offsets, dtype=np.int64)
        _NATIVE.xxh64(
            data.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
            offsets.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            n, 0,
            out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
        )
        return out
    raw = data.tobytes()
    for i in range(n):
        out[i] = _xxh64_py(raw[offsets[i]:offsets[i + 1]])
    return out


def spec_hashes(values, kind: int, flba_size: int | None = None) -> np.ndarray:
    """Per-value parquet bloom hash: XXH64(plain encoding, seed 0).

    BYTE_ARRAY hashes the raw bytes (no length prefix); numerics hash
    their little-endian plain width; FLBA hashes the fixed bytes.
    BOOLEAN is not bloomed (two possible values — the spec's writers
    skip it too)."""
    if kind == Kind.BYTE_ARRAY:
        assert isinstance(values, ByteArrays)
        data = values.data[: values.offsets[-1]]
        return _hash_buffer(data, values.offsets.astype(np.int64))
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
    offsets = (np.arange(n + 1, dtype=np.int64) * width)
    return _hash_buffer(flat, offsets)


def optimal_bytes(ndv: int, fpp: float = DEFAULT_FPP) -> int:
    """parquet-mr's BlockSplitBloomFilter sizing: bits from the
    split-block fpp formula, rounded up to a power of two, clamped."""
    ndv = max(int(ndv), 1)
    bits = -8.0 * ndv / math.log(1.0 - fpp ** 0.125)
    nbytes = max(MIN_BYTES, int(bits) // 8)
    nbytes = 1 << max(nbytes - 1, 1).bit_length()
    return min(max(nbytes, MIN_BYTES), MAX_BYTES)


def _block_index(h: np.ndarray, n_blocks: int) -> np.ndarray:
    return (((h >> np.uint64(32)) * np.uint64(n_blocks))
            >> np.uint64(32)).astype(np.int64)


def _bit_masks(h: np.ndarray) -> np.ndarray:
    lo = (h & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    x = lo[:, None] * SALT[None, :]  # uint32 wrap
    return (np.uint32(1) << (x >> np.uint32(27))).astype(np.uint32)


def build_bitset(hashes: np.ndarray, nbytes: int) -> bytes:
    """Insert hashes into a split-block bitset of nbytes (multiple of 32)."""
    n_blocks = nbytes // 32
    words = np.zeros((n_blocks, 8), dtype=np.uint32)
    if len(hashes):
        bi = _block_index(hashes, n_blocks)
        masks = _bit_masks(hashes)
        np.bitwise_or.at(words, (bi[:, None], np.arange(8)[None, :]), masks)
    return words.astype("<u4").tobytes()


def might_contain(bitset: bytes | np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Probe → bool per hash (no false negatives)."""
    words = np.frombuffer(bitset, dtype="<u4").reshape(-1, 8) \
        if not isinstance(bitset, np.ndarray) else bitset
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    bi = _block_index(np.asarray(hashes, dtype=np.uint64), len(words))
    masks = _bit_masks(np.asarray(hashes, dtype=np.uint64))
    got = words[bi]
    return np.all((got & masks) == masks, axis=1)


def bloom_parts(hashes: np.ndarray, fpp: float = DEFAULT_FPP,
                nbytes: int | None = None) -> tuple[bytes, bytes]:
    """(BloomFilterHeader thrift bytes, bitset bytes) — separate parts
    so modular encryption can wrap each in its own module (header and
    bitset have distinct module types, 8/9).
    Header: numBytes / algorithm=BLOCK / hash=XXHASH / compression=NONE,
    each union member an empty struct per parquet-format."""
    ndv = len(np.unique(hashes)) if len(hashes) else 1
    nbytes = nbytes or optimal_bytes(ndv, fpp)
    empty = tc.struct([])
    header = tc.struct([
        (1, tc.I32, nbytes),
        (2, tc.STRUCT, tc.struct([(1, tc.STRUCT, empty)])),
        (3, tc.STRUCT, tc.struct([(1, tc.STRUCT, empty)])),
        (4, tc.STRUCT, tc.struct([(1, tc.STRUCT, empty)])),
    ])
    return header, build_bitset(hashes, nbytes)


def bloom_blob(hashes: np.ndarray, fpp: float = DEFAULT_FPP,
               nbytes: int | None = None) -> bytes:
    """BloomFilterHeader (thrift compact) + bitset, ready to embed."""
    header, bits = bloom_parts(hashes, fpp, nbytes)
    return header + bits


def read_bloom_at(f, off: int, crypto=None) -> np.ndarray | None:
    """One chunk's bloom bitset at file offset `off` as the (blocks, 8)
    uint32 matrix might_contain expects. Plaintext layout: thrift
    BloomFilterHeader + raw bitset. Encrypted chunks (`crypto` =
    pqcrypt.ChunkCrypto) carry TWO modules: a GCM header module (type
    8) then the bitset module — GCM (type 9) in AES_GCM_V1 files, a
    CTR data module in AES_GCM_CTR_V1 files.

    An AES_GCM_CTR_V1 bitset is UNAUTHENTICATED (the spec's CTR data
    module has no tag), yet it drives pruning: flipped ciphertext bits
    read as a valid bitset and can silently prune row groups that hold
    matches, where a GCM module would fail loudly. Use AES_GCM_V1 files
    when the integrity of query results matters."""
    if crypto is None:
        f.seek(off)
        # header ≤ ~20 B; over-read then parse
        head = f.read(64)
        hdr, hlen = tc.read_struct(head, 0)
        f.seek(off + hlen)
        bits = f.read(hdr[1])
    else:
        from parquet_go_spark.interop import pqcrypt

        f.seek(off)
        ln1 = int.from_bytes(f.read(4), "little")
        f.seek(off)
        mod1 = f.read(4 + ln1)
        hdr_pt, _ = pqcrypt.decrypt_module(
            mod1, 0, crypto.key,
            pqcrypt.module_aad(crypto.file_aad, pqcrypt.BLOOM_HEADER,
                               crypto.rg, crypto.col), "bloom header")
        hdr, _ = tc.read_struct(hdr_pt, 0)
        ln2 = int.from_bytes(f.read(4), "little")
        f.seek(off + 4 + ln1)
        mod2 = f.read(4 + ln2)
        if crypto.ctr:
            bits, _ = pqcrypt.decrypt_ctr_module(
                mod2, 0, crypto.key, "bloom bitset")
        else:
            bits, _ = pqcrypt.decrypt_module(
                mod2, 0, crypto.key,
                pqcrypt.module_aad(crypto.file_aad, pqcrypt.BLOOM_BITSET,
                                   crypto.rg, crypto.col), "bloom bitset")
        bits = bits[:hdr[1]]
    return np.frombuffer(bits, dtype="<u4").reshape(-1, 8)


def _footer_chunks(path: str, decryption=None):
    """Yield (row_group_index, ColumnMetaData dict, leaf name) from the
    footer only. With `decryption`, encrypted footers/column metadata
    are resolved through pqreader's normalizer (the decrypted meta then
    carries its ChunkCrypto under "__crypto__"); without it, encrypted
    chunks are skipped (their bloom offsets live in ciphertext)."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        if decryption is not None:
            from parquet_go_spark.interop import pqreader

            fmd = pqreader._read_footer_file(f, size, path, decryption)
        else:
            f.seek(0)
            if f.read(4) == b"PARE":
                return  # encrypted footer, no keys: nothing readable
            f.seek(size - 8)
            flen = int.from_bytes(f.read(4), "little")
            f.seek(size - 8 - flen)
            fmd, _ = tc.read_struct(f.read(flen), 0)
        for gi, rg in enumerate(fmd[4]):
            for cc in rg[1]:
                meta = cc.get(3)
                if meta is None or (decryption is None and 8 in cc):
                    continue  # encrypted chunk without keys
                yield gi, meta, b".".join(meta[3]).decode()


def read_blooms(path: str, column: str | None = None,
                decryption=None) -> dict[tuple[int, str], np.ndarray]:
    """Bloom bitsets of a parquet file, keyed by (row_group, dotted
    column path). Reads the footer + each bloom region only — no data
    pages touched (the point: file-level pruning from metadata bytes).
    `column` restricts the bitset reads to one leaf path: a point probe
    over files with blooms on several columns then pays one bitset
    seek+read per row group instead of one per bloomed column.
    `decryption` (pqcrypt.FileDecryption) unlocks encrypted files —
    bloom modules decrypt like any other; without keys, encrypted
    chunks simply contribute no bitsets (a bloom can only prove
    absence, so skipping keeps every prune sound)."""
    out: dict[tuple[int, str], np.ndarray] = {}
    entries = [(gi, meta, name)
               for gi, meta, name in _footer_chunks(path, decryption)
               if meta.get(14) is not None
               and (column is None or name == column)]
    if not entries:
        return out
    with open(path, "rb") as f:
        for gi, meta, name in entries:
            bits = read_bloom_at(f, meta[14], meta.get("__crypto__"))
            if bits is not None:
                out[(gi, name)] = bits
    return out


def bloom_column_names(path: str, decryption=None) -> list[str]:
    """Dotted leaf paths that carry a bloom filter in any row group —
    footer bytes only (no bitsets read). Lets compaction inherit the
    source files' bloom configuration the way it inherits codec/sort."""
    return sorted({name for _, meta, name
                   in _footer_chunks(path, decryption)
                   if meta.get(14) is not None})


_PROBE_DRIVER_MAX = 64  # above this (and with a session), probe as a job


def _keep_path(path: str, column: str, hashes: np.ndarray,
               decryption=None) -> bool:
    """True when the file might contain any hashed value (no bloom for
    the column → kept: a bloom can only prove absence). Only the probed
    column's bitsets are read (other bloomed columns cost nothing)."""
    col_blooms = read_blooms(path, column=column,
                             decryption=decryption).values()
    if not col_blooms:
        return True
    return any(bool(might_contain(w, hashes).any()) for w in col_blooms)


def prune_files(paths, column: str, values, kind: int,
                flba_size: int | None = None, spark=None,
                decryption=None) -> list[str]:
    """Keep only files whose bloom for `column` might contain ANY of
    `values`. Footer+bitset reads only, no data pages (KBs per file).
    `decryption` (a picklable pqcrypt.FileDecryption) lets the probe
    read encrypted bloom modules; keyless encrypted files are kept.

    With a SparkSession and more than _PROBE_DRIVER_MAX paths the probe
    distributes as a job over the path list — the same shape as the
    pipeline's footer-stats collection: at 10⁵-10⁶ files a sequential
    driver loop is the bottleneck while each task still reads only
    metadata bytes. Order of `paths` is preserved either way
    (parallelize/collect keeps partition order)."""
    hashes = spec_hashes(values, kind, flba_size=flba_size)
    paths = list(paths)
    if spark is not None and len(paths) > _PROBE_DRIVER_MAX:
        hb = hashes.tobytes()
        col, dec = column, decryption

        def probe_partition(it):
            h = np.frombuffer(hb, dtype=np.uint64)
            for p in it:
                if _keep_path(p, col, h, dec):
                    yield p

        slices = min(
            len(paths), spark.sparkContext.defaultParallelism * 4)
        return (
            spark.sparkContext.parallelize(paths, slices)
            .mapPartitions(probe_partition)
            .collect()
        )
    return [p for p in paths
            if _keep_path(p, column, hashes, decryption)]
