"""Parquet bloom filter container: the thrift BloomFilterHeader, the
parquet-mr sizing rule, reading bitsets from a file's footer offsets
(plaintext or encrypted modules) and file-level pruning.

The filter itself — XXH64 (seed 0) of each value's plain-encoded bytes,
the split-block bit math, bitset build and probe — is codecs/bloom.py,
the package's one split-block filter (colcodec chunk blooms use it too).

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

import numpy as np

from parquet_go_spark.codecs.bloom import build_bitset, probe, spec_hashes
from parquet_go_spark.interop import thriftc as tc

MIN_BYTES = 32          # one block
MAX_BYTES = 128 << 20   # parquet-mr's upper bound
DEFAULT_FPP = 0.01


def optimal_bytes(ndv: int, fpp: float = DEFAULT_FPP) -> int:
    """parquet-mr's BlockSplitBloomFilter sizing: bits from the
    split-block fpp formula, rounded up to a power of two, clamped."""
    ndv = max(int(ndv), 1)
    bits = -8.0 * ndv / math.log(1.0 - fpp ** 0.125)
    nbytes = max(MIN_BYTES, int(bits) // 8)
    nbytes = 1 << max(nbytes - 1, 1).bit_length()
    return min(max(nbytes, MIN_BYTES), MAX_BYTES)


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
    uint32 matrix bloom.probe expects. Plaintext layout: thrift
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
    footer only, through pqreader's footer cache. With `decryption`,
    encrypted footers/column metadata are resolved through pqreader's
    normalizer (the decrypted meta then carries its ChunkCrypto under
    "__crypto__"); without it, encrypted chunks are skipped (their
    bloom offsets live in ciphertext)."""
    from parquet_go_spark.interop import pqreader

    with open(path, "rb") as f:
        if decryption is None and f.read(4) == b"PARE":
            return  # encrypted footer, no keys: nothing readable
        fmd = pqreader._file_meta(path, decryption, f).fmd
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
    return any(bool(probe(w, hashes).any()) for w in col_blooms)


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
