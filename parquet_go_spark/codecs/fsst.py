"""FSST: Fast Static Symbol Table string compression.

Extension codec mandated by the north star — NOT in parquet-go; derived
from the published paper "FSST: Fast Random Access String Compression",
PVLDB 13(11), 2020. Up to 255 symbols of 1-8 bytes each get 1-byte
codes; code 255 is an escape followed by one literal byte.

Vectorized design (no per-byte Python):
  * A symbol is (length, key) where key packs the symbol bytes into a
    uint64 little-endian — so symbol comparison/lookup is integer math.
  * Parsing (both for training and encoding) is iterative pair-merging:
    start with one token per byte, then repeatedly merge adjacent token
    pairs whose concatenation is a table symbol. Intra-pass overlap
    conflicts are resolved by keeping alternate candidates within each
    run of consecutive candidates (left-greedy, fully vectorized via
    maximum.accumulate).
  * Training counts token and adjacent-pair frequencies on a sample and
    keeps the 255 symbols with the best gain (count x bytes-saved),
    iterated for a few generations exactly like the paper's bottom-up
    symbol construction.
  * Decoding distinguishes escape markers from escaped 0xFF literals
    with the run-parity trick, then reconstructs output with one
    repeat/arange gather.

Chunk layout (strings are encoded as one concatenated stream; original
row boundaries are restored from the stored lengths, so symbols may
span adjacent rows — harmless for round-trip):
  uvarint n_strings | DELTA_BINARY_PACKED(lengths:int32) |
  u8 n_symbols | n_symbols length bytes | concatenated symbol bytes |
  uvarint encoded_len | encoded bytes
"""

from __future__ import annotations

import ctypes

import numpy as np

from . import _native, delta
from .bytearrays import ByteArrays
from .varint import read_uvarint, write_uvarint

#: compiled greedy-parse kernels, or None → pure-numpy path (see
#: _native.py; disable with SPARK_COLCODEC_NATIVE=0)
_NATIVE = _native.load()

_U8P = ctypes.POINTER(ctypes.c_uint8)
_U64P = ctypes.POINTER(ctypes.c_uint64)
_I32P = ctypes.POINTER(ctypes.c_int32)
_I16P = ctypes.POINTER(ctypes.c_int16)

MAX_SYMBOLS = 255
ESCAPE = 255
MAX_LEN = 8
SAMPLE_BYTES = 1 << 16
GENERATIONS = 6  # symbol quality converges at 6 bottom-up generations
# (ratio 3.03 vs 2.04 at 2). Training one 64 KB code-text sample takes
# 21-27 ms on a 4-core Xeon (FSST-train row of scripts/bench_codecs.py),
# so it still costs about as much as encoding ~2 MB with the table
PARSE_PASSES = 4  # compression converges at 4 passes on code-like
# corpora (ratio 1.734 at 4 == 6 passes; 1.63 at 2) — the loop also
# stops early as soon as a pass finds no merge

_H1 = np.uint64(0x9E3779B97F4A7C15)
_H2 = np.uint64(0xC2B2AE3D27D4EB4F)
_BUCKET_BITS = 16
_NBUCKETS = 1 << _BUCKET_BITS


def _buckets(keys: np.ndarray, salt: int) -> np.ndarray:
    """Hash a packed symbol key to a 16-bit bucket. Key-only hashing: the
    table dedupes same-key symbols at build time (a key collides across
    lengths only when a symbol has trailing NUL bytes), so the length
    never needs hashing — saving a uint64 conversion + multiply on every
    lookup over millions of positions. The salt makes the ≤255 table
    symbols collision-free, so lookup is one gather + exact verify."""
    s = np.uint64((salt * int(_H2)) & 0xFFFFFFFFFFFFFFFF)
    h = np.asarray(keys, dtype=np.uint64) * _H1 + s
    h ^= h >> np.uint64(33)
    h *= _H1
    return (h >> np.uint64(64 - _BUCKET_BITS)).astype(np.int64)


class FsstTable:
    __slots__ = ("lengths", "keys", "salt", "_bucket_key", "_bucket_meta",
                 "_sym2", "_prefix2", "_enc_tabs")

    def __init__(self, lengths: np.ndarray, keys: np.ndarray):
        """lengths: (k,) uint8 in 1..8; keys: (k,) uint64. Codes are the
        positions in (length, key) sorted order — deterministic.

        Same-key duplicates (symbols differing only by trailing NULs) are
        dropped, keeping the shortest — required for key-only hashing."""
        order = np.lexsort((lengths, keys))
        keys = keys[order].astype(np.uint64)
        lengths = lengths[order].astype(np.uint8)
        keep = np.ones(len(keys), dtype=bool)
        keep[1:] = keys[1:] != keys[:-1]
        keys, lengths = keys[keep], lengths[keep]
        order = np.lexsort((keys, lengths))
        self.lengths = lengths[order]
        self.keys = keys[order]
        self.salt = 0
        for salt in range(256):  # ≤255 syms in 65536 buckets: ~0.6 tries
            b = _buckets(self.keys, salt)
            if len(np.unique(b)) == len(b):
                self.salt = salt
                break
        else:
            raise RuntimeError("FSST: no collision-free salt found")
        # fused bucket tables: key for the exact match + (code+1 | len<<16)
        # for metadata — lookup is 2 gathers instead of a code indirection
        # followed by key/length gathers
        b = _buckets(self.keys, self.salt)
        bk = np.zeros(_NBUCKETS, dtype=np.uint64)
        bm = np.zeros(_NBUCKETS, dtype=np.int32)
        bk[b] = self.keys
        bm[b] = (np.arange(len(self.keys), dtype=np.int32) + 1) | (
            self.lengths.astype(np.int32) << 16
        )
        self._bucket_key = bk
        self._bucket_meta = bm
        # fast-parse side tables (paper's shortCodes idea, vectorized):
        # _sym2[two-byte key] — direct membership of length-2 symbols, so
        # the all-singles first merge pass is ONE gather, no hashing;
        # _prefix2[first two bytes] — necessary-condition filter for
        # longer pairs, so later passes hash only plausible positions
        sym2 = np.zeros(1 << 16, dtype=bool)
        is2 = self.lengths == 2
        sym2[self.keys[is2].astype(np.int64)] = True
        self._sym2 = sym2
        # prefixes of len≥3 symbols ONLY: pairs in later passes have
        # pair_len ≥ 3 unless both halves are unmatched singles (handled
        # via _sym2 exactly); including len-2 symbols here would make the
        # filter pass nearly every pair on symbol-dense text
        prefix2 = np.zeros(1 << 16, dtype=bool)
        ge3 = self.lengths >= 3
        prefix2[(self.keys[ge3] & np.uint64(0xFFFF)).astype(np.int64)] = True
        self._prefix2 = prefix2
        self._enc_tabs = None  # built lazily for the native encoder

    def native_enc_tabs(self):
        """Dispatch tables for the C greedy longest-match encoder:
        per-2-byte-prefix candidate lists (codes of len>=2 symbols,
        longest first, so the first key match IS the greedy match) plus
        a direct 1-byte-symbol code map."""
        if self._enc_tabs is None:
            multi = np.flatnonzero(self.lengths >= 2).astype(np.int64)
            prefix = (self.keys[multi] & np.uint64(0xFFFF)).astype(np.int64)
            order = np.lexsort(
                (-self.lengths[multi].astype(np.int64), prefix)
            )
            pcands = np.ascontiguousarray(multi[order], dtype=np.int32)
            pstart = np.bincount(
                prefix[order] + 1, minlength=(1 << 16) + 1
            ).cumsum().astype(np.int32)
            single = np.full(256, -1, dtype=np.int16)
            ones = np.flatnonzero(self.lengths == 1)
            single[self.keys[ones].astype(np.int64)] = ones.astype(np.int16)
            self._enc_tabs = (
                np.ascontiguousarray(pstart),
                pcands,
                np.ascontiguousarray(single),
            )
        return self._enc_tabs

    def __len__(self) -> int:
        return len(self.lengths)

    def lookup(self, lens: np.ndarray, keys: np.ndarray) -> np.ndarray:
        """Vectorized (len, key) -> code, -1 if absent."""
        if len(self.keys) == 0 or len(lens) == 0:
            return np.full(len(lens), -1, dtype=np.int64)
        b = _buckets(keys, self.salt)
        meta = self._bucket_meta[b]
        hit = (self._bucket_key[b] == keys) & (
            (meta >> 16) == lens
        ) & (meta != 0)
        return np.where(hit, (meta & 0xFFFF) - 1, -1).astype(np.int64)

    def serialize(self) -> bytes:
        out = bytearray([len(self.lengths)])
        out += self.lengths.tobytes()
        for i in range(len(self.lengths)):
            ln = int(self.lengths[i])
            out += int(self.keys[i]).to_bytes(8, "little")[:ln]
        return bytes(out)

    @staticmethod
    def deserialize(buf, pos: int) -> tuple["FsstTable", int]:
        k = buf[pos]
        pos += 1
        lengths = np.frombuffer(bytes(buf[pos : pos + k]), dtype=np.uint8).copy()
        pos += k
        keys = np.zeros(k, dtype=np.uint64)
        for i in range(k):
            ln = int(lengths[i])
            keys[i] = int.from_bytes(bytes(buf[pos : pos + ln]), "little")
            pos += ln
        return FsstTable(lengths, keys), pos


class _Workspace:
    """Preallocated scratch buffers for the parse loop. Fresh numpy
    temporaries were HALF the measured encode cost (allocation + first
    touch of ~6 MB per pass); one workspace per Python worker process
    removes that entirely. mapInArrow workers run one kernel at a time,
    so a process-level singleton is safe."""

    __slots__ = ("n", "i32a", "i32b", "boola", "boolb", "u64a", "u64b",
                 "u64c", "u8a", "u8b", "ar")

    def __init__(self, n: int):
        self.n = n
        self.i32a = np.empty(n, np.int32)
        self.i32b = np.empty(n, np.int32)
        self.boola = np.empty(n, bool)
        self.boolb = np.empty(n, bool)
        self.u64a = np.empty(n, np.uint64)
        self.u64b = np.empty(n, np.uint64)
        self.u64c = np.empty(n, np.uint64)
        self.u8a = np.empty(n, np.uint8)
        self.u8b = np.empty(n, np.uint8)
        self.ar = np.arange(n, dtype=np.int32)


_WS: _Workspace | None = None


def _workspace(n: int) -> _Workspace:
    global _WS
    if _WS is None or _WS.n < n:
        _WS = _Workspace(max(n, ENC_BLOCK))
    return _WS


def _parse(data: np.ndarray, table: FsstTable,
           max_passes: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Tokenize data (uint8 array) into table symbols + leftover bytes.

    Pass 0 (all tokens are single raw bytes) detects candidates with a
    single gather from the 2-byte symbol bitmap in int32 index math —
    no hashing — then resolves overlaps with the same exact left-greedy
    parity rule as later passes (see inline note on why aligned pairing
    was rejected).

    Returned arrays are VIEWS into the process workspace — valid until
    the next _parse call (all callers consume them immediately)."""
    n = len(data)
    out_empty = (np.empty(0, np.uint64), np.empty(0, np.uint8))
    if n == 0:
        return out_empty
    ws = _workspace(n)
    tok_key = ws.u64a[:n]
    np.copyto(tok_key, data, casting="unsafe")
    tok_len = ws.u8a[:n]
    tok_len[:] = 1
    cur = 0  # ping-pong: 0 → (u64a,u8a) current, spare (u64b,u8b)
    passes = max_passes or PARSE_PASSES
    for p in range(passes):
        k = len(tok_key)
        m = k - 1
        if m < 1:
            break
        spare_key = (ws.u64b if cur == 0 else ws.u64a)
        spare_len = (ws.u8b if cur == 0 else ws.u8a)
        if p == 0:
            # candidate detection in int32 index math (half the traffic
            # of uint64), pair keys materialized lazily at winners only
            idx = ws.i32a[:m]
            np.copyto(idx, data[:-1], casting="unsafe")
            tmp = ws.i32b[:m]
            np.copyto(tmp, data[1:], casting="unsafe")
            np.left_shift(tmp, 8, out=tmp)
            np.bitwise_or(idx, tmp, out=idx)
            cand = np.take(table._sym2, idx, out=ws.boola[:m])
            # exact left-greedy (offset parity within candidate runs).
            # NOT aligned even-position pairing: on periodic code-like
            # text a wrong-phase first pass blocks all deeper symbol
            # formation — measured ratio 2.94→2.42 on the repos corpus
            # for a ~10% speed gain. Not worth it.
            lb = ws.i32a[:m]  # idx no longer needed after the take
            np.copyto(lb, ws.ar[:m])
            np.copyto(lb, np.int32(-1), where=cand, casting="unsafe")
            np.maximum.accumulate(lb, out=lb)
            np.subtract(ws.ar[:m], lb, out=lb)
            np.bitwise_and(lb, 1, out=lb)
            cand &= lb.astype(bool)
            ki = np.flatnonzero(cand)
            if len(ki) == 0:
                break
            tok_key[ki] |= tok_key[ki + 1] << np.uint64(8)
            tok_len[ki] = 2
            pair_len = None
        else:
            pair_len = spare_len[:m]
            np.add(tok_len[:-1], tok_len[1:], out=pair_len)
            shift = ws.u64c[:m]
            np.copyto(shift, np.minimum(tok_len[:-1], 7), casting="unsafe")
            shift <<= np.uint64(3)
            pair_key = spare_key[:m]
            np.left_shift(tok_key[1:], shift, out=pair_key)
            np.bitwise_or(pair_key, tok_key[:-1], out=pair_key)
            # membership probe on workspace buffers (fresh temporaries
            # were ~30% of encode time): exact 2-byte pairs via _sym2;
            # longer pairs pass the len≥3-prefix filter first and only
            # the survivors are hashed — with ≤255 symbols most 2-byte
            # prefixes are dead, so the hash work collapses
            np.bitwise_and(pair_key, np.uint64(0xFFFF), out=shift)
            key16 = ws.i32b[:m]
            np.copyto(key16, shift, casting="unsafe")
            cand = np.take(table._sym2, key16, out=ws.boola[:m])
            np.equal(pair_len, 2, out=ws.boolb[:m])
            cand &= ws.boolb[:m]
            maybe = np.take(table._prefix2, key16, out=ws.boolb[:m])
            hidx = np.flatnonzero(maybe)
            if len(hidx):
                hk = pair_key[hidx]
                b = _buckets(hk, table.salt)
                meta = table._bucket_meta[b]
                hit = (table._bucket_key[b] == hk) & (
                    (meta >> 16) == pair_len[hidx]) & (meta != 0)
                cand[hidx[hit]] = True
            # exact left-greedy: offset-in-run parity via nearest
            # non-candidate index (maximum.accumulate of masked arange)
            lb = ws.i32a[:m]
            np.copyto(lb, ws.ar[:m])
            np.copyto(lb, np.int32(-1), where=cand, casting="unsafe")
            np.maximum.accumulate(lb, out=lb)
            np.subtract(ws.ar[:m], lb, out=lb)
            np.bitwise_and(lb, 1, out=lb)
            cand &= lb.astype(bool)
            ki = np.flatnonzero(cand)
            if len(ki) == 0:
                break
            tok_key[ki] = pair_key[ki]
            tok_len[ki] = pair_len[ki]
        alive = ws.boola[:k]
        alive[:] = True
        alive[ki + 1] = False
        alividx = np.flatnonzero(alive)
        cnt = len(alividx)
        np.take(tok_key, alividx, out=spare_key[:cnt])
        np.take(tok_len, alividx, out=spare_len[:cnt])
        tok_key, tok_len = spare_key[:cnt], spare_len[:cnt]
        cur ^= 1
    return tok_key, tok_len


TRAIN_PARSE_PASSES = 1  # during training, parse the sample SHALLOW: pair
# counts over short tokens estimate greedy-encode gain far better than
# counts over already-merged long tokens — measured ratio 3.0 vs 1.3 on
# code-like text with deep training parses


def _unique_counts(lens: np.ndarray, keys: np.ndarray):
    """Unique (len, key) pairs in (len, key) order + their counts, from
    one single-key uint64 sort: a len ≤ 7 key fits in 56 bits, so
    (len << 56) | key orders like (len, key); len-8 keys fill all 64
    bits, so they sort as their own group, which goes last."""
    short = lens < MAX_LEN
    packed, counts = np.unique(
        (lens[short].astype(np.uint64) << np.uint64(56)) | keys[short],
        return_counts=True,
    )
    ul = (packed >> np.uint64(56)).astype(np.uint8)
    uk = packed & np.uint64((1 << 56) - 1)
    if not short.all():
        k8, c8 = np.unique(keys[~short], return_counts=True)
        ul = np.concatenate([ul, np.full(len(k8), MAX_LEN, np.uint8)])
        uk = np.concatenate([uk, k8])
        counts = np.concatenate([counts, c8])
    return ul, uk, counts


def train(data: np.ndarray, generations: int = GENERATIONS) -> FsstTable:
    """Build a symbol table from (a sample of) the data."""
    sample = data[:SAMPLE_BYTES]
    if len(sample) == 0:
        return FsstTable(np.empty(0, np.uint8), np.empty(0, np.uint64))
    # generation 0: most frequent single bytes
    counts = np.bincount(sample, minlength=256)
    order = np.argsort(-counts, kind="stable")
    present = order[counts[order] > 0][:MAX_SYMBOLS]
    table = FsstTable(
        np.ones(len(present), dtype=np.uint8), present.astype(np.uint64)
    )
    for _ in range(generations):
        tok_key, tok_len = _parse(sample, table, TRAIN_PARSE_PASSES)
        # candidate pool: every token plus every adjacent-pair
        # concatenation that fits a symbol, counted together in one pass
        pair_len = tok_len[:-1] + tok_len[1:]
        shift = np.minimum(
            tok_len[:-1].astype(np.uint64) << np.uint64(3), np.uint64(56)
        )
        pair_key = tok_key[:-1] | (tok_key[1:] << shift)
        fits = pair_len <= MAX_LEN
        ul, uk, ucounts = _unique_counts(
            np.concatenate([tok_len, pair_len[fits]]),
            np.concatenate([tok_key, pair_key[fits]]),
        )
        # gain: bytes saved = count*(len-1) for multi-byte symbols,
        # count*1 for single bytes (escape avoidance); the stable sort
        # breaks ties in (len, key) order
        gain = np.where(ul >= 2, ucounts * (ul - 1), ucounts)
        top = np.argsort(-gain, kind="stable")[:MAX_SYMBOLS]
        top = top[gain[top] > 0]
        table = FsstTable(ul[top], uk[top])
    return table


ENC_BLOCK = 256 << 10  # cache-resident segments: the parse working set is
# ~9x the segment (uint64 token keys + pair temporaries), so 256 KB keeps
# it inside L2/L3 instead of DRAM — measured 6x aggregate-throughput gain
# at 32 concurrent workers on a bandwidth-limited host, and it removes the
# first-call heap-growth stall on big chunks


def _encode_block_native(data: np.ndarray, table: FsstTable) -> bytes:
    pstart, pcands, single = table.native_enc_tabs()
    data = np.ascontiguousarray(data)
    out = np.empty(2 * len(data), dtype=np.uint8)
    n = _NATIVE.encode(
        data.ctypes.data_as(_U8P), len(data),
        table.keys.ctypes.data_as(_U64P),
        table.lengths.ctypes.data_as(_U8P),
        pstart.ctypes.data_as(_I32P), pcands.ctypes.data_as(_I32P),
        single.ctypes.data_as(_I16P), out.ctypes.data_as(_U8P),
    )
    return out[:n].tobytes()


def _encode_block(data: np.ndarray, table: FsstTable) -> bytes:
    if len(data) == 0:
        return b""
    if _NATIVE is not None:
        return _encode_block_native(data, table)
    tok_key, tok_len = _parse(data, table)
    codes = table.lookup(tok_len, tok_key)
    # unmatched tokens are single leftover bytes -> escape
    matched = codes >= 0
    out_len = np.where(matched, 1, 2).astype(np.int64)
    out_off = np.concatenate([[0], np.cumsum(out_len)])
    total = int(out_off[-1])
    out = np.empty(total, dtype=np.uint8)
    mpos = out_off[:-1][matched]
    out[mpos] = codes[matched].astype(np.uint8)
    upos = out_off[:-1][~matched]
    out[upos] = ESCAPE
    out[upos + 1] = tok_key[~matched].astype(np.uint8)
    return out.tobytes()


def decode_stream(buf: np.ndarray, table: FsstTable, expected: int) -> np.ndarray:
    """Decode a code stream back to the original uint8 stream."""
    codes = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    n = len(codes)
    if n == 0:
        return np.empty(0, dtype=np.uint8)
    if _NATIVE is not None:
        src = np.ascontiguousarray(codes)
        out = np.empty(expected + 8, dtype=np.uint8)  # 8B store slack
        r = _NATIVE.decode(
            src.ctypes.data_as(_U8P), n,
            table.keys.ctypes.data_as(_U64P),
            table.lengths.ctypes.data_as(_U8P), len(table.lengths),
            out.ctypes.data_as(_U8P), expected + 8,
        )
        if r != expected:
            raise ValueError(f"FSST decode size mismatch: {r} != {expected}")
        return out[:expected]
    is_esc_val = codes == ESCAPE
    # markers: within each run of consecutive 0xFF bytes (run starting at
    # a non-consumed position), positions at even run offset are escape
    # markers; odd ones are escaped literals
    run_start = is_esc_val.copy()
    run_start[1:] &= ~is_esc_val[:-1]
    run_id = np.cumsum(run_start)
    starts = np.flatnonzero(run_start)
    ei = np.flatnonzero(is_esc_val)
    marker = np.zeros(n, dtype=bool)
    if len(ei):
        offset = ei - starts[run_id[ei] - 1]
        marker[ei[(offset & 1) == 0]] = True
    literal = np.zeros(n, dtype=bool)
    literal[1:] = marker[:-1]
    token_pos = ~literal  # marker or plain code
    tpos = np.flatnonzero(token_pos)
    t_marker = marker[tpos]
    tcodes = codes[tpos].astype(np.int64)
    # output lengths per token
    sym_lens = table.lengths.astype(np.int64)
    out_lens = np.where(t_marker, 1, sym_lens[np.where(t_marker, 0, tcodes)] if len(sym_lens) else 1)
    if len(sym_lens) == 0:
        out_lens = np.ones(len(tpos), dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(out_lens)])
    total = int(offs[-1])
    out = np.empty(total, dtype=np.uint8)
    # literals (escaped bytes)
    lmask = t_marker
    out[offs[:-1][lmask]] = codes[tpos[lmask] + 1]
    # symbols: per-length column scatter — ≤ 8+7+…+1 = 36 vectorized
    # writes total instead of materializing per-byte index arrays
    smask = ~t_marker
    if smask.any():
        mat = (
            table.keys.astype("<u8").view(np.uint8).reshape(-1, MAX_LEN)
        )  # row i = symbol i's bytes in order (little-endian packing)
        sc = tcodes[smask]
        s_out_off = offs[:-1][smask]
        s_lens = sym_lens[sc]
        for ln in np.unique(table.lengths):
            ln = int(ln)
            m = s_lens == ln
            if not m.any():
                continue
            o = s_out_off[m]
            c = sc[m]
            for j in range(ln):
                out[o + j] = mat[c, j]
    if total != expected:
        raise ValueError(f"FSST decode size mismatch: {total} != {expected}")
    return out


def encode_byte_array(values: ByteArrays, table: FsstTable | None = None) -> bytes:
    """Chunk layout: uvarint n_strings | DELTA(lengths) | table |
    uvarint n_blocks | n_blocks × uvarint enc_len | concatenated block
    payloads. Per-block sizes let decode work block-by-block with the
    same cache-resident working set as encode (each block decodes
    ENC_BLOCK plain bytes, except the last)."""
    data = values.data[: values.offsets[-1]]
    table = table or train(data)
    lengths = values.lengths.astype(np.int32)
    blocks = [
        _encode_block(data[s : s + ENC_BLOCK], table)
        for s in range(0, len(data), ENC_BLOCK)
    ]
    out = bytearray()
    write_uvarint(out, len(values))
    out += delta.encode_binary_packed(lengths, 32)
    out += table.serialize()
    write_uvarint(out, len(blocks))
    for b in blocks:
        write_uvarint(out, len(b))
    for b in blocks:
        out += b
    return bytes(out)


def decode_byte_array(buf, n: int | None = None) -> ByteArrays:
    mv = buf if isinstance(buf, (bytes, bytearray)) else memoryview(buf)
    pos = 0
    n_strings, pos = read_uvarint(mv, pos)
    lengths, consumed = delta.decode_binary_packed(mv[pos:], 32)
    pos += consumed
    lengths = lengths[:n_strings].astype(np.int64)
    if (lengths < 0).any():
        raise ValueError("FSST chunk: negative string length")
    table, pos = FsstTable.deserialize(mv, pos)
    n_blocks, pos = read_uvarint(mv, pos)
    enc_lens = []
    for _ in range(n_blocks):
        ln, pos = read_uvarint(mv, pos)
        enc_lens.append(ln)
    total = int(lengths.sum())
    data = np.empty(total, dtype=np.uint8)
    dpos = 0
    for i, ln in enumerate(enc_lens):
        enc = np.frombuffer(mv, dtype=np.uint8, offset=pos, count=ln)
        pos += ln
        expect = min(ENC_BLOCK, total - dpos)
        data[dpos : dpos + expect] = decode_stream(enc, table, expect)
        dpos += expect
    if dpos != total:
        raise ValueError(f"FSST chunk decode mismatch: {dpos} != {total}")
    offsets = np.zeros(n_strings + 1, dtype=np.int64)
    offsets[1:] = np.cumsum(lengths)
    return ByteArrays(data, offsets)
