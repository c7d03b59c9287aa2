"""Optional compiled kernels for the codec hot loops.

The package ships its C **as source** (`_C_SOURCE`, so it is
`--py-files` compatible: every executor's Python worker compiles it once
on first import with the host toolchain, cached by source hash) and
binds it with ctypes. If no C compiler is present, compilation fails, or
the platform is not little-endian, `load()` returns None and every
caller runs its numpy kernel — the numpy paths remain the reference
implementation and are exercised directly in tests via
`SPARK_COLCODEC_NATIVE=0`. The same pattern as the reference's amd64
assembly + purego kernel pairs. The kernels, their callers and their
fallback rule:

- `fsst_encode` / `fsst_decode` (codecs/fsst.py): greedy longest-match
  parse and bounds-checked sequential decode. Decode returns -1 on a
  malformed stream (fsst.py raises) and -2 on output overflow.
- `rle_encode` / `rle_decode` (codecs/rle.py, widths 1..32): hybrid
  RLE/bit-packed, byte-identical to the numpy encoder. Decode returns
  -1 on a malformed varint or truncated bit-packed run, and rle.py
  falls through to the numpy decoder.
- `xxh64_batch` (codecs/bloom.py): the one bloom hash; never fails.
- `sbbf_insert` (codecs/bloom.py): the split-block bitset insert, any
  block count; never fails. bloom.py takes numpy's scatter + packbits
  only when the kernel is missing or the bitset has no block.
- `dbp_encode` (codecs/delta.py): every DELTA_BINARY_PACKED block after
  the Python header, byte-identical to the numpy encoder — pqwriter
  pages, DELTA_LENGTH_BYTE_ARRAY lengths, both DELTA_BYTE_ARRAY
  streams, FSST's length stream and `chunk.encode_chunk`. Never fails;
  numpy encodes only when the kernel is missing.
- `dbp_decode` (codecs/delta.py): DELTA_BINARY_PACKED block walk after
  the Python header parse — it also decodes DELTA_LENGTH_BYTE_ARRAY
  lengths, both DELTA_BYTE_ARRAY streams and FSST's length stream.
  Returns -1 on a truncated header or payload, an overlong varint or a
  width over 64, and delta.py falls through to numpy, which raises.

The C FSST encoder is the FSST paper's canonical greedy longest-match
parse (shortCodes-style 2-byte dispatch + per-prefix candidate lists
ordered longest-first), not a translation of the numpy pair-merge parse;
both produce valid streams for the same serialized symbol table, and the
sequential decoder accepts either. Blob bytes are deterministic per
environment (required for manifest resume); cross-environment resume
re-encodes only missing partitions, for which determinism is not
load-bearing.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* FSST greedy longest-match encode.
 *
 * in/n           : plain bytes
 * keys/lens      : symbol table, code i = (keys[i] little-endian, lens[i])
 * pstart[65537]  : per-2-byte-prefix offsets into pcands
 * pcands         : codes of len>=2 symbols grouped by first-2-byte prefix,
 *                  longest first within a prefix
 * single[256]    : code of the 1-byte symbol for that byte, or -1
 * out            : capacity must be >= 2*n (worst case: all escapes)
 * returns encoded length
 */
long fsst_encode(const uint8_t *in, long n,
                 const uint64_t *keys, const uint8_t *lens,
                 const int32_t *pstart, const int32_t *pcands,
                 const int16_t *single, uint8_t *out)
{
    static const uint64_t MASK[9] = {
        0ULL, 0xFFULL, 0xFFFFULL, 0xFFFFFFULL, 0xFFFFFFFFULL,
        0xFFFFFFFFFFULL, 0xFFFFFFFFFFFFULL, 0xFFFFFFFFFFFFFFULL,
        0xFFFFFFFFFFFFFFFFULL};
    long i = 0, o = 0;
    long fast_end = n - 8; /* positions where a full word load is safe */
    while (i <= fast_end) {
        uint64_t w;
        memcpy(&w, in + i, 8);
        uint32_t p2 = (uint32_t)(w & 0xFFFF);
        int32_t c0 = pstart[p2], c1 = pstart[p2 + 1];
        int matched = 0;
        for (int32_t ci = c0; ci < c1; ci++) {
            int32_t code = pcands[ci];
            uint8_t L = lens[code];
            if ((w & MASK[L]) == keys[code]) {
                out[o++] = (uint8_t)code;
                i += L;
                matched = 1;
                break;
            }
        }
        if (!matched) {
            int16_t sc = single[(uint8_t)w];
            if (sc >= 0) {
                out[o++] = (uint8_t)sc;
            } else {
                out[o++] = 255;
                out[o++] = (uint8_t)w;
            }
            i++;
        }
    }
    while (i < n) { /* tail: partial word, candidate must fit */
        long avail = n - i;
        uint64_t w = 0;
        memcpy(&w, in + i, avail >= 8 ? 8 : avail);
        int matched = 0;
        if (avail >= 2) {
            uint32_t p2 = (uint32_t)(w & 0xFFFF);
            int32_t c0 = pstart[p2], c1 = pstart[p2 + 1];
            for (int32_t ci = c0; ci < c1; ci++) {
                int32_t code = pcands[ci];
                uint8_t L = lens[code];
                if (L <= avail && (w & MASK[L]) == keys[code]) {
                    out[o++] = (uint8_t)code;
                    i += L;
                    matched = 1;
                    break;
                }
            }
        }
        if (!matched) {
            int16_t sc = single[in[i]];
            if (sc >= 0) {
                out[o++] = (uint8_t)sc;
            } else {
                out[o++] = 255;
                out[o++] = in[i];
            }
            i++;
        }
    }
    return o;
}

/* XXH64 (public-domain algorithm, Yann Collet) — every bloom filter
 * (codecs/bloom.py) hashes each value's plain-encoded bytes with seed 0.
 * Batch form: value i is data[offs[i] .. offs[i+1]). */
static inline uint64_t rotl64(uint64_t x, int r)
{
    return (x << r) | (x >> (64 - r));
}

#define XP1 0x9E3779B185EBCA87ULL
#define XP2 0xC2B2AE3D27D4EB4FULL
#define XP3 0x165667B19E3779F9ULL
#define XP4 0x85EBCA77C2B2AE63ULL
#define XP5 0x27D4EB2F165667C5ULL

static uint64_t xxh64(const uint8_t *p, long len, uint64_t seed)
{
    const uint8_t *end = p + len;
    uint64_t h;
    if (len >= 32) {
        uint64_t v1 = seed + XP1 + XP2, v2 = seed + XP2, v3 = seed,
                 v4 = seed - XP1;
        do {
            uint64_t k;
            memcpy(&k, p, 8); v1 = rotl64(v1 + k * XP2, 31) * XP1; p += 8;
            memcpy(&k, p, 8); v2 = rotl64(v2 + k * XP2, 31) * XP1; p += 8;
            memcpy(&k, p, 8); v3 = rotl64(v3 + k * XP2, 31) * XP1; p += 8;
            memcpy(&k, p, 8); v4 = rotl64(v4 + k * XP2, 31) * XP1; p += 8;
        } while (p + 32 <= end);
        h = rotl64(v1, 1) + rotl64(v2, 7) + rotl64(v3, 12) + rotl64(v4, 18);
        v1 *= XP2; h ^= rotl64(v1, 31) * XP1; h = h * XP1 + XP4;
        v2 *= XP2; h ^= rotl64(v2, 31) * XP1; h = h * XP1 + XP4;
        v3 *= XP2; h ^= rotl64(v3, 31) * XP1; h = h * XP1 + XP4;
        v4 *= XP2; h ^= rotl64(v4, 31) * XP1; h = h * XP1 + XP4;
    } else {
        h = seed + XP5;
    }
    h += (uint64_t)len;
    while (p + 8 <= end) {
        uint64_t k;
        memcpy(&k, p, 8);
        h ^= rotl64(k * XP2, 31) * XP1;
        h = rotl64(h, 27) * XP1 + XP4;
        p += 8;
    }
    if (p + 4 <= end) {
        uint32_t k;
        memcpy(&k, p, 4);
        h ^= (uint64_t)k * XP1;
        h = rotl64(h, 23) * XP2 + XP3;
        p += 4;
    }
    while (p < end) {
        h ^= (uint64_t)(*p++) * XP5;
        h = rotl64(h, 11) * XP1;
    }
    h ^= h >> 33;
    h *= XP2;
    h ^= h >> 29;
    h *= XP3;
    h ^= h >> 32;
    return h;
}

void xxh64_batch(const uint8_t *data, const int64_t *offs, long n,
                 uint64_t seed, uint64_t *out)
{
    for (long i = 0; i < n; i++)
        out[i] = xxh64(data + offs[i], (long)(offs[i + 1] - offs[i]), seed);
}

/* Parquet hybrid RLE/bit-packed encode, width 1..32 (dictionary
 * indexes, rep/def levels, RLE-boolean, small ints). Replicates the
 * numpy encoder's grouping BYTE-FOR-BYTE (same blobs, same golden
 * sizes): aligned groups of 8 classified const/non-const; adjacent
 * const groups of equal value merge into RLE runs; adjacent non-const
 * groups into bit-packed runs; a trailing partial group is padded with
 * the last value (bit-packed) or stores the exact count (RLE).
 * out capacity: >= 64 + (n+8)*((width+7)/8) + (n/8+2)*10. Returns
 * encoded length. */
static inline long put_uvarint(uint8_t *out, long o, uint64_t x)
{
    while (x >= 0x80) {
        out[o++] = (uint8_t)(x | 0x80);
        x >>= 7;
    }
    out[o++] = (uint8_t)x;
    return o;
}

/* group g is constant? (tail group padded with the last value);
 * writes the group's first value to *g0 */
static inline int group_is_const(const uint64_t *v, long n, long g,
                                 uint64_t *g0)
{
    *g0 = v[g * 8];
    for (int j = 1; j < 8; j++) {
        long idx = g * 8 + j;
        uint64_t x = idx < n ? v[idx] : v[n - 1];
        if (x != *g0)
            return 0;
    }
    return 1;
}

long rle_encode(const uint64_t *v, long n, int width, uint8_t *out)
{
    long o = 0;
    int vbytes = (width + 7) / 8;
    long ng = (n + 7) / 8;
    long g = 0;
    while (g < ng) {
        uint64_t g0;
        int is_const = group_is_const(v, n, g, &g0);
        if (is_const) {
            /* extend the RLE run over equal const groups */
            long e = g + 1;
            uint64_t e0;
            while (e < ng && group_is_const(v, n, e, &e0) && e0 == g0)
                e++;
            long count = (e - g) * 8;
            if (e == ng && (n % 8))
                count -= 8 - (n % 8);
            o = put_uvarint(out, o, (uint64_t)count << 1);
            for (int b = 0; b < vbytes; b++)
                out[o++] = (uint8_t)(g0 >> (8 * b));
            g = e;
        } else {
            /* extend the bit-packed run over non-const groups */
            long e = g + 1;
            uint64_t e0;
            while (e < ng && !group_is_const(v, n, e, &e0))
                e++;
            o = put_uvarint(out, o, ((uint64_t)(e - g) << 1) | 1);
            uint64_t acc = 0;
            int nbits = 0;
            for (long i = g * 8; i < e * 8; i++) {
                uint64_t x = i < n ? v[i] : v[n - 1];
                acc |= x << nbits;
                nbits += width;
                while (nbits >= 8) {
                    out[o++] = (uint8_t)acc;
                    acc >>= 8;
                    nbits -= 8;
                }
            }
            if (nbits)
                out[o++] = (uint8_t)acc;
            g = e;
        }
    }
    return o;
}

/* ULEB128 at in[*pos]; -1 when truncated or wider than 64 bits (the
 * numpy readers take such a varint as a bigint and decide). */
static inline int get_uvarint(const uint8_t *in, long len, long *pos,
                              uint64_t *v)
{
    uint64_t h = 0;
    int shift = 0;
    for (;;) {
        if (*pos >= len)
            return -1;
        uint8_t b = in[(*pos)++];
        if (shift == 63 && b > 1)
            return -1;
        h |= (uint64_t)(b & 0x7F) << shift;
        if (!(b & 0x80))
            break;
        shift += 7;
        if (shift > 63)
            return -1;
    }
    *v = h;
    return 0;
}

/* Hybrid decode: fills exactly n values, skipping empty RLE runs.
 * Returns n, or -1 on anything anomalous — malformed/overlong varint,
 * or a bit-packed run whose declared payload exceeds the buffer — so
 * the caller falls back to the numpy reference and malformed-input
 * behavior stays identical across paths (numpy raises on a payload
 * truncated mid-run; it must not be silently zero-filled here). */
long rle_decode(const uint8_t *in, long len, long n, int width,
                uint64_t *out)
{
    long pos = 0, got = 0;
    int vbytes = (width + 7) / 8;
    uint64_t mask = width >= 64 ? ~0ULL : ((1ULL << width) - 1);
    while (got < n && pos < len) {
        uint64_t h;
        if (get_uvarint(in, len, &pos, &h) < 0)
            return -1;
        if (h & 1) {
            long groups = (long)(h >> 1);
            /* payload is exactly groups*width bytes; compare without
             * multiplying (groups can be 2^62 on corrupt input — the
             * product would overflow and wreck the bounds checks) */
            if (groups > (len - pos) / width)
                return -1;
            long cnt = groups * 8;
            long run_end = pos + groups * width;
            uint64_t acc = 0;
            int nbits = 0;
            long i = 0;
            long want = cnt < (n - got) ? cnt : (n - got);
            while (i < want) {
                /* width <= 32, so 4-byte refills keep everything in one
                 * 64-bit register (nbits stays < 64) */
                if (nbits <= 32 && pos + 4 <= run_end) {
                    uint32_t w;
                    memcpy(&w, in + pos, 4);
                    acc |= (uint64_t)w << nbits;
                    nbits += 32;
                    pos += 4;
                } else {
                    while (nbits < width) { /* tail: byte refill, 0-pad */
                        uint64_t b = pos < run_end ? in[pos] : 0;
                        pos++;
                        acc |= b << nbits;
                        nbits += 8;
                    }
                }
                while (nbits >= width && i < want) {
                    out[got++] = acc & mask;
                    acc >>= width;
                    nbits -= width;
                    i++;
                }
            }
            pos = run_end; /* skip any unconsumed payload */
        } else {
            long cnt = (long)(h >> 1);
            uint64_t val = 0;
            for (int b = 0; b < vbytes && pos < len; b++)
                val |= (uint64_t)in[pos++] << (8 * b);
            for (long i = 0; i < cnt && got < n; i++)
                out[got++] = val;
        }
    }
    for (long i = got; i < n; i++)
        out[i] = 0;
    return n;
}

/* FSST sequential decode. out capacity (cap) must leave 8 bytes of
 * slack past the expected size so symbol writes can be one unconditional
 * 8-byte store. Returns decoded length, -1 on malformed input (escape at
 * end / code out of range), -2 on output overflow. */
long fsst_decode(const uint8_t *in, long n,
                 const uint64_t *keys, const uint8_t *lens, long nsyms,
                 uint8_t *out, long cap)
{
    long i = 0, o = 0;
    long safe = cap - 8;
    while (i < n) {
        uint8_t c = in[i++];
        if (c == 255) {
            if (i >= n)
                return -1;
            if (o >= cap)
                return -2;
            out[o++] = in[i++];
        } else {
            if (c >= nsyms)
                return -1;
            if (o > safe)
                return -2;
            uint64_t w = keys[c];
            memcpy(out + o, &w, 8);
            o += lens[c];
        }
    }
    return o;
}

/* DELTA_BINARY_PACKED blocks, after the Python header parse: n values
 * (n >= 2) whose block walk starts at in[pos]. Per block: zigzag min
 * delta, nmini width bytes, then miniblocks of block_size/nmini deltas
 * packed LSB-first at their width. Unpack, add the min and prefix-sum
 * from `first` in one pass, wrapping at 64 bits; bits == 32 stores the
 * low halves (uint32 out), else uint64. Unused trailing miniblocks carry
 * no payload whatever width they declare. Returns the bytes consumed
 * (the numpy path's `consumed`), or -1 on anything anomalous — truncated
 * header or payload, overlong varint, width > 64, a miniblock that is
 * not whole bytes — and the caller falls back to the numpy reference. */
long dbp_decode(const uint8_t *in, long len, long pos, long n,
                long block_size, long nmini, uint64_t first, int bits,
                void *out)
{
    uint32_t *o32 = (uint32_t *)out;
    uint64_t *o64 = (uint64_t *)out;
    long mb = block_size / nmini, nd = n - 1, got = 0, k = 1;
    uint64_t v = first;
    if (bits == 32)
        o32[0] = (uint32_t)v;
    else
        o64[0] = v;
    while (got < nd) {
        uint64_t u;
        if (get_uvarint(in, len, &pos, &u) < 0)
            return -1;
        uint64_t mn = (u >> 1) ^ (0 - (u & 1));
        if (nmini > len - pos)
            return -1;
        const uint8_t *widths = in + pos;
        pos += nmini;
        for (long j = 0; j < nmini && got + j * mb < nd; j++) {
            int w = widths[j];
            if (w > 64 || (mb * w) % 8)
                return -1;
            long span = mb * w / 8;
            if (span > len - pos)
                return -1;
            const uint8_t *p = in + pos;
            long cnt = nd - (got + j * mb);
            if (cnt > mb)
                cnt = mb;
            uint64_t mask = w == 64 ? ~0ULL : ((1ULL << w) - 1);
            for (long i = 0; i < cnt; i++) {
                uint64_t x = 0;
                if (w) {
                    long bit = i * w, byte = bit >> 3;
                    int sh = (int)(bit & 7);
                    if (byte + 8 <= span) {
                        memcpy(&x, p + byte, 8);
                    } else {
                        for (int b = 0; byte + b < span; b++)
                            x |= (uint64_t)p[byte + b] << (8 * b);
                    }
                    x >>= sh;
                    if (sh + w > 64) /* the value's top bits: byte + 8 */
                        x |= (uint64_t)p[byte + 8] << (64 - sh);
                    x &= mask;
                }
                v += x + mn;
                if (bits == 32)
                    o32[k++] = (uint32_t)v;
                else
                    o64[k++] = v;
            }
            pos += span;
        }
        got += block_size;
    }
    return pos;
}

/* DELTA_BINARY_PACKED blocks, after the Python header: n values
 * (n >= 2), int32 (bits == 32) or int64. Blocks of 128 deltas in 4
 * miniblocks of 32; deltas and adjusted deltas wrap at `bits`. Per
 * block: the min delta, signed at the kind's width, as a sign-extended
 * zigzag varint; the 4 widths; the miniblocks packed LSB-first, the
 * last one zero-padded. A miniblock with no values gets width 0 and no
 * payload. out capacity: 14 + 1024 bytes per block. Returns the bytes
 * written; byte-identical to the numpy encoder. */
long dbp_encode(const void *in, long n, int bits, uint8_t *out)
{
    const uint32_t *i32 = (const uint32_t *)in;
    const uint64_t *i64 = (const uint64_t *)in;
    uint64_t mask = bits == 32 ? 0xFFFFFFFFULL : ~0ULL;
    uint64_t prev = bits == 32 ? i32[0] : i64[0], d[128];
    long o = 0;
    for (long s = 1; s < n; s += 128) {
        long cnt = n - s < 128 ? n - s : 128;
        int64_t mn = INT64_MAX;
        for (long i = 0; i < cnt; i++) {
            uint64_t v = bits == 32 ? i32[s + i] : i64[s + i];
            d[i] = (v - prev) & mask;
            prev = v;
            int64_t sd = bits == 32 ? (int64_t)(int32_t)d[i] : (int64_t)d[i];
            if (sd < mn)
                mn = sd;
        }
        o = put_uvarint(out, o, ((uint64_t)mn << 1) ^ (0 - ((uint64_t)mn >> 63)));
        for (long i = 0; i < 128; i++)
            d[i] = i < cnt ? (d[i] - (uint64_t)mn) & mask : 0;
        uint8_t *widths = out + o;
        o += 4;
        for (int j = 0; j < 4; j++) {
            const uint64_t *x = d + 32 * j;
            uint64_t any = 0;
            for (int i = 0; i < 32; i++)
                any |= x[i];
            int w = any ? 64 - __builtin_clzll(any) : 0;
            widths[j] = (uint8_t)w;
            uint64_t acc = 0;
            int nb = 0;
            for (int i = 0; w && i < 32; i++) {
                acc |= x[i] << nb;
                if (nb + w >= 64) { /* the word is full: flush it */
                    memcpy(out + o, &acc, 8);
                    o += 8;
                    acc = nb ? x[i] >> (64 - nb) : 0;
                    nb = nb + w - 64;
                } else {
                    nb += w;
                }
            }
            memcpy(out + o, &acc, nb / 8); /* 32*w bits: whole bytes */
            o += nb / 8;
        }
    }
    return o;
}

/* Split-block bloom insert (codecs/bloom.py): hash i sets one salted
 * bit in each of the 8 words of block ((h >> 32) * nblocks) >> 32, for
 * any block count. */
void sbbf_insert(const uint64_t *h, long n, uint32_t *words, long nblocks)
{
    static const uint32_t SALT[8] = {
        0x47B6137BU, 0x44974D91U, 0x8824AD5BU, 0xA2B7289DU,
        0x705495C7U, 0x2DF1424BU, 0x9EFC4947U, 0x5C6BFB31U};
    for (long i = 0; i < n; i++) {
        uint32_t *w = words + 8 * (((h[i] >> 32) * (uint64_t)nblocks) >> 32);
        uint32_t lo = (uint32_t)h[i];
        for (int j = 0; j < 8; j++)
            w[j] |= 1U << ((lo * SALT[j]) >> 27);
    }
}
"""


class _Lib:
    __slots__ = ("encode", "decode", "xxh64", "rle_encode", "rle_decode",
                 "dbp_decode", "dbp_encode", "sbbf_insert")

    def __init__(self, dll: ctypes.CDLL):
        u8p = ctypes.POINTER(ctypes.c_uint8)
        self.xxh64 = dll.xxh64_batch
        self.xxh64.restype = None
        self.xxh64.argtypes = [
            u8p, ctypes.POINTER(ctypes.c_int64), ctypes.c_long,
            ctypes.c_uint64, ctypes.POINTER(ctypes.c_uint64),
        ]
        self.rle_encode = dll.rle_encode
        self.rle_encode.restype = ctypes.c_long
        self.rle_encode.argtypes = [
            ctypes.POINTER(ctypes.c_uint64), ctypes.c_long, ctypes.c_int,
            u8p,
        ]
        self.rle_decode = dll.rle_decode
        self.rle_decode.restype = ctypes.c_long
        self.rle_decode.argtypes = [
            u8p, ctypes.c_long, ctypes.c_long, ctypes.c_int,
            ctypes.POINTER(ctypes.c_uint64),
        ]
        # the delta and bloom kernels take raw addresses
        # (ndarray.ctypes.data): a page calls them once or twice, so the
        # per-call pointer wrapping is the cost worth skipping
        vp = ctypes.c_void_p
        self.dbp_decode = dll.dbp_decode
        self.dbp_decode.restype = ctypes.c_long
        self.dbp_decode.argtypes = [
            vp, ctypes.c_long, ctypes.c_long, ctypes.c_long, ctypes.c_long,
            ctypes.c_long, ctypes.c_uint64, ctypes.c_int, vp,
        ]
        self.dbp_encode = dll.dbp_encode
        self.dbp_encode.restype = ctypes.c_long
        self.dbp_encode.argtypes = [vp, ctypes.c_long, ctypes.c_int, vp]
        self.sbbf_insert = dll.sbbf_insert
        self.sbbf_insert.restype = None
        self.sbbf_insert.argtypes = [vp, ctypes.c_long, vp, ctypes.c_long]
        self.encode = dll.fsst_encode
        self.encode.restype = ctypes.c_long
        self.encode.argtypes = [
            u8p, ctypes.c_long,
            ctypes.POINTER(ctypes.c_uint64), u8p,
            ctypes.POINTER(ctypes.c_int32), ctypes.POINTER(ctypes.c_int32),
            ctypes.POINTER(ctypes.c_int16), u8p,
        ]
        self.decode = dll.fsst_decode
        self.decode.restype = ctypes.c_long
        self.decode.argtypes = [
            u8p, ctypes.c_long,
            ctypes.POINTER(ctypes.c_uint64), u8p, ctypes.c_long,
            u8p, ctypes.c_long,
        ]


def _build(cc: str, cache_dir: str, so_path: str) -> None:
    os.makedirs(cache_dir, exist_ok=True)
    src = os.path.join(cache_dir, "fsst.c")
    with open(src, "w") as f:
        f.write(_C_SOURCE)
    fd, tmp_so = tempfile.mkstemp(dir=cache_dir, suffix=".so")
    os.close(fd)
    try:
        subprocess.run(
            [cc, "-O3", "-fPIC", "-shared", "-o", tmp_so, src],
            check=True, capture_output=True, timeout=120,
        )
        os.replace(tmp_so, so_path)  # atomic: concurrent workers race safely
    finally:
        if os.path.exists(tmp_so):
            os.unlink(tmp_so)


def _cache_dir(digest: str) -> str | None:
    """Per-user 0o700 cache dir for the compiled kernels. The path
    embeds the uid and the dir must be OWNED by this user: a
    deterministic world-visible path under /tmp would let any other
    local user pre-create it and plant a malicious fsst.so that we then
    ctypes.CDLL — arbitrary code execution. A dir we don't own (or
    can't verify) means "no native kernels", never "trust it"."""
    uid = os.getuid() if hasattr(os, "getuid") else 0
    base = os.environ.get("XDG_CACHE_HOME") or tempfile.gettempdir()
    d = os.path.join(base, f"colcodec-native-{uid}-{digest}")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.stat(d)
        if hasattr(os, "getuid") and st.st_uid != uid:
            return None
        os.chmod(d, 0o700)  # exist_ok keeps a prior mode — force ours
    except OSError:
        return None
    return d


def load() -> _Lib | None:
    """Compile (once per host, cached by source hash) and bind the kernels.

    Returns None — meaning "use the numpy path" — when disabled via
    SPARK_COLCODEC_NATIVE=0, on big-endian hosts (the kernels assume the
    table's little-endian uint64 key packing matches memory order), or
    when no working C compiler is available or the .so does not load. A
    binding error (a symbol `_Lib` names that the library lacks) is a
    bug, not a host property: it raises.
    """
    if os.environ.get("SPARK_COLCODEC_NATIVE", "1") == "0":
        return None
    if sys.byteorder != "little":
        return None
    digest = hashlib.sha256(_C_SOURCE.encode()).hexdigest()[:16]
    cache_dir = _cache_dir(digest)
    if cache_dir is None:
        return None
    so_path = os.path.join(cache_dir, "fsst.so")
    try:
        if not os.path.exists(so_path):
            cc = next(
                (c for c in ("cc", "gcc", "clang") if shutil.which(c)), None
            )
            if cc is None:
                return None
            _build(cc, cache_dir, so_path)
        if hasattr(os, "getuid") and os.stat(so_path).st_uid != os.getuid():
            return None  # not our artifact — refuse to load it
        dll = ctypes.CDLL(so_path)
    except (OSError, subprocess.SubprocessError):
        return None  # no/broken compiler, or an unloadable .so
    return _Lib(dll)
