"""DELTA_BINARY_PACKED (5), DELTA_LENGTH_BYTE_ARRAY (6), DELTA_BYTE_ARRAY (7).

Format semantics from /root/reference/encoding/delta/:
  binary_packed.go:169-229 — header (uvarint blockSize=128, numMiniBlocks=4,
    totalValues, zigzag-varint firstValue); per block: zigzag-varint
    minDelta, numMiniBlocks width bytes, then miniblocks of 32 values
    bit-packed LSB-first at their own width. Deltas use wrap-around
    arithmetic at the kind's width (int64Tests :142-151 pin the
    MinInt64↔MaxInt64 overflow-wrap case). Trailing padding must not
    corrupt minDelta (blockClear :183-190) — we pad the *adjusted*
    deltas with zeros instead.
  length_byte_array.go:20-63 — lengths via DELTA_BINARY_PACKED(int32),
    then raw concatenated value bytes.
  byte_array.go:15-126 — per value, shared-prefix length vs previous
    value; emit DBP(prefix lengths) ‖ DBP(suffix lengths) ‖ suffix bytes.

Vectorization notes:
  - encode runs compiled when _native.py loads (`dbp_encode`: deltas,
    min delta, widths and LSB-first packing, block by block; Python
    writes the stream header). The numpy encoder below stays the
    byte-identical reference and runs when the kernel is missing: it
    packs all miniblocks of equal bit-width in one shot (pack_le_rows),
    and assembles the blocks with no per-block Python.
  - decode gathers all equal-width miniblock byte spans with one fancy
    index and unpacks them together; prefix-sum restores values with
    uint wrap-around (modular cumsum).
  - DELTA_BYTE_ARRAY decode avoids the sequential prev-value chain with
    a per-prefix-byte-column forward-fill (np.maximum.accumulate), so
    the whole reconstruction is O(max_prefix) vectorized passes.
  - DELTA_BINARY_PACKED decode runs compiled when _native.py loads
    (`dbp_decode`: the block walk, unpack and prefix-sum in one pass);
    the numpy code above stays the reference and takes over whenever
    the kernel returns -1.
"""

from __future__ import annotations

import numpy as np

from . import _native
from .bitpack import bit_length_u64, pack_le_rows, unpack_le_rows
from .bytearrays import ByteArrays
from .varint import (
    read_uvarint,
    read_zigzag_varint,
    write_uvarint,
    write_zigzag_varint,
)

BLOCK = 128
MINIBLOCKS = 4
MB = BLOCK // MINIBLOCKS  # 32 values per miniblock

#: compiled block walk (_native.py); None → the numpy code below, which
#: stays the reference and the fallback whenever the kernel returns -1
#: on input it cannot vouch for
_NATIVE = _native.load()
# the kernel fills an n-value array before it can see that the stream
# lies about n: take it only while n is within what the bytes left can
# hold (128 values a byte; the default 128/4 layout packs at most 25.6)
# and the block size keeps its counters far from overflow
_MAX_VALUES_PER_BYTE = 128
_MAX_NATIVE_BLOCK = 1 << 32
_MASK64 = (1 << 64) - 1
# an encoded block: a 10-byte min-delta varint, the 4 widths, and at
# most 4 miniblocks of 32 values at 64 bits
_MAX_BLOCK_BYTES = 14 + 1024


def _types(bits: int):
    if bits == 32:
        return np.uint32, np.int32
    return np.uint64, np.int64


def encode_binary_packed(values: np.ndarray, bits: int) -> bytes:
    """values: int32/int64 ndarray; bits: 32 or 64 (wrap width)."""
    U, S = _types(bits)
    n = len(values)
    out = bytearray()
    write_uvarint(out, BLOCK)
    write_uvarint(out, MINIBLOCKS)
    write_uvarint(out, n)
    first = int(values[0]) if n else 0
    write_zigzag_varint(out, first)
    if n <= 1:
        return bytes(out)
    v = np.ascontiguousarray(values, dtype=S)
    if _NATIVE is not None:
        body = np.empty(-(-(n - 1) // BLOCK) * _MAX_BLOCK_BYTES, np.uint8)
        size = _NATIVE.dbp_encode(v.ctypes.data, n, bits, body.ctypes.data)
        return bytes(out) + body[:size].tobytes()
    u = v.view(U)
    deltas = u[1:] - u[:-1]  # modular wrap at the kind's width
    nd = n - 1
    nblocks = -(-nd // BLOCK)
    padded = np.zeros(nblocks * BLOCK, dtype=U)
    padded[:nd] = deltas
    blocks = padded.reshape(nblocks, BLOCK)
    sblocks = blocks.view(S)
    mins = sblocks.min(axis=1)
    last_real = nd - (nblocks - 1) * BLOCK
    if last_real < BLOCK:
        mins[-1] = sblocks[-1, :last_real].min()
    adjusted = blocks - mins.view(U)[:, None]  # modular; result < 2**bits
    adjusted.reshape(-1)[nd:] = 0  # padding must not inflate widths
    mb = adjusted.reshape(nblocks * MINIBLOCKS, MB).astype(np.uint64)
    mx = mb.max(axis=1)
    widths = np.where(mx > 0, bit_length_u64(mx), 0).astype(np.uint8)
    # pack all miniblocks of the same width together
    packed: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for w in np.unique(widths).tolist():
        if w == 0:
            continue
        idx = np.flatnonzero(widths == w)
        packed[w] = (idx, pack_le_rows(mb[idx], int(w)))

    # --- vectorized stream assembly (no per-block Python) ---
    # zigzag-varint bytes for all block mins at once
    m64 = mins.astype(np.int64)
    zz = ((m64 << np.int64(1)) ^ (m64 >> np.int64(63))).astype(np.uint64)
    nb_var = np.maximum((bit_length_u64(zz) + 6) // 7, 1).astype(np.int64)
    max_b = int(nb_var.max())
    var_cols = np.zeros((max_b, nblocks), dtype=np.uint8)
    tmp = zz.copy()
    for j in range(max_b):  # ≤10 iterations over small per-block arrays
        var_cols[j] = (tmp & np.uint64(0x7F)).astype(np.uint8)
        tmp >>= np.uint64(7)
        var_cols[j] |= np.where(j + 1 < nb_var, 0x80, 0).astype(np.uint8)

    mb_lens = widths.astype(np.int64) * (MB // 8)  # payload bytes per mini
    mb_lens_2d = mb_lens.reshape(nblocks, MINIBLOCKS)
    block_payload = mb_lens_2d.sum(axis=1)
    block_len = nb_var + MINIBLOCKS + block_payload
    block_off = np.zeros(nblocks, dtype=np.int64)
    np.cumsum(block_len[:-1], out=block_off[1:])
    body = np.zeros(int(block_len.sum()), dtype=np.uint8)
    for j in range(max_b):  # varint scatter, column-wise
        mask = nb_var > j
        body[block_off[mask] + j] = var_cols[j][mask]
    woff = block_off + nb_var
    widths_2d = widths.reshape(nblocks, MINIBLOCKS)
    for j in range(MINIBLOCKS):
        body[woff + j] = widths_2d[:, j]
    # per-miniblock payload destinations (exclusive prefix within block)
    mb_dst = np.zeros((nblocks, MINIBLOCKS), dtype=np.int64)
    np.cumsum(mb_lens_2d[:, :-1], axis=1, out=mb_dst[:, 1:])
    mb_dst += (woff + MINIBLOCKS)[:, None]
    flat_dst = mb_dst.reshape(-1)
    for w, (idx, rows) in packed.items():
        span = rows.shape[1]
        dst = flat_dst[idx][:, None] + np.arange(span, dtype=np.int64)
        body[dst] = rows
    return bytes(out) + body.tobytes()


def decode_binary_packed(buf, bits: int) -> tuple[np.ndarray, int]:
    """Returns (values, bytes_consumed). Self-delimiting stream."""
    U, S = _types(bits)
    mv = buf if isinstance(buf, (bytes, bytearray)) else memoryview(buf)
    pos = 0
    block_size, pos = read_uvarint(mv, pos)
    nmini, pos = read_uvarint(mv, pos)
    if block_size % 128 != 0 or nmini == 0 or block_size % nmini != 0:
        raise ValueError(f"bad DELTA_BINARY_PACKED header: {block_size}/{nmini}")
    mb_size = block_size // nmini
    n, pos = read_uvarint(mv, pos)
    first, pos = read_zigzag_varint(mv, pos)
    if n == 0:
        return np.empty(0, dtype=S), pos
    if n == 1:
        return np.array([first], dtype=np.int64).astype(S), pos
    nd = n - 1
    arr = np.frombuffer(mv, dtype=np.uint8)
    if (_NATIVE is not None and 0 < block_size <= _MAX_NATIVE_BLOCK
            and nd <= (len(arr) - pos) * _MAX_VALUES_PER_BYTE):
        values = np.empty(n, dtype=U)
        consumed = _NATIVE.dbp_decode(
            arr.ctypes.data, len(arr), pos, n, block_size, nmini,
            first & _MASK64, bits, values.ctypes.data)
        if consumed >= 0:
            return values.view(S), consumed
    # first pass: walk headers, record miniblock (offset, width) + block mins
    mins: list[int] = []
    mb_offsets: list[int] = []
    mb_widths: list[int] = []
    got = 0
    while got < nd:
        mn, pos = read_zigzag_varint(mv, pos)
        mins.append(mn)
        widths = bytes(mv[pos : pos + nmini])
        pos += nmini
        for j in range(nmini):
            # miniblocks past the last delta carry NO payload regardless
            # of their declared width — parquet-format says readers must
            # ignore the widths of unused trailing miniblocks (parquet-mr
            # writes arbitrary widths there); a used-but-partial final
            # miniblock IS padded to full length by writers
            w = widths[j] if got + j * mb_size < nd else 0
            if w > 64:
                raise ValueError(
                    f"DELTA_BINARY_PACKED miniblock width {w} > 64")
            mb_offsets.append(pos)
            mb_widths.append(w)
            pos += (mb_size * w) // 8
        got += block_size
    consumed = pos
    nmb = len(mb_widths)
    widths_a = np.asarray(mb_widths, dtype=np.int64)
    offsets_a = np.asarray(mb_offsets, dtype=np.int64)
    adjusted = np.zeros((nmb, mb_size), dtype=np.uint64)
    for w in np.unique(widths_a).tolist():
        if w == 0:
            continue
        idx = np.flatnonzero(widths_a == w)
        span = (mb_size * w) // 8
        gather = offsets_a[idx][:, None] + np.arange(span, dtype=np.int64)
        bytemat = arr[gather]
        adjusted[idx] = unpack_le_rows(bytemat, mb_size, int(w))
    nblocks = len(mins)
    mins_a = np.asarray(mins, dtype=np.int64).astype(np.uint64)
    deltas = adjusted.reshape(nblocks, block_size) + mins_a[:, None]
    deltas = deltas.reshape(-1)[:nd].astype(U)  # wrap to kind width
    values = np.empty(n, dtype=U)
    values[0] = np.uint64(first & ((1 << bits) - 1)).astype(U)
    values[1:] = values[0] + np.cumsum(deltas, dtype=U)  # modular prefix sum
    return values.view(S), consumed


def encode_length_byte_array(values: ByteArrays) -> bytes:
    lengths = values.lengths.astype(np.int32)
    head = encode_binary_packed(lengths, 32)
    return head + values.data[: values.offsets[-1]].tobytes()


def decode_length_byte_array(buf, n: int) -> ByteArrays:
    lengths, consumed = decode_binary_packed(buf, 32)
    lengths = lengths[:n].astype(np.int64)
    if (lengths < 0).any():
        raise ValueError("DELTA_LENGTH_BYTE_ARRAY: negative length")
    offsets = np.zeros(n + 1, dtype=np.int64)
    offsets[1:] = np.cumsum(lengths)
    total = int(offsets[-1])
    data = np.frombuffer(buf, dtype=np.uint8, count=consumed + total)[consumed:]
    return ByteArrays(data.copy(), offsets)


# -- DELTA_BYTE_ARRAY ---------------------------------------------------

MAX_PREFIX = 64  # vectorized prefix window; cf. byte_array.go:12 (linear cap)


def _prefix_lengths(values: ByteArrays, cap: int = MAX_PREFIX) -> np.ndarray:
    """Shared-prefix length of value i vs value i-1 (first value: 0),
    capped at `cap` bytes — affects compression only, never correctness."""
    n = len(values)
    pref = np.zeros(n, dtype=np.int64)
    if n <= 1:
        return pref
    lengths = values.lengths
    k = np.minimum(lengths, cap)
    maxk = int(k.max()) if n else 0
    if maxk == 0:
        return pref
    # matrix of the first k bytes of each value, padded with -1
    M = np.full((n, maxk), -1, dtype=np.int16)
    total_k = int(k.sum())
    rows = np.repeat(np.arange(n, dtype=np.int64), k)
    csum = np.cumsum(k) - k
    cols = np.arange(total_k, dtype=np.int64) - np.repeat(csum, k)
    src = np.repeat(values.offsets[:-1], k) + cols
    M[rows, cols] = values.data[src]
    eq = M[1:] == M[:-1]
    # leading-True count per row: first False position (or maxk)
    neq = ~eq
    first_neq = np.where(neq.any(axis=1), neq.argmax(axis=1), maxk)
    pref[1:] = np.minimum(first_neq, np.minimum(lengths[1:], lengths[:-1]))
    return pref


def encode_byte_array(values: ByteArrays) -> bytes:
    n = len(values)
    lengths = values.lengths
    pref = _prefix_lengths(values)
    suf_len = lengths - pref
    # gather suffix bytes
    total_suf = int(suf_len.sum())
    if total_suf:
        suf_start = values.offsets[:-1] + pref
        csum = np.cumsum(suf_len) - suf_len
        within = np.arange(total_suf, dtype=np.int64) - np.repeat(csum, suf_len)
        src = np.repeat(suf_start, suf_len) + within
        suffix_data = values.data[src]
    else:
        suffix_data = np.empty(0, dtype=np.uint8)
    out = bytearray()
    out += encode_binary_packed(pref.astype(np.int32), 32)
    out += encode_binary_packed(suf_len.astype(np.int32), 32)
    out += suffix_data.tobytes()
    return bytes(out)


def decode_byte_array(buf, n: int) -> ByteArrays:
    pref, c1 = decode_binary_packed(buf, 32)
    rest = buf[c1:]
    suf_len, c2 = decode_binary_packed(rest, 32)
    pref = pref[:n].astype(np.int64)
    suf_len = suf_len[:n].astype(np.int64)
    lengths = pref + suf_len
    if (pref < 0).any() or (suf_len < 0).any() or (
            n and (pref[0] or (pref[1:] > lengths[:-1]).any())):
        raise ValueError(
            "DELTA_BYTE_ARRAY: negative length, or a prefix longer than "
            "the previous value")
    offsets = np.zeros(n + 1, dtype=np.int64)
    offsets[1:] = np.cumsum(lengths)
    total = int(offsets[-1])
    total_suf = int(suf_len.sum())
    suffix_data = np.frombuffer(rest, dtype=np.uint8, count=c2 + total_suf)[c2:]
    out = np.empty(total, dtype=np.uint8)
    # place suffixes
    if total_suf:
        out_suf_start = offsets[:-1] + pref
        csum = np.cumsum(suf_len) - suf_len
        within = np.arange(total_suf, dtype=np.int64) - np.repeat(csum, suf_len)
        dst = np.repeat(out_suf_start, suf_len) + within
        out[dst] = suffix_data
    # resolve prefixes: for each prefix byte-column j, byte j of value i
    # comes from the nearest k<=i with pref[k] <= j, at suffix position
    # j - pref[k]. Forward-fill via maximum.accumulate — O(max_prefix)
    # vectorized passes instead of a per-value chain.
    maxp = int(pref.max()) if n else 0
    if maxp:
        suf_start_flat = np.cumsum(suf_len) - suf_len  # into suffix_data
        idx = np.arange(n, dtype=np.int64)
        for j in range(maxp):
            need = pref > j
            if not need.any():
                continue
            cand = np.where(pref <= j, idx, -1)
            src_val = np.maximum.accumulate(cand)
            rows = np.flatnonzero(need)
            s = src_val[rows]
            out[offsets[rows] + j] = suffix_data[suf_start_flat[s] + j - pref[s]]
    return ByteArrays(out, offsets)
