"""The compiled DELTA_BINARY_PACKED block walk against its numpy
reference: equal values and equal `consumed` on good streams, the same
exception on bad ones — directly, and under DELTA_BYTE_ARRAY, whose
prefix and suffix-length streams it decodes. The compiled encoder
against the numpy one and a value-by-value Python build of the stream,
byte for byte. Also the Arrow dictionary gather's bounds check."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_go_spark.codecs import delta, dictionary
from parquet_go_spark.codecs.bitpack import pack_le
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.varint import write_uvarint, write_zigzag_varint

native_only = pytest.mark.skipif(
    delta._NATIVE is None, reason="no C toolchain on this host")

SET = settings(max_examples=80, deadline=None)
I64 = np.iinfo(np.int64)


def _run(fn):
    try:
        return fn(), None
    except Exception as e:  # noqa: BLE001 — behavior capture
        return None, type(e).__name__


class _Spy:
    """The kernel, recording what each call returned."""

    def __init__(self, lib):
        self.lib, self.rcs = lib, []

    def dbp_decode(self, *args):
        self.rcs.append(self.lib.dbp_decode(*args))
        return self.rcs[-1]

    def dbp_encode(self, *args):
        self.rcs.append(self.lib.dbp_encode(*args))
        return self.rcs[-1]


def _both(fn):
    """(native result, numpy result, error name); asserts both paths
    fail alike, and that the kernel decoded every good stream itself
    (no silent fallback)."""
    saved = delta._NATIVE
    spy = delta._NATIVE = _Spy(saved)
    try:
        a, aerr = _run(fn)
        delta._NATIVE = None
        b, berr = _run(fn)
    finally:
        delta._NATIVE = saved
    assert aerr == berr, (aerr, berr)
    if aerr is None:
        assert all(rc >= 0 for rc in spy.rcs), spy.rcs
    return a, b, aerr


def _dbp_same(buf, bits):
    a, b, err = _both(lambda: delta.decode_binary_packed(buf, bits))
    assert err is None, err
    (va, ca), (vb, cb) = a, b
    assert va.dtype == vb.dtype
    assert np.array_equal(va, vb)
    assert ca == cb
    return va, ca


def _dbp_stream(values, bits, block=128, nmini=4, unused_width=0):
    """A DELTA_BINARY_PACKED stream built value by value with Python
    ints: any block layout, and `unused_width` declared (with no
    payload) for every miniblock past the last delta."""
    mod = 1 << bits

    def signed(x):
        x %= mod
        return x - mod if x >= mod // 2 else x

    vals = [int(v) for v in values]
    out = bytearray()
    for h in (block, nmini, len(vals)):
        write_uvarint(out, h)
    write_zigzag_varint(out, vals[0] if vals else 0)
    deltas = [signed(b - a) for a, b in zip(vals, vals[1:])]
    mb = block // nmini
    for s in range(0, len(deltas), block):
        blk = deltas[s:s + block]
        mn = min(blk)
        write_zigzag_varint(out, mn)
        adj = [(d - mn) % mod for d in blk]
        widths, payload = [], b""
        for j in range(nmini):
            part = adj[j * mb:(j + 1) * mb]
            if not part:
                widths.append(unused_width)
                continue
            part += [0] * (mb - len(part))
            w = max(part).bit_length()
            widths.append(w)
            if w:
                payload += pack_le(np.array(part, dtype=np.uint64), w)
        out += bytes(widths) + payload
    return bytes(out)


@native_only
@SET
@given(st.lists(st.integers(-2**31, 2**31 - 1), max_size=700),
       st.binary(max_size=8))
def test_dbp_int32_native_matches_numpy(xs, tail):
    v = np.array(xs, dtype=np.int32)
    buf = delta.encode_binary_packed(v, 32)
    got, consumed = _dbp_same(buf + tail, 32)
    assert np.array_equal(got, v)
    assert consumed == len(buf)


@native_only
@SET
@given(st.lists(st.integers(I64.min, I64.max), max_size=700),
       st.binary(max_size=8))
def test_dbp_int64_native_matches_numpy(xs, tail):
    v = np.array(xs, dtype=np.int64)
    buf = delta.encode_binary_packed(v, 64)
    got, consumed = _dbp_same(buf + tail, 64)
    assert np.array_equal(got, v)
    assert consumed == len(buf)


@native_only
@pytest.mark.parametrize("n", [0, 1, 2, 33, 1000])
@pytest.mark.parametrize("block,nmini", [(128, 4), (256, 8), (256, 4),
                                         (128, 1)])
@pytest.mark.parametrize("unused_width", [0, 7, 200])
def test_dbp_crafted_layouts(n, block, nmini, unused_width):
    """Block 256 with 8 miniblocks, and garbage widths in unused trailing
    miniblocks as parquet-mr writes them: readers ignore those widths
    and read no payload for them."""
    rng = np.random.default_rng(n + block + nmini)
    for bits, dt in ((32, np.int32), (64, np.int64)):
        v = np.cumsum(rng.integers(-50, 5000, n)).astype(dt)
        buf = _dbp_stream(v, bits, block, nmini, unused_width)
        got, consumed = _dbp_same(buf + b"\x99" * 4, bits)
        assert np.array_equal(got, v)
        assert consumed == len(buf)


@native_only
def test_dbp_width64_wraps():
    """MinInt64 <-> MaxInt64 deltas need all 64 bits and wrap."""
    v = np.array([I64.min, I64.max, I64.min, 0, I64.max, -1, I64.min] * 9,
                 dtype=np.int64)
    for buf in (_dbp_stream(v, 64), delta.encode_binary_packed(v, 64)):
        got, consumed = _dbp_same(buf, 64)
        assert np.array_equal(got, v)
        assert consumed == len(buf)
    v32 = np.array([-2**31, 2**31 - 1, -2**31, 0] * 20, dtype=np.int32)
    got, _ = _dbp_same(_dbp_stream(v32, 32), 32)
    assert np.array_equal(got, v32)


def _enc_same(values, bits):
    """Encode on both paths: the same bytes, equal to the value-by-value
    build, decoding back to the values cast to the kind."""
    want = _dbp_stream(values, bits)
    if delta._NATIVE is None:  # a host without cc: the numpy path alone
        assert delta.encode_binary_packed(values, bits) == want
        return
    a, b, err = _both(lambda: delta.encode_binary_packed(values, bits))
    assert err is None, err
    assert a == b == want
    S = np.int32 if bits == 32 else np.int64
    got, consumed = _dbp_same(a, bits)
    assert np.array_equal(got, np.asarray(values).astype(S))
    assert consumed == len(a)


@SET
@given(st.lists(st.integers(-2**31, 2**31 - 1), max_size=700))
def test_dbp_encode_int32_matches(xs):
    _enc_same(np.array(xs, dtype=np.int32), 32)


@SET
@given(st.lists(st.integers(I64.min, I64.max), max_size=700))
def test_dbp_encode_int64_matches(xs):
    _enc_same(np.array(xs, dtype=np.int64), 64)


@pytest.mark.parametrize("n", [0, 1, 2, 33, 128, 129, 8192])
def test_dbp_encode_shapes(n):
    """Random, sorted and constant runs (width 0 everywhere), and the
    MinInt<->MaxInt alternation whose deltas need all 32 or 64 bits and
    wrap, at both widths."""
    rng = np.random.default_rng(n)
    for bits, dt in ((32, np.int32), (64, np.int64)):
        info = np.iinfo(dt)
        rand = rng.integers(info.min, info.max, n, dtype=dt, endpoint=True)
        for v in (rand, np.sort(rand), np.full(n, -7, dt),
                  np.resize(np.array([info.min, info.max], dt), n),
                  np.cumsum(rng.integers(-50, 5000, n)).astype(dt)):
            _enc_same(v, bits)


def test_dbp_encode_int64_input_bits32():
    """int64 values at bits=32 are cast to int32 first, as numpy does:
    the deltas wrap at 32 bits."""
    rng = np.random.default_rng(5)
    v = rng.integers(-2**40, 2**40, 300, dtype=np.int64)
    _enc_same(v, 32)
    _enc_same(np.arange(-2**33, -2**33 + 200, dtype=np.int64), 32)


@native_only
def test_dbp_encode_kernel_ran():
    """A spy: every stream of n >= 2 goes through the kernel, and the
    streams under DELTA_LENGTH_BYTE_ARRAY and DELTA_BYTE_ARRAY do too."""
    saved = delta._NATIVE
    spy = delta._NATIVE = _Spy(saved)
    try:
        v = np.arange(1000, dtype=np.int64) * 3
        buf = delta.encode_binary_packed(v, 64)
        delta.encode_binary_packed(v[:1], 64)  # the header alone
        assert len(spy.rcs) == 1 and 0 < spy.rcs[0] < len(buf)
        vals = ByteArrays.from_pylist(_long_prefix_paths())
        delta.encode_length_byte_array(vals)
        delta.encode_byte_array(vals)
    finally:
        delta._NATIVE = saved
    assert len(spy.rcs) == 4 and all(rc > 0 for rc in spy.rcs)


def _raises_alike(buf, bits=64):
    _, _, err = _both(lambda: delta.decode_binary_packed(buf, bits))
    assert err is not None


@native_only
def test_dbp_truncated_payload_raises():
    v = np.cumsum(np.random.default_rng(3).integers(0, 10**9, 500))
    buf = delta.encode_binary_packed(v.astype(np.int64), 64)
    for cut in (len(buf) - 1, len(buf) - 40, len(buf) // 2, 8):
        _raises_alike(buf[:cut])


@native_only
def test_dbp_overlong_varint_raises():
    head = bytearray()
    for h in (128, 4, 10):
        write_uvarint(head, h)
    write_zigzag_varint(head, 5)
    # the first block's min delta: a varint that never ends in 12 bytes
    _raises_alike(bytes(head) + b"\xff" * 12 + b"\x00" * 64)
    # ... and one that carries bits past 2^64
    _raises_alike(bytes(head) + b"\xff" * 9 + b"\x7f" + b"\x00" * 64)


@native_only
def test_dbp_width_over_64_raises():
    v = np.arange(40, dtype=np.int64) * 3
    buf = bytearray(_dbp_stream(v, 64))
    # the stream header, then the 1-byte min delta, then the 4 widths
    widths_at = len(_dbp_stream(v[:1], 64)) + 1
    assert buf[widths_at:widths_at + 4] == bytes(4)
    buf[widths_at] = 65
    _raises_alike(bytes(buf) + b"\x00" * 600)


def _long_prefix_paths():
    rng = np.random.default_rng(11)
    root = "/workspace/" + "very_long_directory_name/" * 5  # 136 bytes
    return sorted(
        f"{root}pkg{rng.integers(0, 9)}/module_{rng.integers(0, 40):02d}/"
        f"file_{i}.py" for i in range(600))


def _dba_stream(strs, pref=None):
    """DELTA_BYTE_ARRAY with the full shared prefix (no 64-byte cap), or
    with the given prefix lengths."""
    bs = [s.encode() for s in strs]
    if pref is None:
        pref = [0]
        for a, b in zip(bs, bs[1:]):
            k = 0
            while k < min(len(a), len(b)) and a[k] == b[k]:
                k += 1
            pref.append(k)
    suf = [b[p:] for b, p in zip(bs, pref)]
    return (delta.encode_binary_packed(np.array(pref, np.int32), 32)
            + delta.encode_binary_packed(
                np.array([len(s) for s in suf], np.int32), 32)
            + b"".join(suf)), max(pref)


@native_only
def test_dba_long_shared_prefixes():
    paths = _long_prefix_paths()
    buf, maxp = _dba_stream(paths)
    assert maxp > 64
    a, b, err = _both(lambda: delta.decode_byte_array(buf, len(paths)))
    assert err is None
    want = ByteArrays.from_pylist(paths)
    assert a == want and b == want
    # the encoder's own (64-byte capped) stream decodes alike too
    enc = delta.encode_byte_array(want)
    a, b, err = _both(lambda: delta.decode_byte_array(enc, len(paths)))
    assert err is None and a == want and b == want


@native_only
@pytest.mark.parametrize("pref", [[0, 4, 9], [3, 0, 0], [0, -1, 2]])
def test_dba_bad_prefix_raises(pref):
    """A prefix longer than the previous value (or a negative one)
    raises on both paths — never decodes garbage."""
    buf, _ = _dba_stream(["abcd", "abcdef", "abcdefgh"], pref=pref)
    _, _, err = _both(lambda: delta.decode_byte_array(buf, 3))
    assert err is not None


@native_only
def test_dba_lengths_overrun_raises():
    """A negative suffix length after a long one: the running sums pass
    both buffers' ends before the total comes back in range."""
    buf = (delta.encode_binary_packed(np.zeros(2, np.int32), 32)
           + delta.encode_binary_packed(np.array([100, -90], np.int32), 32)
           + b"x" * 10)
    _, _, err = _both(lambda: delta.decode_byte_array(buf, 2))
    assert err is not None


def test_lookup_byte_array_bad_offsets_raise():
    """Uniques whose offsets descend or run past the data raise before
    take, which trusts them, can read out of bounds."""
    data = np.frombuffer(b"x" * 10, np.uint8)
    for offs in ([0, 100, 10], [0, 5, 11], [-4, 2, 6]):
        with pytest.raises(ValueError, match="offsets"):
            dictionary.lookup_byte_array(
                ByteArrays(data, np.array(offs, np.int64)),
                np.array([0, 1], np.int32))


def test_lookup_byte_array_bounds():
    uniques = ByteArrays.from_pylist([b"a", b"bb", b""])
    got = dictionary.lookup_byte_array(
        uniques, np.array([2, 1, 0, 1], dtype=np.int32))
    assert got.to_pylist() == [b"", b"bb", b"a", b"bb"]
    for bad in ([3], [-1], [0, 2**31 - 1]):
        with pytest.raises(IndexError):
            dictionary.lookup_byte_array(uniques, np.array(bad, np.int32))
    with pytest.raises(IndexError):
        dictionary.lookup_byte_array(ByteArrays.from_pylist([]),
                                     np.zeros(1, np.int32))
