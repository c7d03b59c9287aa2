"""FSST round-trip + ratio tests (paper-derived extension codec)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_go_spark.codecs import fsst, plain
from parquet_go_spark.codecs.bytearrays import ByteArrays

VECTORS = [
    [],
    [b""],
    [b"a"],
    [b"hello world", b"", b"hello hello hello"],
    [b"\xff"],  # escape byte as data
    [b"\xff" * 9, b"x\xffy"],  # runs of escape bytes
    [b"abc" * 100] * 5,
    [bytes(range(256))],
    [b"def foo():\n    return bar\n", b"def baz():\n    return qux\n"] * 50,
]


@pytest.mark.parametrize("vec", VECTORS)
def test_fsst_roundtrip(vec):
    ba = ByteArrays.from_pylist(vec)
    blob = fsst.encode_byte_array(ba)
    assert fsst.decode_byte_array(blob).to_pylist() == vec


@settings(max_examples=50, deadline=None)
@given(st.lists(st.binary(max_size=60), max_size=120))
def test_fsst_fuzz(vals):
    ba = ByteArrays.from_pylist(vals)
    blob = fsst.encode_byte_array(ba)
    assert fsst.decode_byte_array(blob).to_pylist() == vals


def test_fsst_compresses_source_code():
    rng = np.random.default_rng(7)
    kw = ["def ", "return ", "import ", "for i in range(", "    ", "self.",
          "value", " = ", "# note\n", "):\n", "class ", "print("]
    lines = [("".join(rng.choice(kw, 8)) + f"v{i % 53}\n").encode() for i in range(3000)]
    ba = ByteArrays.from_pylist(lines)
    blob = fsst.encode_byte_array(ba)
    plain_size = len(plain.encode_byte_array(ba))
    assert len(blob) < plain_size / 2  # ≥2x on code-like text
    assert fsst.decode_byte_array(blob) == ba


def test_fsst_deterministic():
    vals = [f"path/to/file_{i % 17}.py".encode() for i in range(500)]
    ba = ByteArrays.from_pylist(vals)
    assert fsst.encode_byte_array(ba) == fsst.encode_byte_array(ba)


def test_fsst_table_serialization_roundtrip():
    data = np.frombuffer(b"the quick brown fox jumps over the lazy dog " * 50, dtype=np.uint8)
    table = fsst.train(data)
    blob = table.serialize()
    back, consumed = fsst.FsstTable.deserialize(blob, 0)
    assert consumed == len(blob)
    assert np.array_equal(back.lengths, table.lengths)
    assert np.array_equal(back.keys, table.keys)


# ---- native (compiled) kernel vs numpy reference path ----------------
# The C greedy longest-match parse and the numpy pair-merge parse emit
# different (both valid) streams for the same table; each must decode
# the other's output, fall back cleanly, and reject malformed input.

needs_native = pytest.mark.skipif(
    fsst._NATIVE is None, reason="no C toolchain on this host"
)


def _code_corpus(n=300):
    return ByteArrays.from_pylist(
        [
            f"def fn_{i % 13}(x):\n    return x + {i % 7}  # comment\n".encode()
            for i in range(n)
        ]
    )


@needs_native
def test_native_cross_path_roundtrip(monkeypatch):
    ba = _code_corpus()
    data = ba.data[: ba.offsets[-1]]
    table = fsst.train(data)
    enc_native = fsst._encode_block(data, table)
    monkeypatch.setattr(fsst, "_NATIVE", None)
    enc_numpy = fsst._encode_block(data, table)
    # numpy decodes the native stream
    out = fsst.decode_stream(
        np.frombuffer(enc_native, np.uint8), table, len(data)
    )
    assert np.array_equal(out, data)
    monkeypatch.undo()
    # native decodes the numpy stream
    out = fsst.decode_stream(
        np.frombuffer(enc_numpy, np.uint8), table, len(data)
    )
    assert np.array_equal(out, data)
    # greedy longest-match must not lose ratio vs the pair-merge parse
    assert len(enc_native) <= len(enc_numpy) * 1.02


@needs_native
@given(st.lists(st.binary(max_size=60), max_size=80))
def test_native_fuzz_roundtrip(vals):
    ba = ByteArrays.from_pylist(vals)
    blob = fsst.encode_byte_array(ba)
    assert fsst.decode_byte_array(blob).to_pylist() == vals


@needs_native
def test_native_decode_rejects_malformed():
    data = np.frombuffer(b"hello world hello world " * 40, dtype=np.uint8)
    table = fsst.train(data)
    # escape marker with no literal byte following
    with pytest.raises(ValueError):
        fsst.decode_stream(np.array([fsst.ESCAPE], np.uint8), table, 1)
    # code beyond the symbol table
    k = len(table.lengths)
    if k < fsst.ESCAPE:
        with pytest.raises(ValueError):
            fsst.decode_stream(np.array([k], np.uint8), table, 8)


def test_native_env_opt_out():
    import os
    import subprocess
    import sys

    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "from parquet_go_spark.codecs import _native; "
            "print(_native.load() is None)",
        ],
        env={**os.environ, "SPARK_COLCODEC_NATIVE": "0"},
        capture_output=True,
        text=True,
        # the checkout under test, wherever it lives
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.stdout.strip() == "True", r.stderr


def test_native_load_falls_back_on_host_faults(monkeypatch, tmp_path):
    """A broken compiler or an unloadable .so means "use numpy"."""
    import subprocess

    from parquet_go_spark.codecs import _native

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "a"))

    def broken_cc(cc, cache_dir, so_path):
        raise subprocess.CalledProcessError(1, [cc])

    monkeypatch.setattr(_native, "_build", broken_cc)
    assert _native.load() is None

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "b"))

    def garbage_so(cc, cache_dir, so_path):
        with open(so_path, "wb") as f:
            f.write(b"not an ELF object")

    monkeypatch.setattr(_native, "_build", garbage_so)
    assert _native.load() is None  # ctypes.CDLL raises OSError


@pytest.mark.skipif(fsst._NATIVE is None, reason="no C toolchain on this host")
def test_native_load_raises_on_binding_error(monkeypatch):
    """A symbol typo in _Lib is a bug, not a host without a compiler: it
    must raise rather than quietly send every kernel to numpy."""
    from parquet_go_spark.codecs import _native

    class TypoLib(_native._Lib):
        def __init__(self, dll):
            super().__init__(dll)
            self.xxh64 = dll.xxh64_batchh

    monkeypatch.setattr(_native, "_Lib", TypoLib)
    with pytest.raises(AttributeError, match="xxh64_batchh"):
        _native.load()
