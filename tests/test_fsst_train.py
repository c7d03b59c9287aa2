"""FSST training pinned against the lexsort reference it replaced.

`fsst.train` counts (len, key) candidates with one packed-uint64
np.unique per generation. The reference below is the earlier
formulation — a two-key lexsort per pool plus a lexsort+bincount merge —
kept verbatim so any drift in the chosen symbol tables (and therefore in
stored chunk bytes) shows up as a failing comparison."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_go_spark.codecs import fsst
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.sources.repogen import generate_batch


def _ref_unique_counts(lens, keys):
    if len(lens) == 0:
        return lens, keys, np.empty(0, dtype=np.int64)
    order = np.lexsort((keys, lens))
    sl, sk = lens[order], keys[order]
    new = np.ones(len(sl), dtype=bool)
    new[1:] = (sl[1:] != sl[:-1]) | (sk[1:] != sk[:-1])
    starts = np.flatnonzero(new)
    counts = np.diff(np.append(starts, len(sl)))
    return sl[starts], sk[starts], counts


def _reference_train(data, generations=fsst.GENERATIONS):
    sample = data[: fsst.SAMPLE_BYTES]
    if len(sample) == 0:
        return fsst.FsstTable(np.empty(0, np.uint8), np.empty(0, np.uint64))
    counts = np.bincount(sample, minlength=256)
    order = np.argsort(-counts, kind="stable")
    present = order[counts[order] > 0][: fsst.MAX_SYMBOLS]
    table = fsst.FsstTable(
        np.ones(len(present), dtype=np.uint8), present.astype(np.uint64)
    )
    for _ in range(generations):
        tok_key, tok_len = fsst._parse(sample, table, fsst.TRAIN_PARSE_PASSES)
        t_l, t_k, t_c = _ref_unique_counts(tok_len, tok_key)
        cand_l, cand_k, cand_c = [t_l], [t_k], [t_c]
        if len(tok_key) > 1:
            ll = tok_len[:-1].astype(np.uint64)
            pair_len = tok_len[:-1] + tok_len[1:]
            shift = np.minimum(ll << np.uint64(3), np.uint64(56))
            pair_key = tok_key[:-1] | (tok_key[1:] << shift)
            fits = pair_len <= fsst.MAX_LEN
            p_l, p_k, p_c = _ref_unique_counts(pair_len[fits], pair_key[fits])
            cand_l.append(p_l)
            cand_k.append(p_k)
            cand_c.append(p_c)
        al = np.concatenate(cand_l)
        ak = np.concatenate(cand_k)
        ac = np.concatenate(cand_c)
        order = np.lexsort((ak, al))
        sl, sk, sc = al[order], ak[order], ac[order]
        new = np.ones(len(sl), dtype=bool)
        new[1:] = (sl[1:] != sl[:-1]) | (sk[1:] != sk[:-1])
        gid = np.cumsum(new) - 1
        gcounts = np.bincount(gid, weights=sc).astype(np.int64)
        ul = sl[new]
        uk = sk[new]
        gain = np.where(ul >= 2, gcounts * (ul - 1), gcounts)
        top = np.argsort(-gain, kind="stable")[: fsst.MAX_SYMBOLS]
        top = top[gain[top] > 0]
        table = fsst.FsstTable(ul[top].astype(np.uint8), uk[top])
    return table


def _assert_same_table(data):
    data = np.asarray(data, dtype=np.uint8)
    got, want = fsst.train(data), _reference_train(data)
    assert np.array_equal(got.lengths, want.lengths)
    assert np.array_equal(got.keys, want.keys)
    assert got.serialize() == want.serialize()


def _repogen_samples():
    """Per-repo content/commit/path streams, as the range-layout encode
    trains them (one table per repo, column and stream)."""
    tbl = generate_batch(np.arange(3000), seed=5, n_repos=6)
    repos = np.asarray(tbl.column("repo").to_pylist(), dtype=object)
    out = []
    for name in ("content", "commit", "path"):
        col = np.asarray(tbl.column(name).to_pylist(), dtype=object)
        for r in sorted(set(repos)):
            ba = ByteArrays.from_pylist([v.encode() for v in col[repos == r]])
            out.append(pytest.param(ba.data[: ba.offsets[-1]],
                                    id=f"{name}-{r}"))
    return out


@pytest.mark.parametrize("data", _repogen_samples())
def test_train_matches_reference_on_repogen(data):
    _assert_same_table(data)


@pytest.mark.parametrize("raw", [b"", b"\x00", b"\xff", b"a", b"ab",
                                 b"\x00" * 9, b"\xff" * 70_000])
def test_train_matches_reference_on_tiny_inputs(raw):
    _assert_same_table(np.frombuffer(raw, dtype=np.uint8))


_word = st.binary(min_size=8, max_size=8)
_piece = st.one_of(
    st.binary(max_size=40),
    st.sampled_from([b"\x00", b"\xff", b"\x00\xff", b"\xff" * 8, b"\x00" * 8]),
    st.tuples(_word, st.integers(1, 40)).map(lambda t: t[0] * t[1]),
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_piece, max_size=40))
def test_train_matches_reference_fuzz(pieces):
    _assert_same_table(np.frombuffer(b"".join(pieces), dtype=np.uint8))


@settings(max_examples=25, deadline=None)
@given(st.lists(_piece, min_size=1, max_size=40))
def test_train_matches_reference_with_deep_parse(pieces):
    """Deeper training parses yield tokens and pairs up to 8 bytes, the
    separately sorted len-8 group of the packed counting."""
    data = np.frombuffer(b"".join(pieces), dtype=np.uint8)
    old = fsst.TRAIN_PARSE_PASSES
    fsst.TRAIN_PARSE_PASSES = 4
    try:
        _assert_same_table(data)
    finally:
        fsst.TRAIN_PARSE_PASSES = old


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(st.integers(1, 8), st.integers(0, 2**64 - 1)),
                max_size=200))
def test_unique_counts_matches_lexsort(pairs):
    lens = np.array([ln for ln, _ in pairs], dtype=np.uint8)
    # a symbol key holds exactly `len` bytes
    keys = np.array([k & ((1 << (8 * ln)) - 1) for ln, k in pairs],
                    dtype=np.uint64)
    keys = np.concatenate([keys, keys[: len(keys) // 2]])
    lens = np.concatenate([lens, lens[: len(lens) // 2]])
    for got, want in zip(fsst._unique_counts(lens, keys),
                         _ref_unique_counts(lens, keys)):
        assert np.array_equal(got, want)
