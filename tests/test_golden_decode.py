"""Decode REFERENCE-ENCODED page bytes with our kernels.

The reference treats testdata/*.parquet as cross-implementation oracles
(/root/reference/file_test.go:26-29). Round 1 only re-encoded
pyarrow-decoded values; this test closes the byte-compatibility claim in
the other direction: raw page payloads written by parquet-mr / impala /
other writers are fed straight into our decoders and compared against
pyarrow's decode of the same file. Covers DELTA_BINARY_PACKED (66
columns, int32+int64 widths), DELTA_BYTE_ARRAY, DELTA_LENGTH_BYTE_ARRAY
(zstd outer), RLE boolean (gzip outer), PLAIN, RLE_DICTIONARY (incl. the
empty-dict all-null edge), legacy PLAIN_DICTIONARY (dict page + hybrid
index pages from parquet-mr 1.x / impala), and the v1 def-level RLE
streams (our hybrid decoder on reference-written level bytes)."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from parquet_go_spark.codecs import delta, dictionary, plain, rle
from parquet_go_spark.codecs.kinds import Codec

from tests.parquet_rawpages import page_nonnull, read_columns, split_levels
from tests.refcorpus import need

TESTDATA = "/root/reference/testdata"


def _expected_column(path: str, name: str):
    tbl = pq.read_table(path, columns=[name])
    return tbl.column(name).combine_chunks()


def _nonnull_prefix(arr, n_page_values, def_levels):
    """pyarrow values for the first page: first n_page_values slots,
    nulls dropped (def level 0)."""
    sl = arr.slice(0, n_page_values)
    return sl.drop_null()


def test_delta_binary_packed_reference_pages():
    path = need(f"{TESTDATA}/delta_binary_packed.parquet")
    cols = read_columns(path)
    assert len(cols) == 66
    checked = 0
    for col in cols:
        page = col.pages[0]
        assert page.encoding == Codec.DELTA_BINARY_PACKED
        levels, values = split_levels(page, col.optional)
        n_nonnull = page_nonnull(page, levels)
        bits = 64 if col.physical_type == 2 else 32
        got, _ = delta.decode_binary_packed(np.frombuffer(values, np.uint8), bits)
        exp = _nonnull_prefix(_expected_column(path, col.name),
                              page.num_values, None)
        assert np.array_equal(got[:n_nonnull], np.asarray(exp)), col.name
        checked += 1
    assert checked == 66


def test_delta_byte_array_reference_pages():
    path = need(f"{TESTDATA}/delta_byte_array.parquet")
    for col in read_columns(path):
        page = col.pages[0]
        assert page.encoding == Codec.DELTA_BYTE_ARRAY
        levels, values = split_levels(page, col.optional)
        n_nonnull = page_nonnull(page, levels)
        got = delta.decode_byte_array(np.frombuffer(values, np.uint8), n_nonnull)
        exp = _nonnull_prefix(_expected_column(path, col.name),
                              page.num_values, None)
        exp_bytes = [v.as_py() for v in exp.cast("binary")]
        got_bytes = [bytes(got.data[got.offsets[i]:got.offsets[i + 1]])
                     for i in range(len(got))]
        assert got_bytes == exp_bytes, col.name


def test_delta_length_byte_array_reference_pages():
    path = need(f"{TESTDATA}/delta_length_byte_array.parquet")
    (col,) = read_columns(path)
    page = col.pages[0]
    assert page.encoding == Codec.DELTA_LENGTH_BYTE_ARRAY
    levels, values = split_levels(page, col.optional)
    n_nonnull = page_nonnull(page, levels)
    got = delta.decode_length_byte_array(np.frombuffer(values, np.uint8),
                                         n_nonnull)
    exp = _nonnull_prefix(_expected_column(path, col.name),
                          page.num_values, None)
    exp_bytes = [v.as_py() for v in exp.cast("binary")]
    got_bytes = [bytes(got.data[got.offsets[i]:got.offsets[i + 1]])
                 for i in range(len(got))]
    assert got_bytes == exp_bytes


def test_rle_boolean_reference_pages():
    path = need(f"{TESTDATA}/rle_boolean_encoding.parquet")
    (col,) = read_columns(path)
    page = col.pages[0]
    assert page.encoding == Codec.RLE
    levels, values = split_levels(page, col.optional)
    n_nonnull = page_nonnull(page, levels)
    got = rle.decode_boolean(np.frombuffer(values, np.uint8), n_nonnull)
    exp = _nonnull_prefix(_expected_column(path, col.name),
                          page.num_values, None)
    assert list(got[:n_nonnull]) == [v.as_py() for v in exp]


def test_plain_reference_pages():
    checked = 0
    for fname in ("alltypes_plain.parquet", "alltypes_tiny_pages_plain.parquet"):
        path = need(f"{TESTDATA}/{fname}")
        for col in read_columns(path):
            pages = [p for p in col.pages
                     if p.page_type in (0, 3) and p.encoding == Codec.PLAIN]
            if not pages or col.physical_type not in (1, 2, 4, 5):
                continue
            page = pages[0]
            levels, values = split_levels(page, col.optional)
            n_nonnull = page_nonnull(page, levels)
            got = plain.decode_numeric(np.frombuffer(values, np.uint8),
                                       n_nonnull, col.physical_type)
            exp = _nonnull_prefix(_expected_column(path, col.name),
                                  page.num_values, None)
            assert np.array_equal(np.asarray(got), np.asarray(exp)), \
                (fname, col.name)
            checked += 1
    assert checked >= 4

def test_plain_dictionary_reference_pages():
    """E5 read-compat: PLAIN_DICTIONARY pages written by parquet-mr 1.x /
    impala (alltypes fixtures the reference reads in file_test.go:26-29)
    decode through decode_legacy_plain_dictionary bit-identically to
    pyarrow's decode of the same files."""
    checked = 0
    for fname in ("alltypes_dictionary.parquet", "alltypes_plain.parquet",
                  "alltypes_tiny_pages.parquet"):
        path = need(f"{TESTDATA}/{fname}")
        for col in read_columns(path):
            if col.physical_type not in (1, 2, 4, 5, 6):
                continue
            dict_pages = [p for p in col.pages if p.page_type == 2]
            if not dict_pages:
                continue
            dpage = dict_pages[0]
            assert dpage.encoding in (Codec.PLAIN, Codec.PLAIN_DICTIONARY)
            expected = _expected_column(path, col.name)
            off = 0
            for page in (p for p in col.pages if p.page_type in (0, 3)):
                if page.encoding != Codec.PLAIN_DICTIONARY:
                    off += page.num_values
                    continue
                levels, values = split_levels(page, col.optional)
                n_nonnull = page_nonnull(page, levels)
                got = dictionary.decode_legacy_plain_dictionary(
                    np.frombuffer(dpage.payload, np.uint8), dpage.num_values,
                    np.frombuffer(values, np.uint8), n_nonnull,
                    col.physical_type,
                )
                exp = expected.slice(off, page.num_values).drop_null()
                if col.physical_type == 6:
                    exp_b = [v.as_py() for v in exp.cast("binary")]
                    got_b = [bytes(got.data[got.offsets[i]:got.offsets[i + 1]])
                             for i in range(len(got))]
                    assert got_b == exp_b, (fname, col.name)
                else:
                    assert np.array_equal(np.asarray(got), np.asarray(exp)), \
                        (fname, col.name)
                off += page.num_values
                checked += 1
    assert checked >= 12

def test_rle_dictionary_reference_pages():
    """E4 byte-compat: RLE_DICTIONARY data pages (PLAIN dict page +
    1-byte-width hybrid index stream) written by other writers decode
    through our PLAIN + hybrid-index + gather kernels. null_columns.
    parquet also exercises the empty-dictionary / all-null page edge."""
    checked = 0
    for fname in ("binary_min_val_exact.parquet", "null_columns.parquet"):
        path = need(f"{TESTDATA}/{fname}")
        for col in read_columns(path):
            dict_pages = [p for p in col.pages if p.page_type == 2]
            if not dict_pages:
                continue
            dpage = dict_pages[0]
            assert dpage.encoding == Codec.PLAIN
            expected = _expected_column(path, col.name)
            off = 0
            for page in (p for p in col.pages if p.page_type in (0, 3)):
                if page.encoding != Codec.RLE_DICTIONARY:
                    off += page.num_values
                    continue
                levels, values = split_levels(page, col.optional)
                n_nonnull = page_nonnull(page, levels)
                idx = rle.decode_dictionary_indexes(
                    np.frombuffer(values, np.uint8), n_nonnull)
                exp = expected.slice(off, page.num_values).drop_null()
                if col.physical_type == 6:
                    uniq = plain.decode_byte_array(
                        np.frombuffer(dpage.payload, np.uint8),
                        dpage.num_values)
                    got = dictionary.lookup_byte_array(uniq, idx)
                    got_b = [bytes(got.data[got.offsets[i]:got.offsets[i + 1]])
                             for i in range(len(got))]
                    assert got_b == [v.as_py() for v in exp.cast("binary")], \
                        (fname, col.name)
                else:
                    uniq = plain.decode_numeric(
                        np.frombuffer(dpage.payload, np.uint8),
                        dpage.num_values, col.physical_type)
                    got = dictionary.lookup_numeric(uniq, idx)
                    assert np.array_equal(np.asarray(got), np.asarray(exp)), \
                        (fname, col.name)
                off += page.num_values
                checked += 1
    assert checked >= 3
