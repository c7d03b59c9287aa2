"""Cross-implementation size + round-trip parity against golden fixtures.

The reference globs apache/parquet-testing files as oracles
(/root/reference/file_test.go:26-29). We use them the way SURVEY.md §5.4
prescribes: decode real column chunks with pyarrow, re-encode with OUR
kernels via the auto-selector, and assert
  (a) bit-identical round trip, and
  (b) our blob ≤ the file's recorded column-chunk size
      (uncompressed fixtures → compare vs total_uncompressed_size with
       zstd off; compressed fixtures → vs total_compressed_size with the
       zstd outer layer on — matching what each fixture actually stores).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_go_spark.codecs import chunk as chunklib, selector
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Kind

GOLDEN = "/root/reference/testdata"

FIXTURES = [
    "delta_binary_packed.parquet",
    "delta_byte_array.parquet",
    "delta_length_byte_array.parquet",
    "rle_boolean_encoding.parquet",
    "alltypes_dictionary.parquet",
    "alltypes_plain.parquet",
    "datapage_v2.snappy.parquet",
]

_PHYS_KIND = {
    "INT32": Kind.INT32,
    "INT64": Kind.INT64,
    "FLOAT": Kind.FLOAT,
    "DOUBLE": Kind.DOUBLE,
    "BOOLEAN": Kind.BOOLEAN,
    "BYTE_ARRAY": Kind.BYTE_ARRAY,
}

_NP_BY_KIND = {
    Kind.INT32: np.int32,
    Kind.INT64: np.int64,
    Kind.FLOAT: np.float32,
    Kind.DOUBLE: np.float64,
    Kind.BOOLEAN: bool,
}


def _column_cases():
    cases = []
    for fname in FIXTURES:
        path = f"{GOLDEN}/{fname}"
        if not os.path.exists(path):
            # the cases come from the file: one skipped item stands in
            cases.append(pytest.param(
                path, 0, None, False, 0, id=fname,
                marks=pytest.mark.skip(
                    reason=f"reference corpus absent: {path}")))
            continue
        pf = pq.ParquetFile(path)
        md = pf.metadata.row_group(0)
        tbl = pf.read_row_group(0)
        for i in range(md.num_columns):
            cmeta = md.column(i)
            kind = _PHYS_KIND.get(cmeta.physical_type)
            if kind is None:
                continue  # INT96 / FLBA not exercised by these fixtures
            col = tbl.column(i).combine_chunks()
            if col.null_count:
                continue  # null encoding is the wrapper's job, not the codec's
            compressed = cmeta.compression != "UNCOMPRESSED"
            limit = (
                cmeta.total_compressed_size
                if compressed
                else cmeta.total_uncompressed_size
            )
            cases.append(
                pytest.param(
                    path, i, kind, compressed, limit,
                    id=f"{fname}:{cmeta.path_in_schema}",
                )
            )
    return cases


@pytest.mark.parametrize("path,col_idx,kind,compressed,limit", _column_cases())
def test_golden_reencode(path, col_idx, kind, compressed, limit):
    tbl = pq.ParquetFile(path).read_row_group(0)
    col = tbl.column(col_idx).combine_chunks()
    if kind == Kind.BYTE_ARRAY:
        values = ByteArrays.from_arrow(col.cast(pa.binary()))
    else:
        values = col.to_numpy(zero_copy_only=False).astype(_NP_BY_KIND[kind])

    blob, info = selector.select_and_encode(
        values, kind, compression="zstd" if compressed else None)
    decoded, meta = chunklib.decode_chunk(blob)

    if kind == Kind.BYTE_ARRAY:
        assert decoded == values
    else:
        assert np.array_equal(np.asarray(decoded), values)

    assert len(blob) <= limit, (
        f"our {len(blob)} B > reference chunk {limit} B "
        f"(codec={info['codec']}, dict={info['dict']})"
    )
