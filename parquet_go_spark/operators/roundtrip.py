"""Forced-codec distributed round-trip — the TestEncoding analog.

Runs a single column through encode_chunk/decode_chunk with a *forced*
codec per Arrow batch inside mapInArrow (no disk, no shuffle). The
driver's oracle compares the decoded values against `SELECT col FROM t`,
which verifies bit-exact round-trips per codec at the distributed level —
mirroring /root/reference/encoding/encoding_test.go:207-216 per-codec
scenarios, lifted onto Spark partitions.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame

from parquet_go_spark.codecs import chunk as chunklib
from parquet_go_spark.plans import pipeline


def codec_roundtrip(
    df: DataFrame, column: str, codec: int, *, dict_wrap: bool = False,
    sort_within: bool = False,
) -> DataFrame:
    """df.select(column) → encode(codec) → decode → same column back."""
    spark_type = dict(df.dtypes)[column]
    kind = pipeline._col_kind(spark_type)

    def fn(batches):
        for batch in batches:
            arr = batch.column(0)
            if sort_within:
                arr = arr.take(pc.sort_indices(arr))
            values = pipeline._arrow_to_values(arr, spark_type)
            blob = chunklib.encode_chunk(values, kind, codec, dict_wrap=dict_wrap)
            decoded, meta = chunklib.decode_chunk(blob)
            assert meta["n"] == len(arr)
            out = pipeline._values_to_arrow(decoded, spark_type)
            yield pa.RecordBatch.from_arrays([out], names=[column])

    return df.select(column).mapInArrow(fn, f"{column} {spark_type}")
