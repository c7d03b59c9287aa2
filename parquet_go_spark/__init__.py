"""spark-colcodec: a PySpark-native per-column lightweight-compression engine.

From-scratch reimplementation of the encoding-layer semantics of
parquet-go/parquet-go (reference at /root/reference, studied not copied):
PLAIN, hybrid RLE/bit-packed, BIT_PACKED, RLE_DICTIONARY,
DELTA_BINARY_PACKED, DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY,
BYTE_STREAM_SPLIT, plus FSST string compression (PVLDB 13(11), 2020),
with a measured per-chunk codec auto-selector — all as vectorized
numpy/pyarrow kernels driven through Arrow-batched UDFs over Spark
DataFrame partitions (no per-row Python in the hot path).

Layout:
  codecs/     pure numpy/pyarrow encode/decode kernels (no Spark imports)
  operators/  training-data operators (dedup, similarity, text analysis)
  sources/    synthetic repo-table generator; the colcodec and pqread
              Spark data sources (the store's pruned read, its
              streaming sink and source)
  plans/      the distributed encode/decode/verify pipeline + manifest
  interop/    parquet files both ways (writer, reader, export, compact)
"""

__version__ = "0.1.0"
