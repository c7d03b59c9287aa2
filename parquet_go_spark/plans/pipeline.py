"""The distributed encode/decode/verify pipeline.

Spark-first equivalent of the reference's write path (writer.go:97-163,
/root/reference/writer.go:2365-2500) and read path (file.go:65-130,
reader.go:31-71), restructured around Spark's execution model
(SURVEY.md §3.1-3.2):

  encode:  input DataFrame
           → per-repo size agg (small, broadcast back)            [stats]
           → salt: bucket = xxhash64(path, commit) % n_buckets    [skew]
           → groupBy(repo, bucket).applyInPandas(encode_chunk)    [kernel]
           → parquet blobs table + manifest (same files; manifest
             reads prune the blob column for free — columnar)
  decode:  blobs → groupBy(chunk_id).applyInPandas(decode_chunk)
  verify:  decode → sha2(content) per row vs source               [oracle]
  resume:  recompute chunk keys → broadcast left-anti join against
           completed manifest chunk ids → encode only the gap
           (the dataflow analog of writer_copy.go:22-36's
           "never redo finished work")

Skew: n_buckets is per-repo ceil(bytes / target_chunk_bytes), so one
giant repo becomes many bounded chunks while small repos stay single-
chunk — per-chunk dictionaries remain meaningful (SURVEY.md §7.4.6).
All per-value work happens in vectorized numpy inside applyInPandas;
Spark handles shuffle, spill, and retries.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DateType, DoubleType, FloatType,
    IntegerType, LongType, StringType, StructField, StructType,
    TimestampNTZType, TimestampType,
)

from parquet_go_spark.codecs import bloom as bloomlib
from parquet_go_spark.codecs import chunk as chunklib
from parquet_go_spark.codecs import selector
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Kind

TARGET_CHUNK_BYTES = 8 << 20  # soft upper bound per chunk (all columns):
# small enough that one chunk is a ~2 s task even through the FSST path
# (Python-kernel bound), big enough for meaningful per-chunk dictionaries

# Column-index truncation limit for byte-array min/max stats — the
# DefaultColumnIndexSizeLimit analog (/root/reference/config.go:27,
# column_index.go:499-533).
STAT_TRUNCATE = 16

MANIFEST_COLUMNS = [
    "chunk_id", "repo", "bucket", "column", "stream", "n_rows", "kind",
    "codec", "dict", "zstd", "spark_type", "raw_bytes", "enc_bytes",
    "sha256", "min_val", "max_val", "null_count", "def_hist", "rep_hist",
    "bloom",
]

BLOB_SCHEMA = StructType(
    [
        StructField("chunk_id", StringType(), False),
        StructField("repo", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("column", StringType(), False),
        StructField("stream", StringType(), False),
        StructField("n_rows", LongType(), False),
        StructField("kind", IntegerType(), False),
        StructField("codec", IntegerType(), False),
        StructField("dict", BooleanType(), False),
        StructField("zstd", BooleanType(), False),
        StructField("spark_type", StringType(), False),
        StructField("raw_bytes", LongType(), False),
        StructField("enc_bytes", LongType(), False),
        StructField("sha256", StringType(), False),
        StructField("min_val", StringType(), True),
        StructField("max_val", StringType(), True),
        StructField("null_count", LongType(), False),
        StructField("def_hist", ArrayType(LongType()), True),
        StructField("rep_hist", ArrayType(LongType()), True),
        StructField("bloom", BinaryType(), True),
        StructField("blob", BinaryType(), False),
    ]
)

_KIND_BY_SPARK = {
    "string": Kind.BYTE_ARRAY,
    "binary": Kind.BYTE_ARRAY,
    "bigint": Kind.INT64,
    "int": Kind.INT32,
    "double": Kind.DOUBLE,
    "float": Kind.FLOAT,
    "boolean": Kind.BOOLEAN,
    "timestamp": Kind.INT64,  # encoded as unix micros
    "timestamp_ntz": Kind.INT64,
    "date": Kind.INT32,  # days since epoch
}

# Per-element width of scalar list columns, used only by the planning
# size estimate (_row_size_expr). Lists shred as lengths + flattened
# element streams via the recursive _shred_column walk (the reference's
# LIST node, node.go:505-525).
_LIST_ELEM_WIDTH = {
    "array<float>": 4,
    "array<int>": 4,
    "array<double>": 8,
    "array<bigint>": 8,
}


def _list_elem(spark_type: str) -> str | None:
    """Parse 'array<T>' → element type string T (arbitrary T), else
    None — the generic LIST node (node.go:505-525)."""
    if spark_type.startswith("array<") and spark_type.endswith(">"):
        return spark_type[len("array<"):-1]
    return None


def _is_container(spark_type: str) -> bool:
    return (spark_type.startswith("array<")
            or spark_type.startswith("struct<")
            or spark_type.startswith("map<"))


def _struct_fields(spark_type: str) -> list[tuple[str, str]] | None:
    """Parse 'struct<a:int,b:string,...>' → [(name, type), ...], else
    None. Splits on depth-0 commas only, so decimal(p,s) and other
    parenthesized field types parse correctly. Field types may nest
    arbitrarily — shredding recurses like the reference
    (schema.go:341-430)."""
    if not spark_type.startswith("struct<") or not spark_type.endswith(">"):
        return None
    inner = spark_type[len("struct<"):-1]
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(inner):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(inner[start:i])
            start = i + 1
    if inner:
        parts.append(inner[start:])
    out = []
    for fld in parts:
        fname, ftype = fld.split(":", 1)
        out.append((fname.strip(), ftype.strip()))
    return out


def _map_kv(spark_type: str) -> tuple[str, str] | None:
    """Parse 'map<K,V>' → (key_type, value_type), else None. A map is
    the reference's MAP node — a repeated key_value group over two leaf
    columns (node.go:528-540, schema.go key_value shredding); here it
    encodes as three streams: entry-count lengths (the repetition-level
    analog shared by both leaves), flattened keys, and flattened values
    with a validity bitmap (keys are required, values nullable — the
    parquet MAP contract)."""
    if not spark_type.startswith("map<") or not spark_type.endswith(">"):
        return None
    inner = spark_type[len("map<"):-1]
    depth = 0
    for i, ch in enumerate(inner):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            return inner[:i], inner[i + 1:]
    raise ValueError(f"malformed map type {spark_type!r}")


def _decimal_info(spark_type: str) -> tuple[int, int] | None:
    """Parse 'decimal(p,s)' → (precision, scale), else None."""
    if not spark_type.startswith("decimal(") or not spark_type.endswith(")"):
        return None
    p, s = spark_type[len("decimal("):-1].split(",")
    return int(p), int(s)


def _decimal_kind(precision: int) -> int:
    """DECIMAL physical mapping by precision — the reference's
    type_decimal.go:18 rule: unscaled INT32 for p≤9, INT64 for p≤18,
    FIXED_LEN_BYTE_ARRAY(16) beyond (the full decimal128 words)."""
    if precision <= 9:
        return Kind.INT32
    if precision <= 18:
        return Kind.INT64
    return Kind.FIXED_LEN_BYTE_ARRAY


def _col_kind(spark_type: str) -> int:
    """Physical kind of a scalar type; containers validate recursively
    (arbitrary nesting, like the reference's recursive schema shredding,
    schema.go:341-430) and return a sentinel — per-leaf kinds are
    resolved during shredding. Map keys must be scalar (the parquet MAP
    key contract, node.go:528-540)."""
    dp = _decimal_info(spark_type)
    if dp is not None:
        return _decimal_kind(dp[0])
    el = _list_elem(spark_type)
    if el is not None:
        _col_kind(el)
        return Kind.BYTE_ARRAY  # sentinel; per-leaf kinds used in encode
    sf = _struct_fields(spark_type)
    if sf is not None:
        for _, ftype in sf:
            _col_kind(ftype)
        return Kind.BYTE_ARRAY
    mk = _map_kv(spark_type)
    if mk is not None:
        ktype, vtype = mk
        if _is_container(ktype):
            raise ValueError(f"map keys must be scalar: {ktype}")
        _col_kind(ktype)
        _col_kind(vtype)
        return Kind.BYTE_ARRAY
    if spark_type not in _KIND_BY_SPARK:
        raise ValueError(f"unsupported column type {spark_type}")
    return _KIND_BY_SPARK[spark_type]


def _decimal_words(arr: pa.Array) -> np.ndarray:
    """decimal128 Arrow array → (n, 2) little-endian int64 words
    (low, high) via a zero-copy buffer view."""
    n = len(arr)
    buf = arr.buffers()[1]
    words = np.frombuffer(buf, dtype="<i8", count=2 * (arr.offset + n))
    return words.reshape(-1, 2)[arr.offset:]


def _decimal_to_values(arr: pa.Array, precision: int):
    """decimal128 → unscaled int32/int64 ndarray, or (n,16) uint8 FLBA."""
    words = _decimal_words(arr)
    if precision <= 9:
        return words[:, 0].astype(np.int32)
    if precision <= 18:
        # a value that fits int64 has its low word == the int64 value
        # (two's-complement truncation is exact within range)
        return np.ascontiguousarray(words[:, 0])
    return np.ascontiguousarray(words).view(np.uint8).reshape(-1, 16)


def _values_to_decimal(values, precision: int, scale: int) -> pa.Array:
    n = len(values)
    if precision <= 18:
        v = np.asarray(values, dtype=np.int64)
        words = np.empty((n, 2), dtype="<i8")
        words[:, 0] = v
        words[:, 1] = v >> 63  # arithmetic shift sign-extends to 0 / -1
        buf = pa.py_buffer(words.tobytes())
    else:
        buf = pa.py_buffer(
            np.ascontiguousarray(values, dtype=np.uint8).tobytes()
        )
    return pa.Array.from_buffers(pa.decimal128(precision, scale), n, [None, buf])


def _arrow_to_values(arr: pa.Array, spark_type: str):
    """Arrow column → kernel value container, zero per-row boxing."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("null values not supported in encode columns")
    if spark_type in ("string", "binary"):
        return ByteArrays.from_arrow(arr)
    dp = _decimal_info(spark_type)
    if dp is not None:
        return _decimal_to_values(arr, dp[0])
    if spark_type in ("timestamp", "timestamp_ntz"):
        return np.asarray(arr.cast(pa.int64()))  # micros since epoch
    if spark_type == "date":
        return np.asarray(arr.cast(pa.int32()))  # days since epoch
    if spark_type == "boolean":
        return arr.to_numpy(zero_copy_only=False)
    return np.asarray(arr)


def _flba_to_byte_values(values: np.ndarray) -> ByteArrays:
    """(n, w) FLBA rows → variable-length ByteArrays container
    (delegates to the codec layer's offset construction)."""
    return chunklib._flba_to_byte_arrays(values, values.shape[1])


def _values_to_arrow(values, spark_type: str) -> pa.Array:
    """Kernel value container → Arrow column, zero per-row boxing."""
    dp = _decimal_info(spark_type)
    if dp is not None:
        return _values_to_decimal(values, *dp)
    if spark_type == "string":
        return values.to_arrow(pa.string())
    if spark_type == "binary":
        if isinstance(values, np.ndarray):  # FLBA-upgraded uniform chunk
            values = _flba_to_byte_values(values)
        return values.to_arrow(pa.binary())
    if spark_type == "timestamp":
        return pa.array(values, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    if spark_type == "timestamp_ntz":
        return pa.array(values, pa.int64()).cast(pa.timestamp("us"))
    if spark_type == "date":
        return pa.array(values, pa.int32()).cast(pa.date32())
    return pa.array(values)


def _column_sha256(values, spark_type: str, validity=None) -> str:
    """Deterministic digest of a column chunk (length-framed for strings,
    raw little-endian for fixed kinds) — the manifest lineage field."""
    h = hashlib.sha256()
    if validity is not None:
        h.update(np.packbits(validity).tobytes())
    if spark_type in ("string", "binary"):
        h.update(values.lengths.astype("<i8").tobytes())
        h.update(values.data[: values.offsets[-1]].tobytes())
    else:
        h.update(np.ascontiguousarray(values).tobytes())
    return h.hexdigest()


def _truncate_max(b: bytes) -> str | None:
    """Truncate a byte-array max stat to STAT_TRUNCATE bytes while keeping
    it an upper bound: chop, then increment the last byte with carry
    (the reference's column-index truncation, column_index.go:684-700)."""
    if len(b) <= STAT_TRUNCATE:
        return b.decode("latin-1")
    t = bytearray(b[:STAT_TRUNCATE])
    for i in range(len(t) - 1, -1, -1):
        if t[i] < 0xFF:
            t[i] += 1
            return bytes(t[: i + 1]).decode("latin-1")
    return None  # all 0xFF — no representable upper bound


def _chunk_stats(values, spark_type: str) -> tuple[str | None, str | None]:
    """(min_val, max_val) as round-trippable strings, or (None, None)."""
    if spark_type in ("string", "binary"):
        if len(values) == 0:
            return None, None
        arr = values.to_arrow()
        mm = pa.compute.min_max(arr)
        lo = mm["min"].as_py() or b""
        hi = mm["max"].as_py() or b""
        return lo[:STAT_TRUNCATE].decode("latin-1"), _truncate_max(hi)
    dp = _decimal_info(spark_type)
    if dp is not None and dp[0] > 18:
        # FLBA(16) decimals: lexsort the (high, low-unsigned) word pairs
        # to find the int128 extremes, stored as unscaled-int strings
        a = np.ascontiguousarray(values, dtype=np.uint8)
        if a.size == 0:
            return None, None
        words = a.view("<i8").reshape(-1, 2)
        lo_w, hi_w = words[:, 0].view(np.uint64), words[:, 1]
        order = np.lexsort((lo_w, hi_w))
        to_int = lambda i: (  # noqa: E731
            (int(words[i, 1]) << 64) | int(lo_w[i])
        )
        return repr(to_int(order[0])), repr(to_int(order[-1]))
    a = np.asarray(values)
    if a.size == 0 or a.dtype == bool:
        return None, None
    return repr(a.min().item()), repr(a.max().item())


def _encode_one(values, kind, spark_type, compression, base,
                stream="values", validity=None, fsst_cache=None,
                def_hist=None, rep_hist=None, bloom=False):
    # UUID-ish upgrade (type_uuid.go:14 analog): a binary chunk whose
    # values all share one width w ≤ 64 encodes as FLBA(w) — dropping
    # the per-value length framing and unlocking the BYTE_STREAM_SPLIT
    # and FLBA-dict kernels. Physical-only: stats and sha256 stay in
    # logical byte-array space, the bloom's XXH64 of the raw bytes is
    # the same either way, and decode rebuilds plain binary from the
    # blob's own header, so ragged and uniform chunks of one column can
    # coexist.
    enc_values = values
    if (kind == Kind.BYTE_ARRAY and spark_type == "binary"
            and isinstance(values, ByteArrays) and len(values)):
        lens = values.lengths
        w = int(lens[0])
        if 1 <= w <= 64 and bool((lens == w).all()):
            enc_values = np.ascontiguousarray(
                values.data[: values.offsets[-1]]
            ).reshape(-1, w)
            kind = Kind.FIXED_LEN_BYTE_ARRAY
    flba_size = None
    if kind == Kind.FIXED_LEN_BYTE_ARRAY:
        flba_size = enc_values.shape[1] if len(enc_values) else 16
    # one codec decision per (column, stream) per task, across repos,
    # sub-chunk splits and streaming waves: the state carries the FSST
    # symbol table and the last full trial's winner to the task's later
    # chunks of the column (selector.select_and_encode), so the choice
    # depends on those earlier chunks too; resume still dedupes on chunk
    # ids. ~2 KB/entry; capped below.
    fsst_state = None
    if fsst_cache is not None:
        ck = (base.get("column"), stream)
        if ck not in fsst_cache and len(fsst_cache) >= 512:
            # evict the OLDEST entry (insertion order), not the whole
            # cache: a clear() would force every still-active column to
            # retrain, the exact cost amortization exists to avoid
            fsst_cache.pop(next(iter(fsst_cache)))
        fsst_state = fsst_cache.setdefault(ck, {})
    blob, info = selector.select_and_encode(
        enc_values, kind, flba_size=flba_size, compression=compression,
        validity=validity, fsst_state=fsst_state,
    )
    mn, mx = _chunk_stats(values, spark_type)
    null_count = 0 if validity is None else int(len(validity) - validity.sum())
    # split-block bloom per scalar column chunk (bloom/block.go
    # analog); container streams carry none, since only scalar columns
    # are pushed to the colcodec read's prune rule
    # (pqreader._view_survives). Dict-wrapped chunks
    # build the filter from the dictionary uniques already in hand
    # (writer.go:2089-2095): identical no-false-negative semantics,
    # NDV-proportional cost.
    bf = None
    if bloom and len(values) and kind != Kind.BOOLEAN:
        uniq = info.get("uniques")
        bf = bloomlib.build(uniq if uniq is not None else enc_values, kind)
    rec = dict(base)
    rec.update(
        stream=stream, kind=kind, codec=info["codec"], dict=info["dict"],
        zstd=compression is not None, spark_type=spark_type, raw_bytes=info["raw_bytes"],
        enc_bytes=len(blob),
        sha256=_column_sha256(values, spark_type, validity),
        min_val=mn, max_val=mx, null_count=null_count,
        def_hist=def_hist, rep_hist=rep_hist, bloom=bf, blob=blob,
    )
    return rec


def _join_stream(prefix: str, seg: str) -> str:
    return seg if not prefix else f"{prefix}/{seg}"


def _level_hists(ancestors, n_slots: int, null_count: int):
    """Definition/repetition level histograms for one leaf — the
    writer_statistics.go:20-44 analog, computed vectorized from the
    lengths chain instead of per-entry level streams.

    With k repeated ancestors (lengths arrays, outermost first), the
    Dremel entry counts are closed-form: rep histogram
    [n_rows, c_1 − nonempty_1, …, c_k − nonempty_k] (an entry repeats
    at level j iff it starts a non-first element of a level-j list);
    def histogram [empty_1, …, empty_k, leaf_nulls, leaf_values]
    (an entry stops at level j−1 iff the level-j list is empty; lists
    add exactly one def level each and the nullable leaf adds the
    last). Null containers (round 5) pose as empty in their lengths
    stream, so the histogram folds them into the empty bucket — the
    parquet-exact null/empty distinction lives in the 'valid' streams,
    not these diagnostic stats."""
    k = len(ancestors)
    n_rows = len(ancestors[0]) if k else n_slots
    rep = [n_rows] + [
        int(l.sum()) - int((l > 0).sum()) for l in ancestors
    ]
    de = [int((l == 0).sum()) for l in ancestors]
    de += [null_count, n_slots - null_count]
    return de, rep


def _shred_column(arr, spark_type: str, prefix: str = "", ancestors=()):
    """Recursively shred ONE Arrow column into flat streams — the
    Deconstruct analog at arbitrary nesting depth (the reference walks
    the schema tree the same way, schema.go:341-430 +
    column_buffer_repeated.go). Yields
    (stream_name, values, kind, leaf_spark_type, validity,
    def_hist, rep_hist); level histograms are carried on leaf streams
    only (lengths streams ARE the levels).

    Stream naming reproduces the original one-level names exactly
    (scalar → 'values', list → 'lengths'+element streams, struct field
    → 'f:<name>', map → 'lengths'/'keys'/'values') and extends them
    with '/'-joined path segments for deeper nests, e.g.
    struct<a:struct<x:int>> → 'f:a/f:x';
    array<array<int>>        → 'lengths', 'item/lengths', 'item';
    map<string,array<string>>→ 'lengths', 'keys', 'values/lengths',
                               'values'.
    Every repeated level contributes one shared lengths stream (the
    repetition-level analog); scalar leaves carry a validity bitmap
    (the definition-level analog). Null contract, applied recursively:
    scalar leaves may be null anywhere (including list elements);
    container values may be null at any level too (round 5) — a null
    container emits a boolean 'valid' stream for its domain and rides
    through the lengths/child streams as empty/all-null."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    el = _list_elem(spark_type)
    mk = _map_kv(spark_type)
    sf = _struct_fields(spark_type)
    if el is not None:
        if arr.null_count:
            # nullable container: one boolean 'valid' stream per nesting
            # domain (round 5 — the write direction of nested VARIANT
            # shredding produces null groups/lists at every level); null
            # lists ride as length-0 in the lengths stream and the
            # reconstructor re-marks them null from 'valid'
            valid = np.asarray(arr.is_valid())
            yield (_join_stream(prefix, "valid"), valid,
                   Kind.BOOLEAN, "boolean", None, None, None)
        lengths = np.asarray(
            pa.compute.fill_null(
                pa.compute.list_value_length(arr), 0)).astype(np.int32)
        yield (_join_stream(prefix, "lengths"), lengths,
               Kind.INT32, "int", None, None, None)
        # list/map elements need a distinguishing 'item' segment (their
        # own lengths stream would collide with ours); struct and scalar
        # elements keep the parent prefix — which is what reproduces the
        # legacy 'values' / 'f:<name>' names
        child_prefix = (_join_stream(prefix, "item")
                        if (_list_elem(el) is not None
                            or _map_kv(el) is not None)
                        else prefix)
        yield from _shred_column(arr.flatten(), el, child_prefix,
                                 ancestors + (lengths,))
    elif mk is not None:
        ktype, vtype = mk
        # cast map → list<struct<key,value>> (slice-safe; pyarrow's
        # list kernels have no map variants), then shred
        arr = arr.cast(pa.list_(pa.struct([
            pa.field("key", arr.type.key_type, nullable=False),
            pa.field("value", arr.type.item_type),
        ])))
        if arr.null_count:
            valid = np.asarray(arr.is_valid())
            yield (_join_stream(prefix, "valid"), valid,
                   Kind.BOOLEAN, "boolean", None, None, None)
        lengths = np.asarray(
            pa.compute.fill_null(
                pa.compute.list_value_length(arr), 0)).astype(np.int32)
        yield (_join_stream(prefix, "lengths"), lengths,
               Kind.INT32, "int", None, None, None)
        entries = arr.flatten()
        keys = entries.field(0)
        if keys.null_count:
            raise ValueError("map keys must be non-null")
        yield from _shred_column(keys, ktype, _join_stream(prefix, "keys"),
                                 ancestors + (lengths,))
        yield from _shred_column(
            entries.field(1), vtype, _join_stream(prefix, "values"),
            ancestors + (lengths,))
    elif sf is not None:
        if arr.null_count:
            valid = np.asarray(arr.is_valid())
            # 's:valid', not 'valid': a struct ELEMENT of a list shares
            # the list's prefix (legacy naming), so the struct's
            # validity must not collide with the list's own 'valid'
            # ('s:' can't collide with fields, which are 'f:<name>')
            yield (_join_stream(prefix, "s:valid"), valid,
                   Kind.BOOLEAN, "boolean", None, None, None)
        # StructArray.flatten() merges the parent validity into each
        # child, so null structs ride as all-null fields; the 'valid'
        # stream restores the null-struct vs all-null-fields distinction
        for (fname, ftype), child in zip(sf, arr.flatten()):
            yield from _shred_column(
                child, ftype, _join_stream(prefix, f"f:{fname}"), ancestors)
    else:
        validity = None
        n_slots = len(arr)
        if arr.null_count:
            validity = np.asarray(arr.is_valid())
            arr = arr.drop_null()
        de, rep = _level_hists(ancestors, n_slots, n_slots - len(arr))
        yield (prefix or "values", _arrow_to_values(arr, spark_type),
               _col_kind(spark_type), spark_type, validity, de, rep)


_BLOB_ARROW_SCHEMA = pa.schema(
    [
        ("chunk_id", pa.string()), ("repo", pa.string()),
        ("bucket", pa.int32()), ("column", pa.string()),
        ("stream", pa.string()), ("n_rows", pa.int64()),
        ("kind", pa.int32()), ("codec", pa.int32()),
        ("dict", pa.bool_()), ("zstd", pa.bool_()),
        ("spark_type", pa.string()), ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()), ("sha256", pa.string()),
        ("min_val", pa.string()), ("max_val", pa.string()),
        ("null_count", pa.int64()),
        ("def_hist", pa.list_(pa.int64())),
        ("rep_hist", pa.list_(pa.int64())),
        ("bloom", pa.binary()), ("blob", pa.binary()),
    ]
)


def _encode_chunk_batches(tbl: pa.Table, columns, repo: str, bucket: int,
                          compression: str | None,
                          chunk_suffix: str = "",
                          target_bytes: int | None = None,
                          split_offset: int = 0,
                          force_split: bool = False,
                          fsst_cache: dict | None = None):
    """Encode one (repo, bucket) group's columns → manifest+blob record
    batches (a generator: one batch per emitted chunk).

    Rows arrive in sort-key order (_sorted_partitions), so the kernel
    only cuts: groups larger than 2× target_bytes split into row-range
    sub-chunks (ids '#<bucket>s<i><suffix>') of disjoint sort-key
    ranges, the dynamic analog of the reference's page-flush size checks
    (writer.go:262-267). It bounds chunk size when the hash planner
    under-bucketed a repo (metadata sizing uses a global average row
    size), and it is how the range layout cuts a repo into chunks of
    ~target_bytes.

    split_offset/force_split support the streaming-flush caller
    (_encode_stream_fn): a group flushed in several waves numbers its
    sub-chunks continuously (s<offset>, s<offset+1>, …) and keeps the
    s-tag even for a single-chunk wave so ids never collide across
    waves."""
    n_splits = 1
    if target_bytes and tbl.nbytes > 2 * target_bytes:
        n_splits = -(-tbl.nbytes // target_bytes)
    rows_per = -(-tbl.num_rows // n_splits)
    for si in range(n_splits):
        sub = tbl.slice(si * rows_per, rows_per)
        if sub.num_rows == 0:
            continue
        # the split tag goes BEFORE chunk_suffix ('<repo>#<bucket>s<i>
        # <suffix>'): the suffix stays the id's tail, the namespace that
        # keeps compaction's chunk ids apart from the inputs' ids
        tag = f"s{split_offset + si}" if (n_splits > 1 or force_split) else ""
        yield _encode_one_chunk(sub, columns, repo, bucket,
                                compression, tag + chunk_suffix,
                                fsst_cache=fsst_cache)


def _encode_one_chunk(tbl: pa.Table, columns, repo: str, bucket: int,
                      compression: str | None,
                      chunk_suffix: str,
                      fsst_cache: dict | None = None) -> pa.RecordBatch:
    base = {
        "chunk_id": f"{repo}#{bucket}{chunk_suffix}", "repo": repo,
        "bucket": bucket, "n_rows": tbl.num_rows,
    }
    recs = []
    for name, spark_type in columns:
        b = dict(base, column=name)
        scalar = not _is_container(spark_type)
        for (stream, values, kind, leaf_type, validity,
             de, rep) in _shred_column(tbl.column(name), spark_type):
            recs.append(_encode_one(values, kind, leaf_type, compression,
                                    b, stream=stream, validity=validity,
                                    fsst_cache=fsst_cache,
                                    def_hist=de, rep_hist=rep,
                                    bloom=scalar))
    return pa.RecordBatch.from_pylist(recs, schema=_BLOB_ARROW_SCHEMA)


# the colcodec sink's buffered bytes, over all its groups, stay within
# this many flush_bytes (32 MiB at its 1x 8 MiB target): past it the
# largest group flushes early, whatever the partition's group count
BUFFER_CAP_FLUSHES = 4


def _group_slices(batches, data_cols: list[str], flush_bytes: int | None,
                  sorted_input: bool = False):
    """The one group-and-flush loop of every writer: Arrow batches
    carrying non-null `__repo` (string) and `__bucket` (int) columns →
    (key, table, final) per (repo, bucket) group, tables holding only
    data_cols.

    sorted_input says the batches arrive sorted by (__repo, __bucket)
    (_sorted_partitions): a key change yields the previous group at once
    with final=True, so the loop holds one group plus one batch and the
    cap below never fires. A group that appears again after the stream
    passed it means the sort was lost: ValueError names its key.

    Unsorted input (only the colcodec sink's) keeps every group open
    until the input ends, under a TOTAL cap: while all groups together
    hold more than BUFFER_CAP_FLUSHES × flush_bytes, the largest group is
    yielded early with final=False, so many small groups fragment.

    Grouping is vectorized per batch: one dictionary-encode of __repo,
    one int64 (repo code, bucket) key, one stable argsort and boundary
    detection, then one take per group — no per-row Python. In both
    modes a group reaching flush_bytes is yielded with final=False (the
    page-flush analog of writer.go:262-267) and a later slice of its key
    starts a new wave; flush_bytes=None never flushes early. After the
    input ends, every buffered group is yielded with final=True."""
    import pyarrow.compute as pc

    groups: dict[tuple, list[pa.RecordBatch]] = {}
    gbytes: dict[tuple, int] = {}
    total = 0
    current, done = None, set()  # sorted input: the open and passed keys
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        dictized = pc.dictionary_encode(batch.column("__repo"))
        rcodes = np.asarray(dictized.indices).astype(np.int64)
        rdict = dictized.dictionary
        buckets = np.asarray(batch.column("__bucket")).astype(np.int64)
        key_code = (rcodes << 32) | buckets
        order = np.argsort(key_code, kind="stable")
        sorted_keys = key_code[order]
        change = np.ones(n, dtype=bool)
        change[1:] = sorted_keys[1:] != sorted_keys[:-1]
        starts = np.flatnonzero(change)
        data = batch.select(data_cols)
        for i, s in enumerate(starts):
            e = starts[i + 1] if i + 1 < len(starts) else n
            code = sorted_keys[s]
            key = (rdict[int(code >> 32)].as_py(), int(code & 0xFFFFFFFF))
            if sorted_input and key != current:
                if key in done:
                    raise ValueError(
                        f"_group_slices: group {key} reappeared after the "
                        "stream passed it; the input is not sorted by "
                        "(__repo, __bucket)")
                if current is not None:
                    done.add(current)
                    if current in groups:
                        total -= gbytes.pop(current)
                        yield (current,
                               pa.Table.from_batches(groups.pop(current)),
                               True)
                current = key
            # each group takes its own rows: a slice of one batch-wide
            # take would pin the whole batch until every group holding a
            # slice of it flushed, and the cap would bound counted bytes,
            # not held ones
            sl = data.take(pa.array(order[s:e]))
            groups.setdefault(key, []).append(sl)
            gbytes[key] = gbytes.get(key, 0) + sl.nbytes
            total += sl.nbytes
            if flush_bytes and gbytes[key] >= flush_bytes:
                total -= gbytes.pop(key)
                yield key, pa.Table.from_batches(groups.pop(key)), False
            while flush_bytes and total > BUFFER_CAP_FLUSHES * flush_bytes:
                big = max(gbytes, key=gbytes.get)
                total -= gbytes.pop(big)
                yield big, pa.Table.from_batches(groups.pop(big)), False
    for key in list(groups):  # pop: a drained group's buffers are freed
        yield key, pa.Table.from_batches(groups.pop(key)), True


def _encode_stream_fn(columns: list[tuple[str, str]],
                      compression: str | None, chunk_suffix: str = "",
                      target_bytes: int | None = None):
    """mapInArrow encode kernel of encode_table, both layouts: the
    partition arrives sorted by (__repo, __bucket, *sort_cols)
    (_sorted_partitions), so each group is yielded whole, in sort-key
    order, once the stream passes it. No pandas conversion: strings stay
    in Arrow buffers end to end. A group whose buffer reaches 2×
    target_bytes is encoded IMMEDIATELY as 's<i>'-tagged sub-chunks, so a
    task holds one group's buffer plus one Arrow batch, not its partition
    share (VERDICT r2 #1)."""
    data_cols = [c for c, _ in columns]
    flush_bytes = 2 * target_bytes if target_bytes else None

    def fn(batches):
        flushed: dict[tuple, int] = {}  # sub-chunks already emitted
        fsst_cache: dict = {}  # (column, stream) -> codec state, all repos
        for key, tbl, final in _group_slices(batches, data_cols, flush_bytes,
                                             sorted_input=True):
            repo, bucket = key
            start = flushed.get(key, 0)
            # any early-flushed group keeps s-tags on ALL its chunks
            # (including the final wave) so ids never collide
            force = (not final) or start > 0
            for rb in _encode_chunk_batches(
                tbl, columns, repo, bucket, compression,
                chunk_suffix, target_bytes,
                split_offset=start, force_split=force,
                fsst_cache=fsst_cache,
            ):
                start += 1
                yield rb
            flushed[key] = start

    return fn


def _row_size_expr(df: DataFrame):
    size_expr = F.lit(0)
    for c, t in df.dtypes:
        dp = _decimal_info(t)
        if t in ("string", "binary"):
            size_expr = size_expr + F.coalesce(F.octet_length(F.col(c)), F.lit(0))
        elif t == "array<string>":
            size_expr = size_expr + F.aggregate(
                F.col(c), F.lit(0), lambda acc, x: acc + F.octet_length(x)
            ) + F.size(F.col(c)) * F.lit(4) + F.lit(4)
        elif t in _LIST_ELEM_WIDTH:
            size_expr = (size_expr
                         + F.size(F.col(c)) * F.lit(_LIST_ELEM_WIDTH[t])
                         + F.lit(4))
        elif t.startswith("array<"):
            # nested lists: rough per-element cost — planning only
            # shapes bucket counts; the encode kernel's size-triggered
            # flush bounds any underestimate
            size_expr = size_expr + F.size(F.col(c)) * F.lit(24) + F.lit(4)
        elif dp is not None:
            size_expr = size_expr + F.lit(16 if dp[0] > 18 else 8)
        elif t.startswith("struct<"):
            size_expr = size_expr + F.lit(16)  # rough per-row struct cost
        elif t.startswith("map<"):
            # rough per-entry cost; planning only shapes bucket counts and
            # the encode kernel splits any group exceeding 2x the target
            size_expr = size_expr + F.size(F.col(c)) * F.lit(24) + F.lit(4)
        elif t in ("bigint", "double", "timestamp", "timestamp_ntz"):
            size_expr = size_expr + F.lit(8)
        else:
            size_expr = size_expr + F.lit(4)
    return size_expr


def _repo_key(repo_col: str):
    """The chunk group key of every writer: the repo value as a string,
    NULL as "None". It only drives chunk placement and naming — the
    encoded repo column keeps its true values, NULLs included."""
    return F.coalesce(F.col(repo_col).cast("string"), F.lit("None"))


def _avg_row_bytes_from_metadata(df: DataFrame) -> float | None:
    """Average row size of df's input parquet files, read from their
    footers only (driver-side, no data scan): parquet row groups record
    total_byte_size (ENCODED-uncompressed page bytes — dictionary/RLE
    applied, outer compression not) + num_rows, so this UNDERSTATES
    logical row bytes on highly repetitive data. That bias is safe:
    planning only shapes bucket counts, and the encode kernel splits any
    group that exceeds 2× the target regardless. Returns None when the
    plan has no parquet file inputs (derived DataFrames, other formats).

    This is the catalog-statistics path the reference gets from file
    metadata (file.go footer reads): planning a 100 TB encode must not
    cost a second 100 TB scan."""
    try:
        files = df.inputFiles()
    except AnalysisException:  # plans with no file listing (streaming)
        return None
    if not files:
        return None
    if any(not f.endswith(".parquet") for f in files):
        return None

    # Footer reads are distributed as a Spark job over the path list when
    # there are many files: at 100 TB ≈ 10⁵-10⁶ input files a sequential
    # driver loop is minutes-to-hours of single-threaded time (VERDICT r2
    # #2) while the job stays zero-data-bytes (footers only, ~KBs each).
    # Small file counts skip the job-scheduling overhead.
    if len(files) > _FOOTER_DRIVER_MAX:
        spark = df.sparkSession
        slices = min(len(files), spark.sparkContext.defaultParallelism * 4)
        # unreadable footers come back as -1 per partition; a failed
        # job is a fault and propagates
        parts = (
            spark.sparkContext.parallelize(files, slices)
            .mapPartitions(_footer_stats_partition)
            .collect()
        )
        if any(tb < 0 for tb, _ in parts):
            return None
        total_bytes = sum(tb for tb, _ in parts)
        total_rows = sum(tr for _, tr in parts)
    else:
        total_bytes, total_rows = _footer_stats(files)
        if total_bytes < 0:
            return None
    if total_rows == 0:
        return None
    return total_bytes / total_rows


_FOOTER_DRIVER_MAX = 64  # above this, footer reads run as a Spark job


def _footer_stats(paths) -> tuple[int, int]:
    """(total_byte_size, num_rows) summed over parquet footers;
    (-1, 0) if any footer is unreadable. Any other error is a fault
    and propagates."""
    import pyarrow.parquet as pq

    total_bytes = total_rows = 0
    for f in paths:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            md = pq.ParquetFile(path).metadata
        except (OSError, ValueError):  # ArrowInvalid is a ValueError
            return -1, 0
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            total_bytes += rg.total_byte_size
            total_rows += rg.num_rows
    return total_bytes, total_rows


def _footer_stats_partition(paths):
    yield _footer_stats(list(paths))


def plan_chunks(df: DataFrame, repo_col: str, salt_cols: list[str],
                target_chunk_bytes: int = TARGET_CHUNK_BYTES) -> DataFrame:
    """Assign every row a bounded-size chunk key: __repo (_repo_key) and
    __bucket = xxhash64(salt_cols) mod the repo's bucket count.

    One small aggregation + a broadcast join back; the heavy table is
    only shuffled once, by the repartition in encode_table. A repo's
    bytes are its row COUNT × the average row size read from parquet
    FOOTERS when df scans parquet files (a repo-column-only scan, zero
    data bytes on the driver: planning never re-reads the data), else
    the exact sum of row sizes in one scan. Underestimates for repos
    with atypically large rows are bounded by the encode kernel's group
    splitting."""
    keyed = df.withColumn("__repo", _repo_key(repo_col))
    avg = _avg_row_bytes_from_metadata(df)
    if avg is not None:
        size = (F.count(F.lit(1)) * F.lit(float(avg))).cast("bigint")
    else:
        size = F.sum(_row_size_expr(df))
    sizes = keyed.groupBy("__repo").agg(
        F.greatest(
            F.lit(1), F.ceil(size / F.lit(target_chunk_bytes))
        ).cast("int").alias("__n_buckets"))
    return (
        keyed.join(F.broadcast(sizes), on="__repo", how="inner")
        .withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.col("__n_buckets")).cast("int"),
        )
        .drop("__n_buckets")
    )


def _sorted_partitions(keyed: DataFrame, part_cols: list[str],
                       sort_cols: list[str]) -> DataFrame:
    """The one shuffle of encode_table and export_parquet, the
    SortingWriter analog (sorting.go:23-127): part_cols into one task per
    slot, each partition sorted in the JVM by (__repo, __bucket,
    *sort_cols), NULLs last as pqwriter's SortingColumn declares. An
    explicit count: AQE would coalesce to a few 64 MB partitions, and a
    Python task costs ~0.2-0.4 s before any work (local[2], 25k rows: 8
    tasks 1.9-2.2 s, 2 tasks 0.95-1.1 s)."""
    n_parts = keyed.sparkSession.sparkContext.defaultParallelism
    order = [F.col(c).asc_nulls_last()
             for c in ("__repo", "__bucket", *sort_cols)]
    return keyed.repartition(n_parts, *part_cols).sortWithinPartitions(
        *order)


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    *,
    repo_col: str = "repo",
    salt_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    target_chunk_bytes: int = TARGET_CHUNK_BYTES,
    compression: str | None = None,
    resume: bool = True,
    chunk_suffix: str = "",
    layout: str = "hash",
) -> dict:
    """Encode df into a blobs+manifest parquet table at out_path.

    Both layouts sort each partition by (repo, bucket, *sort_cols), NULLs
    last (_sorted_partitions), and the kernel cuts each group's sorted
    stream by size, so a group's chunks hold disjoint sort_cols ranges.
    layout="hash" buckets rows by xxhash64(salt_cols), whose buckets'
    ranges interleave. layout="range" is one bucket-0 stream per repo,
    so a repo's chunks hold disjoint ranges (lexicographic for compound
    keys) and min/max pruning works.

    resume=True skips the (repo, bucket) groups the store's manifest
    already holds: whole repos for the range layout, since each is bucket
    0 and one task writes and commits its rows together. A store
    with a `_bounds` sidecar was written by the former quantile range
    planner, whose buckets a resume cannot reproduce: it still reads,
    but resume=True over it raises ValueError. chunk_suffix namespaces
    the chunk ids (compaction's "@compact").

    Returns summary metrics (chunks encoded, bytes, ratio, skipped)."""
    salt_cols = salt_cols or [c for c, _ in df.dtypes if c != repo_col][:2]
    sort_cols = sort_cols if sort_cols is not None else salt_cols
    columns = df.dtypes
    for _, t in columns:
        _col_kind(t)  # validate early

    sidecar = os.path.join(out_path, "_bounds")
    if resume and os.path.isdir(sidecar):
        raise ValueError(
            f"{sidecar}: this store was written by the former quantile "
            "range planner and cannot be resumed; it still reads, so "
            "re-encode it into a new store with resume=False")
    if layout == "range":
        keyed = (df.withColumn("__repo", _repo_key(repo_col))
                 .withColumn("__bucket", F.lit(0)))
    else:
        keyed = plan_chunks(df, repo_col, salt_cols, target_chunk_bytes)

    skipped = 0
    if resume and _table_exists(out_path):
        done = manifest(spark, out_path).select("repo", "bucket").distinct()
        cond = (keyed["__repo"] == done["repo"]) & (keyed["__bucket"] == done["bucket"])
        keyed = keyed.join(F.broadcast(done), on=cond, how="left_anti")
        skipped = done.count()

    import time as _time

    t0 = _time.time()
    fn = _encode_stream_fn(columns, compression, chunk_suffix,
                           target_bytes=target_chunk_bytes)
    # range: a repo is one task's stream, so a resume skips whole repos
    part_cols = ["__repo"] if layout == "range" else ["__repo", "__bucket"]
    parts = _sorted_partitions(keyed, part_cols, sort_cols)
    encoded = parts.mapInArrow(fn, BLOB_SCHEMA)
    encoded.write.mode("append").parquet(out_path)
    write_sec = _time.time() - t0

    _write_schema_sidecar(out_path, columns)

    agg = _store_totals(out_path)
    return {
        **agg,
        "ratio": (agg["raw_bytes"] or 0) / max(agg["enc_bytes"] or 1, 1),
        "skipped_chunks": skipped,
        # time from call to write commit — the job itself, excluding the
        # post-hoc manifest summary below
        "write_sec": round(write_sec, 2),
    }


def _store_totals(out_path: str) -> dict:
    """{chunks, raw_bytes, enc_bytes} over the whole store, read in
    process from three manifest columns — no Spark job. Like Spark,
    pyarrow's discovery skips '_'/'.'-prefixed entries (_SUCCESS, the
    schema sidecar, .crc files, and the _bounds sidecar of stores the
    former range planner wrote). Sums are None for an empty store,
    as Spark's SUM over no rows."""
    import pyarrow.dataset as ds

    if not _table_exists(out_path):
        return {"chunks": 0, "raw_bytes": None, "enc_bytes": None}
    t = ds.dataset(out_path, format="parquet").to_table(
        columns=["chunk_id", "raw_bytes", "enc_bytes"])
    return {
        "chunks": pa.compute.count_distinct(t.column("chunk_id")).as_py(),
        "raw_bytes": pa.compute.sum(t.column("raw_bytes")).as_py(),
        "enc_bytes": pa.compute.sum(t.column("enc_bytes")).as_py(),
    }


def _table_exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def _write_schema_sidecar(out_path: str, columns: list[tuple[str, str]]) -> None:
    with open(os.path.join(out_path, "_colcodec_schema.json"), "w") as f:
        json.dump({"columns": [{"name": c, "type": t} for c, t in columns]}, f)


def _read_schema_sidecar(out_path: str) -> list[tuple[str, str]]:
    with open(os.path.join(out_path, "_colcodec_schema.json")) as f:
        doc = json.load(f)
    return [(c["name"], c["type"]) for c in doc["columns"]]


def manifest(spark: SparkSession, out_path: str) -> DataFrame:
    """Manifest view — columnar pruning means the blob column is never
    read. The read uses the EXPLICIT blob schema so tables written
    before a manifest-schema extension (def_hist/rep_hist are round-3
    additions) still resolve: files lacking a column yield nulls, which
    is exactly the no-statistics-recorded meaning."""
    return (spark.read.schema(BLOB_SCHEMA).parquet(out_path)
            .select(*MANIFEST_COLUMNS))


_SPARK_TYPE_NAMES = {
    "string": StringType(), "binary": BinaryType(), "bigint": LongType(),
    "int": IntegerType(), "double": DoubleType(), "float": FloatType(),
    "boolean": BooleanType(), "timestamp": TimestampType(), "timestamp_ntz": TimestampNTZType(),
    "date": DateType(),
}


def _spark_dtype(spark_type: str):
    """Type string → Spark DataType, recursing through arbitrary
    nesting (the decode-output schema mirror of _shred_column)."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType

    if spark_type in _SPARK_TYPE_NAMES:
        return _SPARK_TYPE_NAMES[spark_type]
    dp = _decimal_info(spark_type)
    if dp is not None:
        return DecimalType(*dp)
    el = _list_elem(spark_type)
    if el is not None:
        return ArrayType(_spark_dtype(el), True)
    sf = _struct_fields(spark_type)
    if sf is not None:
        return StructType([
            StructField(fn, _spark_dtype(ft), True) for fn, ft in sf
        ])
    mk = _map_kv(spark_type)
    if mk is not None:
        return MapType(_spark_dtype(mk[0]), _spark_dtype(mk[1]), True)
    raise ValueError(f"unsupported column type {spark_type}")


def _out_field(name: str, spark_type: str) -> StructField:
    return StructField(name, _spark_dtype(spark_type), True)


def _decode_stream_fn(cols: list[tuple[str, str]]):
    """Build the mapInArrow decode kernel. Each chunk's blob rows arrive
    consecutively (decode_table, _decode_blobs), so the kernel holds
    exactly ONE chunk's decoded streams at a time and yields it the
    moment the chunk_id changes — peak memory is one decoded chunk per
    task, never the whole partition. The kernel relies on that order and
    says so when it is broken: a chunk_id that reappears after the
    kernel passed it, a chunk missing a column's stream, or a stream
    whose row count disagrees with the chunk's raises ValueError naming
    the chunk (the rule of _group_slices(sorted_input=True)). Factored
    out of _decode_blobs so tests can drive it directly and assert the
    streaming behavior (yield-before-exhaustion)."""
    col_types = dict(cols)

    def _rebuild(values, validity, spark_type: str) -> pa.Array:
        arr = _values_to_arrow(values, spark_type)
        if validity is not None:
            # scatter non-null values back to full rows: take with
            # a masked index array (mask=True → null)
            idx = np.cumsum(validity) - 1
            index = pa.array(np.where(validity, idx, 0), mask=~validity)
            arr = arr.take(index)
        return arr

    def _unshred(st: dict, spark_type: str, prefix: str, n: int,
                 where: str) -> pa.Array:
        """Recursive Reconstruct — the inverse of _shred_column, walking
        the same stream-name grammar. st maps stream name →
        (values, validity) for one column of one chunk; n is the row
        count of the current nesting domain; where names the chunk and
        column in errors."""
        el = _list_elem(spark_type)
        mk = _map_kv(spark_type)
        sf = _struct_fields(spark_type)

        def _need(key: str):
            if key not in st:
                raise ValueError(f"{where}: no {key!r} stream")
            return st[key]

        def _check_len(key: str, got: int):
            if got != n:
                raise ValueError(
                    f"{where}: stream {key!r} holds {got} rows, {n} expected")

        def _cont_valid(pfx, stream="valid"):
            """Container validity (round-5 nullable-container grammar);
            stores written before it simply lack the stream → all
            present. Structs use 's:valid' (see _shred_column)."""
            vkey = _join_stream(pfx, stream)
            if vkey in st:
                return np.asarray(st[vkey][0]).astype(bool)
            return None

        if el is not None or mk is not None:
            lkey = _join_stream(prefix, "lengths")
            lengths, _ = _need(lkey)
            _check_len(lkey, len(lengths))
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(lengths, out=offsets[1:])
            n_flat = int(offsets[-1])
            valid = _cont_valid(prefix)
            if valid is None:
                off_arr = pa.array(offsets, pa.int32())
            else:
                # a null offset marks the container itself null (final
                # offset stays non-null per the Arrow layout)
                off_arr = pa.array(
                    offsets, pa.int32(),
                    mask=np.concatenate([~valid, [False]]))
        if el is not None:
            child_prefix = (_join_stream(prefix, "item")
                            if (_list_elem(el) is not None
                                or _map_kv(el) is not None)
                            else prefix)
            child = _unshred(st, el, child_prefix, n_flat, where)
            return pa.ListArray.from_arrays(off_arr, child)
        if mk is not None:
            ktype, vtype = mk
            karr = _unshred(st, ktype, _join_stream(prefix, "keys"), n_flat,
                            where)
            iarr = _unshred(st, vtype, _join_stream(prefix, "values"),
                            n_flat, where)
            return pa.MapArray.from_arrays(off_arr, karr, iarr)
        if sf is not None:
            children = [
                _unshred(st, ftype, _join_stream(prefix, f"f:{fname}"), n,
                         where)
                for fname, ftype in sf
            ]
            valid = _cont_valid(prefix, "s:valid")
            return pa.StructArray.from_arrays(
                children, names=[fname for fname, _ in sf],
                mask=pa.array(~valid) if valid is not None else None)
        key = prefix or "values"
        arr = _rebuild(*_need(key), spark_type)
        _check_len(key, len(arr))
        return arr

    def _assemble(cid: str, acc: dict, n_rows: int) -> pa.RecordBatch:
        arrays = []
        for name, spark_type in cols:
            where = f"chunk {cid!r} column {name!r}"
            if name not in acc:
                raise ValueError(f"{where}: the chunk has no stream of it")
            arrays.append(_unshred(acc[name], spark_type, "", n_rows, where))
        return pa.RecordBatch.from_arrays(arrays, names=[c for c, _ in cols])

    def decode(batches):
        cur_id = None
        cur_acc: dict = {}  # column -> stream -> (values, validity)
        cur_rows = 0
        passed: set = set()  # chunk ids already yielded
        for batch in batches:
            cids = batch.column("chunk_id")
            names = batch.column("column")
            streams = batch.column("stream")
            nr = batch.column("n_rows")
            blob_col = batch.column("blob")
            for i in range(batch.num_rows):  # one iteration per blob ROW
                cid = cids[i].as_py()  # (metadata scale: one per column
                # per chunk, thousands of values each — not per value)
                if cid != cur_id:
                    if cid in passed:
                        raise ValueError(
                            f"_decode_stream_fn: chunk {cid!r} reappeared "
                            "after the kernel passed it; its blob rows are "
                            "not consecutive")
                    if cur_id is not None:
                        passed.add(cur_id)
                        yield _assemble(cur_id, cur_acc, cur_rows)
                    cur_id, cur_acc = cid, {}
                name = names[i].as_py()
                values, meta = chunklib.decode_chunk(blob_col[i].as_py())
                cur_rows = nr[i].as_py()
                cur_acc.setdefault(name, {})[streams[i].as_py()] = (
                    values, meta["validity"]
                )
                ctype = col_types.get(name)
                # scalar columns: the values stream covers every row;
                # nested streams live on flattened domains
                if ((ctype is None or not _is_container(ctype))
                        and meta["n"] != cur_rows):
                    raise ValueError(
                        f"chunk {cid!r} column {name!r}: stream "
                        f"{streams[i].as_py()!r} holds {meta['n']} rows, "
                        f"the chunk {cur_rows}")
        if cur_id is not None:
            yield _assemble(cur_id, cur_acc, cur_rows)

    return decode


def _chunks_within_row_groups(out_path: str) -> bool:
    """True when no chunk's blob rows cross a parquet row group in any of
    the store's blob files. Spark never splits a row group across input
    partitions and a chunk never straddles files, so then a plain scan
    hands each chunk whole and in order to one task. A file with one row
    group is judged from its footer; a file with several (the colcodec
    sink writes one chunk per row group, and a writer task's file passes
    parquet.block.size, 128 MB) also from its chunk_id column, which is
    metadata scale. Files are discovered as Spark's reader finds them
    ('_'/'.'-prefixed entries skipped)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    if not _table_exists(out_path):
        return True
    for path in ds.dataset(out_path, format="parquet").files:
        pf = pq.ParquetFile(path)
        md = pf.metadata
        if md.num_row_groups <= 1:
            continue
        ids = pf.read(columns=["chunk_id"]).column(0)
        seen: set = set()
        at = 0
        for rg in range(md.num_row_groups):
            n = md.row_group(rg).num_rows
            here = set(pc.unique(ids.slice(at, n)).to_pylist())
            if here & seen:
                return False
            seen |= here
            at += n
    return True


def _chunks_together(blobs: DataFrame, chunks_whole: bool) -> DataFrame:
    """blobs with each chunk's rows consecutive inside one partition.
    chunks_whole says every chunk lies inside one row group of the input
    (_chunks_within_row_groups), so the scan's partitions already hold
    each chunk whole and in order and blobs is returned as it is.
    Otherwise the rows are hash-partitioned by chunk_id into one
    partition per slot (every Python task has a fixed start-up cost,
    PLANS.md "Python tasks sized to the work") and sorted by it within
    each."""
    if chunks_whole:
        return blobs
    n_parts = blobs.sparkSession.sparkContext.defaultParallelism
    return blobs.repartition(n_parts, "chunk_id").sortWithinPartitions(
        "chunk_id")


def _decode_blobs(blobs: DataFrame, cols: list[tuple[str, str]],
                  chunks_whole: bool) -> DataFrame:
    """Arrow-native decode: stream blob rows through the
    one-chunk-in-flight kernel where the scan put them, shuffled by
    chunk_id only when a chunk crosses a row group (_chunks_together)."""
    out_schema = StructType([_out_field(c, t) for c, t in cols])
    return _chunks_together(blobs, chunks_whole).mapInArrow(
        _decode_stream_fn(cols), out_schema)


def decode_table(spark: SparkSession, out_path: str,
                 columns_subset: list[str] | None = None) -> DataFrame:
    """blobs table → original rows (order within chunks preserved).

    The parquet scan feeds the decode kernel directly — each chunk is
    decoded in the task that reads it, the analog of reader.go:63-65
    decoding a row group's column chunks where they lie. Only a store
    with a chunk across row groups (_chunks_within_row_groups, checked
    in the driver) is shuffled by chunk_id first.

    columns_subset prunes both the output AND the blobs that are read —
    the analog of reader.go:63-65 projection (Spark's parquet reader
    never materializes the skipped blob cells: columnar pruning)."""
    columns = _read_schema_sidecar(out_path)
    blobs = spark.read.parquet(out_path)
    if columns_subset is not None:
        keep = set(columns_subset)
        columns = [(c, t) for c, t in columns if c in keep]
        blobs = blobs.where(F.col("column").isin([c for c, _ in columns]))
    return _decode_blobs(blobs, columns, _chunks_within_row_groups(out_path))


def _fill_expr(typ: str):
    """Fill expression for a column absent from a source table during
    schema-unifying compaction (the convert.go null-fill rule), made
    representable under the encode null contract at every nesting
    level: scalars null-fill; list/map columns fill with EMPTY
    containers; struct columns fill with a struct of per-field
    recursive fills (a struct-typed field is itself non-null)."""
    if _list_elem(typ) is not None:
        return F.array().cast(typ)
    if _map_kv(typ) is not None:
        return F.create_map().cast(typ)
    sf = _struct_fields(typ)
    if sf is not None:
        return F.struct(*[_fill_expr(ft).alias(fn) for fn, ft in sf])
    return F.lit(None).cast(typ)


def compact_tables(
    spark: SparkSession,
    in_paths: list[str],
    out_path: str,
    *,
    repo_col: str = "repo",
    salt_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    min_chunk_bytes: int = 1 << 20,
    target_chunk_bytes: int = TARGET_CHUNK_BYTES,
) -> dict:
    """Merge several blobs tables into one — the MergeRowGroups analog
    (/root/reference/merge.go:25-125). Chunks at or above min_chunk_bytes
    are spliced VERBATIM (blob bytes copied without decode — the
    writer_copy.go:14-60 fast path); undersized chunks are decoded,
    regrouped, and re-encoded into full-size chunks.

    Schemas need not be identical: like the reference's MergeNodes +
    Convert (merge.go:25, convert.go:370), inputs are unified to the
    ordered union of their columns. Tables already matching the union
    schema keep the verbatim fast path; tables missing columns are
    decoded, null-filled to the union, and re-encoded (a column absent
    from a source table decodes as NULL — the convert.go null-fill
    rule). A shared column name with two different types is an error."""
    # in-place compaction would overwrite input blobs that the lazy
    # 'big'/'small_rows' plans still need to read — refuse loudly
    out_real = os.path.realpath(out_path)
    for pth in in_paths:
        if os.path.realpath(pth) == out_real:
            raise ValueError(
                f"compact_tables: out_path {out_path!r} is also an input; "
                "write to a fresh directory and move afterwards"
            )
    schemas = [_read_schema_sidecar(pth) for pth in in_paths]
    union: list[tuple[str, str]] = []
    seen: dict[str, str] = {}
    for sc in schemas:
        for name, typ in sc:
            if name in seen:
                if seen[name] != typ:
                    raise ValueError(
                        f"compact_tables: column {name!r} has conflicting "
                        f"types {seen[name]!r} vs {typ!r}"
                    )
            else:
                seen[name] = typ
                union.append((name, typ))
    cols = union

    verbatim_parts = []
    verbatim_whole = True  # every verbatim input passes the row-group check
    convert_dfs = []
    for i, pth in enumerate(in_paths):
        if schemas[i] == union:
            verbatim_whole = verbatim_whole and _chunks_within_row_groups(pth)
            verbatim_parts.append(
                spark.read.parquet(pth).withColumn(
                    "chunk_id", F.concat(F.lit(f"t{i}:"), F.col("chunk_id"))
                )
            )
        else:
            d = decode_table(spark, pth)
            have = {c for c, _ in schemas[i]}
            for name, typ in union:
                if name not in have:
                    d = d.withColumn(name, _fill_expr(typ))
            convert_dfs.append(d.select([c for c, _ in union]))

    n_small = 0
    if verbatim_parts:
        blobs = verbatim_parts[0]
        for pdf in verbatim_parts[1:]:
            blobs = blobs.unionByName(pdf)
        sizes = blobs.groupBy("chunk_id").agg(F.sum("raw_bytes").alias("b"))
        small_ids = sizes.where(F.col("b") < min_chunk_bytes).select("chunk_id")
        # one output file per task: a chunk across input row groups is
        # brought together first, so no chunk straddles output files
        big = _chunks_together(
            blobs.join(F.broadcast(small_ids), "chunk_id", "left_anti"),
            verbatim_whole)
        big.write.mode("overwrite").parquet(out_path)
        _write_schema_sidecar(out_path, cols)
        n_small = small_ids.count()
        if n_small:
            # the broadcast semi join keeps the scan's order, so a chunk
            # whole in one row group still reaches one task in order
            convert_dfs.append(_decode_blobs(
                blobs.join(F.broadcast(small_ids), "chunk_id", "left_semi"),
                cols, verbatim_whole,
            ))
    else:
        os.makedirs(out_path, exist_ok=True)
        _write_schema_sidecar(out_path, cols)

    if convert_dfs:
        rows = convert_dfs[0]
        for d in convert_dfs[1:]:
            rows = rows.unionByName(d)
        encode_table(
            spark, rows, out_path,
            repo_col=repo_col, salt_cols=salt_cols, sort_cols=sort_cols,
            target_chunk_bytes=target_chunk_bytes, resume=False,
            chunk_suffix="@compact",
        )
    return {
        "chunks": _store_totals(out_path)["chunks"],
        "merged_small_chunks": n_small,
        "converted_tables": len(convert_dfs) - (1 if n_small else 0),
    }


def verify_roundtrip(spark: SparkSession, source: DataFrame, out_path: str,
                     content_col: str = "content") -> dict:
    """Per-row sha256 invariant (BASELINE.json input_hint): the decoded
    table must contain exactly the same multiset of row hashes."""
    cols = [c for c, _ in source.dtypes]
    decoded = decode_table(spark, out_path)
    h = lambda df: df.select(  # noqa: E731
        F.sha2(
            F.concat_ws(
                "\x1f",
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                  for c in cols],
            ),
            256,
        ).alias("h")
    )
    src = h(source).groupBy("h").count()
    dec = h(decoded).groupBy("h").count()
    diff = src.join(dec, "h", "full_outer").where(
        F.coalesce(src["count"], F.lit(0)) != F.coalesce(dec["count"], F.lit(0))
    )
    n_src = source.count()
    n_dec = decoded.count()
    n_bad = diff.count()
    return {"rows_source": n_src, "rows_decoded": n_dec, "hash_mismatches": n_bad,
            "ok": n_src == n_dec and n_bad == 0}
