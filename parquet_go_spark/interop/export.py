"""Distributed parquet export: encode a DataFrame into real .parquet
files (one per planned chunk group) through our codec kernels, so the
files are readable by ANY parquet implementation — Spark's parquet-mr,
pyarrow, DuckDB. The write-direction interop path (writer.go is a full
parquet writer in the reference; tests/test_golden_decode.py covers the
read direction here).

Same scale shape as pipeline.encode_table: one metadata-scale planning
aggregation, one sorted shuffle on the chunk key, Arrow-native kernels,
no per-row Python. Oversized groups roll to additional files at
2x target_chunk_bytes (files are independent, so splitting is free) —
a task never buffers more than ~one file of Arrow slices.

Columns: a scalar is one ColumnSpec leaf. Every list, struct and map
column, at any depth, is shredded by one Dremel walk (_nested_spec, the
reference's Deconstruct, schema.go:341-361) into rep/def entry streams
per leaf. It declares every level optional except a map's key, as
Spark's types do (containsNull, valueContainsNull, nullable fields).
"""

from __future__ import annotations

import hashlib
import os
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from parquet_go_spark.plans import pipeline
from parquet_go_spark.interop.pqwriter import (
    ColumnSpec, NestedColumnSpec, NestedLeaf, _cum, _group_element,
    _leaf_element, write_table,
)

_SUMMARY_SCHEMA = StructType([
    StructField("file", StringType(), False),
    StructField("repo", StringType(), False),
    StructField("bucket", LongType(), False),
    StructField("part", LongType(), False),
    StructField("n_rows", LongType(), False),
    StructField("file_bytes", LongType(), False),
])

_SUMMARY_ARROW = pa.schema([
    ("file", pa.string()), ("repo", pa.string()), ("bucket", pa.int64()),
    ("part", pa.int64()), ("n_rows", pa.int64()), ("file_bytes", pa.int64()),
])

# spark type → SchemaElement logical annotation. timestamp_ntz maps to
# the legacy TIMESTAMP_MICROS converted type too (it implies
# adjusted-to-UTC, so readers surface LTZ micros — wall-time-identical
# under the UTC session the engine standardizes on).
_LOGICAL = {"string": "string", "date": "date",
            "timestamp": "timestamp_micros",
            "timestamp_ntz": "timestamp_micros"}


def _leaf_logical(spark_type: str) -> str | None:
    """pqwriter `logical` tag for a leaf: decimals carry their own type
    string (pqwriter expands it to ConvertedType DECIMAL + scale/
    precision + the modern DecimalType logicalType)."""
    if pipeline._decimal_info(spark_type) is not None:
        return spark_type
    return _LOGICAL.get(spark_type)


def _leaf_ok(spark_type: str) -> bool:
    return (spark_type in pipeline._KIND_BY_SPARK
            or pipeline._decimal_info(spark_type) is not None)


def _leaf_flba(spark_type: str) -> int | None:
    dp = pipeline._decimal_info(spark_type)
    return 16 if dp is not None and dp[0] > 18 else None


def _leaf_values(arr, spark_type: str):
    """Arrow array → pqwriter value payload. Decimal FLBA needs the
    PARQUET byte order: big-endian two's complement — the pipeline
    helper emits the blob store's little-endian int128 words, so
    reverse each row's bytes."""
    vals = pipeline._arrow_to_values(arr, spark_type)
    dp = pipeline._decimal_info(spark_type)
    if dp is not None and dp[0] > 18:
        vals = np.ascontiguousarray(vals[:, ::-1])
    return vals


def _supported(spark_type: str) -> bool:
    """Any list, struct or map nesting of scalar leaves, where map keys
    are scalar (the parquet MAP key contract)."""
    if _leaf_ok(spark_type):
        return True
    elem = pipeline._list_elem(spark_type)
    if elem is not None:
        return _supported(elem)
    kv = pipeline._map_kv(spark_type)
    if kv is not None:
        return _leaf_ok(kv[0]) and _supported(kv[1])
    sf = pipeline._struct_fields(spark_type)
    return sf is not None and all(_supported(t) for _, t in sf)


def _nested_schema_elements(name: str, spark_type: str) -> list:
    """SchemaElement structs for one container column, root group
    first. Every level is optional except a map's key: LIST is the spec
    3-level group with an optional element, MAP is `optional group
    (MAP) { repeated group key_value { required key; optional value }
    }`."""
    els = []

    def leaf(nm: str, ty: str, repetition: int) -> None:
        els.append(_leaf_element(nm, repetition, pipeline._col_kind(ty),
                                 _leaf_flba(ty), _leaf_logical(ty)))

    def emit(nm: str, ty: str) -> None:
        elem = pipeline._list_elem(ty)
        kv = pipeline._map_kv(ty)
        sf = pipeline._struct_fields(ty)
        if elem is not None:
            els.append(_group_element(nm, 1, 1, 3))  # ConvertedType LIST
            els.append(_group_element("list", 2, 1))
            emit("element", elem)
        elif kv is not None:
            els.append(_group_element(nm, 1, 1, 1))  # ConvertedType MAP
            els.append(_group_element("key_value", 2, 2))
            leaf("key", kv[0], 0)
            emit("value", kv[1])
        elif sf is not None:
            els.append(_group_element(nm, 1, len(sf)))
            for fn, ft in sf:
                emit(fn, ft)
        else:
            leaf(nm, ty, 1)

    emit(name, spark_type)
    return els


def _leaves(spark_type: str) -> list:
    """→ [(tokens, path, leaf_type)] per leaf, in schema order; `path`
    is the schema path below the column name. Tokens drive the
    entry-stream walk: ("opt",) one optional level (def +1 when
    present, terminate when null), ("field", i) descend struct field i,
    ("list",) expand a repeated level (def +1 per element, rep level).
    A map walks as a list of key/value structs whose key is required."""
    elem = pipeline._list_elem(spark_type)
    kv = pipeline._map_kv(spark_type)
    sf = pipeline._struct_fields(spark_type)
    if elem is not None:
        kids = [([("list",), ("opt",)], ["list", "element"], elem)]
    elif kv is not None:
        kids = [([("list",), ("field", 0)], ["key_value", "key"], kv[0]),
                ([("list",), ("field", 1), ("opt",)],
                 ["key_value", "value"], kv[1])]
    elif sf is not None:
        kids = [([("field", i), ("opt",)], [fname], ftype)
                for i, (fname, ftype) in enumerate(sf)]
    else:
        return [([], [], spark_type)]
    return [(tok + t, path + p, lt) for tok, path, ty in kids
            for t, p, lt in _leaves(ty)]


def _expand(reps: np.ndarray, row_starts: np.ndarray, starts: np.ndarray,
            depth: int) -> tuple:
    """Rep levels and row starts after one repeated level: parent entry
    i becomes entries [starts[i], starts[i+1]); the first keeps the
    parent's rep level, the others repeat at depth + 1."""
    new = np.full(int(starts[-1]), depth + 1, dtype=np.uint8)
    new[starts[:-1]] = reps
    return new, starts[row_starts]


def _leaf_streams(arr: pa.Array, tokens) -> tuple:
    """The write-direction Dremel walk for ONE leaf → (values_arrow,
    rep uint8[E], def uint8[E], row_starts int64[n+1], val_cum
    int64[E+1]). Entry-state arrays (`idx` position in the current
    Arrow array, `alive` not-yet-terminated, absolute def/rep) evolve
    through the token list; a terminated entry (null ancestor / empty
    list) rides through the remaining tokens unchanged and lands in
    every descendant leaf with its frozen levels — which is exactly the
    Dremel record-shredding rule.

    Until the first null or empty list every entry is alive, the
    entries are the positions [lo, lo + E) of the current array (Arrow
    list offsets are monotone) and they share one def level `d`; the
    walk builds `idx`, `alive` and `defs` only from there on."""
    lo, d = 0, 0
    idx = alive = defs = None  # None while every entry is alive
    reps = np.zeros(len(arr), dtype=np.uint8)
    row_starts = np.arange(len(arr) + 1, dtype=np.int64)
    cur = arr
    rep_depth = 0
    for tok in [("opt",)] + tokens:  # column presence first
        if tok[0] == "field":
            cur = cur.field(tok[1])
            continue
        E = len(reps)
        if alive is None:
            if tok[0] == "opt" and not cur.slice(lo, E).null_count:
                d += 1
                continue
            if tok[0] == "list":
                off = np.asarray(cur.offsets)[lo:lo + E + 1].astype(np.int64)
                if np.diff(off).all():  # every list non-empty
                    reps, row_starts = _expand(reps, row_starts,
                                               off - off[0], rep_depth)
                    lo, d = int(off[0]), d + 1
                    cur, rep_depth = cur.values, rep_depth + 1
                    continue
            idx = np.arange(lo, lo + E, dtype=np.int64)
            alive = np.ones(E, dtype=bool)
            defs = np.full(E, d, dtype=np.uint8)
        if tok[0] == "opt":
            if cur.null_count:
                pres = alive.copy()
                pres[alive] = np.asarray(cur.is_valid())[idx[alive]]
                alive = pres
            defs += alive
            continue
        off = np.asarray(cur.offsets, dtype=np.int64)
        ai = idx[alive]
        s = np.zeros(E, dtype=np.int64)
        s[alive] = off[ai]
        lens = np.zeros(E, dtype=np.int64)
        lens[alive] = off[ai + 1] - s[alive]
        bump = lens > 0  # empty lists stop at presence def
        cnt = np.maximum(lens, 1)
        starts = _cum(cnt)
        idx = np.repeat(s - starts[:-1], cnt) + np.arange(starts[-1])
        defs = np.repeat(defs + bump, cnt)
        alive = np.repeat(bump, cnt)
        reps, row_starts = _expand(reps, row_starts, starts, rep_depth)
        cur, rep_depth = cur.values, rep_depth + 1
    E = len(reps)
    if alive is None:
        return (cur.slice(lo, E), reps, np.full(E, d, dtype=np.uint8),
                row_starts, np.arange(E + 1, dtype=np.int64))
    sel = idx[alive]
    # alive positions strictly increase, so an unbroken run is a slice
    if len(sel) and sel[-1] - sel[0] == len(sel) - 1:
        vals = cur.slice(int(sel[0]), len(sel))
    else:
        vals = cur.take(pa.array(sel))
    return vals, reps, defs, row_starts, _cum(alive)


def _nested_spec(name: str, arr: pa.Array, spark_type: str
                 ) -> NestedColumnSpec:
    """Arrow column of ANY list/struct/map nesting → NestedColumnSpec."""
    leaves = []
    for tokens, path, leaf_type in _leaves(spark_type):
        vals, reps, defs, row_starts, val_cum = _leaf_streams(arr, tokens)
        leaves.append(NestedLeaf(
            path=path, kind=pipeline._col_kind(leaf_type),
            values=_leaf_values(vals, leaf_type),
            rep=reps, de=defs,
            max_rep=sum(t[0] == "list" for t in tokens),
            # def contributions: the column's own presence (1), every
            # ("opt",) presence level, and every ("list",) repetition level
            max_def=1 + sum(t[0] != "field" for t in tokens),
            row_starts=row_starts, val_cum=val_cum,
            flba_size=_leaf_flba(leaf_type),
            logical=_leaf_logical(leaf_type),
        ))
    return NestedColumnSpec(
        name=name, n_rows=len(arr), leaves=leaves,
        schema_elements=_nested_schema_elements(name, spark_type))


def _to_specs(tbl: pa.Table, columns) -> list:
    """One writer spec per column: a ColumnSpec for a scalar, the one
    Dremel walk (_nested_spec) for every list, struct and map."""
    specs = []
    for name, spark_type in columns:
        arr = tbl.column(name).combine_chunks()
        if pipeline._is_container(spark_type):
            specs.append(_nested_spec(name, arr, spark_type))
            continue
        validity = None
        if arr.null_count:
            validity = np.asarray(arr.is_valid())
            arr = arr.drop_null()
        specs.append(ColumnSpec(
            name,
            pipeline._col_kind(spark_type),
            _leaf_values(arr, spark_type),
            validity=validity,
            flba_size=_leaf_flba(spark_type),
            logical=_leaf_logical(spark_type),
        ))
    return specs


def _file_name(repo: str, bucket: int, part: int) -> str:
    # filesystem-safe, collision-free: readable prefix + short digest
    safe = "".join(ch if ch.isalnum() or ch in "-_." else "_"
                   for ch in repo)[:48]
    dig = hashlib.sha256(repo.encode()).hexdigest()[:8]
    suffix = f"-{part}" if part else ""
    return f"{safe}-{dig}-b{bucket}{suffix}.parquet"


def _export_fn(columns, out_dir: str, compression, target_bytes: int,
               page_rows: int, sort_cols=None, bloom_cols=None,
               encryption=None):
    col_names = [c for c, _ in columns]
    sorting = ([col_names.index(c) for c in sort_cols]
               if sort_cols else None)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parts: dict[tuple[str, int], int] = {}
        rows = []
        # one file per flush of the sorted stream: a group rolls to a new
        # part file at ~2x target, the encode kernel's bound, and its
        # parts and pages hold ascending, disjoint sort_cols ranges
        for key, tbl, _ in pipeline._group_slices(
                batches, col_names, 2 * target_bytes, sorted_input=True):
            repo, bucket = key
            part = parts.get(key, 0)
            parts[key] = part + 1
            name = _file_name(repo, bucket, part)
            # write-tmp-then-rename: readers globbing *.parquet never see
            # a partial file, and re-runs overwrite deterministically (the
            # name is a pure function of (repo, bucket, part)) — export is
            # idempotent under replay even without the resume manifest
            final = os.path.join(out_dir, name)
            tmp = final + ".tmp"
            # per-FILE FileEncryption: a factory mints fresh DEKs so
            # no key is shared across files (GCM nonce budget)
            enc = encryption() if callable(encryption) else encryption
            info = write_table(
                tmp, _to_specs(tbl, columns),
                compression=compression, page_rows=page_rows,
                sorting_columns=sorting, bloom_columns=bloom_cols,
                encryption=enc,
            )
            os.replace(tmp, final)
            rows.append({
                "file": name, "repo": repo, "bucket": bucket, "part": part,
                "n_rows": info["n_rows"], "file_bytes": info["file_bytes"],
            })
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=_SUMMARY_ARROW)

    return fn


def export_parquet(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    *,
    repo_col: str = "repo",
    salt_cols: list[str] | None = None,
    compression: str | None = None,
    target_chunk_bytes: int = pipeline.TARGET_CHUNK_BYTES,
    page_rows: int = 65536,
    resume: bool = False,
    sort_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    encryption=None,
) -> DataFrame:
    """Write df as a directory of self-contained .parquet files encoded
    by our kernels; returns the per-file summary DataFrame (collected
    eagerly so the write is done when this returns).

    Each partition is sorted by (repo, bucket, *sort_cols), NULLs last
    (pipeline._sorted_partitions), so a group's part files hold
    disjoint, ascending sort_cols ranges, as their footers declare.

    resume=True skips (repo, bucket) groups already recorded in the
    `_export_manifest` sidecar (the encode_table checkpoint analog;
    underscore-prefixed so parquet readers treat it as hidden).

    The manifest is AUTHORITATIVE over the directory: after every run a
    reconcile pass removes .parquet files the manifest does not list.
    That is what makes crashed runs and task retries safe — rolling
    part numbers depend on shuffle arrival order, so a retried task may
    produce fewer parts than a dead attempt wrote; the orphaned higher
    parts (rows now duplicated into lower parts) are swept instead of
    being seen by directory-globbing readers. Consequence: out_dir is
    OWNED by the export — foreign .parquet files placed there are
    removed.

    bloom_cols: leaf columns to write split-block bloom filters for
    (spec XXH64; see pqbloom) — probe with pqbloom.read_blooms to prune
    whole files/row groups from footer metadata alone.

    encryption: parquet modular encryption (AES_GCM_V1) for every
    exported file — either a pqcrypt.FileEncryption (used verbatim;
    fine for a handful of files) or, preferred at scale, a zero-arg
    callable returning one (pqcrypt.EncryptionFactory mints fresh
    wrapped DEKs per FILE, keeping every key's GCM nonce budget
    per-file). Read back with format("pqread") and its master_keys /
    aad_prefix options, or in process with read_table(decryption=
    EncryptionFactory.decryption());
    compact later with compact_export(decryption=..., encryption=...)
    to keep the merged files encrypted."""
    columns = df.dtypes
    for name, t in columns:
        if not _supported(t):
            raise ValueError(
                f"export_parquet: column {name}: unsupported type {t} "
                "(any array, struct or map nesting of scalar leaves; "
                "map keys must be scalar)")
    os.makedirs(out_dir, exist_ok=True)
    salt_cols = salt_cols or [c for c, _ in columns if c != repo_col][:2]
    keyed = pipeline.plan_chunks(df, repo_col, salt_cols, target_chunk_bytes)
    mpath = os.path.join(out_dir, "_export_manifest")
    if resume and pipeline._table_exists(mpath):
        done = spark.read.parquet(mpath).select("repo", "bucket").distinct()
        cond = ((keyed["__repo"] == done["repo"])
                & (keyed["__bucket"] == done["bucket"]))
        keyed = keyed.join(F.broadcast(done), on=cond, how="left_anti")
    parts = pipeline._sorted_partitions(keyed, ["__repo", "__bucket"],
                                        sort_cols or [])
    fn = _export_fn(columns, out_dir, compression, target_chunk_bytes,
                    page_rows, sort_cols, bloom_cols, encryption)
    summary = parts.mapInArrow(fn, _SUMMARY_SCHEMA)
    out = summary.cache()
    out.count()  # materialize the write
    out.write.mode("append").parquet(mpath)
    _reconcile_dir(spark, out_dir, mpath)
    return out


def _reconcile_dir(spark: SparkSession, out_dir: str, mpath: str) -> None:
    """Remove .parquet files the manifest does not list (orphans from
    crashed runs / task retries). One listdir + one metadata-scale
    manifest read — driver-side, O(files) names in memory."""
    listed = {
        r.file for r in
        spark.read.parquet(mpath).select("file").distinct().collect()
    }
    for f in os.listdir(out_dir):
        if f.endswith(".parquet") and f not in listed:
            try:
                os.remove(os.path.join(out_dir, f))
            except FileNotFoundError:  # a concurrent sweep got there
                pass
