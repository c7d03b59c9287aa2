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
    ColumnSpec, MapColumnSpec, NestedColumnSpec, NestedLeaf,
    StructColumnSpec, _group_element, _leaf_element, write_table,
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
    """Any struct/list composition of supported leaves (the generic
    Dremel path), plus map<scalar,scalar> at the top level (the MAP
    group has its own two-leaf writer; maps nested deeper are the one
    remaining unsupported shape)."""
    kv = pipeline._map_kv(spark_type)
    if kv is not None:
        return all(_leaf_ok(t) for t in kv)
    return _supported_nested(spark_type)


def _supported_nested(spark_type: str) -> bool:
    if _leaf_ok(spark_type):
        return True
    elem = pipeline._list_elem(spark_type)
    if elem is not None:
        return _supported_nested(elem)
    sf = pipeline._struct_fields(spark_type)
    return sf is not None and all(_supported_nested(t) for _, t in sf)


def _nested_schema_elements(name: str, spark_type: str) -> list:
    """SchemaElement structs for one arbitrarily nested column (every
    level optional — matching the all-optional def accounting of the
    generic shredder; LIST is the spec 3-level group with an OPTIONAL
    element)."""
    els = []

    def emit(nm: str, ty: str) -> None:
        elem = pipeline._list_elem(ty)
        sf = pipeline._struct_fields(ty)
        if elem is not None:
            els.append(_group_element(nm, 1, 1, 3))  # ConvertedType LIST
            els.append(_group_element("list", 2, 1))
            emit("element", elem)
        elif sf is not None:
            els.append(_group_element(nm, 1, len(sf)))
            for fn, ft in sf:
                emit(fn, ft)
        else:
            els.append(_leaf_element(nm, 1, pipeline._col_kind(ty),
                                     _leaf_flba(ty), _leaf_logical(ty)))

    emit(name, spark_type)
    return els


def _leaf_walks(spark_type: str):
    """→ [(tokens, leaf_type)] per leaf, in schema order. Tokens drive
    the entry-stream walk: ("opt",) one optional level (def +1 when
    present, terminate when null), ("field", i) descend struct field i,
    ("list",) expand a repeated level (def +1 per element, rep level)."""
    elem = pipeline._list_elem(spark_type)
    if elem is not None:
        return [([("list",), ("opt",)] + tok, lt)
                for tok, lt in _leaf_walks(elem)]
    sf = pipeline._struct_fields(spark_type)
    if sf is not None:
        out = []
        for i, (_, ftype) in enumerate(sf):
            out.extend([([("field", i), ("opt",)] + tok, lt)
                        for tok, lt in _leaf_walks(ftype)])
        return out
    return [([], spark_type)]


def _leaf_paths(spark_type: str):
    """Schema path segments below the column name, one per leaf."""
    elem = pipeline._list_elem(spark_type)
    if elem is not None:
        return [["list", "element"] + p for p in _leaf_paths(elem)]
    sf = pipeline._struct_fields(spark_type)
    if sf is not None:
        out = []
        for fname, ftype in sf:
            out.extend([[fname] + p for p in _leaf_paths(ftype)])
        return out
    return [[]]


def _arr_validity(a: pa.Array) -> np.ndarray:
    if a.null_count == 0:
        return np.ones(len(a), dtype=bool)
    return np.asarray(a.is_valid())


def _leaf_streams(arr: pa.Array, tokens) -> tuple:
    """The write-direction Dremel walk for ONE leaf → (values_arrow,
    rep uint8[E], def uint8[E]). Entry-state arrays (`idx` position in
    the current Arrow array, `alive` not-yet-terminated, absolute
    def/rep) evolve through the token list; a terminated entry (null
    ancestor / empty list) rides through the remaining tokens unchanged
    and lands in every descendant leaf with its frozen levels — which
    is exactly the Dremel record-shredding rule. All numpy; the only
    Arrow calls are .field/.values/.offsets/.take."""
    idx = np.arange(len(arr), dtype=np.int64)
    alive = np.ones(len(arr), dtype=bool)
    defs = np.zeros(len(arr), dtype=np.int16)
    reps = np.zeros(len(arr), dtype=np.uint8)
    cur = arr
    rep_depth = 0
    for tok in [("opt",)] + tokens:  # column presence first
        if tok[0] == "opt":
            valid = _arr_validity(cur)
            pres = alive.copy()
            pres[alive] = valid[idx[alive]]
            defs[pres] += 1
            alive = pres
        elif tok[0] == "field":
            cur = cur.field(tok[1])
        else:  # ("list",)
            off = np.asarray(cur.offsets, dtype=np.int64)
            ai = idx[alive]
            lens = off[ai + 1] - off[ai]
            cnt = np.ones(len(idx), dtype=np.int64)
            cnt[alive] = np.maximum(lens, 1)
            bump = np.zeros(len(idx), dtype=bool)
            bump[alive] = lens > 0  # empty lists stop at presence def
            defs = defs + bump  # every element entry of the list: +1
            starts = np.zeros(len(idx) + 1, dtype=np.int64)
            np.cumsum(cnt, out=starts[1:])
            E = int(starts[-1])
            pos = np.arange(E, dtype=np.int64) - np.repeat(starts[:-1], cnt)
            s = np.zeros(len(idx), dtype=np.int64)
            s[alive] = off[ai]
            new_reps = np.repeat(reps, cnt)
            new_reps[pos > 0] = rep_depth + 1
            reps = new_reps
            defs = np.repeat(defs, cnt)
            alive = np.repeat(bump, cnt)
            idx = np.repeat(s, cnt) + pos
            cur = cur.values
            rep_depth += 1
    leaf_vals = cur.take(pa.array(idx[alive]))
    return leaf_vals, reps, defs.astype(np.uint8), alive


def _nested_spec(name: str, arr: pa.Array, spark_type: str
                 ) -> NestedColumnSpec:
    """Arrow column of ANY struct/list nesting → NestedColumnSpec."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    walks = _leaf_walks(spark_type)
    paths = _leaf_paths(spark_type)
    leaves = []
    for (tokens, leaf_type), path in zip(walks, paths):
        vals_arrow, reps, defs, alive = _leaf_streams(arr, tokens)
        max_rep = sum(1 for t in tokens if t[0] == "list")
        # def contributions: the column's own presence (1), every
        # ("opt",) presence level, and every ("list",) repetition level
        max_def = 1 + sum(1 for t in tokens if t[0] != "field")
        row_starts = np.append(
            np.flatnonzero(reps == 0).astype(np.int64), len(reps))
        kind = pipeline._col_kind(leaf_type)
        leaves.append(NestedLeaf(
            path=path, kind=kind,
            values=_leaf_values(vals_arrow, leaf_type),
            rep=reps, de=defs, max_rep=max_rep, max_def=max_def,
            row_starts=row_starts,
            val_cum=np.concatenate(
                [[0], np.cumsum(alive.astype(np.int64))]),
            flba_size=_leaf_flba(leaf_type),
            logical=_leaf_logical(leaf_type),
        ))
    return NestedColumnSpec(
        name=name, n_rows=len(arr), leaves=leaves,
        schema_elements=_nested_schema_elements(name, spark_type))


def _to_specs(tbl: pa.Table, columns) -> list[ColumnSpec]:
    import pyarrow.compute as pc

    specs = []
    for name, spark_type in columns:
        arr = tbl.column(name)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        elem = pipeline._list_elem(spark_type)
        sf0 = pipeline._struct_fields(spark_type)
        if ((elem is not None and not _leaf_ok(elem))
                or (sf0 is not None
                    and not all(_leaf_ok(t) for _, t in sf0))):
            # deeper than the specialized writers go → generic Dremel
            specs.append(_nested_spec(name, arr, spark_type))
            continue
        if elem is not None:
            # array<scalar> → flattened elements + lengths (+ null-list
            # validity); the writer emits the 3-level LIST group with
            # real rep/def levels
            validity = None
            if arr.null_count:
                validity = np.asarray(arr.is_valid())
            lengths = np.asarray(
                pc.fill_null(pc.list_value_length(arr), 0)
            ).astype(np.int64)
            specs.append(ColumnSpec(
                name,
                pipeline._col_kind(elem),
                _leaf_values(arr.flatten(), elem),
                validity=validity,
                flba_size=_leaf_flba(elem),
                logical=_leaf_logical(elem),
                lengths=lengths,
            ))
            continue
        kv = pipeline._map_kv(spark_type)
        if kv is not None:
            # map<K,V> → the writer's two-leaf MAP group. Cast to
            # list<struct> first (slice-safe; flatten() skips null
            # slots), same as the pipeline shredder.
            ktype, vtype = kv
            validity = None
            if arr.null_count:
                validity = np.asarray(arr.is_valid())
            la = arr.cast(pa.list_(pa.struct([
                pa.field("key", arr.type.key_type, nullable=False),
                pa.field("value", arr.type.item_type),
            ])))
            lengths = np.asarray(
                pc.fill_null(pc.list_value_length(la), 0)
            ).astype(np.int64)
            entries = la.flatten()
            keys, vals = entries.field(0), entries.field(1)
            entry_validity = None
            if vals.null_count:
                entry_validity = np.asarray(vals.is_valid())
                vals = vals.drop_null()
            specs.append(MapColumnSpec(
                name,
                key=ColumnSpec("key", pipeline._col_kind(ktype),
                               _leaf_values(keys, ktype),
                               flba_size=_leaf_flba(ktype),
                               logical=_leaf_logical(ktype)),
                value=ColumnSpec("value", pipeline._col_kind(vtype),
                                 _leaf_values(vals, vtype),
                                 flba_size=_leaf_flba(vtype),
                                 logical=_leaf_logical(vtype)),
                lengths=lengths,
                validity=validity,
                entry_validity=entry_validity,
            ))
            continue
        sf = pipeline._struct_fields(spark_type)
        if sf is not None:
            # struct<...> → one leaf per field. StructArray.flatten()
            # merges the parent validity into each child, so a child's
            # own validity is exactly the field-present mask.
            validity = None
            if arr.null_count:
                validity = np.asarray(arr.is_valid())
            fields = []
            for (fname, ftype), child in zip(sf, arr.flatten()):
                cval = None
                if child.null_count:
                    cval = np.asarray(child.is_valid())
                    child = child.drop_null()
                fields.append((fname, ColumnSpec(
                    fname, pipeline._col_kind(ftype),
                    _leaf_values(child, ftype),
                    validity=cval, flba_size=_leaf_flba(ftype),
                    logical=_leaf_logical(ftype))))
            specs.append(StructColumnSpec(name, fields=fields,
                                          validity=validity))
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
                "(any struct/array nesting of scalar leaves, plus "
                "top-level map<scalar,scalar>)")
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
