"""Python Data Source (Spark 4) exposing an encoded blob store as a
first-class Spark table: ``spark.read.format("colcodec").load(path)``.

The reference exposes its container through ``parquet.OpenFile`` /
``reader.Read`` (/root/reference/file.go:65-130, reader.go:63-65); the
idiomatic Spark 4 equivalent of that entry point is the Python Data
Source API, so the blob store plugs into plain ``spark.read`` —
joins, SQL views, and writes compose without calling into the pipeline
module.

Scale shape:

- ``partitions()`` lists the blob parquet FILES (a driver-side listing,
  not a data read): every chunk's blob rows are written by one task, so
  a chunk never straddles files and one file is one self-contained unit
  of decode work. Consecutive files (name order) are packed into slices
  of at most 4 MiB, a larger file alone: every Python task costs ~200 ms
  (4-CPU host) before any work, and a slice decodes one file at a time.
  The ``pqread`` source plans its parquet files with the same slice
  class and packer.
- Filter pushdown (``pushFilters``, Spark 4.1) does NOT prune on the
  driver: the accepted filters ride into every task, each slice
  compiles them once into pqreader's predicates (leaves modelled on the
  store's Spark types), and ``read()`` first scans only the metadata
  of its file's filtered columns (chunk_id, column, null_count,
  n_rows, plus min_val/max_val and bloom only when a predicate can use
  them — KBs), drops the chunks the one prune rule refutes
  (``pqreader._view_survives``, which also judges parquet row groups:
  =, !=, ranges, in, startswith, null tests), and decodes the rest. A
  WHERE no predicate can refute (endswith, contains) skips the scan.
  Pruning cost is distributed with the scan; the driver never loops
  over files. All filters are returned to Spark for exact
  re-evaluation, so bloom false positives and truncated bounds can
  never corrupt results (same contract as the reference's page
  skipping, search.go:6-95).
- Chunk blooms are raw XXH64 split-block bitsets (codecs/bloom.py), a
  multiple of 32 bytes. A bloom written before the XXH64 change carries
  a uvarint block-count prefix (length % 32 ≠ 0); its probe abstains,
  so the chunk is kept: stores from either side of the change, and
  chunks ``compact_tables`` splices verbatim, never lose rows.

SPARK 4.1 CAVEAT (upstream, applies to EVERY python data source with
``spark.sql.python.filterPushdown.enabled``): the JVM caches planned
partitions per relation (``PythonDataSourceV2.readInfo``) and filter
pushdown overwrites that cache, so a DataFrame OBJECT reused across
queries serves the first pushed query's pruned scan to a later query
that pushes nothing — silently losing rows even though Spark applies
the later filter exactly (the pruned-away chunks never reach it).
Reproduced with a minimal 20-line source; our filters already ride
inside each InputPartition, so no reader state is involved. Create
the DataFrame per query (``spark.read.format("colcodec").load(p)``
is a driver-side listing, milliseconds). Pinned in tests so a Spark
fix is noticed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructField, StructType


_SLICE_BYTES = 4 << 20  # Spark's spark.sql.files.openCostInBytes default


@dataclass
class _FileSlice(InputPartition):
    """One read task of either data source: the units it reads (blob
    file paths for colcodec, (path, byte span) pairs for pqread) and
    the pushed (col, op, value) filters."""

    units: tuple
    # filters ride IN the partition: Spark's python-datasource worker
    # REUSES one reader instance across queries on the same DataFrame,
    # and a query with no pushable filters never calls pushFilters —
    # reader-instance filter state would silently apply the PREVIOUS
    # query's pruning (reproduced: q1 `v IS NULL AND k < 100` then q2
    # `v IS NOT NULL OR k = 0` returned only q1-pruned rows)
    filters: tuple = ()


# Spark type → (physical type, thrift ConvertedType: UTF8 0, DATE 6,
# TIMESTAMP_MICROS 10) of the pqreader leaf a store column is judged
# as: the encoded representation the manifest stats and blooms were
# built from (pipeline._col_kind) — epoch days for dates, epoch micros
# for timestamps, UTF-8 bytes for strings.
# Decimals are INT32/INT64 DECIMAL leaves (unscaled-int stats, _leaf).
_LEAF_BY_SPARK = {
    "boolean": (0, None), "int": (1, None), "date": (1, 6),
    "bigint": (2, None), "timestamp": (2, 10), "timestamp_ntz": (2, 10),
    "float": (4, None), "double": (5, None), "string": (6, 0),
    "binary": (6, None),
}
# the manifest's bounds are value-ordered: TypeDefinedOrder for every
# column (pqreader._footer_trusted)
_TYPE_ORDER = {7: [{1: {}}]}


def _leaf(name: str, spark_type: str):
    """The optional pqreader leaf a scalar store column is judged as,
    or None for containers (never pushed)."""
    from parquet_go_spark.interop.pqreader import _CT_DECIMAL, _Node
    from parquet_go_spark.plans.pipeline import _decimal_info

    dp = _decimal_info(spark_type)
    if dp is not None:
        # every decimal's stats compare as unscaled Python ints; wide
        # ones (p > 18) get their own bloom probe (_int128_bloom)
        return _Node(name, 1, 1 if dp[0] <= 9 else 2, None, _CT_DECIMAL,
                     None, scale=dp[1], precision=dp[0])
    if spark_type not in _LEAF_BY_SPARK:
        return None
    physical, converted = _LEAF_BY_SPARK[spark_type]
    return _Node(name, 1, physical, None, converted, None)


def _int128_bloom(pred) -> list | None:
    """Bloom members of a wide-decimal (p > 18) pred: its chunks hash
    the 16-byte little-endian int128 words (pipeline._decimal_to_values)
    — probing INT64 or the spec's big-endian bytes would be a silent
    false negative."""
    import numpy as np

    from parquet_go_spark.codecs.kinds import Kind

    if pred.op not in ("=", "in") or pred.stat_cmp is None:
        return None
    members = []
    for s in pred.stat_cmp if pred.op == "in" else [pred.stat_cmp]:
        if -(1 << 127) <= s < (1 << 127):  # else it can never match
            words = np.frombuffer(s.to_bytes(16, "little", signed=True),
                                  np.uint8).reshape(1, 16)
            members.append((s, (words, Kind.FIXED_LEN_BYTE_ARRAY, 16)))
    return members or None


def _compile_filters(cols, filters):
    """Pushed (col, op, value) triples → pqreader's compiled predicate
    tree over leaves built from the store's Spark types, or None."""
    from parquet_go_spark.interop import pqreader

    if not filters:
        return None
    root = pqreader._Node("schema", 0, None, None, None, None)
    root.children = [lf for n, t in cols if (lf := _leaf(n, t)) is not None]
    pqreader._annotate(root, 0, 0, ())
    tree = pqreader._compile_pred_tree(root, _TYPE_ORDER, list(filters))
    for pred in pqreader._tree_leaves(tree):
        if pred.leaf.converted == pqreader._CT_DECIMAL \
                and pred.leaf.precision > 18:
            pred.bloom = _int128_bloom(pred)
    return tree


def _stat_value(leaf, stat: str | None):
    """Manifest min_val/max_val string → the leaf's stat space, or None
    — "unbounded, keep": latin-1 bytes for strings/binary (the
    truncated bound bytes, compared unsigned like the reference's byte
    bounds, column_index.go:499-533), int for the integer family and
    unscaled decimals (never a double: above 2^53 it rounds and
    mis-prunes), float for floats with NaN unbounded (a chunk holding
    any NaN records NaN min/max)."""
    if stat is None:
        return None
    try:
        if leaf.physical == 6:
            return stat.encode("latin-1")
        if leaf.physical in (1, 2):
            return int(stat)
        if leaf.physical in (4, 5):
            f = float(stat)
            return None if f != f else f
    except ValueError:
        return None
    return None  # boolean: no stats


def _rows_survive(tree, rows: dict) -> bool:
    """Can one chunk hold rows matching the compiled tree? `rows` maps
    a column to the chunk's values-stream manifest row (min_val,
    max_val, null_count, n_rows, bloom — any may be absent), judged as
    a pqreader._ChunkView by the rule both stores share. A column with
    no row is never refuted; a legacy uvarint-framed bloom (length %
    32 != 0) abstains."""
    from parquet_go_spark.interop import pqreader

    def leaf_survives(pred):
        row = rows.get(pred.name)
        if row is None:
            return True
        blob = row.get("bloom")
        return pqreader._view_survives(pred, pqreader._ChunkView(
            _stat_value(pred.leaf, row.get("min_val")),
            _stat_value(pred.leaf, row.get("max_val")),
            row.get("null_count"), row.get("n_rows"),
            (lambda: blob) if blob is not None and len(blob) % 32 == 0
            else None))

    return pqreader._tree_survives(tree, leaf_survives)


def _anchor_tz(value):
    """Resolve a naive TimestampType literal on the DRIVER: pushFilters
    runs driver-side, but the pushed filters are applied on executors
    whose OS tz can differ — a naive datetime shipped as-is would be
    interpreted in the WRONG zone there and silently drop matching
    chunks or rows. Recursive over In-lists."""
    import datetime as _dt

    if isinstance(value, (list, tuple)):
        return [_anchor_tz(v) for v in value]
    if isinstance(value, _dt.datetime) and value.tzinfo is None:
        return value.astimezone(_dt.timezone.utc)
    return value


def _pack_slices(units, filters=()) -> list[_FileSlice]:
    """Consecutive (unit, nbytes) pairs → slices of at most _SLICE_BYTES
    (a larger unit alone): every Python task pays a fixed start-up
    cost."""
    groups, size = [], 0
    for unit, n in units:
        if not groups or size + n > _SLICE_BYTES:
            groups.append([])
            size = 0
        groups[-1].append(unit)
        size += n
    return [_FileSlice(tuple(g), filters) for g in groups]


def _file_sizes(paths):
    """(path, size) pairs: whole files as packing units."""
    import os

    return [(p, os.path.getsize(p)) for p in paths]


def _read_slice(part: _FileSlice | None, cols):
    """The batch and stream read path: the pushed filters compile once,
    then one file at a time."""
    if part is None:  # empty store: Spark passes one None slice
        return
    tree = _compile_filters(cols, part.filters)
    for path in part.units:
        yield from _read_file(path, tree, cols)


def _refuted_chunks(path: str, tree) -> tuple[list, int]:
    """(ids of the file's chunks that the shared chunk-prune rule
    (pqreader._view_survives) refutes, number of chunks in the file),
    from one read of the metadata columns some pred can use: min/max
    for a stat value, bloom for bloom hashes. No read at all — ([], 0)
    — when no pred can refute (e.g. only endswith or contains). A chunk
    with no values stream for a filtered column is never refuted by
    it."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from parquet_go_spark.interop import pqreader

    judged = [p for p in pqreader._tree_leaves(tree)
              if p.op in ("isnull", "notnull")
              or p.stat_cmp is not None or p.bloom is not None]
    if not judged:
        return [], 0
    meta_cols = ["chunk_id", "column", "stream", "null_count", "n_rows"]
    if any(p.stat_cmp is not None for p in judged):
        meta_cols += ["min_val", "max_val"]
    if any(p.bloom is not None for p in judged):
        meta_cols.append("bloom")
    meta = pq.read_table(path, columns=meta_cols)
    n_chunks = len(pc.unique(meta.column("chunk_id")))
    meta = meta.filter((pc.field("stream") == "values")
                       & pc.field("column").isin(
                           sorted({p.name for p in judged})))
    per_chunk: dict[str, dict] = {}
    for row in meta.to_pylist():  # blob-row count: metadata scale
        per_chunk.setdefault(row["chunk_id"], {})[row["column"]] = row
    refuted = sorted(cid for cid, rows in per_chunk.items()
                     if not _rows_survive(tree, rows))
    return refuted, n_chunks


def _read_file(path: str, tree, cols):
    """One blob file under the compiled filter tree (None = no
    filters): drop the chunks _refuted_chunks names — a row-level
    dataset filter, so their blob rows are skipped during the scan,
    never materialized — and decode the rest. A file whose every chunk
    is refuted is not read at all."""
    import pyarrow.parquet as pq

    from parquet_go_spark.plans import pipeline

    refuted, n_chunks = (_refuted_chunks(path, tree) if tree is not None
                         else ([], 0))
    if refuted and len(refuted) == n_chunks:
        return
    tbl = pq.read_table(
        path, filters=[("chunk_id", "not in", refuted)] if refuted else None)
    if tbl.num_rows:
        tbl = tbl.sort_by("chunk_id")  # kernel holds one chunk at a time
        yield from pipeline._decode_stream_fn(cols)(tbl.to_batches())


class ColcodecReader(DataSourceReader):
    def __init__(self, path: str, cols: list[tuple[str, str]]):
        self._path = path
        self._cols = cols
        self._filters: list[tuple[str, str, object]] = []

    def pushFilters(self, filters):
        from parquet_go_spark.sources.pqread import _translate

        scalar = {
            c for c, t in self._cols
            if not t.startswith(("array<", "map<", "struct<"))
        }
        ltz = {c for c, t in self._cols if t == "timestamp"}
        # every scalar column, > included: pruning only skips chunks,
        # and a chunk holding NaN records NaN bounds, which keep it
        self._filters = _translate(filters, scalar, scalar, ltz_cols=ltz)
        # we only SKIP chunks; Spark must still evaluate every filter
        # exactly (bloom fpp / truncated bounds admit false positives).
        # Assign eagerly and return a plain iterator — as a generator,
        # self._filters would only be set if Spark drained the result,
        # and pruning would silently disengage if it ever short-circuits
        return iter(filters)

    def partitions(self):
        import os

        # snapshot the filters into the slices and RESET the instance:
        # the next query on this reused reader may legitimately skip
        # pushFilters (nothing pushable), and stale pruning from the
        # previous query would silently drop its rows. A re-planned
        # query that does push calls pushFilters again first; one that
        # doesn't merely loses pruning, never correctness.
        filters, self._filters = tuple(self._filters), []
        files = sorted(
            f for f in os.listdir(self._path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        return _pack_slices(
            _file_sizes([os.path.join(self._path, f) for f in files]),
            filters)

    def read(self, partition: _FileSlice | None):
        yield from _read_slice(partition, self._cols)


class ColcodecDataSource(DataSource):
    """spark.read.format("colcodec").load(<encode_table out_path>)."""

    @classmethod
    def name(cls) -> str:
        return "colcodec"

    def _cols(self) -> list[tuple[str, str]]:
        from parquet_go_spark.plans import pipeline

        path = self.options.get("path")
        if not path:
            raise ValueError("colcodec: .load(<blob store path>) required")
        return pipeline._read_schema_sidecar(path)

    def schema(self) -> StructType:
        from parquet_go_spark.plans import pipeline

        return StructType([
            StructField(name, pipeline._spark_dtype(t))
            for name, t in self._cols()
        ])

    def reader(self, schema: StructType) -> ColcodecReader:
        return ColcodecReader(self.options["path"], self._cols())

    def streamReader(self, schema: StructType):  # noqa: N802
        return ColcodecStreamReader(self.options["path"], self._cols())

    def _writer_args(self, schema: StructType, verb: str) -> tuple:
        """(path, cols, repo_col, compression, target_chunk_bytes) from
        the write options, validated on the driver before any task."""
        path = self.options.get("path")
        if not path:
            raise ValueError(f"colcodec: .{verb}(<blob store path>) required")
        cols = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        repo_col = self.options.get("repo_col", cols[0][0])
        if repo_col not in dict(cols):
            raise ValueError(f"colcodec: repo_col {repo_col!r} not in schema")
        target = int(self.options.get("target_chunk_bytes", 8 << 20))
        if target <= 0:
            raise ValueError(
                f"colcodec: target_chunk_bytes must be > 0, got {target}")
        return path, cols, repo_col, self.options.get("compression"), target

    def writer(self, schema: StructType, overwrite: bool):
        import os
        import uuid

        args = self._writer_args(schema, "save")
        # per-JOB token: chunk-id namespace + private staging dir, so
        # concurrent/successive appends never collide
        w = ColcodecArrowWriter(*args, overwrite, uuid.uuid4().hex[:12])
        if os.path.isdir(w._path):
            w._check_schema()  # fail fast at plan time, before any task
        return w

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        import os
        import uuid

        if overwrite:
            raise ValueError(
                "colcodec sink supports append output mode only "
                "(complete/truncate would rewrite the store every batch)")
        args = self._writer_args(schema, "start")
        w = ColcodecStreamWriter(
            *args, overwrite, uuid.uuid4().hex[:12],
            sink_id=self.options.get("sink_id", "q0"),
        )
        if os.path.isdir(w._path):
            w._check_schema()  # fail fast at plan time, before any batch
        return w


def register(spark) -> None:
    """Register the format for this session (executors import this
    module from --py-files; registration itself is driver-side).
    Python-data-source filter pushdown ships disabled by default in
    Spark 4.1 — enable it so pushFilters() is honored (runtime-settable
    SQL conf)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ColcodecDataSource)


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str


class _CommitLock:
    """Exclusive flock over <store>/._commit.lock held across the
    [stamp mtimes + rename in] section of every commit. The stream
    source's watermark offsets order files by commit-time mtime;
    without serialization, a committer that stamps its files and then
    stalls past another job's commit would rename files in BEHIND the
    watermark — data the tail would silently skip. Driver-side, once
    per job commit: contention-free in practice."""

    def __init__(self, store: str):
        import os

        self._path = os.path.join(store, "._commit.lock")
        self._fd = None

    def __enter__(self):
        import fcntl
        import os

        self._fd = os.open(self._path, os.O_CREAT | os.O_RDWR, 0o644)
        fcntl.flock(self._fd, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl
        import os

        fcntl.flock(self._fd, fcntl.LOCK_UN)
        os.close(self._fd)
        self._fd = None
        return False


class ColcodecArrowWriter(DataSourceArrowWriter):
    """df.write.format("colcodec").save(store) — the DIRECT write path.

    Each task encodes its own partition through the writers' shared
    group-and-flush loop (pipeline._group_slices, keyed on the repo
    column with bucket 0): a repo's rows flush as one chunk whenever its
    buffer reaches target_chunk_bytes, and the largest repo's rows flush
    whenever all repos together pass the loop's cap (4× the target), so
    a task's buffer stays bounded however many repos it sees. Chunks
    stream into a staged parquet file, and the driver-side commit writes the schema sidecar FIRST and
    then atomically renames staged files into the store — a crash at any
    point leaves either a fully-valid store or a job-private
    .staging-<job> directory the commit/abort sweep removes (never
    orphaned data files without a sidecar). Chunk ids embed a per-job
    token, so appends from different jobs can never collide when decode
    paths group blob rows by chunk_id across files. NULL repo values
    group under "None", the planners' rule (pipeline._repo_key).
    Chunk placement follows the DataFrame's own partitioning, and the
    rows arrive in its order: a Python data-source writer has no hook to
    sort them, so this is the one unsorted writer. It alone runs the
    loop's unsorted mode and its cap (encode_table and export_parquet
    sort each partition in the JVM first), and a task (or a streaming
    micro-batch) spread over many repos fragments them into small
    cap-flushed chunks whose rows keep arrival order. For
    planned/salted/range layouts, sorted chunks and manifest resume use
    pipeline.encode_table (this path trades planning for plain
    spark.write composability)."""

    def __init__(self, path: str, cols: list[tuple[str, str]],
                 repo_col: str, compression: str | None,
                 target_chunk_bytes: int, overwrite: bool, token: str):
        self._path = path
        self._cols = cols
        self._repo_col = repo_col
        self._compression = compression
        self._target = target_chunk_bytes
        self._overwrite = overwrite
        self._token = token

    # -- executor side ----------------------------------------------
    def write(self, iterator):
        import os
        import uuid

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from parquet_go_spark.plans import pipeline

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        staging = os.path.join(self._path, f".staging-{self._token}")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, f"w-{uuid.uuid4().hex}.parquet")

        writer = None
        # one codec decision per (column, stream) across this task's
        # chunks (pipeline._encode_one): blobs depend on the task's
        # earlier chunks of a column; chunk ids, not bytes, stay unique
        fsst_cache: dict = {}
        seqs: dict[str, int] = {}
        data_cols = [c for c, _ in self._cols]

        def keyed(batches):
            for batch in batches:
                repos = pc.fill_null(
                    pc.cast(batch.column(self._repo_col), pa.string()),
                    "None")  # pipeline._repo_key's rule
                zeros = pa.array(np.zeros(batch.num_rows, np.int32))
                yield (batch.append_column("__repo", repos)
                       .append_column("__bucket", zeros))

        for (repo, _), tbl, _ in pipeline._group_slices(
                keyed(iterator), data_cols, self._target):
            seq = seqs.get(repo, 0)
            seqs[repo] = seq + 1
            rec = pipeline._encode_one_chunk(
                tbl, self._cols, repo, seq, self._compression,
                f"@w{self._token}p{pid}", fsst_cache=fsst_cache)
            if writer is None:
                writer = pq.ParquetWriter(
                    staged, pipeline._BLOB_ARROW_SCHEMA)
            writer.write_table(pa.Table.from_batches([rec]))
        if writer is None:
            # Spark 4.1 rejects a None commit message despite the API
            # docstring — return an empty marker for empty partitions
            return _StagedFile(staged="")
        writer.close()
        return _StagedFile(staged=staged)

    # -- driver side -------------------------------------------------
    def _check_schema(self):
        import os

        from parquet_go_spark.plans import pipeline

        sidecar = os.path.join(self._path, "_colcodec_schema.json")
        if os.path.exists(sidecar) and not self._overwrite:
            existing = pipeline._read_schema_sidecar(self._path)
            if existing != self._cols:
                raise ValueError(
                    "colcodec append: schema differs from the store's "
                    f"({existing} vs {self._cols}); use "
                    "pipeline.compact_tables for schema-unifying merges")

    def commit(self, messages):
        import os
        import shutil

        from parquet_go_spark.plans import pipeline

        os.makedirs(self._path, exist_ok=True)
        self._check_schema()  # backstop; writer() already failed fast
        # overwrite: snapshot what must go BEFORE renaming the new files
        # in — old data is deleted only once the full new dataset is in
        # place (names never collide: per-job token), so a mid-commit
        # crash leaves at worst old+new rows (recoverable duplicates),
        # never a sidecar-valid but emptied store. Stale streaming
        # `_q*-b*.done` markers must go too: a later streaming query on
        # the cleared store restarting batchIds at 0 would read them as
        # committed replays and silently drop its first batches.
        doomed = []
        if self._overwrite:
            for f in os.listdir(self._path):
                data = f.endswith(".parquet") and not f.startswith(("_", "."))
                marker = f.startswith("_q") and f.endswith(".done")
                if data or marker:
                    doomed.append(f)
        # sidecar BEFORE the renames: a crash mid-commit must never
        # leave data files that no sidecar describes
        pipeline._write_schema_sidecar(self._path, self._cols)
        staged = [m.staged for m in messages if m is not None and m.staged]
        with _CommitLock(self._path):
            for i, src in enumerate(staged):
                os.utime(src)  # commit-time mtime BEFORE the rename:
                # the stream source's watermark offsets order files by
                # mtime — a listed file must never carry its (older)
                # task-write time, and the lock keeps concurrent
                # committers' stamp+rename sections from interleaving
                os.replace(
                    src,
                    os.path.join(self._path,
                                 f"part-w{self._token}-{i:05d}.parquet"))
        for f in doomed:
            try:
                os.unlink(os.path.join(self._path, f))
            except FileNotFoundError:
                pass
        if self._overwrite:
            for f in os.listdir(self._path):  # crashed jobs' staging dirs
                if (f.startswith(".staging-")
                        and f != f".staging-{self._token}"):
                    shutil.rmtree(os.path.join(self._path, f),
                                  ignore_errors=True)
        shutil.rmtree(os.path.join(self._path, f".staging-{self._token}"),
                      ignore_errors=True)

    def abort(self, messages):
        import os
        import shutil

        for m in messages:
            if m is not None and m.staged and os.path.exists(m.staged):
                os.unlink(m.staged)
        shutil.rmtree(os.path.join(self._path, f".staging-{self._token}"),
                      ignore_errors=True)


class ColcodecStreamWriter(ColcodecArrowWriter, DataSourceStreamArrowWriter):
    """df.writeStream.format("colcodec") — the store as a Structured
    Streaming sink (append output mode). Tasks encode exactly like the
    batch writer (the write() method is shared); per micro-batch the
    driver commit renames staged files to sink/batch-stamped names and
    then drops an empty `_q<sink_id>-b<batchId>.done` marker — the
    marker, written LAST, is the replay check, so a crash mid-rename
    leaves an unmarked partial batch that the replay fully rewrites
    (partial files are cleared first) instead of being mistaken for a
    committed one. Exactly-once is scoped by `sink_id` (option,
    default "q0"): one streaming query per sink_id per store — a second
    query (or a fresh checkpoint, which restarts batchIds at 0) must
    set its own sink_id or its early batches would look like replays.
    Chunk ids stay globally unique (per-task uuid token inside the
    blobs), so decode paths that group by chunk_id across files are
    safe either way."""

    def __init__(self, *args, sink_id: str = "q0"):
        super().__init__(*args)
        self._sink_id = sink_id

    def _marker(self, batchId):  # noqa: N803
        import os

        return os.path.join(
            self._path, f"_q{self._sink_id}-b{batchId:08d}.done")

    def _sweep_staging(self):
        """Clear retried-task orphans: micro-batches run sequentially,
        so at commit time nothing else writes to this job's staging."""
        import os
        import shutil

        shutil.rmtree(os.path.join(self._path, f".staging-{self._token}"),
                      ignore_errors=True)

    def commit(self, messages, batchId):  # noqa: N803 (Spark API name)
        import os

        from parquet_go_spark.plans import pipeline

        os.makedirs(self._path, exist_ok=True)
        self._check_schema()
        staged = [m.staged for m in messages if m is not None and m.staged]
        prefix = f"part-q{self._sink_id}-b{batchId:08d}-"
        if os.path.exists(self._marker(batchId)):
            # fully-committed batch replayed: drop the duplicate staging
            for src in staged:
                if os.path.exists(src):
                    os.unlink(src)
            self._sweep_staging()
            return
        # no marker: any same-prefix files are a crashed partial commit —
        # clear them and rewrite the whole batch from the fresh staging
        for f in os.listdir(self._path):
            if f.startswith(prefix):
                os.unlink(os.path.join(self._path, f))
        pipeline._write_schema_sidecar(self._path, self._cols)
        with _CommitLock(self._path):
            for i, src in enumerate(staged):
                os.utime(src)  # commit-time mtime (watermark order)
                os.replace(src, os.path.join(
                    self._path, f"{prefix}{self._token}-{i:05d}.parquet"))
        open(self._marker(batchId), "w").close()  # marker LAST
        self._sweep_staging()

    def abort(self, messages, batchId):  # noqa: N803
        import os

        for m in messages:
            if m is not None and m.staged and os.path.exists(m.staged):
                os.unlink(m.staged)


class ColcodecStreamReader(DataSourceStreamReader):
    """spark.readStream.format("colcodec").load(store) — tail a growing
    blob store with O(1) offsets (VERDICT r3 #3: the v1 design carried
    the FULL file list in every offset — MBs per checkpoint entry on a
    10⁵-file store).

    Offset v2 is a commit-time-mtime WATERMARK: {"hw": <max mtime_ns>,
    "pend": [names AT the watermark], "n": <emitted count>}. Both write
    paths stamp files with commit-time mtimes before renaming them in,
    so arrival order is mtime order (single store host — the same
    assumption Spark's FileStreamSource makes with maxFileAge) and
    "emitted" is simply mtime < hw, plus the pend tie-list at exactly
    hw (ties are same-nanosecond commits — a handful of names, never
    the store). `n` keeps the rewrite guard: if fewer than n
    previously-emitted files remain, the store was rewritten under the
    reader and the query fails loudly instead of re-emitting rewritten
    data. v1 {"files": [...]} offsets from old checkpoints are still
    honored for the transition batch. New files are packed into slices
    and read exactly as the batch reader reads them."""

    def __init__(self, path: str, cols: list[tuple[str, str]]):
        self._path = path
        self._cols = cols

    def _listing(self) -> dict[str, int]:
        """{name: mtime_ns} of the store's data files."""
        import os

        try:
            names = os.listdir(self._path)
        except FileNotFoundError:
            return {}
        out = {}
        for f in names:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            try:
                out[f] = os.stat(os.path.join(self._path, f)).st_mtime_ns
            except FileNotFoundError:
                continue  # renamed away mid-listing
        return out

    @staticmethod
    def _emitted_by(off: dict, name: str, mtime_ns: int) -> bool:
        if "files" in off:  # v1 offset (old checkpoint): explicit set
            return name in set(off["files"])
        hw = off.get("hw", -1)
        return mtime_ns < hw or (
            mtime_ns == hw and name in set(off.get("pend", ())))

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        return {"v": 2, "hw": -1, "pend": [], "n": 0}

    def latestOffset(self) -> dict:  # noqa: N802
        listing = self._listing()
        if not listing:
            return {"v": 2, "hw": -1, "pend": [], "n": 0}
        hw = max(listing.values())
        pend = sorted(f for f, mt in listing.items() if mt == hw)
        return {"v": 2, "hw": hw, "pend": pend, "n": len(listing)}

    def partitions(self, start: dict, end: dict):
        import os

        listing = self._listing()
        was = [f for f, mt in listing.items()
               if self._emitted_by(start, f, mt)]
        expect = len(start["files"]) if "files" in start \
            else start.get("n", 0)
        if len(was) < expect:
            # overwrite mode or compact_tables rewrote the store under
            # the reader: watermark offsets would re-emit rewritten
            # data as "new" (duplicates downstream). Fail loudly — a
            # rewritten store needs a fresh checkpoint.
            raise RuntimeError(
                "colcodec stream source: store was rewritten while being "
                f"tailed ({expect - len(was)} previously-emitted files "
                "vanished); restart the query with a fresh checkpoint")
        if "files" not in start and len(was) > expect:
            # a file LANDED BEHIND the watermark (mtime ≤ hw but never
            # counted): a writer bypassed the commit lock (e.g. files
            # copied in by hand, or a non-colcodec writer without
            # commit-time stamping). Silently skipping it would lose
            # rows forever — fail loudly instead.
            raise RuntimeError(
                "colcodec stream source: "
                f"{len(was) - expect} file(s) appeared BEHIND the "
                "offset watermark (stamped before the last batch but "
                "renamed in after it); the store is being written by "
                "something that bypasses the colcodec commit protocol — "
                "restart with a fresh checkpoint to pick them up")
        new = sorted(
            f for f, mt in listing.items()
            if self._emitted_by(end, f, mt)
            and not self._emitted_by(start, f, mt))
        return _pack_slices(
            _file_sizes([os.path.join(self._path, f) for f in new]))

    def read(self, partition: _FileSlice):
        yield from _read_slice(partition, self._cols)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: offsets are self-contained watermarks
