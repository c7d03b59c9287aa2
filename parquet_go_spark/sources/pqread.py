"""``spark.read.format("pqread")`` — the one distributed parquet read:
arbitrary parquet directories decoded through OUR kernels with
automatic filter pushdown. ``interop.pqreader.read_table`` is the
in-process API for one file; this Data Source puts the same decode
behind a ``spark.read`` line: a plain ``WHERE`` clause on the DataFrame
pushes down via Spark's ``pushFilters`` (Spark 4.1 Python Data Source
API) into the reader's stat/bloom row-group pruning and ColumnIndex
page skipping — the reference's OpenFile + column_index.go read path
(file.go:65-130).

Scale shape: ``partitions()`` lists the files and packs them into
slices of at most 4 MiB with the colcodec store's packer
(``datasource._pack_slices``): every Python task costs ~200 ms before
any work. A file larger than the cap is cut into cap-sized byte spans;
the task reading a span decodes the row groups whose byte midpoint lies
inside it (parquet-mr's split rule), so parallelism follows bytes, not
file count. ``partitions()`` reads no footer. Each task refutes row
groups by stats and bloom inside ``read_table`` before it reads a data
page.

Pushdown safety: ``read_table`` applies pushed predicates EXACTLY
(rows are dropped, not merely skipped-and-rechecked), so only
predicates whose semantics provably match Spark's comparison
semantics are pushed:

- float32 columns are never pushed — Spark compares FLOAT promoted to
  double, while the reader (like pyarrow) compares in float32; a
  literal that rounds DOWN to a float32 tick would drop rows Spark
  keeps.
- ``>`` / ``>=`` on double columns are never pushed — Spark orders
  NaN ABOVE every double (``NaN > 1.5`` is TRUE) while the reader
  compares IEEE (FALSE): pushing would silently drop NaN rows. The
  other ops agree on NaN rows (<, <=, =, in are FALSE and != is TRUE
  under both semantics), so they still push. Ints, strings, binary,
  dates, and decimals compare identically for every op.
- µs timestamp columns push: Spark surfaces them as TimestampType and
  compares the stored micros, and the reader compares the same micros
  once the literal is an instant (naive literals are anchored to UTC
  on the driver, ``datasource._anchor_tz``). ms, ns and INT96 columns
  never push: Spark truncates ns to µs on read while the reader filters
  the untruncated value, so ``ts <= 1 µs`` would drop a 1999 ns row
  that Spark keeps.
- any predicate the reader cannot compile against the footer is
  silently not pushed (Spark re-applies every filter regardless).

SPARK 4.1 CAVEAT (upstream, applies to EVERY python data source with
``spark.sql.python.filterPushdown.enabled``): the JVM caches the
planned partitions per relation (``PythonDataSourceV2.readInfo`` is
get-or-create) and filter pushdown overwrites that cache, so a
DataFrame OBJECT reused across queries serves the FIRST pushed
query's pruned scan to any later query that pushes nothing (plain
``.count()``, an OR-only WHERE) — silently losing rows. Reproduced
with a 20-line minimal source, so it is not this reader's state:
our filters already ride inside each InputPartition. Until Spark
re-plans per query, create the DataFrame per query —
``spark.read.format("pqread").load(path)`` is a driver-only footer
probe and costs milliseconds. tests/test_round4.py pins both the
safe pattern and the upstream behavior so a Spark fix is noticed.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StructType

from parquet_go_spark.sources.datasource import (
    _SLICE_BYTES,
    _FileSlice,
    _anchor_tz,
    _pack_slices,
)


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


def _us_type(t):
    """Recursively map ns timestamps to µs (Spark's Arrow bridge has no
    nanosecond type; Spark itself truncates INT96/ns to micros)."""
    import pyarrow as pa

    if pa.types.is_timestamp(t) and t.unit == "ns":
        return pa.timestamp("us", t.tz)
    if pa.types.is_float16(t):
        # Spark has no half type: widen exactly (every half is an f32)
        return pa.float32()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pa.list_(_us_type(t.value_type))
    if pa.types.is_map(t):
        return pa.map_(_us_type(t.key_type), _us_type(t.item_type))
    if pa.types.is_struct(t):
        return pa.struct(
            [f.with_type(_us_type(f.type)) for f in t])
    return t


def _flat_columns(root) -> set[str]:
    """Flat scalar top-level columns — the set IS NULL / IS NOT NULL
    may push on: nullness has no literal, so the float32/timestamp
    comparison caveats don't apply."""
    return {c.name for c in root.children
            if not c.children and c.max_rep == 0}


def _pushable_columns(root) -> set[str]:
    """Flat scalar columns with Spark-identical comparison semantics
    (see module docstring: float32 and non-µs timestamps are
    excluded)."""
    from parquet_go_spark.interop import pqreader

    out = set()
    for c in root.children:
        if c.children or c.max_rep > 0:
            continue
        if c.physical == 4:  # FLOAT: Spark promotes to double
            continue
        if c.physical == 7 and 15 in (c.logical or {}):
            continue  # FLOAT16: surfaced widened — same float hazards
        if c.physical == 3 or pqreader._ts_unit(c) in ("ms", "ns"):
            continue  # INT96 / ms / ns: not Spark's µs values
        out.add(c.name)
    return out


def _us_timestamp_columns(root) -> set[str]:
    """Flat µs timestamp columns: surfaced as TimestampType, so their
    naive literals anchor to UTC on the driver."""
    from parquet_go_spark.interop import pqreader

    return {c.name for c in root.children
            if not c.children and c.max_rep == 0
            and pqreader._ts_unit(c) == "us"}


def _no_gt_columns(root) -> set[str]:
    """Columns where > / >= must NOT push: Spark orders NaN above
    every double, the reader compares IEEE — `x > 1.5` is TRUE for a
    NaN row in Spark and FALSE here, and this reader filters exactly,
    so pushing would silently drop the NaN rows."""
    return {c.name for c in root.children
            if not c.children and c.max_rep == 0 and c.physical == 5}


def _translate(filters, cols: set[str], null_cols: set[str] = frozenset(),
               no_gt_cols: set[str] = frozenset(),
               ltz_cols: set[str] = frozenset()):
    """The one Spark Filter → (col, op, value) translator of both data
    sources, in pqreader's op names. Each source passes its column
    sets: `cols` may push comparisons, `null_cols` IS [NOT] NULL,
    `no_gt_cols` must not push > / >=, and `ltz_cols` are TimestampType
    columns whose naive literals anchor to UTC here, on the driver.
    Filters outside these sets are left to Spark."""
    preds = []
    for f in filters:
        if isinstance(f, Not):
            # only negations with provably Spark-identical semantics:
            # NOT(= v) → != (null rows FALSE both sides). NOT over
            # EqualNullSafe(non-null) is NOT pushable — null <=> v is
            # FALSE, so its negation KEEPS null rows, unlike !=.
            c = f.child
            cattr = getattr(c, "attribute", None)
            if not cattr or len(cattr) != 1:
                continue
            ccol = cattr[0]
            if isinstance(c, EqualTo) and ccol in cols \
                    and c.value is not None and not _is_nan(c.value):
                preds.append((ccol, "!=", c.value))
            elif isinstance(c, IsNull) and ccol in null_cols:
                preds.append((ccol, "notnull", None))
            elif isinstance(c, IsNotNull) and ccol in null_cols:
                preds.append((ccol, "isnull", None))
            elif isinstance(c, EqualNullSafe) and c.value is None \
                    and ccol in null_cols:
                preds.append((ccol, "notnull", None))
            continue
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            continue
        col = attr[0]
        if isinstance(f, (IsNull, IsNotNull)):
            if col in null_cols:
                preds.append(
                    (col, "isnull" if isinstance(f, IsNull)
                     else "notnull", None))
            continue
        if isinstance(f, EqualNullSafe):
            # <=> NULL ⟺ IS NULL; <=> v filters the same rows as = v
            # (null rows dropped either way)
            if f.value is None:
                if col in null_cols:
                    preds.append((col, "isnull", None))
            elif col in cols and not _is_nan(f.value):
                preds.append((col, "=", f.value))
            continue
        if col not in cols:
            continue
        # Spark's NaN orders ABOVE every double and equals itself;
        # Arrow/IEEE NaN compares false — never push a NaN literal
        # (e.g. `x < NaN` is TRUE for every non-NaN row in Spark but
        # FALSE in the reader: silent row loss)
        if isinstance(f, EqualTo):
            if not _is_nan(f.value):
                preds.append((col, "=", f.value))
        elif isinstance(f, In):
            # a NaN member matches NaN rows under Spark's equality —
            # refuse the whole list, never just strip the member
            if not any(_is_nan(v) for v in f.value):
                vals = [v for v in f.value if v is not None]
                if vals:
                    preds.append((col, "in", vals))
        elif isinstance(f, GreaterThan):
            if not _is_nan(f.value) and col not in no_gt_cols:
                preds.append((col, ">", f.value))
        elif isinstance(f, GreaterThanOrEqual):
            if not _is_nan(f.value) and col not in no_gt_cols:
                preds.append((col, ">=", f.value))
        elif isinstance(f, LessThan):
            if not _is_nan(f.value):
                preds.append((col, "<", f.value))
        elif isinstance(f, LessThanOrEqual):
            if not _is_nan(f.value):
                preds.append((col, "<=", f.value))
        elif isinstance(f, StringStartsWith):
            # byte-wise UTF-8 prefix == Spark's code-point prefix;
            # gets range-style stat/page pruning in the reader
            preds.append((col, "startswith", f.value))
        elif isinstance(f, StringEndsWith):
            preds.append((col, "endswith", f.value))
        elif isinstance(f, StringContains):
            # no pruning, but rows drop reader-side before crossing
            # the Python Data Source boundary
            preds.append((col, "contains", f.value))
    return [(c, op, _anchor_tz(v) if c in ltz_cols else v)
            for c, op, v in preds]


def _decryption_from_options(options) -> "object | None":
    """Build a pqcrypt.FileDecryption from string options:
    footer_key / aad_prefix (hex), column_keys (JSON {name: hex}),
    master_keys (JSON {key_id: hex} — enables PKMT1 key-material
    unwrapping via LocalKeyUnwrap)."""
    import json

    fk = options.get("footer_key")
    cks = options.get("column_keys")
    mks = options.get("master_keys")
    aadp = options.get("aad_prefix")
    if not any((fk, cks, mks, aadp)):
        return None
    from parquet_go_spark.interop import pqcrypt

    retriever = None
    if mks:
        retriever = pqcrypt.pyarrow_key_retriever(pqcrypt.LocalKeyUnwrap(
            {k: bytes.fromhex(v) for k, v in json.loads(mks).items()}))
    return pqcrypt.FileDecryption(
        footer_key=bytes.fromhex(fk) if fk else None,
        column_keys={k: bytes.fromhex(v)
                     for k, v in json.loads(cks).items()} if cks else {},
        key_retriever=retriever,
        aad_prefix=bytes.fromhex(aadp) if aadp else b"",
    )


class PqreadReader(DataSourceReader):
    def __init__(self, path: str, decryption=None):
        self._path = path
        self._preds: list = []
        self._decryption = decryption

    def pushFilters(self, filters):  # noqa: N802
        from parquet_go_spark.interop import pqreader

        filters = list(filters)
        first = pqreader.list_parquet_files(self._path)[0]
        # ONE footer parse serves both the pushability classification
        # and the compile check
        fmd, root = pqreader._file_meta(first, self._decryption)
        candidates = _translate(filters, _pushable_columns(root),
                                _flat_columns(root), _no_gt_columns(root),
                                _us_timestamp_columns(root))
        self._preds = []
        for p in candidates:
            try:
                pqreader._compile_predicate(root, fmd, p)
            except ValueError:
                continue  # the reader would reject it at task time
            self._preds.append(p)
        # Spark must still evaluate every filter exactly; eager assign
        # + plain iterator (a generator would disengage silently if a
        # future Spark short-circuits iteration)
        return iter(filters)

    def partitions(self):
        from parquet_go_spark.interop import pqreader

        # snapshot into the slices and reset (see _FileSlice): a later
        # query that pushes calls pushFilters again first; one that
        # doesn't must not inherit this query's predicates. This reader
        # filters EXACTLY, so stale predicates would silently drop rows
        preds, self._preds = tuple(self._preds), []
        return _pack_slices(
            _file_units(pqreader.list_parquet_files(self._path)), preds)

    def read(self, partition: _FileSlice | None):
        if partition is None:
            return
        import pyarrow.compute as pc

        from parquet_go_spark.interop import pqreader

        preds = list(partition.filters) or None
        for path, span in partition.units:
            spans = ([None] if span is None
                     else _span_rows(path, span, self._decryption))
            for rows in spans:
                tbl = pqreader.read_table(
                    path, predicate=preds, row_range=rows,
                    decryption=self._decryption)
                for i, fld in enumerate(tbl.schema):
                    want = _us_type(fld.type)
                    if want != fld.type:
                        # Spark truncates sub-µs precision on read; so
                        # do we
                        tbl = tbl.set_column(
                            i, fld.name,
                            pc.cast(tbl.column(i), want, safe=False))
                yield from tbl.to_batches()


def _file_units(paths):
    """(unit, nbytes) pairs for _pack_slices, without reading a footer:
    a file up to _SLICE_BYTES is one unit (path, None); a larger file
    becomes cap-sized byte spans (path, (lo, hi))."""
    for p in paths:
        n = os.path.getsize(p)
        if n <= _SLICE_BYTES:
            yield (p, None), n
            continue
        for lo in range(0, n, _SLICE_BYTES):
            hi = min(lo + _SLICE_BYTES, n)
            yield (p, (lo, hi)), hi - lo


def _span_rows(path: str, span: tuple, decryption) -> list[tuple]:
    """Row ranges of the row groups whose byte midpoint lies in span —
    parquet-mr's split rule: every row group of a file belongs to
    exactly one of its spans."""
    from parquet_go_spark.interop import pqreader

    lo, hi = span
    fmd = pqreader._file_meta(path, decryption).fmd
    out, row = [], 0
    for rg in fmd.get(4, []):
        metas = [cc[3] for cc in rg[1]]
        start = min(m.get(11) or m[9] for m in metas)
        if lo <= start + sum(m[7] for m in metas) // 2 < hi:
            if out and out[-1][1] == row:
                out[-1] = (out[-1][0], row + rg[3])
            else:
                out.append((row, row + rg[3]))
        row += rg[3]
    return out


class PqreadDataSource(DataSource):
    """spark.read.format("pqread").load(<parquet directory>)."""

    @classmethod
    def name(cls) -> str:
        return "pqread"

    def schema(self) -> StructType:
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        from parquet_go_spark.interop import pqreader

        path = self.options.get("path")
        if not path:
            raise ValueError("pqread: .load(<parquet directory>) required")
        probe = pqreader.read_schema(
            pqreader.list_parquet_files(path)[0],
            _decryption_from_options(self.options))
        return from_arrow_schema(pa.schema(
            [f.with_type(_us_type(f.type)) for f in probe]))

    def reader(self, schema: StructType) -> PqreadReader:
        return PqreadReader(self.options["path"],
                            _decryption_from_options(self.options))


def register(spark) -> None:
    """Driver-side registration; executors import this module from
    --py-files. Enables the Python-data-source filter pushdown conf
    (ships disabled in Spark 4.1)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PqreadDataSource)
