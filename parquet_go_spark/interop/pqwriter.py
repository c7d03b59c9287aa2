"""Write real .parquet files from our codec payloads.

The engine's page payloads ARE parquet-spec encodings (the golden-decode
suite proves byte-compatibility in the read direction against
parquet-mr/impala-written pages); this module adds the file container —
thrift compact page headers + footer metadata per the public
parquet-format spec — so pyarrow, DuckDB, and Spark's own parquet-mr
reader validate our encoded bytes end-to-end. Mirrors the reference
being a full parquet writer (writer.go) rather than a private format.

Scope: flat schemas, structs, LIST and MAP groups and any nesting of
them (true Dremel rep/def levels; one chunk writer for every leaf, as
the reference wraps one column writer for optional and repeated
leaves), required/optional leaves, data pages v1 AND v2
(the reference's default is v2, config.go:27-31), multiple row groups,
row-group Statistics with the reference's truncate-with-carry bound
rule (column_index.go:684-700), encodings PLAIN / RLE(boolean) /
DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY /
BYTE_STREAM_SPLIT / RLE_DICTIONARY, page compression
none/snappy/gzip/zstd.
"""

from __future__ import annotations

import struct as _struct
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa

from parquet_go_spark.codecs import (
    bytestreamsplit as bss,
    delta,
    dictionary,
    plain,
    rle,
)
from parquet_go_spark.codecs.bloom import spec_hashes
from parquet_go_spark.codecs.bytearrays import (
    STAT_TRUNCATE, ByteArrays, slice_values, truncate_max,
)
from parquet_go_spark.codecs.chunk import _outer
from parquet_go_spark.codecs.kinds import Codec, Kind, KIND_WIDTHS
from parquet_go_spark.interop import pqbloom, thriftc as tc

# parquet-format PageType / CompressionCodec / ConvertedType enums
_DATA_PAGE = 0
_DICTIONARY_PAGE = 2
_DATA_PAGE_V2 = 3
_COMPRESSION = {None: 0, "snappy": 1, "gzip": 2, "brotli": 4, "zstd": 6,
                "lz4_raw": 7, "lz4_legacy": 5}


def _compress(name: str, payload: bytes) -> bytes:
    """Page-body compression. "lz4_legacy" writes codec 5 in Hadoop
    block framing ([BE32 usize][BE32 csize][lz4 block]) — the flavor
    parquet-mr emits, readable by pyarrow/parquet-mr and by our
    pqreader's try-each-framing decode; "lz4_raw" (codec 7) is the
    reference's LZ4 codec (compress/lz4/lz4.go)."""
    if name == "lz4_legacy":
        blk = pa.Codec("lz4_raw").compress(payload, asbytes=True)
        return (len(payload).to_bytes(4, "big")
                + len(blk).to_bytes(4, "big") + blk)
    return _outer(name).compress(payload, asbytes=True)
_CONVERTED = {"string": 0, "date": 6, "timestamp_micros": 10}


def _logical_fields(logical: str | None) -> list:
    """SchemaElement annotation fields for a leaf. Plain names map to
    the legacy ConvertedType; "decimal(p,s)" additionally writes
    scale/precision and the modern DecimalType logicalType (union
    field 5) so every reader generation agrees on the value space."""
    if logical is None:
        return []
    if logical.startswith("decimal("):
        pr, sc = (int(x) for x in logical[len("decimal("):-1].split(","))
        return [
            (6, tc.I32, 5), (7, tc.I32, sc), (8, tc.I32, pr),
            (10, tc.STRUCT, tc.struct([
                (5, tc.STRUCT, tc.struct([(1, tc.I32, sc),
                                          (2, tc.I32, pr)])),
            ])),
        ]
    return [(6, tc.I32, _CONVERTED.get(logical))]


def _dec_flba(kind: int, logical: str | None) -> bool:
    """FLBA decimals are big-endian two's complement: raw byte order is
    NOT value order across signs, so min/max statistics and page
    indexes are omitted for them (null bounds = never prunable) rather
    than risking a reader pruning away real matches."""
    return (kind == Kind.FIXED_LEN_BYTE_ARRAY and logical is not None
            and logical.startswith("decimal("))

_MAGIC = b"PAR1"


@dataclass
class ColumnSpec:
    """One leaf column. `values` holds only non-null values (ndarray /
    ByteArrays / bool ndarray); `validity` (bool ndarray over all rows)
    marks an optional column. encoding=None picks a default per kind.

    LIST columns (`array<scalar>`): pass the FLATTENED element values
    in `values` plus per-row element counts in `lengths`; `validity`
    then marks null LISTS (elements themselves are required). The
    column is written as the spec's 3-level LIST group with true
    Dremel repetition/definition levels (rep 0/1; def 0=null list,
    1=empty list, 2=element).

    Like StructColumnSpec and MapColumnSpec, this is a front-end:
    write_table lowers it to a NestedColumnSpec (see _lower)."""

    name: str
    kind: int
    values: object
    validity: np.ndarray | None = None
    flba_size: int | None = None
    encoding: int | None = None
    logical: str | None = None  # "string" | "date" | "timestamp_micros"
    lengths: np.ndarray | None = None  # list columns: elements per row


@dataclass
class MapColumnSpec:
    """One map<K,V> column → TWO leaf chunks sharing the entry lengths:
    a required key leaf and an optional value leaf (entry_validity marks
    present values; `values` of the value leaf holds only non-null
    ones). Written as the spec's 3-level MAP group
    `optional group <name> (MAP) { repeated group key_value {
    required K key; optional V value } }`."""

    name: str
    key: ColumnSpec    # kind/values/flba/encoding/logical of the key leaf
    value: ColumnSpec  # same for the value leaf (null-stripped values)
    lengths: np.ndarray = None          # entries per row
    validity: np.ndarray | None = None  # null MAPS (rows)
    entry_validity: np.ndarray | None = None  # per entry: value present?


@dataclass
class NestedLeaf:
    """One leaf of an arbitrarily nested column, with its Dremel entry
    streams already computed (the write-direction shred lives in
    export._nested_spec). `values` holds the null-stripped leaf values
    in entry order; `rep`/`de` are uint8 per entry; `row_starts` maps
    row index → first entry index (length n_rows+1), which is what lets
    pages break on row boundaries; `val_cum` maps entry index → value
    index (cumsum of de == max_def)."""

    path: list  # path segments BELOW the column name
    kind: int
    values: object
    rep: np.ndarray
    de: np.ndarray
    max_rep: int
    max_def: int
    row_starts: np.ndarray
    val_cum: np.ndarray
    flba_size: int | None = None
    encoding: int | None = None
    logical: str | None = None


@dataclass
class NestedColumnSpec:
    """One column of ANY nesting (struct/list composition, nullable at
    every level) → one chunk per leaf with true rep/def streams. The
    schema subtree is pre-built (`schema_elements` is a list of thriftc
    SchemaElement structs, root group first) — by export's shredder, or
    by write_table lowering the other spec classes."""

    name: str
    n_rows: int
    leaves: list  # [NestedLeaf]
    schema_elements: list  # prebuilt tc.struct(...) blobs


@dataclass
class StructColumnSpec:
    """One struct<...> column → one leaf chunk per field, written as
    the group `<optional|required> group <name> { fields... }`. Each
    field's ColumnSpec carries null-stripped PRESENT values and (if the
    field is nullable) a row-level validity that is False wherever the
    field is null OR the whole struct is null; `validity` here marks
    null STRUCTS. Field def levels then run 0..2 (null struct / field
    null / present), or a subset when either side is required."""

    name: str
    fields: list  # [(field_name, ColumnSpec)]
    validity: np.ndarray | None = None  # null structs (rows)


def _default_encoding(spec: NestedLeaf) -> int:
    k = spec.kind
    if k in (Kind.INT32, Kind.INT64):
        return Codec.DELTA_BINARY_PACKED
    if k in (Kind.FLOAT, Kind.DOUBLE):
        # NOT BYTE_STREAM_SPLIT: Spark's vectorized reader rejects BSS
        # in v1 data pages (pyarrow/DuckDB accept it; pass encoding=
        # Codec.BYTE_STREAM_SPLIT explicitly for those readers)
        return Codec.PLAIN
    if k == Kind.BOOLEAN:
        return Codec.RLE
    n = len(spec.values)
    if n:
        cap = min(n, 4096)
        if isinstance(spec.values, ByteArrays):
            sample = slice_values(spec.values, 0, cap).to_pylist()
        elif k == Kind.FIXED_LEN_BYTE_ARRAY:
            # 2-D (n, width) rows are unhashable; hash their bytes
            sample = [row.tobytes()
                      for row in np.asarray(spec.values)[:cap]]
        else:
            sample = list(np.asarray(spec.values)[:cap])
        if len(set(sample)) * 2 <= len(sample):
            return Codec.RLE_DICTIONARY
    return (Codec.DELTA_LENGTH_BYTE_ARRAY
            if k == Kind.BYTE_ARRAY else Codec.PLAIN)


def _encode_values(vals, kind: int, codec: int, flba_size) -> bytes:
    if codec == Codec.PLAIN:
        if kind == Kind.BOOLEAN:
            return plain.encode_boolean(np.asarray(vals, dtype=bool))
        if kind == Kind.BYTE_ARRAY:
            return plain.encode_byte_array(vals)
        if kind == Kind.FIXED_LEN_BYTE_ARRAY:
            return plain.encode_flba(vals, flba_size)
        return plain.encode_numeric(np.asarray(vals), kind)
    if codec == Codec.RLE:
        return rle.encode_boolean(np.asarray(vals, dtype=bool))
    if codec == Codec.DELTA_BINARY_PACKED:
        bits = 32 if kind == Kind.INT32 else 64
        return delta.encode_binary_packed(np.asarray(vals), bits)
    if codec == Codec.DELTA_LENGTH_BYTE_ARRAY:
        return delta.encode_length_byte_array(vals)
    if codec == Codec.DELTA_BYTE_ARRAY:
        return delta.encode_byte_array(vals)
    if codec == Codec.BYTE_STREAM_SPLIT:
        return bss.encode(np.asarray(vals), KIND_WIDTHS[kind])
    raise ValueError(f"unsupported parquet-interop codec {codec}")


# ---------------------------------------------------------------------------
# statistics (ColumnMetaData field 12) — raw plain-encoded bounds with
# the reference's truncate-then-carry upper-bound rule for byte arrays
# ---------------------------------------------------------------------------

_STAT_FMT = {Kind.INT32: "<i", Kind.INT64: "<q",
             Kind.FLOAT: "<f", Kind.DOUBLE: "<d"}


def _stat_bounds(vals, kind: int, logical: str | None = None,
                 ) -> tuple[bytes | None, bytes | None]:
    """(min_value, max_value) plain-encoded, or (None, None).

    FLBA decimals (see _dec_flba) always get (None, None): byte order
    is not value order across signs, and null bounds are never
    prunable — safer than a reader pruning away real matches."""
    lo, hi, _, _ = _stat_bounds_exact(vals, kind, logical)
    return lo, hi


def _stat_bounds_exact(vals, kind: int, logical: str | None = None,
                       ) -> tuple[bytes | None, bytes | None, bool, bool]:
    """(min_value, max_value, min_exact, max_exact). The exact flags
    say whether the bound IS the actual extreme value (fixed-width
    kinds always; BYTE_ARRAY only when no truncation happened) — they
    become Statistics.is_min/max_value_exact (fields 8/7), which is
    what lets a footer-only aggregate report min/max for strings."""
    if len(vals) == 0 or _dec_flba(kind, logical):
        return None, None, False, False
    if kind == Kind.BOOLEAN:
        a = np.asarray(vals, dtype=bool)
        return bytes([int(a.min())]), bytes([int(a.max())]), True, True
    if kind in _STAT_FMT:
        a = np.asarray(vals)
        if kind in (Kind.FLOAT, Kind.DOUBLE):
            # parquet-mr parity (PARQUET-1222): a float chunk/page
            # containing ANY NaN writes NO bounds. Readers prune with
            # NaN-blind comparators (Spark orders NaN above every
            # double), so NaN-skipping bounds let `x = NaN` prune away
            # the very group holding the matching rows — silent row
            # loss in parquet-mr/Spark, reproduced before this rule.
            nan = np.isnan(a)
            if nan.any():
                return None, None, False, False
            if a.size == 0:
                return None, None, False, False
        lo, hi = a.min(), a.max()
        if kind in (Kind.FLOAT, Kind.DOUBLE):
            # spec-recommended zero normalization: min -0.0, max +0.0
            if lo == 0:
                lo = -0.0
            if hi == 0:
                hi = 0.0
        f = _STAT_FMT[kind]
        return _struct.pack(f, lo), _struct.pack(f, hi), True, True
    if kind == Kind.FIXED_LEN_BYTE_ARRAY:
        a = np.ascontiguousarray(vals, dtype=np.uint8)
        idx = np.lexsort(a.T[::-1])
        return a[idx[0]].tobytes(), a[idx[-1]].tobytes(), True, True
    # BYTE_ARRAY: unsigned lexicographic, truncated with carry
    import pyarrow as pa
    import pyarrow.compute as pc
    mm = pc.min_max(vals.to_arrow() if isinstance(vals, ByteArrays)
                    else pa.array(list(vals), pa.binary()))
    lo = mm["min"].as_py() or b""
    hi = mm["max"].as_py() or b""
    return (lo[:STAT_TRUNCATE], truncate_max(hi),
            len(lo) <= STAT_TRUNCATE, len(hi) <= STAT_TRUNCATE)


def _statistics_struct(vals, kind: int, null_count: int,
                       logical: str | None = None) -> bytes:
    lo, hi, lo_ex, hi_ex = _stat_bounds_exact(vals, kind, logical)
    return tc.struct([
        (3, tc.I64, null_count),
        (5, tc.BINARY, hi),
        (6, tc.BINARY, lo),
        (7, tc.BOOL, None if hi is None else hi_ex),
        (8, tc.BOOL, None if lo is None else lo_ex),
    ])


# ---------------------------------------------------------------------------
# lowering: every spec shape → NestedColumnSpec (leaves + schema subtree)
# ---------------------------------------------------------------------------

def _leaf_element(name: str, repetition: int, kind: int,
                  flba_size: int | None = None,
                  logical: str | None = None) -> bytes:
    """SchemaElement of one leaf (repetition 0 required, 1 optional)."""
    return tc.struct([
        (1, tc.I32, kind),
        (2, tc.I32, flba_size if kind == Kind.FIXED_LEN_BYTE_ARRAY else None),
        (3, tc.I32, repetition),
        (4, tc.BINARY, name),
        *_logical_fields(logical),
    ])


def _group_element(name: str, repetition: int, n_children: int,
                   converted: int | None = None) -> bytes:
    """SchemaElement of one group (ConvertedType 1 MAP, 3 LIST)."""
    return tc.struct([
        (3, tc.I32, repetition), (4, tc.BINARY, name),
        (5, tc.I32, n_children), (6, tc.I32, converted),
    ])


def _cum(mask: np.ndarray) -> np.ndarray:
    """Entry index → value index (length len(mask)+1) for a mask of
    value-bearing entries; over counts, the start of each run."""
    out = np.zeros(len(mask) + 1, dtype=np.int64)
    np.cumsum(mask, out=out[1:])
    return out


def _list_levels(lens: np.ndarray, valid: np.ndarray | None):
    """Dremel entry streams of a 1-level repeated column →
    (rep uint8[E], def uint8[E], row_starts int64[n_rows+1]): each row
    contributes its elements (rep 0 for the first, 1 after, def 2) or
    ONE placeholder entry (def 1 empty / def 0 null container,
    rep 0)."""
    lens = np.where(valid, lens, 0) if valid is not None else lens
    row_starts = _cum(np.maximum(lens, 1))
    starts = row_starts[:-1]
    rep = np.ones(int(row_starts[-1]), dtype=np.uint8)
    rep[starts] = 0
    de = np.full(len(rep), 2, dtype=np.uint8)
    ph = starts[lens == 0]  # placeholder entries
    if valid is None:
        de[ph] = 1
    else:
        de[ph] = np.where(valid[lens == 0], 1, 0).astype(np.uint8)
    return rep, de, row_starts


def _check_int32(name: str, leaf: NestedLeaf) -> None:
    """An INT32 leaf given wider numbers must hold int32 values: the
    encoders would wrap them and the statistics cannot pack them."""
    if leaf.kind != Kind.INT32:
        return
    v = np.asarray(leaf.values)
    if (v.size and not np.can_cast(v.dtype, np.int32)
            and not -(1 << 31) <= v.min() <= v.max() < 1 << 31):
        raise ValueError(f"column {name}: INT32 values span "
                         f"[{v.min()}, {v.max()}], outside the int32 range")


def _leaf(part, path: list, rep, de, max_rep: int, max_def: int,
          row_starts, val_cum) -> NestedLeaf:
    return NestedLeaf(path, part.kind, part.values, rep, de, max_rep,
                      max_def, row_starts, val_cum, part.flba_size,
                      part.encoding, part.logical)


def _spec_rows(c) -> int:
    if isinstance(c, NestedColumnSpec):
        return c.n_rows
    if isinstance(c, StructColumnSpec):
        if c.validity is not None:
            return len(c.validity)
        f0 = c.fields[0][1]
        return len(f0.validity) if f0.validity is not None else len(f0.values)
    if isinstance(c, MapColumnSpec) or c.lengths is not None:
        return len(c.lengths)
    return len(c.validity) if c.validity is not None else len(c.values)


def _lower(c, n_rows: int, ident: np.ndarray,
           zeros: np.ndarray) -> NestedColumnSpec:
    """One column spec → its NestedColumnSpec. Flat leaves share the
    identity `ident` (arange(n_rows+1)) for row_starts and for val_cum
    when required, and `zeros` for absent level streams, so lowering a
    flat column costs at most one validity cumsum."""
    if isinstance(c, NestedColumnSpec):
        for lf in c.leaves:
            if len(lf.row_starts) != n_rows + 1:
                raise ValueError(
                    f"nested column {c.name}/{'.'.join(lf.path)}: "
                    f"row_starts has {len(lf.row_starts)} slots for "
                    f"{n_rows} rows")
        return c
    if isinstance(c, StructColumnSpec):
        # <optional|required> group <name> { one leaf per field }; field
        # def levels run 0 null struct / 1 field null / 2 present
        sv = c.validity
        n_present = int(sv.sum()) if sv is not None else n_rows
        leaves = []
        elements = [_group_element(c.name, 1 if sv is not None else 0,
                                   len(c.fields))]
        for fname, part in c.fields:
            fv = part.validity
            if fv is None:
                if len(part.values) != n_present:
                    raise ValueError(
                        f"struct column {c.name}.{fname}: "
                        f"{len(part.values)} values for {n_present} "
                        "present structs")
            else:
                if len(fv) != n_rows:
                    raise ValueError(
                        f"struct column {c.name}.{fname}: validity has "
                        f"{len(fv)} rows, expected {n_rows}")
                if sv is not None and bool(np.any(fv & ~sv)):
                    raise ValueError(
                        f"struct column {c.name}.{fname}: field marked "
                        "present inside a null struct")
                if len(part.values) != int(fv.sum()):
                    raise ValueError(
                        f"struct column {c.name}.{fname}: values must be "
                        "null-stripped")
            max_def = (sv is not None) + (fv is not None)
            de, val_cum = zeros, ident
            if max_def:
                de = np.full(n_rows, max_def, dtype=np.uint8)
                if fv is not None:
                    de[~fv] = max_def - 1
                if sv is not None:
                    de[~sv] = 0
                val_cum = _cum(fv if fv is not None else sv)
            leaves.append(_leaf(part, [fname], zeros, de, 0, max_def,
                                ident, val_cum))
            elements.append(_leaf_element(
                fname, 1 if fv is not None else 0, part.kind,
                part.flba_size, part.logical))
        return NestedColumnSpec(c.name, n_rows, leaves, elements)
    if isinstance(c, MapColumnSpec) or c.lengths is not None:
        # 1-level repeated group: entries are elements, or one
        # placeholder per empty/null row; the group is always optional
        rep, de, row_starts = _list_levels(
            np.asarray(c.lengths, dtype=np.int64), c.validity)
        elem = de == 2
        val_cum = _cum(elem)
        n_ent = int(val_cum[-1])
        if isinstance(c, ColumnSpec):
            # optional group <name> (LIST) { repeated group list {
            #   required <type> element } }
            return NestedColumnSpec(c.name, n_rows, [_leaf(
                c, ["list", "element"], rep, de, 1, 2, row_starts, val_cum,
            )], [_group_element(c.name, 1, 1, 3),
                 _group_element("list", 2, 1),
                 _leaf_element("element", 0, c.kind, c.flba_size,
                               c.logical)])
        # optional group <name> (MAP) { repeated group key_value {
        #   required K key; <optional|required> V value } }
        if len(c.key.values) != n_ent:
            raise ValueError(
                f"map column {c.name}: {len(c.key.values)} keys "
                f"for {n_ent} entries")
        ev = c.entry_validity
        vde, vmax, vcum = de, 2, val_cum
        if ev is not None:
            if len(ev) != n_ent:
                raise ValueError(
                    f"map column {c.name}: entry_validity has "
                    f"{len(ev)} slots for {n_ent} entries")
            if len(c.value.values) != int(ev.sum()):
                raise ValueError(
                    f"map column {c.name}: values must be null-stripped")
            # an optional value under the repeated group: def 3 present,
            # 2 null
            vde = de.copy()
            vde[elem] += ev
            vmax, vcum = 3, _cum(vde == 3)
        elif len(c.value.values) != n_ent:
            raise ValueError(
                f"map column {c.name}: {len(c.value.values)} values "
                f"for {n_ent} entries")
        return NestedColumnSpec(c.name, n_rows, [
            _leaf(c.key, ["key_value", "key"], rep, de, 1, 2,
                  row_starts, val_cum),
            _leaf(c.value, ["key_value", "value"], rep, vde, 1, vmax,
                  row_starts, vcum),
        ], [_group_element(c.name, 1, 1, 1),
            _group_element("key_value", 2, 2),
            _leaf_element("key", 0, c.key.kind, c.key.flba_size,
                          c.key.logical),
            _leaf_element("value", 1 if ev is not None else 0,
                          c.value.kind, c.value.flba_size, c.value.logical)])
    if c.validity is None:
        leaf = _leaf(c, [], zeros, zeros, 0, 0, ident, ident)
    else:
        if len(c.values) != int(c.validity.sum()):
            raise ValueError(f"column {c.name}: values must be null-stripped")
        leaf = _leaf(c, [], zeros, c.validity.astype(np.uint8), 0, 1,
                     ident, _cum(c.validity))
    return NestedColumnSpec(c.name, n_rows, [leaf], [_leaf_element(
        c.name, 1 if c.validity is not None else 0, c.kind, c.flba_size,
        c.logical)])


# ---------------------------------------------------------------------------
# pages and the one chunk writer
# ---------------------------------------------------------------------------

def _page(page_type: int, payload: bytes, header_field: tuple,
          compression: str | None,
          precompressed: bytes = b"", crypto=None,
          page_ord: int = 0) -> tuple[bytes, int, int]:
    """→ (page bytes, uncompressed size, stored size). `precompressed`
    bytes (v2 level streams) are excluded from compression but counted
    in both sizes; page sizes are payload-only per the spec.

    crypto (pqcrypt.ChunkCrypto) switches to the modular-encryption
    layout: [page-header module][page-body module], where the header's
    compressed_page_size is the size of the ENTIRE body module (length
    prefix included) so any spec reader can slice it, the CRC is
    omitted (the GCM tags authenticate both parts), and the module
    AADs carry the page kind plus — for data pages — the ordinal."""
    import zlib

    raw_len = len(precompressed) + len(payload)
    if compression:
        payload = _compress(compression, payload)
    stored = len(precompressed) + len(payload)
    if crypto is not None:
        from parquet_go_spark.interop import pqcrypt

        is_dict = page_type == _DICTIONARY_PAGE
        hdr_t = (pqcrypt.DICTIONARY_PAGE_HEADER if is_dict
                 else pqcrypt.DATA_PAGE_HEADER)
        body_t = (pqcrypt.DICTIONARY_PAGE if is_dict
                  else pqcrypt.DATA_PAGE)
        body_mod = pqcrypt.encrypt_module(
            crypto.key,
            pqcrypt.module_aad(crypto.file_aad, body_t, crypto.rg,
                               crypto.col, page_ord),
            precompressed + payload)
        head = tc.struct([
            (1, tc.I32, page_type),
            (2, tc.I32, raw_len),
            (3, tc.I32, len(body_mod)),
            header_field,
        ])
        head_mod = pqcrypt.encrypt_module(
            crypto.key,
            pqcrypt.module_aad(crypto.file_aad, hdr_t, crypto.rg,
                               crypto.col, page_ord),
            head)
        return (head_mod + body_mod,
                len(head) + raw_len,
                len(head_mod) + len(body_mod))
    # page checksum: CRC32 of the page bytes as stored (everything after
    # the header), reinterpreted signed for the thrift i32 field; readers
    # with checksum verification on re-compute it
    c = zlib.crc32(precompressed + payload)
    crc = c - (1 << 32) if c >= (1 << 31) else c
    head = tc.struct([
        (1, tc.I32, page_type),
        (2, tc.I32, raw_len),
        (3, tc.I32, stored),
        (4, tc.I32, crc),
        header_field,
    ])
    return (head + precompressed + payload,
            len(head) + raw_len,
            len(head) + stored)


def _write_nested_chunk(out: bytearray, leaf: NestedLeaf, name: str,
                        row_lo: int, row_hi: int, compression: str | None,
                        page_rows: int, page_version: int,
                        statistics: bool, crypto=None) -> dict:
    """Append one leaf CHUNK (pages for rows [row_lo, row_hi)) to `out`
    — the one chunk writer; every spec shape lowers to a NestedLeaf.
    Precomputed rep/def entry streams are written at their true widths
    (none at max level 0), and pages break on ROW boundaries via
    `row_starts`, so a record never splits across pages. Returns a dict
    with everything the footer needs (the ColumnChunk struct is built
    later, once the page-index offsets are known)."""
    codec = leaf.encoding
    vals = leaf.values
    n_rows = row_hi - row_lo
    rep_width = max(int(leaf.max_rep).bit_length(), 0)
    def_width = max(int(leaf.max_def).bit_length(), 0)

    elo_all = int(leaf.row_starts[row_lo])
    ehi_all = int(leaf.row_starts[row_hi])
    vlo_all = int(leaf.val_cum[elo_all])
    vhi_all = int(leaf.val_cum[ehi_all])
    chunk_vals = slice_values(vals, vlo_all, vhi_all)

    dict_offset = None
    encodings = {Codec.PLAIN, Codec.RLE, codec}
    total_raw = total_stored = 0
    indexes = None
    if codec == Codec.RLE_DICTIONARY:
        if leaf.kind == Kind.BYTE_ARRAY:
            uniques, indexes = dictionary.factorize_byte_array(chunk_vals)
        elif np.asarray(chunk_vals).ndim == 2:
            uniques, indexes = dictionary.factorize_flba(chunk_vals)
        else:
            uniques, indexes = dictionary.factorize_numeric(
                np.asarray(chunk_vals))
        dict_offset = len(out)
        pg, raw, stored = _page(
            _DICTIONARY_PAGE,
            _encode_values(uniques, leaf.kind, Codec.PLAIN, leaf.flba_size),
            (7, tc.STRUCT, tc.struct([
                (1, tc.I32, len(uniques)), (2, tc.I32, Codec.PLAIN),
            ])),
            compression, crypto=crypto,
        )
        out += pg
        total_raw += raw
        total_stored += stored

    data_offset = len(out)
    pages = []
    total_entries = 0
    for lo in range(row_lo, row_hi, page_rows):
        hi = min(lo + page_rows, row_hi)
        elo, ehi = int(leaf.row_starts[lo]), int(leaf.row_starts[hi])
        vlo, vhi = int(leaf.val_cum[elo]), int(leaf.val_cum[ehi])
        page_vals = slice_values(vals, vlo, vhi)
        if indexes is not None:
            body = rle.encode_dictionary_indexes(
                indexes[vlo - vlo_all:vhi - vlo_all])
        else:
            body = _encode_values(page_vals, leaf.kind, codec,
                                  leaf.flba_size)
        rep = leaf.rep[elo:ehi]
        de = leaf.de[elo:ehi]
        n_ent = ehi - elo
        total_entries += n_ent
        if page_version == 2:
            rl = (rle.encode_levels(rep, rep_width)
                  if leaf.max_rep else b"")
            dl = (rle.encode_levels(de, def_width)
                  if leaf.max_def else b"")
            pg, raw, stored = _page(
                _DATA_PAGE_V2, body,
                (8, tc.STRUCT, tc.struct([
                    (1, tc.I32, n_ent),
                    (2, tc.I32, int(n_ent - (vhi - vlo))),
                    (3, tc.I32, hi - lo),
                    (4, tc.I32, codec),
                    (5, tc.I32, len(dl)),
                    (6, tc.I32, len(rl)),
                    (7, tc.BOOL, bool(compression)),
                ])),
                compression, precompressed=rl + dl,
                crypto=crypto, page_ord=len(pages),
            )
        else:
            payload = b""
            if leaf.max_rep:
                rpay = rle.encode_hybrid(rep.astype(np.uint64), rep_width)
                payload += len(rpay).to_bytes(4, "little") + rpay
            if leaf.max_def:
                dpay = rle.encode_hybrid(de.astype(np.uint64), def_width)
                payload += len(dpay).to_bytes(4, "little") + dpay
            payload += body
            pg, raw, stored = _page(
                _DATA_PAGE, payload,
                (5, tc.STRUCT, tc.struct([
                    (1, tc.I32, n_ent), (2, tc.I32, codec),
                    (3, tc.I32, Codec.RLE), (4, tc.I32, Codec.RLE),
                ])),
                compression, crypto=crypto, page_ord=len(pages),
            )
        page_off = len(out)
        out += pg
        total_raw += raw
        total_stored += stored
        lo_b, hi_b = _stat_bounds(page_vals, leaf.kind, leaf.logical)
        pages.append({
            "offset": page_off,
            "size": len(pg),
            "first_row": lo - row_lo,
            "null_count": n_ent - (vhi - vlo),
            "null_page": vhi == vlo,
            "min": lo_b, "max": hi_b,
        })

    meta_fields = [
        (1, tc.I32, leaf.kind),
        (2, tc.LIST, sorted(encodings), tc.I32),
        (3, tc.LIST, [name] + list(leaf.path), tc.BINARY),
        (4, tc.I32, _COMPRESSION[compression]),
        (5, tc.I64, total_entries),
        (6, tc.I64, total_raw),
        (7, tc.I64, total_stored),
        (9, tc.I64, data_offset),
        (11, tc.I64, dict_offset),
        (12, tc.STRUCT,
         _statistics_struct(chunk_vals, leaf.kind,
                            total_entries - (vhi_all - vlo_all),
                            leaf.logical)
         if statistics else None),
    ]
    return {
        "meta_fields": meta_fields,
        "file_offset": dict_offset if dict_offset is not None else data_offset,
        "pages": pages,
        "total_raw": total_raw,
    }


def _boundary_order(pages: list[dict], kind: int) -> int:
    """BoundaryOrder over non-null pages: 1 ASC, 0 UNORDERED (always a
    safe claim per the spec). Numeric bounds must be compared as VALUES
    — their little-endian stat bytes do not sort like the numbers —
    while BYTE_ARRAY/FLBA bounds compare in byte space (the column's
    unsigned-lexicographic sort order)."""
    mins = [p["min"] for p in pages if not p["null_page"]]
    maxs = [p["max"] for p in pages if not p["null_page"]]
    if not mins or any(m is None for m in mins + maxs):
        return 0
    if kind in _STAT_FMT:
        f = _STAT_FMT[kind]
        mins = [_struct.unpack(f, m)[0] for m in mins]
        maxs = [_struct.unpack(f, m)[0] for m in maxs]
    elif kind == Kind.BOOLEAN:
        mins, maxs = [m[0] for m in mins], [m[0] for m in maxs]
    if all(a <= b for a, b in zip(mins, mins[1:])) and \
       all(a <= b for a, b in zip(maxs, maxs[1:])):
        return 1
    return 0


def _page_index_structs(chunk: dict, kind: int) -> tuple[bytes | None, bytes]:
    """(ColumnIndex or None, OffsetIndex) thrift structs for one column
    chunk. ColumnIndex is omitted when any non-null page lacks a
    representable bound (all-0xFF max truncation)."""
    pages = chunk["pages"]
    column_index = None
    if all(p["null_page"] or (p["min"] is not None and p["max"] is not None)
           for p in pages):
        column_index = tc.struct([
            (1, tc.LIST, [p["null_page"] for p in pages], tc.BOOL),
            (2, tc.LIST,
             [b"" if p["null_page"] else p["min"] for p in pages], tc.BINARY),
            (3, tc.LIST,
             [b"" if p["null_page"] else p["max"] for p in pages], tc.BINARY),
            (4, tc.I32, _boundary_order(pages, kind)),
            (5, tc.LIST, [p["null_count"] for p in pages], tc.I64),
        ])
    offset_index = tc.struct([
        (1, tc.LIST, [
            tc.struct([
                (1, tc.I64, p["offset"]),
                (2, tc.I32, p["size"]),
                (3, tc.I64, p["first_row"]),
            ]) for p in pages
        ], tc.STRUCT),
    ])
    return column_index, offset_index


def write_table(path: str,
                columns: list[ColumnSpec | StructColumnSpec | MapColumnSpec
                              | NestedColumnSpec], *,
                compression: str | None = None,
                page_rows: int = 65536,
                row_group_rows: int | None = None,
                page_version: int = 1,
                statistics: bool = True,
                page_index: bool = True,
                sorting_columns: list[int] | None = None,
                bloom_columns: list[str] | None = None,
                bloom_fpp: float = 0.01,
                encryption=None) -> dict:
    """Write one parquet file. Returns a summary
    {n_rows, file_bytes, row_groups, encodings: {leaf: codec id}}.

    Every column spec lowers to a NestedColumnSpec (its NestedLeafs
    plus its schema subtree) and every leaf goes through the one chunk
    writer. Leaves are addressed by their dotted schema path
    ("s.a", "m.key_value.key"), except that a ColumnSpec — flat or
    list — is addressed by its column name; the encodings summary,
    bloom_columns and the FileEncryption column names all use these
    names.

    bloom_columns: leaves to write split-block bloom filters for, per
    row group — XXH64 spec hashing, built from the chunk's distinct
    values (the reference builds from the dictionary,
    writer.go:2089-2095 — same filter, inserts are idempotent). Boolean
    and repeated leaves (max_rep > 0) are skipped.

    encryption (pqcrypt.FileEncryption): parquet modular encryption,
    AES_GCM_V1 — the write-side mirror of the reference's
    WithEncryption (encrypt.go EncryptionConfig, writer.go:2452-2479).
    Every leaf is encrypted with the footer key unless it has its own
    entry in column_keys (→ ENCRYPTION_WITH_COLUMN_KEY with the
    ColumnMetaData in its own encrypted module) or is opted out via
    plaintext_columns; a name in either that matches no dotted leaf
    raises ValueError. Page indexes and bloom filters of encrypted
    columns are written as encrypted modules. plaintext_footer=True
    keeps a readable footer (statistics stripped from the visible
    ColumnMetaData) signed with a 28-byte GCM tag under PAR1 magic;
    the default writes the PARE encrypted-footer layout. Both layouts
    decrypt through our pqreader AND through pyarrow (use
    pqcrypt.wrapped_encryption for PKMT1 key material a pyarrow
    CryptoFactory resolves)."""
    if not columns:
        raise ValueError("no columns")
    if page_version not in (1, 2):
        raise ValueError("page_version must be 1 or 2")
    file_unique = file_aad = None
    if encryption is not None:
        from parquet_go_spark.interop import pqcrypt

        if not isinstance(encryption, pqcrypt.FileEncryption):
            raise TypeError(
                "encryption must be a pqcrypt.FileEncryption")
        file_unique = encryption.file_unique()
        file_aad = bytes(encryption.aad_prefix) + file_unique
    n_rows = _spec_rows(columns[0])
    for c in columns:
        rows = _spec_rows(c)
        if rows != n_rows:
            raise ValueError(f"column {c.name}: {rows} rows, expected {n_rows}")
    ident = np.arange(n_rows + 1, dtype=np.int64)
    zeros = np.zeros(n_rows, dtype=np.uint8)
    nested = [_lower(c, n_rows, ident, zeros) for c in columns]

    # one chunk per leaf, addressed as the docstring says
    leaves = []  # [(column name, addressing name, NestedLeaf)]
    first_leaf = []  # top-level column idx → its first leaf idx
    for c, spec in zip(columns, nested):
        first_leaf.append(len(leaves))
        for lf in spec.leaves:
            if lf.encoding is None:  # resolved on a copy: the
                # caller's spec is not changed by being written
                lf = replace(lf, encoding=_default_encoding(lf))
            dotted = (c.name if isinstance(c, ColumnSpec)
                      else ".".join([c.name, *lf.path]))
            _check_int32(dotted, lf)
            leaves.append((c.name, dotted, lf))
    used = {dotted: lf.encoding for _, dotted, lf in leaves}
    if encryption is not None:  # else a typo silently gets the footer key
        leaf_names = set(used)
        for opt in ("column_keys", "plaintext_columns"):
            unknown = sorted(set(getattr(encryption, opt)) - leaf_names)
            if unknown:
                raise ValueError(
                    f"FileEncryption.{opt}: {unknown} match no leaf "
                    f"column (dotted leaves: {sorted(leaf_names)})")

    out = bytearray(b"PARE" if encryption is not None
                    and not encryption.plaintext_footer else _MAGIC)
    rg_rows = row_group_rows or max(n_rows, 1)
    groups = []  # [(rows, byte_size, [chunk dict, ...])]
    for rg_i, g_lo in enumerate(range(0, max(n_rows, 1), rg_rows)):
        g_hi = min(g_lo + rg_rows, n_rows)
        if g_hi <= g_lo and n_rows > 0:
            break
        cryptos = [None] * len(leaves)
        if encryption is not None:
            from parquet_go_spark.interop import pqcrypt

            cryptos = [
                None if (k := encryption.key_for(dotted)) is None
                else pqcrypt.ChunkCrypto(k, file_aad, rg_i, col_i)
                for col_i, (_, dotted, _) in enumerate(leaves)
            ]
        chunks = [
            _write_nested_chunk(out, lf, name, g_lo, g_hi, compression,
                                page_rows, page_version, statistics,
                                crypto=cr)
            for (name, _, lf), cr in zip(leaves, cryptos)
        ]
        for ch, cr in zip(chunks, cryptos):
            ch["crypto"] = cr
        # RowGroup.total_byte_size is the UNCOMPRESSED data size per the
        # spec, not the stored bytes
        groups.append((g_lo, g_hi,
                       sum(ch["total_raw"] for ch in chunks), chunks))
        if n_rows == 0:
            break

    # bloom filters go between the data pages and the page indexes
    # (parquet-mr's layout); ColumnMetaData records offset+length
    if bloom_columns:
        wanted = set(bloom_columns)
        for g_lo, g_hi, _, chunks in groups:
            for ch, (_, dotted, lf) in zip(chunks, leaves):
                if (dotted not in wanted or lf.max_rep
                        or lf.kind == Kind.BOOLEAN):
                    continue
                vals = slice_values(
                    lf.values, int(lf.val_cum[lf.row_starts[g_lo]]),
                    int(lf.val_cum[lf.row_starts[g_hi]]))
                hashes = spec_hashes(vals, lf.kind, flba_size=lf.flba_size)
                cr = ch.get("crypto")
                if cr is not None:
                    from parquet_go_spark.interop import pqcrypt

                    header, bits = pqbloom.bloom_parts(
                        hashes, fpp=bloom_fpp)
                    blob = pqcrypt.encrypt_module(
                        cr.key, pqcrypt.module_aad(
                            cr.file_aad, pqcrypt.BLOOM_HEADER,
                            cr.rg, cr.col), header)
                    blob += pqcrypt.encrypt_module(
                        cr.key, pqcrypt.module_aad(
                            cr.file_aad, pqcrypt.BLOOM_BITSET,
                            cr.rg, cr.col), bits)
                else:
                    blob = pqbloom.bloom_blob(hashes, fpp=bloom_fpp)
                ch["meta_fields"].append((14, tc.I64, len(out)))
                ch["meta_fields"].append((15, tc.I32, len(blob)))
                out += blob

    # page indexes live between the pages and the footer; their offsets
    # are recorded per ColumnChunk (fields 6/7 column index, 4/5 offset
    # index), which is why ColumnChunk structs are only built now
    if page_index:
        for _, _, _, chunks in groups:
            for ch, (_, _, lf) in zip(chunks, leaves):
                ci, oi = _page_index_structs(ch, lf.kind)
                cr = ch.get("crypto")
                if cr is not None:
                    from parquet_go_spark.interop import pqcrypt

                    if ci is not None:
                        ci = pqcrypt.encrypt_module(
                            cr.key, pqcrypt.module_aad(
                                cr.file_aad, pqcrypt.COLUMN_INDEX,
                                cr.rg, cr.col), ci)
                    oi = pqcrypt.encrypt_module(
                        cr.key, pqcrypt.module_aad(
                            cr.file_aad, pqcrypt.OFFSET_INDEX,
                            cr.rg, cr.col), oi)
                if ci is not None:
                    ch["ci_off"], ch["ci_len"] = len(out), len(ci)
                    out += ci
                ch["oi_off"], ch["oi_len"] = len(out), len(oi)
                out += oi

    plaintext_mode = encryption is not None and encryption.plaintext_footer
    row_groups = []
    for rg_i, (g_lo, g_hi, g_bytes, chunks) in enumerate(groups):
        chunk_structs = []
        for ch, (name, dotted, lf) in zip(chunks, leaves):
            cr = ch.get("crypto")
            meta_bytes = tc.struct(ch["meta_fields"])
            fields = [
                (2, tc.I64, ch["file_offset"]),
                (4, tc.I64, ch.get("oi_off")),
                (5, tc.I32, ch.get("oi_len")),
                (6, tc.I64, ch.get("ci_off")),
                (7, tc.I32, ch.get("ci_len")),
            ]
            if cr is None:
                fields.append((3, tc.STRUCT, meta_bytes))
            else:
                from parquet_go_spark.interop import pqcrypt

                own_key = dotted in encryption.column_keys
                if own_key:
                    # ENCRYPTION_WITH_COLUMN_KEY {path_in_schema,
                    # key_metadata}; path_in_schema is the leaf's schema
                    # path, the same as its ColumnMetaData's. The
                    # ColumnMetaData travels only as its own encrypted
                    # module (field 9) — never plaintext inside an
                    # encrypted footer, stripped when the footer itself
                    # is plaintext
                    fields.append((8, tc.STRUCT, tc.struct([
                        (2, tc.STRUCT, tc.struct([
                            (1, tc.LIST, [name, *lf.path], tc.BINARY),
                            (2, tc.BINARY,
                             encryption.column_key_metadata.get(dotted)),
                        ])),
                    ])))
                else:
                    # ENCRYPTION_WITH_FOOTER_KEY (empty struct)
                    fields.append((8, tc.STRUCT, tc.struct([
                        (1, tc.STRUCT, tc.struct([])),
                    ])))
                if own_key or plaintext_mode:
                    fields.append((9, tc.BINARY, pqcrypt.encrypt_module(
                        cr.key, pqcrypt.module_aad(
                            cr.file_aad, pqcrypt.COLUMN_METADATA,
                            cr.rg, cr.col), meta_bytes)))
                if plaintext_mode:
                    # visible copy: statistics stripped (they would
                    # leak plaintext bounds); the full metadata rides
                    # in field 9 and is restored after decryption
                    fields.append((3, tc.STRUCT, tc.struct(
                        [f for f in ch["meta_fields"] if f[0] != 12])))
                elif not own_key:
                    # footer-key column inside an ENCRYPTED footer:
                    # the plain metadata is already confidential
                    fields.append((3, tc.STRUCT, meta_bytes))
            chunk_structs.append(tc.struct(fields))
        rg_fields = [
            (1, tc.LIST, chunk_structs, tc.STRUCT),
            (2, tc.I64, g_bytes),
            (3, tc.I64, g_hi - g_lo),
            # ordinal (i16): encrypted readers (parquet-cpp/-mr) key
            # every module AAD on THIS field, not the positional index
            (7, tc.I16, rg_i),
        ]
        if sorting_columns:
            # SortingColumn{column_idx, descending=false, nulls_first=false};
            # column_idx indexes the row group's LEAF chunks, so translate
            # the caller's top-level column indexes
            rg_fields.append((4, tc.LIST, [
                tc.struct([(1, tc.I32, first_leaf[i]), (2, tc.BOOL, False),
                           (3, tc.BOOL, False)])
                for i in sorting_columns
            ], tc.STRUCT))
        row_groups.append(tc.struct(rg_fields))

    schema = [tc.struct([
        (4, tc.BINARY, "schema"), (5, tc.I32, len(columns)),
    ])]
    for spec in nested:
        schema.extend(spec.schema_elements)

    # ColumnOrder = union{1: TypeDefinedOrder{}} per leaf — readers only
    # trust min_value/max_value statistics when column_orders is declared
    type_order = tc.struct([(1, tc.STRUCT, tc.struct([]))])
    fmd_fields = [
        (1, tc.I32, 1),
        (2, tc.LIST, schema, tc.STRUCT),
        (3, tc.I64, n_rows),
        (4, tc.LIST, row_groups, tc.STRUCT),
        (6, tc.BINARY, "parquet_go_spark interop writer"),
        (7, tc.LIST, [type_order] * len(leaves), tc.STRUCT),
    ]
    if encryption is None:
        footer = tc.struct(fmd_fields)
        out += footer
        out += len(footer).to_bytes(4, "little")
        out += _MAGIC
    else:
        from parquet_go_spark.interop import pqcrypt

        supply = bool(encryption.aad_prefix) \
            and not encryption.store_aad_prefix
        algo = tc.struct([(1, tc.STRUCT, tc.struct([
            (1, tc.BINARY, encryption.aad_prefix
             if encryption.aad_prefix and encryption.store_aad_prefix
             else None),
            (2, tc.BINARY, file_unique),
            (3, tc.BOOL, supply),
        ]))])
        if plaintext_mode:
            # PAR1 + readable footer carrying the algorithm (field 8)
            # and signing-key metadata (field 9), then a 28-byte
            # [nonce][GCM tag] over the footer bytes
            fmd_fields.append((8, tc.STRUCT, algo))
            fmd_fields.append(
                (9, tc.BINARY, encryption.footer_key_metadata))
            footer = tc.struct(fmd_fields)
            sig = pqcrypt.sign_footer(
                encryption.footer_key, file_aad, footer)
            out += footer + sig
            out += (len(footer) + len(sig)).to_bytes(4, "little")
            out += _MAGIC
        else:
            # PARE: plaintext FileCryptoMetaData, then the whole
            # FileMetaData as one encrypted module
            footer = tc.struct(fmd_fields)
            fcm = tc.struct([
                (1, tc.STRUCT, algo),
                (2, tc.BINARY, encryption.footer_key_metadata),
            ])
            mod = pqcrypt.encrypt_module(
                encryption.footer_key,
                pqcrypt.module_aad(file_aad, pqcrypt.FOOTER), footer)
            out += fcm + mod
            out += (len(fcm) + len(mod)).to_bytes(4, "little")
            out += b"PARE"
    with open(path, "wb") as f:
        f.write(out)
    return {"n_rows": n_rows, "file_bytes": len(out),
            "row_groups": len(row_groups), "encodings": used}
