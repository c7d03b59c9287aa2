"""Read-direction parquet: decode ARBITRARY .parquet files through OUR
codec kernels — the user-facing OpenFile/reader analog of the
reference's /root/reference/file.go:65-130 + reader.go:63-65 (round-3
gave the engine a parquet WRITER; this closes the read direction, so a
parquet file written by anyone — parquet-mr, pyarrow, impala, our own
pqwriter — decodes through the same PLAIN/RLE/DELTA_*/BSS/dictionary
kernels the blob store uses).

Surface:

- ``read_table(path)`` → pyarrow Table (all row groups). Scalar columns
  decode fully vectorized (numpy kernels → Arrow buffers); nested
  columns assemble from true Dremel rep/def level streams with
  vectorized range arithmetic (one numpy pass per node, no per-row
  Python except the final Arrow buffer construction). Supported
  nesting: arbitrary struct AND repetition depth (list-of-list,
  map-of-map, list<map<struct<list>>>, …), the legacy 2-level list
  forms (bare repeated fields; `array` / `*_tuple` / multi-field
  repeated groups as struct elements per LogicalTypes.md).
- ``spark.read.format("pqread").load(dir)`` (sources/pqread.py) is the
  one distributed read: size-planned slices, each decoded executor-side
  through ``read_table`` with the pushed WHERE filters.
- ``read_schema``, ``footer_aggregates`` and every other footer read
  (pqbloom, the pqread data source, compaction) go through one entry,
  ``_file_meta``, backed by a per-process cache of parsed footers. Its
  key is the raw footer bytes, read afresh on every call, so a file
  rewritten in place is never served a stale parse. Encrypted (PARE)
  and signed plaintext footers are never cached. The cache is LRU and
  holds at most _FOOTER_CACHE_BYTES (2 MiB) of raw footers; a larger
  footer is not cached. Page indexes and blooms are not cached.
- Malformed input (bad magic, truncated pages, unknown codecs) raises
  ValueError rather than returning partial data.

Scale note: this reader is the PARITY/interchange surface — at fleet
scale Spark's own vectorized parquet scan remains the right way to read
parquet into the engine (and the blob-store Data Source is the engine's
native read path). The pqread data source exists so our kernels can
be driven end-to-end over exported files in a distributed plan.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa

from parquet_go_spark.codecs import bitpacked, delta, plain, rle
from parquet_go_spark.codecs.bytearrays import ByteArrays, slice_values
from parquet_go_spark.codecs.kinds import Codec, Kind
from parquet_go_spark.interop.thriftc import read_struct

# codec 5 (legacy LZ4) is ambiguous in the wild — parquet-mr wrote
# Hadoop block framing, old parquet-cpp wrote bare LZ4 blocks, a few
# writers LZ4 frames. _page_decompress tries the three flavors in that
# order and accepts only a decode of EXACTLY the page header's
# uncompressed size (page headers make the try-each sound where a
# generic byte stream would not). LZ4_RAW (7) stays the well-defined
# single-flavor codec.
_LZ4_LEGACY = "lz4_legacy"
_CODEC_NAMES = {0: None, 1: "snappy", 2: "gzip", 4: "brotli",
                5: _LZ4_LEGACY, 6: "zstd", 7: "lz4_raw"}


def _page_decompress(codec: str, raw: bytes, expected: int) -> bytes:
    """Decompress one page body; `expected` is the page header's exact
    uncompressed_page_size."""
    if expected < 0:
        raise ValueError(f"negative uncompressed page size {expected}")
    if codec != _LZ4_LEGACY:
        return pa.Codec(codec).decompress(raw, expected, asbytes=True)
    # (a) Hadoop framing: repeated [BE32 usize][BE32 csize][lz4 block]
    try:
        out, pos = bytearray(), 0
        while pos < len(raw):
            if len(raw) - pos < 8:
                raise ValueError("truncated hadoop frame")
            usize = int.from_bytes(raw[pos:pos + 4], "big")
            csize = int.from_bytes(raw[pos + 4:pos + 8], "big")
            pos += 8
            if csize > len(raw) - pos or usize > expected - len(out):
                raise ValueError("implausible hadoop frame")
            out += pa.Codec("lz4_raw").decompress(
                raw[pos:pos + csize], usize, asbytes=True)
            pos += csize
        if len(out) != expected:
            raise ValueError("hadoop frame size mismatch")
        return bytes(out)
    except (OSError, ValueError):
        pass
    # (b) one bare LZ4 block over the whole page (old parquet-cpp)
    try:
        return pa.Codec("lz4_raw").decompress(raw, expected, asbytes=True)
    except (OSError, ValueError):
        pass
    # (c) LZ4 frame
    try:
        out = pa.Codec("lz4").decompress(raw, expected, asbytes=True)
        if len(out) == expected:
            return out
    except (OSError, ValueError):
        pass
    raise ValueError(
        "pqreader: legacy LZ4 (codec 5) page decodes under none of the "
        "known framings (hadoop blocks / bare block / lz4 frame)")

# thrift ConvertedType codes used here
_CT_UTF8, _CT_MAP, _CT_MAP_KV, _CT_LIST, _CT_DECIMAL = 0, 1, 2, 3, 5
_CT_DATE, _CT_TS_MILLIS, _CT_TS_MICROS = 6, 9, 10
# legacy int annotations: UINT_8..UINT_64 = 11..14, INT_8..INT_64 = 15..18
_CT_INTS = {11: pa.uint8(), 12: pa.uint16(), 13: pa.uint32(),
            14: pa.uint64(), 15: pa.int8(), 16: pa.int16(),
            17: pa.int32(), 18: pa.int64()}


@dataclass
class _Node:
    name: str
    repetition: int              # 0 required, 1 optional, 2 repeated
    physical: int | None         # None for groups
    type_length: int | None
    converted: int | None
    logical: dict | None
    scale: int = 0
    precision: int = 0
    children: list = field(default_factory=list)
    # filled by _annotate
    max_def: int = 0
    max_rep: int = 0
    path: tuple = ()


def _parse_schema(elements: list[dict]) -> _Node:
    """Flat footer schema list → annotated tree (depth-first preorder
    walk)."""
    pos = 0

    def build() -> _Node:
        nonlocal pos
        el = elements[pos]
        pos += 1
        node = _Node(
            name=el.get(4, b"").decode() if isinstance(el.get(4), bytes)
            else str(el.get(4, "")),
            repetition=el.get(3, 0),
            physical=el.get(1) if 5 not in el else None,
            type_length=el.get(2),
            converted=el.get(6),
            logical=el.get(10),
            scale=el.get(7, 0),
            precision=el.get(8, 0),
        )
        for _ in range(el.get(5, 0)):
            node.children.append(build())
        return node

    root = build()
    if pos != len(elements):
        raise ValueError("pqreader: malformed schema element count")
    _annotate(root, 0, 0, ())
    return root


def _annotate(node: _Node, d: int, r: int, path: tuple) -> None:
    if node.repetition == 1:
        d += 1
    elif node.repetition == 2:
        d += 1
        r += 1
    node.max_def, node.max_rep, node.path = d, r, path
    for c in node.children:
        _annotate(c, d, r, path + (c.name,))


def _leaves(node: _Node) -> list[_Node]:
    if not node.children:
        return [node]
    out = []
    for c in node.children:
        out.extend(_leaves(c))
    return out


def _is_list(node: _Node) -> bool:
    lg = node.logical or {}
    return (node.converted == _CT_LIST or 3 in lg) and bool(node.children) \
        and node.children[0].repetition == 2


def _is_map(node: _Node) -> bool:
    lg = node.logical or {}
    return (node.converted in (_CT_MAP, _CT_MAP_KV) or 2 in lg) \
        and bool(node.children) and node.children[0].repetition == 2


# ---------------------------------------------------------------- types

def _leaf_arrow_type(leaf: _Node) -> pa.DataType:
    lg = leaf.logical or {}
    ct = leaf.converted
    ph = leaf.physical
    if 5 in lg or ct == _CT_DECIMAL:
        # logicalType carries scale/precision inline; the legacy
        # ConvertedType form puts them in SchemaElement fields 7/8
        dec = lg.get(5, {})
        scale = dec.get(1, leaf.scale)
        prec = dec.get(2, leaf.precision or 38)
        # precision > 38 is spec-legal for BYTE_ARRAY / FLBA(>=17);
        # pyarrow maps it to decimal256, so we do too
        if prec > 38:
            return pa.decimal256(prec, scale)
        return pa.decimal128(prec, scale)
    if 11 in lg:  # UNKNOWN (the null type — always-null column)
        return pa.null()
    if ph == 0:
        return pa.bool_()
    if ph == 1:
        if 6 in lg or ct == _CT_DATE:
            return pa.date32()
        intl = lg.get(10)
        if intl:
            w, signed = intl.get(1, 32), intl.get(2, True)
            return {8: pa.int8() if signed else pa.uint8(),
                    16: pa.int16() if signed else pa.uint16(),
                    32: pa.int32() if signed else pa.uint32()}[w]
        if ct in _CT_INTS:
            return _CT_INTS[ct]
        return pa.int32()
    if ph == 2:
        ts = lg.get(8)
        if ts is not None or ct in (_CT_TS_MILLIS, _CT_TS_MICROS):
            adj, unit = True, "us"
            if ts is not None:
                adj = bool(ts.get(1, True))
                u = ts.get(2, {})  # TimeUnit union: 1 ms, 2 us, 3 ns
                unit = "ms" if 1 in u else ("ns" if 3 in u else "us")
            elif ct == _CT_TS_MILLIS:
                unit = "ms"
            return pa.timestamp(unit, tz="UTC" if adj else None)
        intl = lg.get(10)
        if intl and not intl.get(2, True):
            return pa.uint64()
        if ct in _CT_INTS:
            return _CT_INTS[ct]
        return pa.int64()
    if ph == 4:
        return pa.float32()
    if ph == 5:
        return pa.float64()
    if ph == 6:
        if 1 in lg or ct == _CT_UTF8:
            return pa.string()
        return pa.binary()
    if ph == 7:
        if 15 in lg:  # FLOAT16 logical type: FLBA(2) LE IEEE half
            return pa.float16()
        return pa.binary(leaf.type_length or 0)
    if ph == 3:
        # deprecated INT96 timestamps (impala / old parquet-mr):
        # 8 B LE nanos-of-day + 4 B LE Julian day; surfaced naive
        # ns like pyarrow does
        return pa.timestamp("ns")
    raise ValueError(f"pqreader: unsupported physical type {ph}")


def _list_elem_node(list_node: _Node, rep: _Node) -> _Node:
    """The element node under a LIST's repeated child, following the
    spec's backward-compat rules (LogicalTypes.md): the repeated node is
    ITSELF the element when it is a leaf, has more than one field, or is
    named `array` / `<list>_tuple` (legacy writers); otherwise the
    element is its single child."""
    if not rep.children:
        return rep
    if (len(rep.children) > 1 or rep.name == "array"
            or rep.name == f"{list_node.name}_tuple"):
        return rep
    return rep.children[0]


def _node_arrow_type(node: _Node, as_element: bool = False) -> pa.DataType:
    if node.repetition == 2 and not as_element:
        # bare repeated field without LIST/MAP annotation: a required
        # list whose element is the node itself (LogicalTypes.md
        # backward-compat rule)
        return pa.list_(_node_arrow_type(node, as_element=True))
    if not node.children:
        return _leaf_arrow_type(node)
    if _is_map(node):
        kv = node.children[0]
        return pa.map_(_node_arrow_type(kv.children[0]),
                       _node_arrow_type(kv.children[1]))
    if _is_list(node):
        rep = node.children[0]
        elem = _list_elem_node(node, rep)
        return pa.list_(_node_arrow_type(elem, as_element=elem is rep))
    # nullable=True throughout: StructArray.from_arrays always yields
    # nullable children, and arrow-side required-ness adds nothing here
    return pa.struct([
        pa.field(c.name, _node_arrow_type(c)) for c in node.children
    ])


# ------------------------------------------------------------ page decode

def _decode_values(buf: bytes, n: int, leaf: _Node, encoding: int,
                   dictionary_vals):
    """Non-null values of one page → numpy array / ByteArrays."""
    ph = leaf.physical
    b = np.frombuffer(buf, dtype=np.uint8)
    if encoding in (Codec.RLE_DICTIONARY, Codec.PLAIN_DICTIONARY):
        if dictionary_vals is None:
            raise ValueError("pqreader: index page without dictionary")
        idx = rle.decode_dictionary_indexes(b, n)
        if isinstance(dictionary_vals, ByteArrays):
            from parquet_go_spark.codecs import dictionary as dictmod

            return dictmod.lookup_byte_array(dictionary_vals, idx)
        return dictionary_vals[idx]
    if encoding == Codec.PLAIN:
        if ph == 0:
            return plain.decode_boolean(b, n)
        if ph == 6:
            return plain.decode_byte_array(b, n)
        if ph in (3, 7):
            return plain.decode_flba(
                b, n, 12 if ph == 3 else (leaf.type_length or 0))
        return plain.decode_numeric(b, n, ph)
    if encoding == Codec.RLE and ph == 0:
        return rle.decode_boolean(b, n)
    if encoding == Codec.DELTA_BINARY_PACKED:
        vals, _ = delta.decode_binary_packed(b, 64 if ph == 2 else 32)
        return vals[:n]
    if encoding == Codec.DELTA_LENGTH_BYTE_ARRAY:
        return delta.decode_length_byte_array(b, n)
    if encoding == Codec.DELTA_BYTE_ARRAY:
        return delta.decode_byte_array(b, n)
    if encoding == Codec.BYTE_STREAM_SPLIT:
        from parquet_go_spark.codecs import bytestreamsplit as bss

        width = {1: 4, 2: 8, 4: 4, 5: 8}.get(ph, leaf.type_length or 0)
        return bss.decode(b, n, width, ph)
    raise ValueError(
        f"pqreader: unsupported encoding {encoding} for {leaf.path}")


def _level_width(max_level: int) -> int:
    return int(max_level).bit_length()


def _decode_level_stream(buf: bytes, n: int, max_level: int,
                         encoding: int) -> np.ndarray:
    w = _level_width(max_level)
    b = np.frombuffer(buf, dtype=np.uint8)
    if encoding == Codec.BIT_PACKED:
        return bitpacked.decode_levels(b, n, w)
    return rle.decode_hybrid(b, n, w)


@dataclass
class _LeafData:
    defs: np.ndarray       # per entry
    reps: np.ndarray       # per entry
    values: object         # non-null values (np array or ByteArrays)
    val_idx: np.ndarray    # entry → value index (valid where def==max_def)


def _concat_values(parts: list, leaf: _Node):
    if len(parts) == 1:
        return parts[0]
    if isinstance(parts[0], ByteArrays):
        datas = [p.data[:p.offsets[-1]] for p in parts]
        lens = np.concatenate([p.lengths for p in parts]) \
            if parts else np.zeros(0, np.int64)
        offsets = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        return ByteArrays(np.concatenate(datas) if datas
                          else np.zeros(0, np.uint8), offsets)
    return np.concatenate(parts)


def _decode_page(data, pos: int, leaf: _Node, codec: str | None,
                 dictionary_vals, verify: bool = False,
                 crypto=None, page_ord: int = 0, is_dict: bool = False):
    """Decode ONE page at pos. Returns (kind, payload, next_pos):
    kind "dict" → payload = dictionary values;
    kind "data" → payload = (defs, reps, values, nv).
    verify=True checks the PageHeader CRC32 (computed over the page
    bytes as stored, i.e. after compression) when the writer recorded
    one — pages without a crc field pass (same as parquet-mr).
    crypto (pqcrypt.ChunkCrypto) switches to the encrypted layout:
    [page-header module][page-body module]; the module AAD needs the
    page kind and data-page ordinal UP FRONT (is_dict / page_ord),
    and GCM authentication subsumes the CRC check."""
    max_def, max_rep = leaf.max_def, leaf.max_rep
    if crypto is not None:
        from parquet_go_spark.interop import pqcrypt

        hdr_t = (pqcrypt.DICTIONARY_PAGE_HEADER if is_dict
                 else pqcrypt.DATA_PAGE_HEADER)
        pt, hpos = pqcrypt.decrypt_module(
            data, pos, crypto.key,
            pqcrypt.module_aad(crypto.file_aad, hdr_t, crypto.rg,
                               crypto.col, page_ord), "page header")
        hdr, _ = read_struct(pt, 0)
        body_t = pqcrypt.DICTIONARY_PAGE if is_dict else pqcrypt.DATA_PAGE
        if crypto.ctr:
            # AES_GCM_CTR_V1: page bodies are unauthenticated CTR
            # modules; the GCM page-header decrypt above already
            # authenticated the key/position for this page
            raw, next_pos = pqcrypt.decrypt_ctr_module(
                data, hpos, crypto.key, "page body")
        else:
            raw, next_pos = pqcrypt.decrypt_module(
                data, hpos, crypto.key,
                pqcrypt.module_aad(crypto.file_aad, body_t, crypto.rg,
                                   crypto.col, page_ord), "page body")
        ptype = hdr[1]
        if bool(ptype == 2) != is_dict:
            raise ValueError(
                "pqreader: encrypted page kind disagrees with the "
                "chunk metadata (dictionary offset)")
    else:
        hdr, body = read_struct(data, pos)
        ptype = hdr[1]
        raw = bytes(data[body:body + hdr[3]])
        if len(raw) < hdr[3]:
            raise ValueError("pqreader: truncated page")
        if verify and hdr.get(4) is not None:
            import zlib

            if zlib.crc32(raw) & 0xFFFFFFFF != hdr[4] & 0xFFFFFFFF:
                raise ValueError(
                    f"pqreader: page CRC mismatch for column "
                    f"{'.'.join(leaf.path)} (corrupt page bytes)")
        next_pos = body + hdr[3]
    if ptype == 2:  # dictionary page (PLAIN / PLAIN_DICTIONARY blob)
        if codec:
            raw = _page_decompress(codec, raw, hdr[2])
        ph = hdr[7]
        return "dict", _decode_values(raw, ph[1], leaf, Codec.PLAIN,
                                      None), next_pos
    if ptype == 0:  # data page v1: levels + values compressed together
        if codec:
            raw = _page_decompress(codec, raw, hdr[2])
        ph = hdr[5]
        nv, enc = ph[1], ph[2]
        def_enc, rep_enc = ph.get(3, Codec.RLE), ph.get(4, Codec.RLE)
        # v1 level sections: RLE streams carry a 4-byte LE length
        # prefix; legacy BIT_PACKED streams have NO prefix — their
        # size is exactly ceil(nv * width / 8)
        def _v1_levels(buf, off, max_level, enc):
            if enc == Codec.BIT_PACKED:
                ln = (nv * _level_width(max_level) + 7) // 8
                return (_decode_level_stream(
                    buf[off:off + ln], nv, max_level, enc), off + ln)
            ln = int.from_bytes(buf[off:off + 4], "little")
            return (_decode_level_stream(
                buf[off + 4:off + 4 + ln], nv, max_level, enc),
                off + 4 + ln)

        off = 0
        reps = None  # None ⟺ max_rep == 0: no per-page materialization
        if max_rep > 0:
            reps, off = _v1_levels(raw, off, max_rep, rep_enc)
        defs = None  # None ⟺ max_def == 0 (all values present)
        if max_def > 0:
            defs, off = _v1_levels(raw, off, max_def, def_enc)
        vals_buf = raw[off:]
    elif ptype == 3:  # data page v2: level sections never compressed
        ph = hdr[8]
        nv, enc = ph[1], ph[4]
        dlb, rlb = ph.get(5, 0), ph.get(6, 0)
        lvl = rlb + dlb
        vals_buf = raw[lvl:]
        if codec and ph.get(7, True):
            vals_buf = _page_decompress(codec, vals_buf, hdr[2] - lvl)
        reps = (_decode_level_stream(raw[:rlb], nv, max_rep, Codec.RLE)
                if max_rep > 0 else None)
        defs = (_decode_level_stream(raw[rlb:lvl], nv, max_def,
                                     Codec.RLE)
                if max_def > 0 else None)
    else:
        raise ValueError(f"pqreader: unexpected page type {ptype}")
    n_nonnull = nv if defs is None else int((defs == max_def).sum())
    values = _decode_values(vals_buf, n_nonnull, leaf, enc,
                            dictionary_vals)
    defs = None if defs is None else np.asarray(defs, dtype=np.int64)
    reps = None if reps is None else np.asarray(reps, dtype=np.int64)
    return "data", (defs, reps, values, nv), next_pos


def _chunk_codec(meta: dict) -> str | None:
    codec = _CODEC_NAMES.get(meta[4])
    if meta[4] and codec is None:
        raise ValueError(f"pqreader: unsupported compression {meta[4]}")
    return codec


def _leaf_data(parts: list, leaf: _Node) -> _LeafData:
    """Combine decoded (defs, reps, values, n_entries) parts. A None
    defs/reps means the part had no such level stream (max_def/max_rep
    == 0) — materialized once here (zeros), not per part."""
    if leaf.max_def == 0:
        defs = np.zeros(sum(p[3] for p in parts), np.int64)
        val_idx = None  # identity; _assemble's required-flat path
        #                 returns the values directly, never an index
    else:
        defs = np.concatenate([p[0] for p in parts]) if parts \
            else np.zeros(0, np.int64)
        nn = defs == leaf.max_def
        if nn.all():  # nullable column, no actual nulls: identity
            val_idx = np.arange(len(defs), dtype=np.int64)
        else:
            val_idx = np.cumsum(nn) - 1
    if leaf.max_rep == 0:
        # flat column: reps are never consulted (row starts are the
        # identity) — zero-length beats 8·total bytes of zeros
        reps = np.zeros(0, np.int64)
    else:
        reps = np.concatenate([p[1] for p in parts]) if parts \
            else np.zeros(0, np.int64)
    values = _concat_values([p[2] for p in parts], leaf) if parts \
        else np.zeros(0, np.int64)
    return _LeafData(defs, reps, values, val_idx)


def _chunk_crypto(meta: dict, leaf: _Node):
    """The chunk's ChunkCrypto, or None for plaintext chunks; a marked-
    but-keyless chunk (decryption not supplied) fails HERE with a clear
    error instead of decoding ciphertext as pages."""
    if "__crypto__" not in meta:
        return None
    c = meta["__crypto__"]
    if c is None:
        raise ValueError(
            f"pqreader: column {'.'.join(leaf.path)} is encrypted — "
            "pass decryption=FileDecryption(...)")
    return c


# ------------------------------------------------------------- assembly

def _ints_to_decimal(ints: list, typ: pa.DataType) -> pa.Array:
    import decimal as _dec

    with _dec.localcontext() as ctx:
        ctx.prec = 60  # decimal(38) unscaled ints overflow default prec
        pyvals = [_dec.Decimal(i).scaleb(-typ.scale) for i in ints]
    return pa.array(pyvals, type=typ)


def _values_to_arrow(leaf: _Node, vals) -> pa.Array:
    """Non-null decoded values → typed Arrow array (no nulls yet)."""
    typ = _leaf_arrow_type(leaf)
    if pa.types.is_null(typ):
        return pa.nulls(len(vals))
    if isinstance(vals, ByteArrays):
        n = len(vals)
        data = np.ascontiguousarray(vals.data[:vals.offsets[-1]])
        offs = vals.offsets.astype(np.int32)
        if pa.types.is_decimal(typ):
            # variable-width big-endian two's complement (the
            # BYTE_ARRAY decimal form) — a string cast would PARSE text
            raw = data.tobytes()
            ints = [int.from_bytes(raw[offs[i]:offs[i + 1]], "big",
                                   signed=True) for i in range(n)]
            return _ints_to_decimal(ints, typ)
        base = pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(data)])
        return base.cast(typ) if typ != pa.binary() else base
    arr = np.asarray(vals)
    if leaf.physical == 3:  # INT96 → epoch nanos
        a = np.ascontiguousarray(arr, dtype=np.uint8).reshape(-1, 12)
        nanos = a[:, :8].copy().view("<u8").reshape(-1).astype(np.int64)
        julian = a[:, 8:].copy().view("<u4").reshape(-1).astype(np.int64)
        epoch_ns = (julian - 2440588) * 86_400_000_000_000 + nanos
        return pa.array(epoch_ns, type=typ)
    if pa.types.is_decimal(typ):
        small = typ.precision <= 18 and not pa.types.is_decimal256(typ)
        if arr.ndim == 2:
            # parquet stores FLBA decimals as BIG-endian two's
            # complement of ANY byte width (parquet-mr writes the
            # minimal width) — not our blob store's little-endian
            # int128 words
            w = arr.shape[1]
            if small and w <= 8:
                a = np.ascontiguousarray(arr, dtype=np.uint8)
                if w < 8:  # sign-extend to 8 big-endian bytes
                    pad = np.where(a[:, :1] & 0x80, 255, 0).astype(np.uint8)
                    a = np.ascontiguousarray(np.concatenate(
                        [np.broadcast_to(pad, (len(a), 8 - w)), a], axis=1))
                ints64 = a.view(">i8").reshape(-1).astype(np.int64)
                from parquet_go_spark.plans.pipeline import _values_to_decimal

                return _values_to_decimal(
                    ints64, typ.precision, typ.scale)
            ints = [int.from_bytes(row.tobytes(), "big", signed=True)
                    for row in arr]
            return _ints_to_decimal(ints, typ)
        if small:
            # INT32/INT64-backed decimals: no per-row Python; the
            # pipeline module (pyspark) loads only when one is read
            from parquet_go_spark.plans.pipeline import _values_to_decimal

            return _values_to_decimal(
                np.asarray(arr, dtype=np.int64), typ.precision, typ.scale)
        return _ints_to_decimal([int(v) for v in arr], typ)
    if pa.types.is_float16(typ):
        # FLOAT16 FLBA(2): little-endian IEEE half bytes → numeric
        a = np.ascontiguousarray(arr, dtype=np.uint8).reshape(-1, 2)
        return pa.array(a.copy().view("<f2").reshape(-1))
    if pa.types.is_fixed_size_binary(typ):
        return pa.FixedSizeBinaryArray.from_buffers(
            typ, len(arr), [None, pa.py_buffer(
                np.ascontiguousarray(arr, dtype=np.uint8).tobytes())])
    if pa.types.is_boolean(typ):
        return pa.array(arr.astype(bool))
    if pa.types.is_timestamp(typ):
        return pa.array(arr.astype(np.int64), type=typ)
    if pa.types.is_date32(typ):
        return pa.array(arr.astype(np.int32), type=typ)
    return pa.array(arr).cast(typ, safe=False)


def _first_leaf(node: _Node) -> _Node:
    return node if not node.children else _first_leaf(node.children[0])


def _element_scopes(reps: np.ndarray, s: np.ndarray, e: np.ndarray,
                    has: np.ndarray, r: int):
    """Split each slot [s_i, e_i) with has[i] into element scopes of a
    repeated node at repetition level ``r``.

    An entry starts a new element iff it opens the slot or its rep
    level equals ``r`` (rep > r continues the current element deeper
    inside — that is what makes this exact at ANY nesting depth);
    rep < r cannot occur inside a slot, it would have opened a new one.
    Returns (elem_starts, elem_ends, n_elem_per_slot), all vectorized —
    one cumsum pass, no per-row Python."""
    n = len(reps)
    n_elem = np.zeros(len(s), dtype=np.int64)
    if n == 0 or not bool(has.any()):
        z = np.zeros(0, dtype=np.int64)
        return z, z, n_elem
    cover = np.zeros(n + 1, dtype=np.int64)
    np.add.at(cover, s[has], 1)
    np.add.at(cover, e[has], -1)
    inside = np.cumsum(cover[:n]) > 0
    estart = inside & (reps == r)
    estart[s[has]] = True
    flat = np.flatnonzero(estart).astype(np.int64)
    csum = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(estart, out=csum[1:])
    n_elem = np.where(has, csum[e] - csum[s], 0)
    ends_flat = np.empty_like(flat)
    ends_flat[:-1] = flat[1:]
    cum = np.zeros(len(s) + 1, dtype=np.int64)
    np.cumsum(n_elem, out=cum[1:])
    ends_flat[cum[1:][has] - 1] = e[has]  # last element of each slot
    return flat, ends_flat, n_elem


def _assemble_repeated(node: _Node, rep_node: _Node, leaf_data: dict,
                       starts: dict, ends: dict, n_slots: int,
                       *, is_map: bool, bare: bool) -> pa.Array:
    """LIST/MAP node (or bare repeated field when ``bare``) → Arrow
    list/map array. Handles arbitrary repetition depth: element scopes
    may span many entries (nested lists), and recursion re-segments
    them at the next repetition level."""
    r = rep_node.max_rep
    d_elem = rep_node.max_def
    probe = _first_leaf(rep_node).path
    ld = leaf_data[probe]
    s, e = starts[probe], ends[probe]
    first_def = ld.defs[s] if len(s) else np.zeros(0, np.int64)
    has_elems = first_def >= d_elem
    # element scope per leaf: each leaf re-segments its OWN entry
    # ranges at level r (entry counts differ below r, boundaries agree)
    sub_starts, sub_ends = {}, {}
    n_elem = None
    for lf in _leaves(rep_node):
        fs, fe, ne = _element_scopes(
            leaf_data[lf.path].reps, starts[lf.path], ends[lf.path],
            has_elems, r)
        sub_starts[lf.path], sub_ends[lf.path] = fs, fe
        if n_elem is None:
            n_elem = ne
    offsets = np.zeros(n_slots + 1, dtype=np.int32)
    np.cumsum(n_elem, out=offsets[1:])
    n_inner = int(offsets[-1])
    # bare repeated fields are required lists — never null themselves
    valid = np.ones(len(s), dtype=bool) if bare \
        else first_def >= node.max_def
    if is_map:
        kv = rep_node
        keys = _assemble(kv.children[0], leaf_data, sub_starts,
                         sub_ends, n_inner)
        items = _assemble(kv.children[1], leaf_data, sub_starts,
                          sub_ends, n_inner)
        return pa.MapArray.from_arrays(
            pa.array(offsets, type=pa.int32()), keys, items
        ) if bool(valid.all()) else _map_with_validity(
            offsets, keys, items, valid)
    elem_node = rep_node if bare else _list_elem_node(node, rep_node)
    elems = _assemble(elem_node, leaf_data, sub_starts, sub_ends,
                      n_inner, as_element=elem_node is rep_node)
    if bool(valid.all()):
        return pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()), elems)
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), elems,
        mask=pa.array(~valid))


def _assemble(node: _Node, leaf_data: dict, starts: dict, ends: dict,
              n_slots: int, as_element: bool = False) -> pa.Array:
    """Assemble `node` over per-slot entry ranges.

    starts/ends: per leaf path → int64[n_slots] entry ranges (slots are
    the current nesting scope's elements; ranges are single-entry below
    the deepest repetition level). All leaves under a node agree on
    slot structure at levels ≤ the node's — the Dremel invariant."""
    if node.repetition == 2 and not as_element:
        # bare repeated field (no LIST/MAP annotation): required list
        # of the node itself
        return _assemble_repeated(node, node, leaf_data, starts, ends,
                                  n_slots, is_map=False, bare=True)
    if not node.children:
        ld: _LeafData = leaf_data[node.path]
        s = starts[node.path]
        # flat column: starts is the identity — skip the gather copies
        flat = node.max_rep == 0 and len(s) == len(ld.defs)
        if flat and node.max_def == 0:
            # required all the way down: values ARE the rows
            return _values_to_arrow(node, ld.values)
        d = ld.defs if flat else ld.defs[s]
        present = d == node.max_def
        vals = _values_to_arrow(node, ld.values)
        idx = ld.val_idx if flat else ld.val_idx[s]
        if bool(present.all()):
            if flat and len(vals) == len(idx):
                return vals  # identity permutation: no take
            return vals.take(pa.array(idx, type=pa.int64()))
        return vals.take(pa.array(idx, type=pa.int64(), mask=~present))
    if _is_list(node) or _is_map(node):
        return _assemble_repeated(node, node.children[0], leaf_data,
                                  starts, ends, n_slots,
                                  is_map=_is_map(node), bare=False)
    # struct node
    children = [
        _assemble(c, leaf_data, starts, ends, n_slots)
        for c in node.children
    ]
    probe = _first_leaf(node).path
    d0 = leaf_data[probe].defs[starts[probe]]
    valid = d0 >= node.max_def
    if bool(valid.all()):
        return pa.StructArray.from_arrays(
            children, names=[c.name for c in node.children])
    return pa.StructArray.from_arrays(
        children, names=[c.name for c in node.children],
        mask=pa.array(~valid))


def _map_with_validity(offsets, keys, items, valid) -> pa.Array:
    off = pa.array(np.where(valid, offsets[:-1], None), type=pa.int32())
    # MapArray.from_arrays accepts offsets with nulls for null maps
    closing = pa.array(offsets[-1:], type=pa.int32())
    all_off = pa.concat_arrays([off, closing])
    return pa.MapArray.from_arrays(all_off, keys, items)


class _FileMeta(NamedTuple):
    """One parsed footer: the FileMetaData dict and its annotated
    schema tree. Entries come from a per-process cache and are shared
    by every reader of the same footer bytes, so no caller may mutate
    them."""

    fmd: dict
    root: _Node


# Parsed plaintext footers keyed by their raw bytes, least recently
# used first (see the module docstring). Encrypted and signed footers
# stay out: a wrong key must still raise, and decrypted metadata must
# not outlive the call that supplied the key. A parse is ~20x its raw
# size, so the bound holds ~40 MB of parses at worst.
_FOOTER_CACHE_BYTES = 2 << 20  # raw footer bytes held
_footers: OrderedDict[bytes, _FileMeta] = OrderedDict()
_footers_bytes = 0
_footers_lock = threading.Lock()


def _file_meta(path: str, decryption=None, f=None) -> _FileMeta:
    """The footer of `path` (read through the open file `f` when
    given) — footer bytes only, never the data pages (the point:
    schema reads and refuted row groups cost KBs of metadata, not the
    file). Every call reads the tail and the footer bytes; the parse
    is reused only when those bytes equal a cached footer's. Encrypted
    files (modular encryption, AES_GCM_V1) decrypt through
    `decryption` (interop.pqcrypt.FileDecryption); see
    _normalize_encrypted."""
    global _footers_bytes

    if f is None:
        with open(path, "rb") as fh:
            return _file_meta(path, decryption, fh)
    size = os.fstat(f.fileno()).st_size
    if size < 12:
        raise ValueError(f"pqreader: {path} is not a parquet file")
    f.seek(0)
    head = f.read(4)
    f.seek(size - 8)
    tail = f.read(8)
    encrypted = head == b"PARE" and tail[4:] == b"PARE"
    if encrypted and decryption is None:
        raise ValueError(
            f"pqreader: {path} is an encrypted parquet file (PARE) — "
            "pass decryption=FileDecryption(footer_key=..., ...)")
    if not encrypted and (head != b"PAR1" or tail[4:] != b"PAR1"):
        raise ValueError(f"pqreader: {path} is not a parquet file")
    flen = int.from_bytes(tail[:4], "little")
    if flen <= 0 or flen > size - 8:
        raise ValueError("pqreader: corrupt footer length")
    f.seek(size - 8 - flen)
    buf = f.read(flen)
    if encrypted:
        fmd = _decrypt_footer(buf, path, decryption)
        return _FileMeta(fmd, _parse_schema(fmd[2]))
    with _footers_lock:
        hit = _footers.get(buf)
        if hit is not None:
            _footers.move_to_end(buf)
            return hit
    fmd, used = read_struct(buf, 0)
    if 8 in fmd:
        _open_plaintext_footer(fmd, buf, used, path, decryption)
        return _FileMeta(fmd, _parse_schema(fmd[2]))
    meta = _FileMeta(fmd, _parse_schema(fmd[2]))
    if flen <= _FOOTER_CACHE_BYTES:
        with _footers_lock:
            if buf not in _footers:
                _footers[buf] = meta
                _footers_bytes += flen
            while _footers_bytes > _FOOTER_CACHE_BYTES:
                _footers_bytes -= len(_footers.popitem(last=False)[0])
    return meta


def _open_plaintext_footer(fmd: dict, buf: bytes, used: int, path: str,
                           decryption) -> None:
    """Plaintext-footer mode: a readable footer over encrypted columns.
    The footer carries a 28-byte GCM signature ([nonce][tag] over the
    serialized FileMetaData), verified when a footer key is available,
    per the spec's optional integrity check. Without keys the encrypted
    chunks are only marked (no file AAD is needed for that)."""
    file_aad = ctr = None
    if decryption is not None:
        from parquet_go_spark.interop import pqcrypt

        file_aad, ctr = pqcrypt.parse_algorithm(fmd[8], decryption, path)
        if len(buf) - used >= 28:
            key = decryption.resolve(fmd.get(9), None, footer=True)
            nonce, tag = buf[used:used + 12], buf[used + 12:used + 28]
            ct = pqcrypt._aesgcm(key).encrypt(
                nonce, buf[:used],
                pqcrypt.module_aad(file_aad, pqcrypt.FOOTER))
            if ct[-16:] != tag:
                raise ValueError(
                    f"pqreader: {path} footer signature mismatch — "
                    "wrong footer key or tampered footer")
    _normalize_encrypted(fmd, file_aad, decryption, path,
                         footer_key_metadata=fmd.get(9), ctr=ctr)


def _decrypt_footer(buf: bytes, path: str, decryption) -> dict:
    """Encrypted-footer mode (magic PARE): plaintext FileCryptoMetaData
    followed by the footer module, both inside the footer length."""
    from parquet_go_spark.interop import pqcrypt

    fcm, used = read_struct(buf, 0)
    file_aad, ctr = pqcrypt.parse_algorithm(fcm.get(1) or {}, decryption,
                                            path)
    key = decryption.resolve(fcm.get(2), None, footer=True)
    pt, _ = pqcrypt.decrypt_module(
        buf, used, key, pqcrypt.module_aad(file_aad, pqcrypt.FOOTER),
        "footer")
    fmd, _ = read_struct(pt, 0)
    _normalize_encrypted(fmd, file_aad, decryption, path,
                         footer_key_metadata=fcm.get(2), ctr=ctr)
    return fmd


def _normalize_encrypted(fmd: dict, file_aad: bytes, decryption,
                         path: str,
                         footer_key_metadata: bytes | None = None,
                         ctr: bool = False) -> None:
    """Resolve every encrypted column chunk to a DECRYPTED ColumnMetaData
    dict in ColumnChunk field 3 carrying its ChunkCrypto under the
    "__crypto__" key — downstream metadata consumers (stat pruning,
    projection, chunk loads, footer aggregates) then work unchanged,
    and the page reader finds the key/AAD ordinals in the meta it
    already receives. Columns without crypto_metadata are plaintext.
    With decryption=None (schema-only access to a plaintext-footer
    file) encrypted columns are marked but unreadable — touching one
    raises a clear error instead of decoding ciphertext."""
    from parquet_go_spark.interop import pqcrypt

    for rg_i, rg in enumerate(fmd.get(4, [])):
        # module AADs are keyed on RowGroup.ordinal (field 7) when the
        # writer recorded it (parquet-cpp/-mr always do); positional
        # index is the fallback for writers that omit it
        rg_ord = rg.get(7, rg_i)
        for col_i, cc in enumerate(rg[1]):
            cm = cc.get(8)
            if cm is None:
                continue
            if decryption is None:
                if 3 in cc:
                    cc[3]["__crypto__"] = None
                continue
            if 1 in cm:  # ENCRYPTION_WITH_FOOTER_KEY
                key = decryption.resolve(footer_key_metadata, None,
                                         footer=True)
                colname = None
            elif 2 in cm:  # ENCRYPTION_WITH_COLUMN_KEY
                info = cm[2]
                colname = ".".join(
                    x.decode() if isinstance(x, bytes) else str(x)
                    for x in info.get(1, []))
                key = decryption.resolve(info.get(2), colname,
                                         footer=False)
            else:
                raise ValueError(
                    f"pqreader: {path} column {col_i} has an unknown "
                    f"ColumnCryptoMetaData union ({sorted(cm)})")
            if 9 in cc:  # ColumnMetaData as its own encrypted module
                aad = pqcrypt.module_aad(
                    file_aad, pqcrypt.COLUMN_METADATA, rg_ord, col_i)
                pt, _ = pqcrypt.decrypt_module(
                    cc[9], 0, key, aad,
                    f"column metadata ({colname or col_i})")
                meta, _ = read_struct(pt, 0)
                cc[3] = meta
            meta = cc.get(3)
            if meta is None:
                raise ValueError(
                    f"pqreader: {path} encrypted column {col_i} has "
                    "neither meta_data nor encrypted_column_metadata")
            meta["__crypto__"] = pqcrypt.ChunkCrypto(
                key, file_aad, rg_ord, col_i, ctr)


def read_schema(path: str, decryption=None) -> pa.Schema:
    """Footer-only schema (no data pages touched) — what the pqread
    data source uses on the driver. The parse comes from the footer
    cache when the file's footer bytes were parsed before (see
    _file_meta)."""
    root = _file_meta(path, decryption).root
    return pa.schema(
        [pa.field(c.name, _node_arrow_type(c)) for c in root.children])


# ------------------------------------------------- predicate pruning

_PRED_OPS = ("=", "==", "!=", "<", "<=", ">", ">=", "in",
             "isnull", "notnull", "startswith", "endswith", "contains")


def _footer_trusted(fmd: dict) -> bool:
    """min_value/max_value are only well-ordered when the footer
    declares column_orders AND every entry is the TYPE_ORDER union
    field (field 1, TypeDefinedOrder) — a future/unknown ColumnOrder
    must distrust the stats per the spec, or a skip could drop real
    rows. Legacy files (no column_orders) get no stat pruning either.
    Shared by predicate compilation and footer_aggregates."""
    orders = fmd.get(7)
    return bool(orders) and all(
        isinstance(o, dict) and set(o) == {1} for o in orders)


@dataclass
class _Pred:
    name: str
    op: str                      # normalized: "==" → "="
    leaf: _Node
    value: object                # original literal (row-level filter)
    stat_cmp: object = None      # comparable in stat space, or None
    unsigned: bool = False
    trust: bool = False          # column_orders declared → stats usable
    # [(member's stat value | None, bloom.spec_hashes args)] per `=`/`in`
    # member; None = the bloom abstains
    bloom: list | None = None

    @cached_property
    def bloom_hashes(self) -> list:
        """Each member's XXH64 hashes: computed on the first probe and
        reused for every later chunk, never before (stats refute most
        chunks first)."""
        from parquet_go_spark.codecs import bloom

        return [bloom.spec_hashes(v, k, flba_size=w)
                for _, (v, k, w) in self.bloom]


class _ChunkView(NamedTuple):
    """What the prune rule knows of one column chunk (a pqreader row
    group's chunk or a colcodec chunk): bounds already in the
    predicate's stat space (None = unbounded on that side), null and
    row counts (None = unknown), and `bloom`, a zero-argument callable
    returning the bitset (None = abstain), called only when a probe is
    due."""

    lo: object
    hi: object
    null_count: int | None
    n_rows: int | None
    bloom: Callable | None


def _ts_unit(leaf: _Node) -> str | None:
    lg = leaf.logical or {}
    ts = lg.get(8)
    if ts is not None:
        u = ts.get(2, {})
        return "ms" if 1 in u else ("ns" if 3 in u else "us")
    if leaf.converted == _CT_TS_MILLIS:
        return "ms"
    if leaf.converted == _CT_TS_MICROS:
        return "us"
    return None


def _ts_micros(value) -> int | None:
    """datetime → epoch micros. Aware datetimes convert via their tz;
    NAIVE datetimes are read as UTC (documented API contract — unlike
    Spark filter literals there is no session tz here)."""
    import datetime as _dt

    if not isinstance(value, _dt.datetime):
        return None
    if value.tzinfo is not None:
        value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return (value - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
        microseconds=1)


def _dec_unscaled_exact(value, scale: int) -> int | None:
    """Decimal/int literal → unscaled int at the column scale, or None
    when the literal has more fractional digits than the scale (not
    representable — pruning must then keep everything)."""
    import decimal as _dec

    if isinstance(value, bool) or not isinstance(value, (int, _dec.Decimal)):
        return None
    with _dec.localcontext() as ctx:
        ctx.prec = 60
        d = _dec.Decimal(value).scaleb(scale)
        if d != d.to_integral_value():
            return None
        return int(d)


def _pred_stat_value(leaf: _Node, value):
    """Literal → (cmp in the column's stat space, unsigned) or None."""
    import datetime as _dt

    ph = leaf.physical
    lg = leaf.logical or {}
    ct = leaf.converted
    is_dec = 5 in lg or ct == _CT_DECIMAL
    if is_dec:
        if ph not in (1, 2):  # BYTE_ARRAY/FLBA decimals: byte order
            return None       # is not value order — stats unusable
        dec = lg.get(5, {})
        u = _dec_unscaled_exact(value, dec.get(1, leaf.scale))
        return None if u is None else (u, False)
    if ph == 0:
        return (int(value), False) if isinstance(value, bool) else None
    if ph == 1 and (6 in lg or ct == _CT_DATE):
        if isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
            return (value - _dt.date(1970, 1, 1)).days, False
        return None
    if ph == 2 and _ts_unit(leaf) is not None:
        us = _ts_micros(value)
        if us is None:
            return None
        unit = _ts_unit(leaf)
        if unit == "ns":
            return us * 1000, False
        if unit == "ms":
            return (us // 1000, False) if us % 1000 == 0 else None
        return us, False
    if ph in (1, 2):
        if isinstance(value, bool) or not isinstance(value, int):
            return None
        intl = lg.get(10)
        unsigned = (intl is not None and not intl.get(2, True)) \
            or ct in (11, 12, 13, 14)
        return value, unsigned
    if ph in (4, 5):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            return None
        v = float(value)
        if v != v:
            return None  # NaN never prunes
        if ph == 4:
            # the row mask compares in float32 (pa.scalar cast), so the
            # stat space must round the literal identically — a double
            # literal compared against float32 bounds silently prunes
            # row groups whose rows DO match after the cast
            v = float(np.float32(v))
        return v, False
    if ph == 6:
        if isinstance(value, str):
            return value.encode("utf-8"), False
        if isinstance(value, (bytes, bytearray)):
            return bytes(value), False
        return None
    if ph == 7:
        if 15 in lg:  # FLOAT16: numeric value order, like ph 4/5.
            # No literal rounding here: stats decode to EXACT doubles
            # (every half is f64-representable) and the row mask also
            # compares in f64 space, so stat space == row space.
            if isinstance(value, bool) or not isinstance(value,
                                                         (int, float)):
                return None
            v = float(value)
            return None if v != v else (v, False)  # NaN never prunes
        if isinstance(value, (bytes, bytearray)) \
                and len(value) == (leaf.type_length or 0):
            return bytes(value), False
        return None
    return None  # INT96: no ordered stats


_STAT_UNPACK = {1: ("<i", "<I"), 2: ("<q", "<Q"),
                4: ("<f", "<f"), 5: ("<d", "<d")}


def _stat_raw_to_cmp(raw: bytes, leaf: _Node, unsigned: bool):
    """Footer min_value/max_value bytes → comparable, or None (keep)."""
    import struct as _struct

    ph = leaf.physical
    if ph == 0:
        return raw[0] if len(raw) == 1 else None
    if ph in _STAT_UNPACK:
        fmt = _STAT_UNPACK[ph][1 if unsigned else 0]
        if len(raw) != _struct.calcsize(fmt):
            return None
        v = _struct.unpack(fmt, raw)[0]
        return None if ph in (4, 5) and v != v else v
    if ph == 7 and 15 in (leaf.logical or {}):
        if len(raw) != 2:
            return None
        v = float(np.frombuffer(raw, "<f2")[0])
        return None if v != v else v  # NaN bound: unusable
    if ph in (6, 7):
        return bytes(raw)
    return None


def _pred_bloom_args(leaf: _Node, stat_cmp, unsigned: bool, value):
    """(values, kind, flba_size) for codecs.bloom.spec_hashes, or None.
    Covers FLBA decimals too (stats are unusable there, but the spec
    bloom hashes the big-endian physical bytes — a point probe works)."""
    ph = leaf.physical
    lg = leaf.logical or {}
    is_dec = 5 in lg or leaf.converted == _CT_DECIMAL
    if ph == 7 and is_dec:
        w = leaf.type_length or 0
        dec = lg.get(5, {})
        u = _dec_unscaled_exact(value, dec.get(1, leaf.scale))
        if u is None or w <= 0:
            return None
        try:
            raw = u.to_bytes(w, "big", signed=True)
        except OverflowError:
            return None  # literal exceeds the column width: keep
        return (np.frombuffer(raw, np.uint8).reshape(1, w),
                Kind.FIXED_LEN_BYTE_ARRAY, w)
    if stat_cmp is None:
        return None
    if ph in (1, 2):
        bits = 32 if ph == 1 else 64
        lo, hi = (0, 2**bits - 1) if unsigned \
            else (-2**(bits - 1), 2**(bits - 1) - 1)
        if not lo <= stat_cmp <= hi:
            return None  # literal outside the physical range: the
            #              stats comparison already refutes everything
        a = np.array([stat_cmp],
                     dtype=("<u" if unsigned else "<i") + str(bits // 8))
        return a, (Kind.INT32 if ph == 1 else Kind.INT64), None
    if ph in (4, 5):
        # ±0 compare equal but hash to different bloom slots: a file
        # holding only -0.0 must not be pruned by an "= 0.0" probe
        dt = "<f4" if ph == 4 else "<f8"
        vals = np.array([stat_cmp, -stat_cmp] if stat_cmp == 0
                        else [stat_cmp], dtype=dt)
        return vals, (Kind.FLOAT if ph == 4 else Kind.DOUBLE), None
    if ph == 6:
        return (ByteArrays.from_pylist([stat_cmp]), Kind.BYTE_ARRAY, None)
    if ph == 7:
        if 15 in lg:  # FLOAT16: stat_cmp is a float — probe its half
            # bytes. Rounding is sound for "=": a non-representable
            # literal matches nothing, so any prune is correct; a
            # representable one rounds to itself. ±0 compare equal but
            # have distinct bit patterns — probe both.
            h = np.float16(stat_cmp)
            if float(h) != float(stat_cmp):
                return None  # not representable: "=" matches nothing
                #              anyway, stats already refute via bounds
            vals = np.array([h, -h] if h == 0 else [h], dtype="<f2")
            return (vals.view(np.uint8).reshape(-1, 2),
                    Kind.FIXED_LEN_BYTE_ARRAY, 2)
        w = leaf.type_length or len(stat_cmp)
        return (np.frombuffer(stat_cmp, np.uint8).reshape(1, w),
                Kind.FIXED_LEN_BYTE_ARRAY, w)
    return None


@dataclass
class _BoolPred:
    """AND/OR over predicate subtrees (leaves are _Pred)."""

    kind: str  # "and" | "or"
    parts: list


def _compile_pred_tree(root: _Node, fmd: dict, predicate):
    """Grammar: (col, op, value) | (col, "isnull"/"notnull") |
    ("and"|"or", [pred, ...]) | bare list = conjunction (legacy form).
    A 2-tuple is a boolean node only when its second element is a
    list, so a column literally named "or" still works."""
    if isinstance(predicate, tuple) and len(predicate) == 2 \
            and predicate[0] in ("and", "or") \
            and isinstance(predicate[1], (list, tuple)):
        kind, parts = predicate
        if not parts:
            raise ValueError(f"pqreader: empty {kind!r} predicate")
        return _BoolPred(kind, [_compile_pred_tree(root, fmd, p)
                                for p in parts])
    if isinstance(predicate, list):
        if not predicate:
            raise ValueError("pqreader: empty predicate list")
        if len(predicate) == 2 and isinstance(predicate[0], str) \
                and predicate[1] in ("isnull", "notnull"):
            # ['col', 'isnull'] is the list spelling of the null-test
            # LEAF, not a 2-element conjunction of strings
            return _compile_predicate(root, fmd, tuple(predicate))
        return _BoolPred("and", [_compile_pred_tree(root, fmd, p)
                                 for p in predicate])
    return _compile_predicate(root, fmd, predicate)


def _tree_leaves(node) -> list[_Pred]:
    if node is None:
        return []
    if isinstance(node, _Pred):
        return [node]
    return [lf for p in node.parts for lf in _tree_leaves(p)]


def _tree_survives(node, leaf_survives) -> bool:
    """Chunk survival over the tree, given `leaf_survives(pred)`: a
    chunk dies only when the whole boolean combination is refuted by
    stats/blooms/null counts (AND dies with any dead conjunct, OR only
    with ALL disjuncts)."""
    if isinstance(node, _Pred):
        return leaf_survives(node)
    it = (_tree_survives(p, leaf_survives) for p in node.parts)
    return all(it) if node.kind == "and" else any(it)


def _tree_mask(tbl, node):
    """Exact row mask over the tree (Kleene AND/OR — SQL three-valued
    logic; a top-level null mask row is dropped by Table.filter)."""
    import pyarrow.compute as pc

    if isinstance(node, _Pred):
        arr = tbl.column(node.leaf.path[0]).combine_chunks()
        for fld in node.leaf.path[1:]:
            # struct-field predicate: extraction propagates a null
            # parent to a null field, exactly like SQL's s.a
            arr = pc.struct_field(arr, fld)
        return _row_mask(arr, node.op, node.value, node.leaf)
    combine = pc.and_kleene if node.kind == "and" else pc.or_kleene
    masks = [_tree_mask(tbl, p) for p in node.parts]
    out = masks[0]
    for m in masks[1:]:
        out = combine(out, m)
    return out


def _compile_predicate(root: _Node, fmd: dict, predicate) -> _Pred:
    if isinstance(predicate, (tuple, list)) and len(predicate) == 2 \
            and predicate[1] in ("isnull", "notnull"):
        predicate = (*predicate, None)  # null tests carry no literal
    try:
        name, op, value = predicate
    except (TypeError, ValueError):
        raise ValueError("pqreader: predicate must be (column, op, value)")
    if op not in _PRED_OPS:
        raise ValueError(f"pqreader: unsupported predicate op {op!r}")
    op = "=" if op == "==" else op
    node = next((c for c in root.children if c.name == name), None)
    if node is None and "." in name:
        # dotted struct-field path ("s.a.b") — an exact top-level
        # column name always wins over the split interpretation
        cur, ok = root, True
        for part in name.split("."):
            cur = next((c for c in cur.children if c.name == part), None)
            if cur is None or cur.max_rep > 0:
                ok = False
                break
        if ok:
            node = cur
    if node is None:
        raise ValueError(f"pqreader: predicate column {name!r} not found")
    if node.children or node.max_rep > 0:
        raise ValueError(
            f"pqreader: predicate column {name!r} must be a "
            "non-repeated scalar column (top-level or struct field)")
    if op == "in":
        if not isinstance(value, (list, tuple, set, frozenset)) \
                or len(value) == 0:
            raise ValueError(
                "pqreader: 'in' predicate needs a non-empty list")
        # SQL `x IN (..., NULL)` is never TRUE for the NULL member and
        # pc.is_in would MATCH null rows against it — drop them. An
        # all-None list matches nothing (empty member set downstream).
        value = sorted({v for v in value if v is not None}, key=repr)
    pred = _Pred(name=name, op=op, leaf=node, value=value)
    if op in ("isnull", "notnull"):
        # no literal, no ordered-stats / bloom machinery: pruning runs
        # on null_count alone (order-free, so no trust needed either)
        return pred
    if op in ("startswith", "endswith", "contains"):
        if node.physical != 6:
            raise ValueError(
                f"pqreader: {op} needs a BYTE_ARRAY/string column")
        if not isinstance(value, (str, bytes, bytearray)):
            raise ValueError(f"pqreader: {op} literal must be str/bytes")
        if op != "startswith" and isinstance(value, (bytes, bytearray)):
            try:  # reject BEFORE any page is read, not in the mask
                bytes(value).decode("utf-8")
            except UnicodeDecodeError:
                raise ValueError(
                    f"pqreader: {op} byte literal must be valid UTF-8 "
                    "(arbitrary-bytes matching is only defined for "
                    "startswith)") from None
        if op == "startswith":
            # every prefixed value sits in [prefix, upper(prefix)):
            # stat_cmp carries the prefix and _bounds_refute compares
            # it as that RANGE — truncated bounds stay sound (lo is a
            # prefix of the true min, hi carries above the true max)
            pred.stat_cmp = (value.encode("utf-8")
                             if isinstance(value, str) else bytes(value))
        pred.trust = _footer_trusted(fmd)
        return pred
    if op == "in":
        svs = [_pred_stat_value(node, v) for v in value]
        if all(s is not None for s in svs):
            # (vacuously true for the all-None-members empty list:
            # stat_cmp = [] refutes every group, matching SQL)
            # the column could hold ANY of the values: stats refute the
            # group only when every member is outside [min, max]
            pred.stat_cmp = [s[0] for s in svs]
            pred.unsigned = svs[0][1] if svs else False
    else:
        sv = _pred_stat_value(node, value)
        if sv is not None:
            pred.stat_cmp, pred.unsigned = sv
        if op == "!=" and (node.physical in (4, 5)
                           or 15 in (node.logical or {})):
            # float stats skip NaN, but NaN rows DO satisfy != v — a
            # constant [v, v] chunk could still hold matching NaNs
            pred.stat_cmp = None
    # min_value/max_value are only well-ordered when the footer declares
    # column_orders AND every entry is the TYPE_ORDER union field —
    # _footer_trusted, shared with startswith and footer_aggregates
    pred.trust = _footer_trusted(fmd)
    if op in ("=", "in"):
        pred.bloom = _bloom_members(pred, [value] if op == "=" else value)
    return pred


def _bloom_members(pred: _Pred, values) -> list | None:
    """[(stat value, spec_hashes args)] per member. A member that
    cannot be encoded in the physical type can never match, so dropping
    it is sound (refutation needs ALL members absent); with no member
    left the bloom abstains."""
    svs = pred.stat_cmp if pred.op == "in" else [pred.stat_cmp]
    if svs is None:
        svs = [None] * len(values)
    members = [(s, _pred_bloom_args(pred.leaf, s, pred.unsigned, v))
               for v, s in zip(values, svs)]
    return [m for m in members if m[1] is not None] or None


def _view_survives(pred: _Pred, view: _ChunkView) -> bool:
    """The one chunk-prune rule of both stores: False only when the
    chunk's null counts, bounds or bloom REFUTE the predicate. An `in`
    probes the bloom with only the members inside the bounds."""
    if pred.op in ("isnull", "notnull"):
        # null_count is order-free: usable without column_orders trust
        nulls = view.null_count
        if pred.op == "isnull":
            if pred.leaf.max_def == 0:
                return False  # required column: no NULL can exist
            return nulls is None or nulls > 0
        return nulls is None or view.n_rows is None or nulls < view.n_rows
    probed = range(len(pred.bloom or ()))
    if pred.trust and pred.stat_cmp is not None:
        # BYTE_ARRAY bounds may be truncated: lo is a prefix (≤ true
        # min), hi carries (≥ true max) — still sound
        if _bounds_refute(view.lo, view.hi, pred.op, pred.stat_cmp):
            return False
        if pred.op == "in":
            probed = [i for i in probed if pred.bloom[i][0] is None
                      or not _bounds_refute(view.lo, view.hi, "=",
                                            pred.bloom[i][0])]
    if probed and view.bloom is not None:
        bits = view.bloom()
        if bits is not None:
            from parquet_go_spark.codecs import bloom

            hashes = np.concatenate([pred.bloom_hashes[i] for i in probed])
            return bool(bloom.probe(bits, hashes).any())
    return True


def _rg_survives(f, rg: dict, pred: _Pred) -> bool:
    """Footer lookup for _view_survives: the row group's chunk of the
    predicate column as a view — no data pages are read either way."""
    meta = None
    for cc in rg[1]:
        m = cc[3]
        p = tuple(x.decode() if isinstance(x, bytes) else str(x)
                  for x in m[3])
        if p == pred.leaf.path:
            meta = m
            break
    if meta is None:
        return True
    st = meta.get(12) or {}
    lo = hi = None
    if pred.trust and pred.stat_cmp is not None:
        if st.get(6) is not None:
            lo = _stat_raw_to_cmp(st[6], pred.leaf, pred.unsigned)
        if st.get(5) is not None:
            hi = _stat_raw_to_cmp(st[5], pred.leaf, pred.unsigned)
    read_bloom = None
    off = meta.get(14)
    if f is not None and off is not None \
            and meta.get("__crypto__", True) is not None:
        from parquet_go_spark.interop import pqbloom

        # encrypted bloom modules decrypt through the chunk's
        # ChunkCrypto; a marked-but-keyless chunk ("__crypto__" is
        # None) is excluded — its bloom abstains, stats still prune
        def read_bloom():
            return pqbloom.read_bloom_at(f, off, meta.get("__crypto__"))
    return _view_survives(pred, _ChunkView(
        lo, hi, st.get(3), meta[5], read_bloom))


def _row_mask(arr, op: str, value, leaf: _Node):
    """Exact row-level mask for the predicate on the assembled column.
    Timestamps compare as integers in the column unit (tz-proof; naive
    literals are UTC); everything else via a typed Arrow scalar."""
    import pyarrow.compute as pc

    ops = {"=": pc.equal, "!=": pc.not_equal, "<": pc.less,
           "<=": pc.less_equal, ">": pc.greater, ">=": pc.greater_equal}
    t = arr.type
    if op == "isnull":
        return pc.is_null(arr)
    if op == "notnull":
        return pc.is_valid(arr)
    if pa.types.is_float16(t):
        # pyarrow has no halffloat comparison kernels; every half is
        # exactly representable in f64, so compare there with the
        # literal UNROUNDED — the same space the stats machinery uses
        return _row_mask(arr.cast(pa.float64()), op, value, leaf)
    if op in ("startswith", "endswith", "contains"):
        if isinstance(value, (bytes, bytearray)):
            b = bytes(value)
            try:
                value = b.decode("utf-8")
            except UnicodeDecodeError:
                # arbitrary-bytes prefix (BINARY columns): compare the
                # leading slice — equal length + equal bytes ⟺ prefix
                barr = arr if pa.types.is_binary(t) \
                    else pc.cast(arr, pa.binary())
                sl = pc.binary_slice(barr, 0, len(b))
                return pc.equal(sl, pa.scalar(b, pa.binary()))
        fn = {"startswith": pc.starts_with, "endswith": pc.ends_with,
              "contains": pc.match_substring}[op]
        return fn(arr, pattern=value)
    if op == "in":
        if pa.types.is_timestamp(t):
            # per-member exact "=" semantics (off-tick / beyond-horizon
            # members match nothing), ORed together
            mask = pa.array(np.zeros(len(arr), dtype=bool))
            for v in value:
                mask = pc.or_kleene(mask, _row_mask(arr, "=", v, leaf))
            return mask
        if pa.types.is_floating(t):
            # pc.is_in hashes floats BITWISE: it misses -0.0 against a
            # 0.0 member (silent row loss) and MATCHES NaN against a
            # NaN member (SQL IN means =, and NaN = NaN is false) —
            # evaluate as an OR of exact "=" masks instead
            mask = pa.array(np.zeros(len(arr), dtype=bool))
            for v in value:
                if isinstance(v, (int, float)) and not isinstance(v, bool) \
                        and float(v) != float(v):
                    continue  # NaN member equals nothing
                mask = pc.or_kleene(mask, _row_mask(arr, "=", v, leaf))
            return pc.fill_null(mask, False)
        keep = value
        if pa.types.is_integer(t):
            info = np.iinfo(t.to_pandas_dtype())
            keep = []
            for v in value:
                # pa.array silently TRUNCATES 2.5 → 2: normalize float
                # members ourselves; non-integral / NaN / inf / out of
                # range can never equal a stored int
                if isinstance(v, bool) or not isinstance(v, (int, float)):
                    keep.append(v)  # let pa.array raise a clear error
                    continue
                if isinstance(v, float):
                    if v != v or v in (float("inf"), float("-inf")) \
                            or not v.is_integer():
                        continue
                    v = int(v)
                if info.min <= v <= info.max:
                    keep.append(v)
        if not keep:
            return pa.array(np.zeros(len(arr), dtype=bool))
        try:
            vset = pa.array(keep, t)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError) as e:
            raise ValueError(
                f"pqreader: 'in' member not representable in column "
                f"type {t}: {e}") from None
        return pc.is_in(arr, value_set=vset)
    if pa.types.is_timestamp(t):
        us = _ts_micros(value)
        if us is None:
            raise ValueError(
                "pqreader: timestamp predicate needs a datetime literal")
        per_us = {"s": None, "ms": None, "us": 1, "ns": 1000}[t.unit]
        if t.unit == "ms":
            q, r = divmod(us, 1000)
        elif per_us is None:  # seconds
            q, r = divmod(us, 1_000_000)
        else:
            q, r = us * per_us, 0
        if not -2**63 <= q <= 2**63 - 1:
            # literal beyond the unit's int64 horizon (ns columns top
            # out at year 2262): a constant comparison, not an overflow
            if op == "=":
                const = False
            elif op == "!=":
                const = True  # every stored instant differs from it
            elif op in ("<", "<="):
                const = q > 0  # every stored instant is below/above it
            else:
                const = q < 0
            mask = np.full(len(arr), const, dtype=bool)
            if const:
                mask &= ~np.asarray(arr.is_null())
            return pa.array(mask)
        ints = arr.cast(pa.int64())
        if r == 0:
            return ops[op](ints, pa.scalar(q, pa.int64()))
        if op == "=":  # stored values are integral: no row can equal
            return pa.array(np.zeros(len(arr), dtype=bool))
        if op == "!=":  # ...so every non-null row differs
            return pc.is_valid(arr)
        # row OP v with v strictly between q and q+1:
        #   row <  v ⟺ row <= q ;  row <= v ⟺ row <= q
        #   row >  v ⟺ row >  q ;  row >= v ⟺ row >  q
        return (pc.less_equal if op in ("<", "<=") else pc.greater)(
            ints, pa.scalar(q, pa.int64()))
    if pa.types.is_integer(t) and isinstance(value, float):
        # pa.scalar silently TRUNCATES 2.5 → 2 (matching wrong rows):
        # evaluate float literals on int columns exactly instead
        if value != value:  # NaN (IEEE): only != is ever true
            return pc.is_valid(arr) if op == "!=" \
                else pa.array(np.zeros(len(arr), dtype=bool))
        if value in (float("inf"), float("-inf")):
            const = op == "!=" or ((op in ("<", "<=")) if value > 0
                                   else (op in (">", ">=")))
            mask = np.full(len(arr), const, dtype=bool)
            if const:
                mask &= ~np.asarray(arr.is_null())
            return pa.array(mask)
        if value.is_integer():
            value = int(value)  # exact: fall through to the int path
        else:
            if op == "=":
                return pa.array(np.zeros(len(arr), dtype=bool))
            if op == "!=":  # non-integral literal: all ints differ
                return pc.is_valid(arr)
            # v strictly between floor(v) and floor(v)+1 — same trick
            # as off-tick timestamps
            import math
            return _row_mask(arr, "<=" if op in ("<", "<=") else ">",
                             math.floor(value), leaf)
    if pa.types.is_integer(t) and isinstance(value, int) \
            and not isinstance(value, bool):
        # literal outside the column's range: comparisons are still
        # well-defined constants, not errors
        info = np.iinfo(t.to_pandas_dtype())
        if not info.min <= value <= info.max:
            if op == "=":
                const = False
            elif op == "!=":
                const = True  # every representable row differs
            elif op in ("<", "<="):
                const = value > info.max  # every stored row is smaller
            else:
                const = value < info.min
            mask = np.full(len(arr), const, dtype=bool)
            if const:  # nulls never satisfy a comparison
                mask &= ~np.asarray(arr.is_null())
            return pa.array(mask)
    try:
        scalar = pa.scalar(value, t)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError) as e:
        raise ValueError(
            f"pqreader: predicate value {value!r} is not representable "
            f"in column type {t}: {e}") from None
    return ops[op](arr, scalar)


def _load_chunk(f, meta: dict) -> bytes:
    """Read exactly one column chunk's byte range, the dictionary page
    (if any) first: the one whole-chunk read."""
    f.seek(meta.get(11) or meta[9])
    return f.read(meta[7])


# ------------------------------------------- page-level skipping
# (ColumnIndex/OffsetIndex — the column_index.go search-path analog:
#  inside a surviving row group, pages the page index refutes are
#  never read, and the OTHER projected columns read only the pages
#  overlapping the surviving rows)

def _index_bytes(f, cc: dict, off_field: int, len_field: int,
                 module_type: int, what: str):
    """Raw thrift bytes of a ColumnIndex/OffsetIndex, decrypting the
    module (GCM in BOTH spec algorithms — indexes are thrift modules)
    when the chunk is encrypted. Keyless encrypted chunks report no
    index: page-level trimming abstains, whole-group decode stays
    correct."""
    meta = cc.get(3) or {}
    crypto = meta.get("__crypto__", False)
    if crypto is None:  # marked encrypted, no keys supplied
        return None
    off, ln = cc.get(off_field), cc.get(len_field)
    if off is None or ln is None:
        return None
    f.seek(off)
    raw = f.read(ln)
    if crypto:
        from parquet_go_spark.interop import pqcrypt

        raw, _ = pqcrypt.decrypt_module(
            raw, 0, crypto.key,
            pqcrypt.module_aad(crypto.file_aad, module_type,
                               crypto.rg, crypto.col), what)
    return raw


def _offset_index(f, cc: dict):
    """[(offset, compressed_size, first_row_index)] or None."""
    from parquet_go_spark.interop import pqcrypt

    raw = _index_bytes(f, cc, 4, 5, pqcrypt.OFFSET_INDEX,
                       "offset index")
    if raw is None:
        return None
    oi, _ = read_struct(raw, 0)
    return [(pl[1], pl[2], pl[3]) for pl in oi[1]]


def _column_index(f, cc: dict):
    """(null_pages, min_values, max_values, null_counts|None) or
    None."""
    from parquet_go_spark.interop import pqcrypt

    raw = _index_bytes(f, cc, 6, 7, pqcrypt.COLUMN_INDEX,
                       "column index")
    if raw is None:
        return None
    ci, _ = read_struct(raw, 0)
    if 1 not in ci or 2 not in ci or 3 not in ci:
        return None
    return ci[1], ci[2], ci[3], ci.get(5)


def _prefix_upper(prefix: bytes) -> bytes | None:
    """Least byte string greater than every prefix-extension, or None
    (all-0xFF prefix has no representable upper bound)."""
    b = bytearray(prefix)
    for i in range(len(b) - 1, -1, -1):
        if b[i] < 0xFF:
            b[i] += 1
            return bytes(b[: i + 1])
    return None


def _bounds_refute(lo, hi, op: str, v) -> bool:
    """Do bounds [lo, hi] refute `op v`? A None bound is unbounded on
    its side."""
    def outside(m):
        return (lo is not None and m < lo) or (hi is not None and m > hi)

    if op == "in":  # refuted only when EVERY member is outside
        return all(outside(m) for m in v)
    if op == "=":
        return outside(v)
    if op == "startswith":
        # prefixed values live in [v, upper(v)): hi < v means every
        # value sorts below them all, lo >= upper above them all
        if hi is not None and hi < v:
            return True
        up = _prefix_upper(v)
        return up is not None and lo is not None and lo >= up
    if op == "!=":
        # refutable only when the chunk is provably constant == v
        # (lo == hi == v; a truncated BYTE_ARRAY bound can never
        # produce lo == hi unless it is exact). Float columns never
        # compile a != stat_cmp — NaN rows hide outside the bounds.
        return lo == v and hi == v
    if op in ("<", "<="):
        return lo is not None and (lo > v or (op == "<" and lo == v))
    return hi is not None and (hi < v or (op == ">" and hi == v))


def _page_keep_null(ci, pred: _Pred) -> list[bool]:
    """Per-page survival for isnull/notnull: null_pages is definitive
    (True ⟺ every value in the page is null); per-page null_counts
    (optional ColumnIndex field 5) refine isnull when present."""
    null_pages, _, _, ncs = ci
    if pred.op == "notnull":
        return [not is_null for is_null in null_pages]
    keep = []
    for i, is_null in enumerate(null_pages):
        if is_null:
            keep.append(True)
        elif ncs is not None and i < len(ncs):
            keep.append(ncs[i] > 0)
        else:
            keep.append(True)  # unknown: never skip
    return keep


def _page_keep(ci, pred: _Pred) -> list[bool]:
    """Per-page survival from the ColumnIndex (possibly-truncated
    bounds stay sound, same as chunk Statistics). All-null pages never
    satisfy a comparison predicate."""
    null_pages, mins, maxs, _ = ci
    keep = []
    for i, is_null in enumerate(null_pages):
        if is_null:
            keep.append(False)
            continue
        lo = _stat_raw_to_cmp(mins[i], pred.leaf, pred.unsigned)
        hi = _stat_raw_to_cmp(maxs[i], pred.leaf, pred.unsigned)
        if lo is None or hi is None:
            keep.append(True)
            continue
        keep.append(not _bounds_refute(lo, hi, pred.op, pred.stat_cmp))
    return keep


def _rows_from_pages(locs, keep: list[bool], rg_rows: int):
    """Kept pages → merged, disjoint row ranges within the row group."""
    ranges = []
    for i, k in enumerate(keep):
        if not k:
            continue
        a = locs[i][2]
        b = locs[i + 1][2] if i + 1 < len(locs) else rg_rows
        if ranges and ranges[-1][1] == a:
            ranges[-1] = (ranges[-1][0], b)
        else:
            ranges.append((a, b))
    return ranges


def _surviving_pages(f, meta: dict, leaf: _Node, locs, ranges,
                     rg_rows: int, verify: bool):
    """Yield (runs, payload, row_span) for each page overlapping
    `ranges` (sorted, disjoint row intervals): runs are row intervals
    RELATIVE to the page, payload is the decoded page. Refuted pages
    cost zero reads; the dictionary page (if any) is read once — a
    dictionary page occupies [chunk start, first OffsetIndex page),
    and some writers leave dictionary_page_offset unset even when one
    exists (data_page_offset then points at it), so detect by the
    byte gap, not the footer field."""
    codec = _chunk_codec(meta)
    crypto = _chunk_crypto(meta, leaf)
    dictionary_vals = None
    start = meta.get(11) or meta[9]
    if locs and locs[0][0] > start:
        f.seek(start)
        buf = f.read(locs[0][0] - start)
        kind, dictionary_vals, _ = _decode_page(
            buf, 0, leaf, codec, None, verify, crypto=crypto,
            is_dict=True)
        if kind != "dict":
            raise ValueError("pqreader: expected dictionary page")
    ri = 0  # ranges cursor (both ranges and pages are row-ordered)
    for i, (off, size, row0) in enumerate(locs):
        row1 = locs[i + 1][2] if i + 1 < len(locs) else rg_rows
        while ri < len(ranges) and ranges[ri][1] <= row0:
            ri += 1
        runs = []
        for a, b in ranges[ri:]:
            if a >= row1:
                break
            aa, bb = max(a, row0) - row0, min(b, row1) - row0
            if aa < bb:
                runs.append((aa, bb))
        if not runs:
            continue
        f.seek(off)
        buf = f.read(size)
        # the OffsetIndex lists DATA pages in order, so its position
        # is the encrypted module's page ordinal
        kind, payload, _ = _decode_page(buf, 0, leaf, codec,
                                        dictionary_vals, verify,
                                        crypto=crypto, page_ord=i)
        if kind != "data":
            raise ValueError("pqreader: page index points at a "
                             "non-data page")
        yield runs, payload, row1 - row0


def _walked_pages(f, meta: dict, leaf: _Node, verify: bool):
    """Yield every data page's payload of one chunk, in order, from
    one _load_chunk read; a leading dictionary page is decoded on the
    way. An encrypted page's module AAD needs its kind and data-page
    ordinal UP FRONT, so the dictionary comes from the footer field."""
    buf = _load_chunk(f, meta)
    codec = _chunk_codec(meta)
    crypto = _chunk_crypto(meta, leaf)
    has_dict = crypto is not None and bool(meta.get(11))
    dictionary_vals = None
    pos = seen = page_ord = 0
    while seen < meta[5]:
        kind, payload, next_pos = _decode_page(
            buf, pos, leaf, codec, dictionary_vals, verify,
            crypto=crypto, page_ord=page_ord, is_dict=has_dict and pos == 0)
        pos = next_pos
        if kind == "dict":
            dictionary_vals = payload
            continue
        seen += payload[3]
        page_ord += 1
        yield payload


def _trim(payload, leaf: _Node, runs, span: int, indexed: bool):
    """Yield one (defs, reps, values, n_entries) part per row run of a
    decoded payload — a page, or a walked chunk's pages joined. A row
    starts at every entry of a flat leaf and at each rep == 0 entry of
    a repeated one; runs are row intervals relative to the payload's
    first row, which must hold `span` rows (the offset-index span of a
    page, the footer's row count of a chunk)."""
    defs, reps, values, nv = payload
    starts = None if reps is None else np.flatnonzero(reps == 0)
    rows = nv if starts is None else len(starts)
    if rows != span:
        raise ValueError(
            f"pqreader: page row count {rows} != offset-index span "
            f"{span} for column {leaf.path}" if indexed else
            f"pqreader: column {leaf.path} has {rows} rows, footer "
            f"says {span}")
    nn_cum = None  # None: all present, value index == entry index
    if defs is not None:
        nn_cum = np.zeros(nv + 1, dtype=np.int64)
        np.cumsum(defs == leaf.max_def, out=nn_cum[1:])
    for aa, bb in runs:
        ea, eb = aa, bb
        if starts is not None:
            ea = int(starts[aa])
            eb = nv if bb == rows else int(starts[bb])
        yield (None if defs is None else defs[ea:eb],
               None if reps is None else reps[ea:eb],
               slice_values(values, ea if nn_cum is None else int(nn_cum[ea]),
                            eb if nn_cum is None else int(nn_cum[eb])),
               eb - ea)


def _read_leaf(f, meta: dict, leaf: _Node, ranges, locs, rg_rows: int,
               verify: bool) -> _LeafData:
    """The one leaf reader: decode one column chunk's pages, keeping
    the rows in `ranges` (sorted, disjoint row intervals of the row
    group; None keeps every row). With `ranges` and the chunk's
    OffsetIndex `locs`, only the overlapping pages are read and each is
    trimmed on its own (a page index pins pages to row boundaries).
    Otherwise one read loads the chunk and its pages are walked in
    order; a repeated row may straddle those pages, so they are joined
    before the trim."""
    if ranges is not None and locs is not None:
        return _leaf_data([part for runs, page, span in _surviving_pages(
            f, meta, leaf, locs, ranges, rg_rows, verify)
            for part in _trim(page, leaf, runs, span, True)], leaf)
    ld = _leaf_data(list(_walked_pages(f, meta, leaf, verify)), leaf)
    if ranges is None:
        return ld
    chunk = (ld.defs if leaf.max_def else None,
             ld.reps if leaf.max_rep else None, ld.values, len(ld.defs))
    return _leaf_data(list(_trim(chunk, leaf, ranges, rg_rows, False)),
                      leaf)


def _intersect_ranges(a, b):
    """Intersection of two sorted, disjoint range lists."""
    out = []
    i = j = 0
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if lo < hi:
            out.append((lo, hi))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def _union_ranges(a, b):
    """Union of two sorted, disjoint range lists (coalesced)."""
    out = []
    for lo, hi in sorted(a + b):
        if out and lo <= out[-1][1]:
            if hi > out[-1][1]:
                out[-1] = (out[-1][0], hi)
        else:
            out.append((lo, hi))
    return out


def _tree_page_ranges(f, cc_by_path: dict, node, rg_n: int,
                      memo: dict):
    """Surviving row ranges of ONE row group from the page indexes,
    over the whole predicate tree. Returns None (no page information
    — read everything), [] (every row refuted — skip the group), or a
    non-empty sorted range list. AND intersects informed children and
    stops at the first empty intersection; OR unions them, but any
    uninformed disjunct makes the whole OR uninformed (its rows could
    be anywhere). memo caches each column's (ColumnIndex, OffsetIndex)
    by leaf path, so several leaves on one column cost one metadata
    read and read_table reuses the OffsetIndexes it holds."""
    if isinstance(node, _Pred):
        null_op = node.op in ("isnull", "notnull")
        if not null_op \
                and not (node.trust and node.stat_cmp is not None):
            return None
        if node.leaf.path in memo:
            ci, locs = memo[node.leaf.path]
        else:
            pcc = cc_by_path.get(node.leaf.path)
            ci = _column_index(f, pcc) if pcc is not None else None
            locs = _offset_index(f, pcc) if pcc is not None else None
            memo[node.leaf.path] = (ci, locs)
        if ci is None or locs is None or len(ci[0]) != len(locs):
            return None
        keep = _page_keep_null(ci, node) if null_op \
            else _page_keep(ci, node)
        if all(keep):
            return None  # nothing refuted: no information gained
        return _rows_from_pages(locs, keep, rg_n)
    if node.kind == "and":
        acc = None
        for p in node.parts:
            r = _tree_page_ranges(f, cc_by_path, p, rg_n, memo)
            if r is None:
                continue
            acc = r if acc is None else _intersect_ranges(acc, r)
            if not acc:
                return []  # short-circuit: remaining conjuncts unread
        return acc
    acc = []
    for p in node.parts:
        r = _tree_page_ranges(f, cc_by_path, p, rg_n, memo)
        if r is None:
            return None  # short-circuit: the union is unbounded
        acc = _union_ranges(acc, r)
    return acc


def read_table(path: str, columns: list[str] | None = None,
               predicate=None, row_range=None,
               verify_checksums: bool = False,
               decryption=None) -> pa.Table:
    """Decode a .parquet file through our kernels → pyarrow Table.

    columns prunes the chunks READ (projection: skipped columns cost
    zero data bytes). predicate = (column, op, literal) with op in
    =, ==, <, <=, >, >=, in, isnull, notnull, startswith, endswith,
    contains — or a LIST of such tuples, ANDed — or an arbitrarily
    nested boolean tree
    ("and"|"or", [pred, ...]) — returns exactly the matching rows
    (null tests take no literal and prune on null_count alone,
    trust-free; OR prunes a row group only when EVERY disjunct is
    refuted, and unions page survivors); row
    groups that footer min/max statistics, null counts, or a
    split-block bloom filter refute are skipped
    without reading any data pages — the reader analog of the
    engine's manifest stat/bloom pruning and of the reference's
    ColumnIndex search path (column_index.go). Page-level survivors
    intersect across conjuncts (each conjunct prunes on its own
    column's page grid). Naive datetime literals are interpreted as
    UTC. row_range = (start, stop) returns file rows [start, stop) —
    the SeekToRow analog (reader.go): row groups outside the range
    read nothing, and with page indexes a partially-covered group
    decodes only the overlapping pages. verify_checksums=True checks
    each page's recorded CRC32 before decoding (pages without one
    pass, as in parquet-mr).

    The footer parse (FileMetaData and schema tree) is served from the
    per-process footer cache when this file's footer bytes were parsed
    before; page indexes, blooms and pages are read on every call
    (see _file_meta)."""
    if row_range is not None:
        lo, hi = row_range
        if not (isinstance(lo, int) and isinstance(hi, int)
                and 0 <= lo <= hi):
            raise ValueError(
                f"pqreader: row_range must be 0 <= start <= stop, "
                f"got {row_range!r}")
    with open(path, "rb") as f:
        fmd, root = _file_meta(path, decryption, f)
        tree = (_compile_pred_tree(root, fmd, predicate)
                if predicate is not None else None)
        preds = _tree_leaves(tree)
        top = root.children
        if columns is not None:
            by_name = {c.name: c for c in root.children}
            unknown = [n for n in columns if n not in by_name]
            if unknown:
                raise ValueError(
                    f"pqreader: no column {unknown[0]!r} in {path} "
                    f"(columns: {list(by_name)})")
            top = [by_name[n] for n in dict.fromkeys(columns)]
        top_names = {c.name for c in top}
        for pr in preds:
            if pr.leaf.path[0] not in top_names:
                raise ValueError(
                    f"pqreader: predicate column {pr.name!r} not in "
                    "the projected columns")
        leaves = {lf.path: lf for c in top for lf in _leaves(c)}
        batches = []
        names = [c.name for c in top]
        arrow_fields = [pa.field(c.name, _node_arrow_type(c)) for c in top]
        base = 0
        for rg in fmd[4]:
            rg_n = rg[3]
            rg_lo = base
            base += rg_n
            local = None  # rows of THIS group wanted by row_range
            if row_range is not None:
                a = max(row_range[0] - rg_lo, 0)
                b = min(row_range[1] - rg_lo, rg_n)
                if a >= b:
                    continue  # group entirely outside: nothing read
                if (a, b) != (0, rg_n):
                    local = (a, b)
            if tree is not None and not _tree_survives(
                    tree, lambda p: _rg_survives(f, rg, p)):
                continue
            cc_by_path = {}
            for cc in rg[1]:
                p = tuple(x.decode() if isinstance(x, bytes) else str(x)
                          for x in cc[3][3])
                cc_by_path[p] = cc
            for p in leaves:
                if p not in cc_by_path:
                    raise ValueError(
                        f"pqreader: column {p} missing in footer")
            # page-level skipping inside a surviving row group:
            # conjuncts prune on their own columns' page indexes, and
            # survivors intersect as row ranges (predicate leaves are
            # flat by compile-time contract; PROJECTED columns may be
            # nested — _read_leaf trims them by row)
            sub = None  # rows of this group to read; None: all
            memo = {}  # leaf path → (ColumnIndex, OffsetIndex)
            if tree is not None:
                sub = _tree_page_ranges(f, cc_by_path, tree, rg_n, memo)
                if sub is not None and not sub:
                    continue  # every row page-refuted: finer than
                    #           chunk stats, still zero data reads
            if local is not None:
                sub = _intersect_ranges(sub or [(0, rg_n)], [local])
                if not sub:
                    continue
            # every OffsetIndex before any page: the indexes sit
            # together, so one buffered read serves several
            ois = {} if sub is None else {
                p: memo[p][1] if p in memo
                else _offset_index(f, cc_by_path[p]) for p in leaves}
            leaf_data = {p: _read_leaf(f, cc_by_path[p][3], lf, sub,
                                       ois.get(p), rg_n, verify_checksums)
                         for p, lf in leaves.items()}
            n_rows = rg_n if sub is None else sum(b - a for a, b in sub)
            starts, ends = {}, {}
            ident = None  # one shared identity for every flat leaf
            for p, ld in leaf_data.items():
                if leaves[p].max_rep:
                    s = np.flatnonzero(ld.reps == 0)
                    if len(s) != n_rows:
                        raise ValueError(
                            f"pqreader: column {p} has {len(s)} rows, "
                            f"footer says {n_rows}")
                    e = np.empty_like(s)
                    e[:-1] = s[1:]
                    if len(s):
                        e[-1] = len(ld.defs)
                else:
                    if len(ld.defs) != n_rows:
                        raise ValueError(
                            f"pqreader: column {p} has {len(ld.defs)} "
                            f"rows, footer says {n_rows}")
                    if ident is None:
                        ident = np.arange(n_rows + 1, dtype=np.int64)
                    s, e = ident[:n_rows], ident[1:]
                starts[p], ends[p] = s, e
            arrays = [_assemble(c, leaf_data, starts, ends, n_rows)
                      for c in top]
            rb = pa.record_batch(
                [a.cast(fl.type) if a.type != fl.type else a
                 for a, fl in zip(arrays, arrow_fields)],
                schema=pa.schema(arrow_fields))
            batches.append(rb)
    if not batches:
        return pa.schema(arrow_fields).empty_table()
    tbl = pa.Table.from_batches(batches)
    if tree is not None:
        # Kleene AND/OR over the tree — SQL three-valued logic
        tbl = tbl.filter(_tree_mask(tbl, tree))
    return tbl


def read_rows(path: str, columns: list[str] | None = None,
              predicate=None, row_range=None) -> list[dict]:
    return read_table(path, columns, predicate=predicate,
                      row_range=row_range).to_pylist()


def list_parquet_files(dir_path: str) -> list[str]:
    """Data files of a directory: *.parquet, skipping underscore/dot
    sidecars (the one file-discovery rule, shared by the pqread data
    source and spark_footer_aggregates). A path to a single FILE is
    returned as-is (spark.read.parquet accepts both shapes; so do we)."""
    if os.path.isfile(dir_path):
        return [dir_path]
    files = sorted(
        os.path.join(dir_path, f) for f in os.listdir(dir_path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    if not files:
        raise ValueError(f"pqreader: no parquet files under {dir_path}")
    return files


# ------------------------------------------------- footer aggregates
# min/max/count answered from footer bytes alone — the metadata-scan
# fast path (the reference exposes the same Statistics through
# ColumnChunk.Statistics, file.go footer walk): at fleet scale a
# MIN/MAX/COUNT over 10^5 files is KBs of footer per file, zero data
# pages. Soundness mirrors the predicate path: min/max only when
# column_orders declares TypeDefinedOrder for every column, and for
# variable-length BYTE_ARRAY only when the writer recorded
# is_min/max_value_exact (truncated bounds are NOT the extreme values;
# fixed-width kinds can never be truncated). Float min/max are over
# non-NaN values (parquet statistics semantics). Counts need no trust:
# num_rows is authoritative and null_count is order-free.

def _leaf_is_unsigned(leaf: _Node) -> bool:
    intl = (leaf.logical or {}).get(10)
    return (intl is not None and not intl.get(2, True)) \
        or leaf.converted in (11, 12, 13, 14)


def _cmp_to_logical(leaf: _Node, v):
    """Merge-space stat → Python value in the column's logical space
    (what read_table surfaces for the same cell)."""
    import datetime as _dt
    import decimal as _dec

    lg = leaf.logical or {}
    ct = leaf.converted
    ph = leaf.physical
    if 5 in lg or ct == _CT_DECIMAL:
        dec = lg.get(5, {})
        scale = dec.get(1, leaf.scale)
        with _dec.localcontext() as ctx:
            ctx.prec = 60  # decimal(38) unscaled ints overflow default
            return _dec.Decimal(int(v)).scaleb(-scale)
    if ph == 0:
        return bool(v)
    if ph == 1 and (6 in lg or ct == _CT_DATE):
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))
    typ = _leaf_arrow_type(leaf)
    if pa.types.is_timestamp(typ):
        return pa.array([int(v)], pa.int64()).cast(typ)[0].as_py()
    if ph == 6 and (1 in lg or ct == _CT_UTF8):
        return v.decode("utf-8")
    return v


def _agg_bound(leaf: _Node, st: dict, which: str):
    """One chunk's min/max in MERGE space (mutually comparable across
    chunks), or None when unusable. `which` is "min" or "max"."""
    raw = st.get(6 if which == "min" else 5)
    if raw is None:
        return None
    ph = leaf.physical
    lg = leaf.logical or {}
    exact = st.get(8 if which == "min" else 7)
    if 5 in lg or leaf.converted == _CT_DECIMAL:
        if ph in (1, 2):
            return _stat_raw_to_cmp(raw, leaf, False)
        if ph == 7 and len(raw) == (leaf.type_length or 0):
            # FLBA decimal: big-endian two's complement — value order
            # under TypeDefinedOrder, so decode before merging (byte
            # order would mis-merge across signs)
            return int.from_bytes(raw, "big", signed=True)
        return None
    if ph == 6:
        # variable length: the bound may be truncated; only the
        # writer's exactness flag proves it IS the extreme value
        return bytes(raw) if exact is True else None
    if ph == 7:
        if exact is False or len(raw) != (leaf.type_length or 0):
            return None
        if 15 in lg:
            # FLOAT16: decode the half to its exact double — numeric
            # value order (a NaN bound is unusable, like ph 4/5)
            v = float(np.frombuffer(raw, "<f2")[0])
            if v != v:
                return None
            return _float_bound_guard(v, st, which, leaf)
        if leaf.converted == 21:
            return None  # INTERVAL: byte order is not value order
        return bytes(raw)
    if ph == 3:
        return None  # INT96: no ordered stats
    v = _stat_raw_to_cmp(raw, leaf, _leaf_is_unsigned(leaf))
    if ph in (4, 5) and isinstance(v, float):
        return _float_bound_guard(v, st, which, leaf)
    return v


_FLOAT_MAX = {4: float(np.finfo(np.float32).max),
              5: float(np.finfo(np.float64).max)}


def _float_bound_guard(v: float, st: dict, which: str, leaf: _Node):
    """parquet-cpp initializes float min/max accumulators at ±FLT/DBL
    MAX, so an all-(+inf) chunk records min = FLOAT_MAX — and the footer
    of [inf] is byte-identical to that of [FLOAT_MAX, inf], making the
    true min UNPROVABLE from the footer (symmetrically max for -inf).
    Pruning stays sound (the recorded bound is conservative); a
    footer-only AGGREGATE must return None for the ambiguous pattern."""
    ph = leaf.physical
    fmax = _FLOAT_MAX.get(ph)
    if fmax is None and ph == 7 and 15 in (leaf.logical or {}):
        fmax = float(np.finfo(np.float16).max)
    if fmax is None:
        return v
    other_raw = st.get(5 if which == "min" else 6)
    other = (_stat_raw_to_cmp(other_raw, leaf, False)
             if other_raw is not None else None)
    if which == "min" and v == fmax \
            and (other is None or other == float("inf")):
        return None
    if which == "max" and v == -fmax \
            and (other is None or other == float("-inf")):
        return None
    return v


def footer_aggregates(path: str, columns: list[str] | None = None,
                      decryption=None) -> dict:
    """{"rows": N, "columns": {name: {"count", "null_count", "min",
    "max"}}} from the footer alone — no data page is ever read.

    Covers flat scalar top-level columns; `count` is the non-null
    count. A field is None when the footer cannot prove it (untrusted
    column order, truncated/absent bounds, missing null_count); an
    all-null row group contributes no bounds without poisoning the
    column. Values come back in logical space (Decimal, date,
    datetime, str, ...) — exactly read_table's cell values. The
    footer parse comes from the footer cache (see _file_meta)."""
    fmd, root = _file_meta(path, decryption)
    flat = {c.name: c for c in root.children
            if not c.children and c.max_rep == 0}
    if columns is not None:
        missing = [c for c in columns if c not in flat]
        if missing:
            raise ValueError(
                f"pqreader: no flat scalar column(s) {missing} in {path}")
        flat = {c: flat[c] for c in columns}
    trusted = _footer_trusted(fmd)
    # min and max poison INDEPENDENTLY: a truncated min must not lose
    # a provable max (e.g. one >16-byte extreme string in one chunk)
    agg = {name: {"count": 0, "null_count": 0,
                  "min": None, "max": None,
                  "min_ok": True, "max_ok": True} for name in flat}
    for rg in fmd.get(4) or []:
        by_path = {}
        for cc in rg[1]:
            m = cc[3]
            p = tuple(x.decode() if isinstance(x, bytes) else str(x)
                      for x in m[3])
            if len(p) == 1:
                by_path[p[0]] = m
        for name, leaf in flat.items():
            a = agg[name]
            m = by_path.get(name)
            if m is None:  # chunk absent: column unreadable — poison
                a["count"] = a["null_count"] = None
                a["min_ok"] = a["max_ok"] = False
                continue
            nv = m[5]
            st = m.get(12) or {}
            nulls = st.get(3)
            if nulls is None:
                a["count"] = a["null_count"] = None
            else:
                if a["count"] is not None:
                    a["count"] += nv - nulls
                    a["null_count"] += nulls
            all_null = nulls is not None and nulls == nv
            if nv == 0 or all_null:
                continue  # no non-null values: no bound contribution
            if not trusted:
                a["min_ok"] = a["max_ok"] = False
                continue
            lo = _agg_bound(leaf, st, "min")
            if lo is None:
                a["min_ok"] = False
            elif a["min_ok"]:
                a["min"] = lo if a["min"] is None else min(a["min"], lo)
            hi = _agg_bound(leaf, st, "max")
            if hi is None:
                a["max_ok"] = False
            elif a["max_ok"]:
                a["max"] = hi if a["max"] is None else max(a["max"], hi)
    out = {}
    for name, a in agg.items():
        leaf = flat[name]
        lo = a["min"] if a["min_ok"] else None
        hi = a["max"] if a["max_ok"] else None
        out[name] = {
            "count": a["count"],
            "null_count": a["null_count"],
            "min": None if lo is None else _cmp_to_logical(leaf, lo),
            "max": None if hi is None else _cmp_to_logical(leaf, hi),
        }
    return {"rows": fmd[3], "columns": out}


def merge_aggregates(parts: list[dict]) -> dict:
    """Combine per-file footer_aggregates results. None-poisoning per
    field; a file whose column is entirely null (count == 0) skips the
    bounds merge instead of poisoning it."""
    if not parts:
        return {"rows": 0, "columns": {}}
    names = list(parts[0]["columns"])
    for p in parts[1:]:
        if list(p["columns"]) != names:
            raise ValueError("pqreader: aggregate parts disagree on "
                             "columns — same projection required")
    out = {}
    for name in names:
        acc = {"count": 0, "null_count": 0, "min": None, "max": None}
        ok = {"min": True, "max": True}  # poison per FIELD: one file's
        #     truncated min must not lose everyone's provable max
        for p in parts:
            c = p["columns"][name]
            for k in ("count", "null_count"):
                if acc[k] is None or c[k] is None:
                    acc[k] = None
                else:
                    acc[k] += c[k]
            if c["count"] == 0:
                continue  # provably no non-null values in this file
            for k, pick in (("min", min), ("max", max)):
                if c[k] is None:
                    ok[k] = False
                elif ok[k]:
                    acc[k] = c[k] if acc[k] is None else pick(acc[k], c[k])
        for k in ("min", "max"):
            if not ok[k]:
                acc[k] = None
        out[name] = acc
    return {"rows": sum(p["rows"] for p in parts), "columns": out}


def spark_footer_aggregates(spark, dir_path: str,
                            columns: list[str] | None = None) -> dict:
    """footer_aggregates over a directory, distributed as a Spark job
    above 64 files (the prune_files shape: each task reads only footer
    bytes; results are metadata-sized, merged on the driver)."""
    files = list_parquet_files(dir_path)
    if spark is not None and len(files) > 64:
        cols = columns

        def agg_partition(it):
            for p in it:
                yield footer_aggregates(p, cols)

        slices = min(len(files),
                     spark.sparkContext.defaultParallelism * 4)
        parts = (spark.sparkContext.parallelize(files, slices)
                 .mapPartitions(agg_partition).collect())
    else:
        parts = [footer_aggregates(p, columns) for p in files]
    return merge_aggregates(parts)
