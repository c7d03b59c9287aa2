"""Dictionary build/lookup kernels.

Reference semantics: /root/reference/dictionary.go:43-83 (Insert/Lookup/
Index/Bounds), dictionary_byte_array.go:14-70 (byte-array dedupe via
hash map — here pyarrow's C++ dictionary_encode), writer.go:2049-2077
(size-cap fallback handled by the selector, see selector.py).

The dictionary page itself is PLAIN-encoded values; the data page holds
int32 indexes in RLE_DICTIONARY framing (dictionary.go:110-125).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .bytearrays import ByteArrays


def factorize_numeric(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Returns (uniques, indexes) — uniques sorted ascending (deterministic)."""
    uniques, inverse = np.unique(values, return_inverse=True)
    return uniques, inverse.astype(np.int32)


def factorize_byte_array(values: ByteArrays) -> tuple[ByteArrays, np.ndarray]:
    """Returns (unique values in first-occurrence order, int32 indexes)."""
    arr = values.to_arrow()
    denc = arr.dictionary_encode()
    indexes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int32)
    uniques = ByteArrays.from_arrow(denc.dictionary)
    return uniques, indexes


def factorize_flba(rows) -> tuple[np.ndarray, np.ndarray]:
    """(n, width) fixed-width byte rows → (unique rows, int32 indexes).

    np.unique needs axis=0 or it flattens the matrix into single bytes
    (corrupt dictionary); return_inverse's shape varies across numpy
    versions, hence the explicit reshape.
    """
    uniques, inverse = np.unique(
        np.asarray(rows), axis=0, return_inverse=True)
    return uniques, np.asarray(inverse).reshape(-1).astype(np.int32)


def lookup_numeric(uniques: np.ndarray, indexes: np.ndarray) -> np.ndarray:
    return uniques[indexes]


def lookup_byte_array(uniques: ByteArrays, indexes: np.ndarray) -> ByteArrays:
    """Gather: Arrow's take over a zero-copy large_binary view of the
    uniques. take bounds-checks every index, so an out-of-range one —
    negative included — raises IndexError and never wraps. take trusts
    the offsets, so they are checked first (O(n_dict)): uniques decoded
    from a corrupt blob must raise here, never make take over-read."""
    off = uniques.offsets
    if off[0] < 0 or off[-1] > len(uniques.data) or (off[1:] < off[:-1]).any():
        raise ValueError(
            "dictionary uniques: offsets descend or run past the data")
    view = pa.Array.from_buffers(
        pa.large_binary(), len(uniques),
        [None, pa.py_buffer(uniques.offsets), pa.py_buffer(uniques.data)])
    return ByteArrays.from_arrow(view.take(pa.array(indexes)))


def decode_legacy_plain_dictionary(
    dict_payload, n_dict: int, data_payload, n: int, kind: int,
    flba_size: int | None = None,
):
    """PLAIN_DICTIONARY read-compat (E5) — the deprecated format-2.0
    dictionary encoding still emitted by parquet-mr 1.x / impala, which
    the reference keeps readable (/root/reference/format/parquet.go:
    586-592; encoding.go canEncode treats it as RLE_DICTIONARY's alias).
    The dictionary page payload is PLAIN values and the data page is a
    1-byte index bit-width + RLE/bit-packed hybrid — byte-identical
    framing to RLE_DICTIONARY — so reading is the PLAIN kernel + the
    hybrid index decoder + a gather. There is deliberately no write
    path: the format deprecated the encoding in favor of RLE_DICTIONARY
    and the engine never emits it (mirrors the reference's writer)."""
    from . import plain, rle
    from .kinds import Kind

    idx = rle.decode_dictionary_indexes(data_payload, n)
    if kind == Kind.BYTE_ARRAY:
        uniques = plain.decode_byte_array(dict_payload, n_dict)
        return lookup_byte_array(uniques, idx)
    if kind == Kind.FIXED_LEN_BYTE_ARRAY:
        uniques = plain.decode_flba(dict_payload, n_dict, flba_size)
    else:
        uniques = plain.decode_numeric(dict_payload, n_dict, kind)
    return lookup_numeric(uniques, idx)
