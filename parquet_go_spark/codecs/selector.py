"""Per-chunk codec auto-selector.

Generalizes the reference's static-with-one-dynamic-rule selection
(/root/reference/node.go:542-562 defaults, writer.go:2049-2077
dictionary-size fallback) into a measured, deterministic decision:

  1. compute cheap per-chunk stats (NDV on a sample, run count,
     sortedness, bit-width, sample byte entropy, prefix affinity)
  2. shortlist candidate codecs per kind using those stats — this
     mirrors the reference's canEncode matrix (encoding.go:136-160)
     plus its defaults (BYTE_ARRAY → DELTA_LENGTH, else PLAIN)
  3. trial-encode the shortlist and keep the smallest blob

Within one encode task the decision is made once per column, not once
per chunk: the caller's per-(column, stream) state carries the FSST
symbol table and the last full trial's winner to the task's later
chunks of that column (select_and_encode). The choice therefore depends
on the chunk bytes AND on the task's earlier chunks of the same column
(sampling stays positional, not random). That is safe for resume:
blobs are self-describing, and resume and replay dedupe on chunk ids,
never on blob bytes.
"""

from __future__ import annotations

import numpy as np

from . import chunk as chunklib
from . import delta, fsst, registry, rle
from .bitpack import bit_length_u64
from .bytearrays import ByteArrays
from .kinds import Codec, Kind

DICT_MAX_BYTES = 1 << 20  # per-chunk dictionary cap (DictionaryMaxBytes analog)
DICT_NDV_RATIO = 0.5  # dictionary viable when sample NDV/n below this
SAMPLE = 4096  # stat sample size (positional prefix — deterministic)
FSST_MIN_BYTES = 1 << 10  # below this, table overhead dominates


def column_stats(values, kind: int) -> dict:
    """Cheap deterministic stats driving the shortlist."""
    n = len(values)
    st: dict = {"n": n, "kind": kind}
    if n == 0:
        st.update(ndv_ratio=0.0, runs=0, sorted=True, raw_bytes=0)
        return st
    if kind == Kind.BYTE_ARRAY:
        st["raw_bytes"] = int(values.offsets[-1])
        lens = values.lengths
        take = min(n, SAMPLE)
        # sample NDV via first-take distinct (arrow dictionary on slice)
        sl = ByteArrays(
            values.data[: values.offsets[take]], values.offsets[: take + 1]
        )
        arr = sl.to_arrow()
        st["ndv_ratio"] = len(arr.unique()) / take
        st["avg_len"] = float(lens.mean())
        # prefix affinity: mean shared prefix between neighbors on sample
        pref = delta._prefix_lengths(sl)
        st["avg_prefix"] = float(pref[1:].mean()) if take > 1 else 0.0
        return st
    fixed = kind in (Kind.FIXED_LEN_BYTE_ARRAY, Kind.INT96)
    a = np.asarray(values).reshape(len(values), -1) if fixed else np.asarray(values)
    if fixed:
        st["raw_bytes"] = a.size
        take = min(n, SAMPLE)
        st["ndv_ratio"] = len(np.unique(a[:take], axis=0)) / take
        return st
    st["raw_bytes"] = a.nbytes
    take = min(n, SAMPLE)
    s = a[:take]
    st["ndv_ratio"] = len(np.unique(s)) / take
    if kind in (Kind.INT32, Kind.INT64):
        st["sorted"] = bool(np.all(s[1:] >= s[:-1])) if take > 1 else True
        st["runs"] = rle.run_count(s)
        st["min"] = int(a.min())
        st["max_bits"] = (
            int(bit_length_u64(a.astype(np.uint64)).max()) if st["min"] >= 0 else 64
        )
    elif kind == Kind.BOOLEAN:
        st["runs"] = rle.run_count(s)
    return st


def shortlist(stats: dict) -> list[tuple[int, bool]]:
    """Candidate (codec, dict_wrap) list per kind — the canEncode analog.
    Registered custom codecs (registry.py, the RegisterEncoding analog)
    that opted into selection compete alongside the built-ins."""
    base = _builtin_shortlist(stats)
    base.extend((cid, False) for cid in registry.selectable_for(stats))
    return base


def _builtin_shortlist(stats: dict) -> list[tuple[int, bool]]:
    kind = stats["kind"]
    ndv = stats.get("ndv_ratio", 1.0)
    cands: list[tuple[int, bool]] = []
    if kind == Kind.BOOLEAN:
        return [(Codec.PLAIN, False), (Codec.RLE, False)]
    if kind == Kind.INT96:  # 12-byte rows; only PLAIN encodes them
        return [(Codec.PLAIN, False)]
    if kind in (Kind.INT32, Kind.INT64):
        cands.append((Codec.DELTA_BINARY_PACKED, False))
        cands.append((Codec.PLAIN, False))
        if stats.get("min", -1) >= 0 and stats.get("max_bits", 64) <= 32:
            cands.append((Codec.RLE, False))
        if ndv < DICT_NDV_RATIO:
            cands.append((Codec.DELTA_BINARY_PACKED, True))
        return cands
    if kind in (Kind.FLOAT, Kind.DOUBLE):
        cands.append((Codec.PLAIN, False))
        cands.append((Codec.BYTE_STREAM_SPLIT, False))
        if ndv < DICT_NDV_RATIO:
            cands.append((Codec.PLAIN, True))
        return cands
    if kind == Kind.FIXED_LEN_BYTE_ARRAY:
        cands.append((Codec.PLAIN, False))
        cands.append((Codec.BYTE_STREAM_SPLIT, False))
        if ndv < DICT_NDV_RATIO:
            cands.append((Codec.PLAIN, True))
        return cands
    # BYTE_ARRAY: DELTA_LENGTH is the reference default ("always
    # preferred to PLAIN", node.go:542-562)
    cands.append((Codec.DELTA_LENGTH_BYTE_ARRAY, False))
    if stats.get("avg_prefix", 0.0) >= 2.0:
        cands.append((Codec.DELTA_BYTE_ARRAY, False))
    if ndv < DICT_NDV_RATIO:
        # the dict page itself is small → encode uniques with DELTA_LENGTH;
        # viability gated by the DictionaryMaxBytes analog
        est_dict_bytes = stats["raw_bytes"] * ndv
        if est_dict_bytes <= DICT_MAX_BYTES:
            cands.append((Codec.DELTA_LENGTH_BYTE_ARRAY, True))
    if stats["raw_bytes"] >= FSST_MIN_BYTES and ndv > 0.01:
        cands.append((Codec.FSST, False))
    return cands


TRIAL_BYTES = 256 << 10  # big chunks: trial-encode a positional sample
TRIAL_MIN_ROWS = 256
FSST_RETRAIN_FACTOR = 1.25  # drift bound of every reuse: retrain a
# table, or re-run a recorded winner's trial, when the ratio degrades
# beyond this vs the ratio recorded at training / trial time


def _fsst_trial(trial_values, kind, flba_size, compression, sampled, cap,
                fsst_state):
    """Trial-encode FSST, reusing a cached symbol table when the caller
    scoped one (training amortization) and retraining on distribution
    drift: if the reused table's trial ratio is worse than
    FSST_RETRAIN_FACTOR × the ratio recorded when it was trained, the
    content distribution has shifted and a fresh table is built — so
    reuse can cost at most the drift bound, never a missed fresh-FSST
    win on shifted data."""
    raw = max(int(trial_values.offsets[-1]), 1)
    table = fsst_state.get("table") if fsst_state is not None else None
    fresh = table is None
    if fresh:
        table = fsst.train(trial_values.data[:raw])
    blob = chunklib.encode_chunk(
        trial_values, kind, Codec.FSST, flba_size=flba_size,
        compression=compression, capture=None if sampled else cap,
        fsst_table=table,
    )
    if not fresh and (
        len(blob) / raw
        > FSST_RETRAIN_FACTOR * fsst_state.get("ratio", float("inf"))
    ):
        table = fsst.train(trial_values.data[:raw])
        blob = chunklib.encode_chunk(
            trial_values, kind, Codec.FSST, flba_size=flba_size,
            compression=compression, capture=None if sampled else cap,
            fsst_table=table,
        )
        fresh = True
    if fresh and fsst_state is not None:
        fsst_state["table"] = table
        fsst_state["ratio"] = len(blob) / raw
    return blob, table


def _trial_slice(values, kind: int):
    """Positional prefix of ~TRIAL_BYTES (deterministic — no RNG)."""
    n = len(values)
    if kind == Kind.BYTE_ARRAY:
        take = int(np.searchsorted(values.offsets, TRIAL_BYTES))
        take = max(min(take, n), min(TRIAL_MIN_ROWS, n))
        return ByteArrays(
            values.data[: values.offsets[take]], values.offsets[: take + 1]
        )
    a = np.asarray(values)
    width = a.itemsize if a.ndim == 1 else a.shape[1]
    take = max(min(TRIAL_BYTES // max(width, 1), n), min(TRIAL_MIN_ROWS, n))
    return a[:take]


def select_and_encode(
    values, kind: int, *, flba_size: int | None = None,
    compression: str | None = None,
    validity: np.ndarray | None = None,
    fsst_state: dict | None = None,
) -> tuple[bytes, dict]:
    """Trial-encode the shortlist; return (smallest blob, info).

    Chunks larger than 4×TRIAL_BYTES are not fully encoded once per
    candidate: the shortlist competes on a deterministic positional
    sample, and only the winner encodes the full chunk (the measured
    analog of parquet-go's static defaults + dynamic dictionary
    fallback, writer.go:2049-2077).

    fsst_state: optional mutable dict scoped by the caller to one
    (column, stream) of one encode task — the analog of the reference
    choosing an encoding once per column writer, not once per page.
    It carries two decisions to the task's later chunks of the column:
      - the FSST symbol table, trained on the first FSST trial's slice
        (_fsst_trial) and reused for later trials and full encodes;
      - the winner of the last full trial, (codec, dict_wrap, enc/raw
        ratio), with the chunk's kind. A later chunk of the same kind
        whose shortlist still holds that winner is encoded once with it
        (info["trials"] is then empty) and kept if its ratio is within
        FSST_RETRAIN_FACTOR × the recorded one; otherwise the full
        trial runs and records a new winner.
    One drift bound guards both reuses. The choice thus depends on the
    task's earlier chunks of the same column, not on the chunk bytes
    alone; this is safe because blobs stay self-describing (the table
    is embedded in every blob) and resume/replay dedupe on chunk ids,
    never on blob identity."""
    stats = column_stats(values, kind)
    raw = max(stats["raw_bytes"], 1)
    winner = fsst_state.get("winner") if fsst_state is not None else None
    if (winner is not None and fsst_state.get("kind") == kind
            and winner[:2] in shortlist(stats)):
        codec, dict_wrap, ratio = winner
        capture: dict = {}
        blob = chunklib.encode_chunk(
            values, kind, codec, dict_wrap=dict_wrap, flba_size=flba_size,
            compression=compression, validity=validity, capture=capture,
            fsst_table=fsst_state.get("table") if codec == Codec.FSST else None,
        )
        if len(blob) / raw <= FSST_RETRAIN_FACTOR * ratio:
            return blob, _info(blob, codec, dict_wrap, stats, {}, False,
                               capture)
    # nulls: candidates compete on the null-stripped values (the validity
    # bitmap costs the same under every codec); the winner re-encodes
    # with the validity prefix attached
    sampled = stats["raw_bytes"] > 4 * TRIAL_BYTES or validity is not None
    trial_values = _trial_slice(values, kind) if sampled else values
    best_blob = None
    best = None
    capture = {}
    trials = {}
    fsst_table = None
    for codec, dict_wrap in shortlist(stats):
        cap: dict = {}
        if codec == Codec.FSST and not dict_wrap:
            blob, fsst_table = _fsst_trial(
                trial_values, kind, flba_size, compression,
                sampled, cap, fsst_state,
            )
        else:
            blob = chunklib.encode_chunk(
                trial_values, kind, codec,
                dict_wrap=dict_wrap, flba_size=flba_size,
                compression=compression,
                capture=None if sampled else cap,
            )
        key = (len(blob), codec, dict_wrap)  # deterministic tie-break
        trials[f"{codec}{'+dict' if dict_wrap else ''}"] = len(blob)
        if best is None or key < best:
            best = key
            best_blob = blob
            capture = cap
    if sampled:  # encode the full chunk with the winning codec only;
        # capture the full-chunk uniques so callers can build bloom
        # filters from the dictionary for free (writer.go:2089-2095)
        capture = {}
        best_blob = chunklib.encode_chunk(
            values, kind, best[1],
            dict_wrap=best[2], flba_size=flba_size,
            compression=compression,
            validity=validity, capture=capture,
            fsst_table=fsst_table if best[1] == Codec.FSST else None,
        )
    if fsst_state is not None:
        fsst_state["winner"] = (best[1], best[2], len(best_blob) / raw)
        fsst_state["kind"] = kind
    return best_blob, _info(best_blob, best[1], best[2], stats, trials,
                            sampled, capture)


def _info(blob, codec, dict_wrap, stats, trials, sampled, capture) -> dict:
    return {
        "codec": codec,
        "dict": dict_wrap,
        "enc_bytes": len(blob),
        "raw_bytes": stats["raw_bytes"],
        "n": stats["n"],
        "trials": trials,
        "sampled": sampled,
        "uniques": capture.get("uniques"),
    }
