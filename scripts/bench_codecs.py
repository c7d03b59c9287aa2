"""Per-codec micro-benchmark — the BenchmarkEncode/BenchmarkDecode analog
(/root/reference/encoding/encoding_test.go:604-658, 762-808): every codec
x kind over seeded data shaped like the reference's generators
(ints uniform [0,100), floats [0,1), byte arrays len 1..21, plus a
code-like text column for FSST and sorted repo/path keys for
DELTA_BYTE_ARRAY's shared prefixes), reporting MB/s each way. FSST-train
times table training alone, on one 64 KB sample of the FSST column;
bloom/build times the bitset insert alone, 65,536 seeded hashes into a
128 KiB split-block bitset, in ms.

Usage: python scripts/bench_codecs.py [n_values]
"""

from __future__ import annotations

import json
import os
import sys
import time
import timeit

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from parquet_go_spark.codecs import bloom, chunk as chunklib, fsst
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Codec, Kind

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
rng = np.random.default_rng(1)

ints32 = rng.integers(0, 100, N).astype(np.int32)
ints64 = rng.integers(0, 100, N).astype(np.int64)
doubles = rng.random(N)
floats = doubles.astype(np.float32)
bools = rng.random(N) > 0.5

lens = rng.integers(1, 22, N)
data = rng.integers(32, 127, int(lens.sum())).astype(np.uint8)
offsets = np.zeros(N + 1, dtype=np.int64)
offsets[1:] = np.cumsum(lens)
short_ba = ByteArrays(data, offsets)

from parquet_go_spark.sources.repogen import generate_batch

_repos = generate_batch(np.arange(N // 40), seed=42, n_repos=100)
code_ba = ByteArrays.from_arrow(_repos.column(4))
# sorted "repo/path" keys share long prefixes, as a range-layout store's
# path chunks do (short_ba is random: its values share almost none)
path_ba = ByteArrays.from_pylist(sorted(
    f"{r}/{p}" for r, p in zip(_repos.column(0).to_pylist(),
                               _repos.column(1).to_pylist())))

CASES = [
    ("PLAIN/int64", ints64, Kind.INT64, Codec.PLAIN, {}),
    ("PLAIN/double", doubles, Kind.DOUBLE, Codec.PLAIN, {}),
    ("PLAIN/byte_array", short_ba, Kind.BYTE_ARRAY, Codec.PLAIN, {}),
    ("PLAIN/boolean", bools, Kind.BOOLEAN, Codec.PLAIN, {}),
    ("RLE/boolean", bools, Kind.BOOLEAN, Codec.RLE, {}),
    ("RLE/int32", ints32, Kind.INT32, Codec.RLE, {}),
    ("RLE_DICT/int64", ints64, Kind.INT64, Codec.PLAIN, {"dict_wrap": True}),
    ("RLE_DICT/byte_array", short_ba, Kind.BYTE_ARRAY,
     Codec.DELTA_LENGTH_BYTE_ARRAY, {"dict_wrap": True}),
    ("DELTA_BP/int32", ints32, Kind.INT32, Codec.DELTA_BINARY_PACKED, {}),
    ("DELTA_BP/int64", ints64, Kind.INT64, Codec.DELTA_BINARY_PACKED, {}),
    ("DELTA_LENGTH/byte_array", short_ba, Kind.BYTE_ARRAY,
     Codec.DELTA_LENGTH_BYTE_ARRAY, {}),
    ("DELTA_BYTE_ARRAY/byte_array", short_ba, Kind.BYTE_ARRAY,
     Codec.DELTA_BYTE_ARRAY, {}),
    ("DELTA_BYTE_ARRAY/sorted_paths", path_ba, Kind.BYTE_ARRAY,
     Codec.DELTA_BYTE_ARRAY, {}),
    ("BYTE_STREAM_SPLIT/float", floats, Kind.FLOAT, Codec.BYTE_STREAM_SPLIT, {}),
    ("BYTE_STREAM_SPLIT/double", doubles, Kind.DOUBLE, Codec.BYTE_STREAM_SPLIT, {}),
    ("FSST/code_text", code_ba, Kind.BYTE_ARRAY, Codec.FSST, {}),
]


def raw_mb(values, kind):
    if kind == Kind.BYTE_ARRAY:
        return int(values.offsets[-1]) / 1e6
    return np.asarray(values).nbytes / 1e6


def main() -> None:
    results = {}
    print(f"| codec/kind | n | raw MB | enc MB/s | dec MB/s | ratio |")
    print("|---|---|---|---|---|---|")
    for name, values, kind, codec, kw in CASES:
        mb = raw_mb(values, kind)
        best_e = best_d = float("inf")
        blob = None
        for _ in range(3):
            t0 = time.time()
            blob = chunklib.encode_chunk(values, kind, codec, **kw)
            best_e = min(best_e, time.time() - t0)
            t0 = time.time()
            dec, _ = chunklib.decode_chunk(blob)
            best_d = min(best_d, time.time() - t0)
        if kind == Kind.BYTE_ARRAY:
            assert dec == values
        else:
            assert np.array_equal(np.asarray(dec), np.asarray(values))
        ratio = mb * 1e6 / len(blob)
        results[name] = {
            "enc_mbps": round(mb / best_e, 1),
            "dec_mbps": round(mb / best_d, 1),
            "ratio": round(ratio, 2),
        }
        print(f"| {name} | {len(values)} | {mb:.1f} | {mb/best_e:.1f} "
              f"| {mb/best_d:.1f} | {ratio:.2f} |")
    sample = code_ba.data[: fsst.SAMPLE_BYTES]
    best_t = min(timeit.repeat(lambda: fsst.train(sample), number=1, repeat=5))
    mb = len(sample) / 1e6
    results["FSST-train/code_text"] = {"train_ms": round(best_t * 1e3, 2),
                                       "train_mbps": round(mb / best_t, 1)}
    print(f"| FSST-train/code_text | {len(sample)} B | {mb:.3f} "
          f"| {mb/best_t:.1f} | - | - |")
    hashes = rng.integers(0, 2**64, 65_536, dtype=np.uint64)
    best_b = min(timeit.repeat(lambda: bloom.build_bitset(hashes, 128 << 10),
                               number=1, repeat=20))
    results["bloom/build"] = {"build_ms": round(best_b * 1e3, 3)}
    print(f"| bloom/build | {len(hashes)} | {hashes.nbytes / 1e6:.3f} "
          f"| {best_b * 1e3:.3f} ms | - | - |")
    print(json.dumps(results))


if __name__ == "__main__":
    main()
