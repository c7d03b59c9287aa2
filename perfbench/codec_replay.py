"""codecs.* layer metrics: replay one chunk-sized group of the repos input
through the public kernels, in process.

The group is what one encode task sees for one chunk: the rows of the
input's largest repo, sorted on (path, commit), cut at the pipeline's
target chunk size.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import harness

REPS = 3


def chunk_group(seed: int, n_rows: int, n_repos: int) -> pa.Table:
    from parquet_go_spark.plans.pipeline import TARGET_CHUNK_BYTES
    from parquet_go_spark.sources import repogen

    batch = repogen.generate_batch(np.arange(n_rows), seed=seed,
                                   n_repos=n_repos)
    tbl = pa.Table.from_batches([batch])
    counts = pc.value_counts(tbl.column("repo").combine_chunks())
    top = counts[int(np.argmax(counts.field("counts")))]["values"]
    tbl = tbl.filter(pc.equal(tbl.column("repo"), top))
    tbl = tbl.take(pc.sort_indices(
        tbl, sort_keys=[("path", "ascending"), ("commit", "ascending")]))
    sizes = np.zeros(tbl.num_rows, dtype=np.int64)
    for name in tbl.column_names:
        sizes += pc.binary_length(tbl.column(name)).to_numpy()
    keep = int(np.searchsorted(np.cumsum(sizes), TARGET_CHUNK_BYTES))
    return tbl.slice(0, max(keep, 1))


def replay(seed: int, n_rows: int, n_repos: int) -> dict[str, tuple]:
    """{metric name: (value, unit)} for the codecs layer."""
    from parquet_go_spark.codecs import bloom, chunk, fsst, selector
    from parquet_go_spark.codecs.bytearrays import ByteArrays
    from parquet_go_spark.codecs.kinds import Kind

    tbl = chunk_group(seed, n_rows, n_repos)
    out: dict[str, tuple] = {}
    bloom_s = 0.0
    for name in tbl.column_names:
        values = ByteArrays.from_arrow(tbl.column(name).combine_chunks())
        cold_s, (blob, info) = harness.time_call(
            lambda: selector.select_and_encode(values, Kind.BYTE_ARRAY,
                                               fsst_state={}), REPS)
        state: dict = {}
        selector.select_and_encode(values, Kind.BYTE_ARRAY, fsst_state=state)
        warm_s, _ = harness.time_call(
            lambda: selector.select_and_encode(values, Kind.BYTE_ARRAY,
                                               fsst_state=state), REPS)
        dec_s, _ = harness.time_call(lambda: chunk.decode_chunk(blob), REPS)
        b_s, _ = harness.time_call(
            lambda: bloom.build(values, Kind.BYTE_ARRAY), REPS)
        bloom_s += b_s
        out[f"codecs.selector.select_ms.{name}"] = (cold_s * 1e3, "ms")
        out[f"codecs.selector.select_warm_ms.{name}"] = (warm_s * 1e3, "ms")
        out[f"codecs.selector.winner.{name}"] = (int(info["codec"]), "id")
        out[f"codecs.chunk.decode_mb_s.{name}"] = (
            info["raw_bytes"] / harness.MB / dec_s, "MB/s")
    content = ByteArrays.from_arrow(tbl.column("content").combine_chunks())
    data = content.data[: content.offsets[-1]]
    train_s, _ = harness.time_call(lambda: fsst.train(data), REPS)
    out["codecs.fsst.train_ms"] = (train_s * 1e3, "ms")
    out["codecs.bloom.build_ms"] = (bloom_s * 1e3, "ms")
    return out
