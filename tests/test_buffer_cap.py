"""One encode task per slot, with a bounded buffer. The group-and-flush
loop's unsorted mode (pipeline._group_slices), which only the colcodec
sink runs, caps a task's TOTAL buffered bytes at BUFFER_CAP_FLUSHES ×
flush_bytes by flushing the largest group early, so a partition of many
small groups never sits in memory whole. The shuffling writers run
defaultParallelism tasks over input sorted within each partition, so the
cap never applies to them and each small group is one chunk or file."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parquet_go_spark.plans import pipeline

N_SMALL = 20


def _cap_batches(n_batches, consumed):
    """Interleaved groups: ("big", 0) gets two 1000-byte rows per batch,
    twenty ("s", j) groups one 500-byte row each. No group reaches
    flush_bytes=20 KB alone within 9 batches, but the total passes the
    4 × 20 KB cap while batch 7 is read."""
    for bi in range(n_batches):
        keys = []
        for j in range(N_SMALL):
            keys.append(("s", j))
            if j in (3, 11):
                keys.append(("big", 0))
        ids = np.arange(bi * 100, bi * 100 + len(keys), dtype=np.int64)
        consumed["n"] = bi + 1
        yield pa.record_batch({
            "__repo": pa.array([r for r, _ in keys]),
            "__bucket": pa.array([b for _, b in keys], pa.int32()),
            "k": pa.array(ids),
            "txt": pa.array(["x" * (1000 if r == "big" else 500)
                             for r, _ in keys]),
        })
    consumed["n"] = -1


def test_total_cap_flushes_largest_group_first():
    flush = 20_000
    consumed = {"n": 0}
    waves = []
    for key, tbl, final in pipeline._group_slices(
            _cap_batches(9, consumed), ["k", "txt"], flush):
        waves.append((key, final, consumed["n"], tbl.nbytes,
                      tbl.column("k").to_pylist()))
    # the first flush is the cap's, not a per-group one: the largest
    # group goes while batches 8-9 are unread, below flush_bytes alone
    key, final, seen, nbytes, ks = waves[0]
    assert (key, final) == (("big", 0), False)
    assert seen == 7
    assert nbytes < flush
    # (the cap fired among batch 7's small slices, before its big one)
    assert ks == [b * 100 + i for b in range(6) for i in (4, 13)]
    # its later slices start a new wave
    big = [w for w in waves if w[0] == ("big", 0)]
    assert len(big) == 2
    assert big[1][4] == [b * 100 + i for b in (6, 7, 8) for i in (4, 13)]
    # no wave is a per-group flush, and every early wave happened while
    # input was still streaming
    assert all(w[3] < flush for w in waves)
    assert all(w[2] > 0 for w in waves if not w[1])
    # every row comes out exactly once
    got = sorted(k for w in waves for k in w[4])
    assert got == [b * 100 + i for b in range(9)
                   for i in range(N_SMALL + 2)]


def test_cap_bounds_held_arrow_bytes():
    """The cap bounds the Arrow memory the loop keeps alive, not only
    the bytes it counts: 200 groups interleaved in every batch, so a
    group's rows must not pin the batch they came from."""
    rows, flush = 2000, 256 << 10

    def batches():
        rng = np.random.default_rng(0)
        for bi in range(20):
            g = rng.integers(0, 200, rows)
            yield pa.record_batch({
                "__repo": pa.array([f"r{x}" for x in g]),
                "__bucket": pa.array(np.zeros(rows, np.int32)),
                "k": pa.array(np.arange(bi * rows, (bi + 1) * rows)),
                "txt": pa.array(["x" * 200] * rows),
            })

    base = pa.total_allocated_bytes()
    peak, n = 0, 0
    for _, tbl, _ in pipeline._group_slices(batches(), ["k", "txt"], flush):
        peak = max(peak, pa.total_allocated_bytes() - base)
        n += tbl.num_rows
        del tbl
    assert n == 20 * rows
    batch_bytes = rows * (200 + 4 + 8 + 16)  # data + repo column
    assert peak <= pipeline.BUFFER_CAP_FLUSHES * flush + 3 * batch_bytes


def test_no_cap_without_flush_bytes():
    consumed = {"n": 0}
    waves = list(pipeline._group_slices(_cap_batches(9, consumed),
                                        ["k", "txt"], None))
    assert all(final for _, _, final in waves)
    assert len(waves) == N_SMALL + 1


# ---------------------------------------------------------------------------
# the writers on many small groups: 300 repos of ~5 KB each plan one
# bucket apiece at a 16 KB target, so no group reaches flush_bytes alone.
# Small Arrow batches spread each repo's rows over several batches of a
# task. The sorted writers still write each group whole; the colcodec
# sink, which keeps arrival order, fragments them under the cap
# ---------------------------------------------------------------------------

TINY_TARGET = 16 << 10


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    yield
    spark.conf.set(key, old)


def _many_small_repos(spark):
    return spark.range(3000).select(
        F.concat(F.lit("org/r"), (F.col("id") % 300).cast("string"))
        .alias("repo"),
        F.concat(F.lit("p/"), F.col("id").cast("string")).alias("path"),
        F.repeat(F.concat(F.lit("v"), F.col("id").cast("string")), 100)
        .alias("content"),
    )


def _same_row_hashes(a, b) -> bool:
    def h(d):
        return d.select(F.sha2(F.concat_ws("\x1f", "repo", "path",
                                           "content"), 256).alias("h"))
    return (a.count() == b.count()
            and h(a).groupBy("h").count().exceptAll(
                h(b).groupBy("h").count()).count() == 0)


def test_encode_table_cap_ids_unique_and_one_task_per_slot(
        spark, tmp_path, small_batches):
    df = _many_small_repos(spark)
    out = str(tmp_path / "store")
    pipeline.encode_table(spark, df, out, repo_col="repo",
                          target_chunk_bytes=TINY_TARGET)
    m = pipeline.manifest(spark, out)
    dup = (m.groupBy("chunk_id", "column", "stream").count()
           .where("count > 1").count())
    assert dup == 0
    # sorted input: each (repo, bucket) is exactly one chunk, no s-tag
    ids = [r.chunk_id for r in m.select("chunk_id").distinct().collect()]
    groups = m.select("repo", "bucket").distinct().count()
    assert len(ids) == groups == 300
    assert all("s" not in i.split("#", 1)[1] for i in ids)
    assert pipeline.verify_roundtrip(spark, df, out)["ok"]
    parts = [f for f in os.listdir(out)
             if f.startswith("part-") and f.endswith(".parquet")]
    assert 0 < len(parts) <= spark.sparkContext.defaultParallelism


def test_export_parquet_cap_rows_once_names_unique(
        spark, tmp_path, small_batches):
    from parquet_go_spark.interop.export import export_parquet

    df = _many_small_repos(spark)
    out = str(tmp_path / "exp")
    summary = export_parquet(spark, df, out, repo_col="repo",
                             target_chunk_bytes=TINY_TARGET)
    rows = summary.collect()
    names = [r.file for r in rows]
    assert len(set(names)) == len(names)
    assert all(r.part == 0 for r in rows)  # sorted: each group whole
    assert sorted(names) == sorted(
        f for f in os.listdir(out) if f.endswith(".parquet"))
    assert _same_row_hashes(df, spark.read.parquet(out))


def test_colcodec_sink_cap_ids_unique_rows_once(
        spark, tmp_path, small_batches):
    """The sink receives the caller's partitions unsorted, so the cap
    fires inside it: a repo gets several chunks from one task (seq > 0),
    no chunk id repeats, and every row reads back once."""
    from parquet_go_spark.sources import datasource

    datasource.register(spark)
    df = _many_small_repos(spark)
    out = str(tmp_path / "sink")
    (df.write.format("colcodec").option("repo_col", "repo")
     .option("target_chunk_bytes", str(TINY_TARGET))
     .mode("overwrite").save(out))
    m = pipeline.manifest(spark, out)
    dup = (m.groupBy("chunk_id", "column", "stream").count()
           .where("count > 1").count())
    assert dup == 0
    # sink ids are '<repo>#<seq>@w<job>p<task>': seq > 0 is a repo's
    # second chunk within one task
    ids = [r.chunk_id for r in m.select("chunk_id").distinct().collect()]
    assert any(i.split("#", 1)[1].split("@", 1)[0] != "0" for i in ids)
    assert _same_row_hashes(
        df, spark.read.format("colcodec").load(out))
