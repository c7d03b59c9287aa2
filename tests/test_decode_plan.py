"""decode_table's plan: the parquet scan feeds the decode kernel with no
shuffle whenever every chunk lies inside one row group, and a store with
a chunk across row groups keeps the chunk_id shuffle. Each decode is
checked row for row against its source."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from parquet_go_spark.plans import pipeline
from parquet_go_spark.sources import datasource
from parquet_go_spark.sources.repogen import repos_table
from tests.colcodec_read import same_rows


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _blob_files(store: str) -> list[str]:
    return sorted(os.path.join(store, f) for f in os.listdir(store)
                  if f.endswith(".parquet")
                  and not f.startswith(("_", ".")))


def _exact(spark, src, store):
    res = pipeline.verify_roundtrip(spark, src, store)
    assert res["ok"], res


@pytest.fixture(scope="module")
def src(spark):
    df = repos_table(spark, 6000, seed=7, n_repos=12).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.mark.parametrize("layout", ["range", "hash"])
def test_encode_table_store_decodes_without_exchange(spark, src, tmp_path,
                                                     layout):
    store = str(tmp_path / layout)
    pipeline.encode_table(spark, src, store, layout=layout,
                          sort_cols=["path"], target_chunk_bytes=256 << 10,
                          resume=False)
    assert pipeline._chunks_within_row_groups(store)
    assert "Exchange" not in _plan(pipeline.decode_table(spark, store))
    _exact(spark, src, store)

    subset = pipeline.decode_table(spark, store, ["path", "lang"])
    assert "Exchange" not in _plan(subset)
    assert subset.columns == ["path", "lang"]
    assert same_rows(subset, src)


def test_sink_store_with_many_row_groups_decodes_without_exchange(
        spark, src, tmp_path):
    """The colcodec sink writes one chunk per row group: several row
    groups per file, none crossed by a chunk."""
    datasource.register(spark)
    store = str(tmp_path / "sink")
    src.write.format("colcodec").option("repo_col", "repo") \
        .option("target_chunk_bytes", str(200 << 10)).mode("append") \
        .save(store)
    assert max(pq.ParquetFile(f).metadata.num_row_groups
               for f in _blob_files(store)) > 1
    assert pipeline._chunks_within_row_groups(store)
    assert "Exchange" not in _plan(pipeline.decode_table(spark, store))
    _exact(spark, src, store)


def test_chunk_across_row_groups_keeps_the_shuffle(spark, src, tmp_path):
    """Blob files rewritten at two rows per row group put every chunk
    across row groups, and small input splits hand its halves to
    different tasks: the check sees it, and the chunk_id shuffle puts
    each chunk back together."""
    store = str(tmp_path / "straddle")
    pipeline.encode_table(spark, src, store, layout="range",
                          sort_cols=["path"], target_chunk_bytes=256 << 10,
                          resume=False)
    for f in _blob_files(store):
        pq.write_table(pq.read_table(f), f, row_group_size=2)
    for f in os.listdir(store):  # Hadoop would fail the stale checksums
        if f.endswith(".crc"):
            os.remove(os.path.join(store, f))
    assert not pipeline._chunks_within_row_groups(store)

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "2000")
    try:
        assert spark.read.parquet(store).rdd.getNumPartitions() > 1
        assert "Exchange" in _plan(pipeline.decode_table(spark, store))
        _exact(spark, src, store)

        # compaction splices the larger half of the chunks verbatim, one
        # output file per task: each chunk must land in one file
        sizes = (pq.read_table(store, columns=["chunk_id", "raw_bytes"])
                 .group_by("chunk_id").aggregate([("raw_bytes", "sum")])
                 .column("raw_bytes_sum").to_pylist())
        out = str(tmp_path / "compacted")
        res = pipeline.compact_tables(
            spark, [store], out, salt_cols=["path"], sort_cols=["path"],
            min_chunk_bytes=sorted(sizes)[len(sizes) // 2])
        assert res["merged_small_chunks"] > 0
    finally:
        spark.conf.set(key, before)
    files_of: dict = {}
    for f in _blob_files(out):
        for cid in set(pq.read_table(f, columns=["chunk_id"])
                       .column(0).to_pylist()):
            files_of.setdefault(cid, []).append(f)
    assert max(map(len, files_of.values())) == 1
    _exact(spark, src, out)
