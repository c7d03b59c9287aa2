"""Structured Streaming ingest: file-source micro-batches →
writeStream.format("colcodec") → decoded table equals the static union
of all input files."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from parquet_go_spark.plans import pipeline
from parquet_go_spark.sources import datasource
from parquet_go_spark.sources.repogen import repos_table


def test_stream_encode_matches_batch(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    src_dir = str(base / "src")
    out = str(base / "blobs")
    ckpt = str(base / "ckpt")
    os.makedirs(src_dir)

    full = repos_table(spark, 3000, seed=11, n_repos=30).cache()
    # three input files → three micro-batches
    for i in range(3):
        full.where(F.pmod(F.xxhash64("path", "commit"), F.lit(3)) == i).coalesce(1).write.parquet(
            f"{src_dir}/slice{i}", mode="overwrite"
        )

    datasource.register(spark)
    q = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/slice*")
        .writeStream.format("colcodec").option("repo_col", "repo")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start(out)
    )
    q.awaitTermination(300)

    assert len(glob.glob(f"{out}/_q*-b*.done")) == 3  # one per batch
    res = pipeline.verify_roundtrip(spark, full, out)
    assert res["ok"], res
