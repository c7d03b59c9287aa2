"""spark-submit entry point for the distributed encode pipeline.

Usage (cluster or local):

  spark-submit --py-files parquet_go_spark.zip jobs/encode_job.py \
      --input /path/to/repos_table \
      --output /path/to/blobs \
      --repo-col repo --salt-cols path,commit --sort-cols path,commit \
      [--target-chunk-mb 8] [--compression zstd|snappy|gzip|lz4|brotli] \\
      [--layout hash|range] [--no-resume] [--verify]

  # or generate the deterministic synthetic input first:
  spark-submit ... jobs/encode_job.py --generate-rows 1000000 \
      --output /path/to/blobs

Chunk sizes are planned from the input's parquet footers (a repo-column
count scan, never a second data scan); an input without footers falls
back to one exact size-sum scan.

The job is idempotent: completed (repo, bucket) chunks recorded in the
manifest are skipped on re-run (broadcast left-anti join), so a killed
job resumes from its checkpoint. Run it twice at two cluster sizes (N
and 4N executors) on the same input to measure scaling efficiency.

Package the library with:  (cd . && zip -r parquet_go_spark.zip parquet_go_spark)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="input table path (parquet)")
    p.add_argument("--generate-rows", type=int, default=0,
                   help="instead of --input, generate N synthetic repo rows")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--output", required=True, help="blobs+manifest output dir")
    p.add_argument("--repo-col", default="repo")
    p.add_argument("--salt-cols", default="path,commit")
    p.add_argument("--sort-cols", default="path,commit")
    p.add_argument("--target-chunk-mb", type=int, default=8)
    p.add_argument("--compression", default=None,
                   choices=["zstd", "snappy", "gzip", "lz4", "brotli"],
                   help="outer compression codec of chunk payloads")
    p.add_argument("--layout", default="hash", choices=["hash", "range"],
                   help="range = rows sorted by repo and sort key, cut "
                        "into chunks by size: disjoint chunk key ranges "
                        "(min/max pruning effective)")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--verify", action="store_true",
                   help="decode everything back and check per-row sha256")
    p.add_argument("--export-parquet", action="store_true",
                   help="write interop .parquet files (readable by any "
                        "parquet implementation) instead of the blob "
                        "format; flat scalar columns only")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("colcodec-encode")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    from parquet_go_spark.plans import pipeline

    if args.generate_rows:
        from parquet_go_spark.sources.repogen import repos_table

        df = repos_table(spark, args.generate_rows, seed=args.seed)
    elif args.input:
        df = spark.read.parquet(args.input)
    else:
        print("need --input or --generate-rows", file=sys.stderr)
        return 2

    if args.export_parquet:
        from pyspark.sql import functions as F

        from parquet_go_spark.interop.export import export_parquet

        t0 = time.time()
        summary = export_parquet(
            spark, df, args.output,
            repo_col=args.repo_col,
            salt_cols=args.salt_cols.split(","),
            sort_cols=args.sort_cols.split(",") if args.sort_cols else None,
            compression=args.compression,
            target_chunk_bytes=args.target_chunk_mb << 20,
            resume=not args.no_resume,
        )
        agg = summary.agg(
            F.count(F.lit(1)).alias("files"),
            F.sum("n_rows").alias("rows"),
            F.sum("file_bytes").alias("bytes"),
        ).collect()[0]
        stats = {"files": agg["files"], "rows": agg["rows"],
                 "bytes": agg["bytes"],
                 "export_sec": round(time.time() - t0, 2)}
        if args.verify:
            back = spark.read.parquet(args.output + "/*.parquet")
            a = df.select(F.sha2(F.col("content").cast("binary"), 256)
                          .alias("h")) if "content" in df.columns else df
            b = (back.select(F.sha2(F.col("content").cast("binary"), 256)
                             .alias("h"))
                 if "content" in back.columns else back)
            diff = a.exceptAll(b).count() + b.exceptAll(a).count()
            stats["ok"] = diff == 0
            print(json.dumps(stats))
            return 0 if diff == 0 else 1
        print(json.dumps(stats))
        return 0

    t0 = time.time()
    stats = pipeline.encode_table(
        spark, df, args.output,
        repo_col=args.repo_col,
        salt_cols=args.salt_cols.split(","),
        sort_cols=args.sort_cols.split(",") if args.sort_cols else [],
        target_chunk_bytes=args.target_chunk_mb << 20,
        compression=args.compression,
        layout=args.layout,
        resume=not args.no_resume,
    )
    stats["encode_sec"] = round(time.time() - t0, 2)
    stats["encode_gbps"] = round(
        stats["raw_bytes"] / 1e9 / stats["encode_sec"], 4
    )

    if args.verify:
        t0 = time.time()
        res = pipeline.verify_roundtrip(spark, df, args.output)
        stats["verify_sec"] = round(time.time() - t0, 2)
        stats.update(res)
        if not res["ok"]:
            print(json.dumps(stats))
            return 1

    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
