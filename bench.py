"""Benchmark harness: headline queries + the north-star encode job.

Prints ONE JSON line:
  {"metric": "total_bench_sec", "value": N, "unit": "sec",
   "queries": {...per-query sec...}, "sf": 0.1,
   "encode_gbps": ..., "encode_ratio": ..., "encode_rows": ...}

Env:
  SPARK_GRAFT_SF_DIR  testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] cores (default 32)
  BENCH_ENCODE_ONLY   "1" → run only the encode job (used by the
                      scaling harness to compare local[8] vs local[32])
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ENCODE_ONLY = os.environ.get("BENCH_ENCODE_ONLY", "") == "1"

# Queries benchmarked at SF_DIR — a scale-safe subset of the full driver
# surface (ngram_jaccard is excluded: exact all-pairs verification is the
# sf0.01 correctness path, not a 100 TB operator).
BENCH_QUERIES = [
    "rt_pipeline_lineitem",
    "rt_pipeline_multi",
    "rt_fsst_text",
    "rt_delta_bp_orderkey",
    "rt_bss_price",
    "stats_minmax_lineitem",
    "prune_decode_orders",
    "parquet_interop_orders",
    "dedup_exact_documents",
    "minhash_pairs_documents",
    "simhash_pairs_documents",
    "text_analysis_documents",
    "cosine_topk_embeddings",
    "knn_join_embeddings",
    "lsh_ann_embeddings",
    "ivf_ann_embeddings",
    "lsh_ann_topk_embeddings",
    "topk_lineitem",
]

# North-star encode-job input size: rows scale with sf (sf0.1 → 200k rows
# ≈ 0.2 GB of (repo,path,commit,lang,content) text).
ROWS_PER_SF = 2_000_000


def sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def build_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("colcodec-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        # NOTE: do NOT set spark.sql.session.timeZone explicitly — the
        # container default is already UTC, and an explicit setting makes
        # Spark ship TZ into Arrow/Python workers, measured 2.5x slower
        # on the mapInArrow encode path
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.log.level", "ERROR")
        .getOrCreate()
    )


def bench_encode(spark, sf: float) -> dict:
    """The north-star job: repos table → salted chunks → encoded blobs +
    manifest. Input is materialized to parquet first so the timed span is
    read→encode→write only."""
    from parquet_go_spark.plans import pipeline
    from parquet_go_spark.sources.repogen import repos_table

    n_rows = int(os.environ.get("BENCH_ENCODE_ROWS", "0")) or max(
        int(ROWS_PER_SF * sf), 10_000
    )
    work = tempfile.mkdtemp(prefix="colcodec_bench_")
    src_path = os.path.join(work, "src")
    out_path = os.path.join(work, "blobs")
    repos_table(spark, n_rows, seed=42, n_repos=max(50, n_rows // 2000),
                partitions=CPUS * 2).write.parquet(src_path)
    df = spark.read.parquet(src_path)

    # best-of-2: this VM's encode wall is bimodal (hypervisor noise —
    # identical back-to-back runs measured 19 s and 48 s); the minimum is
    # the engine's number, the other sample is the host's
    reps = int(os.environ.get("BENCH_ENCODE_REPS", "2"))
    best = None
    for r in range(reps):
        rout = out_path if r == reps - 1 else out_path + f"_warm{r}"
        stats = pipeline.encode_table(
            spark, df, rout,
            salt_cols=["path", "commit"], sort_cols=["path", "commit"],
            resume=False,
        )
        if best is None or stats["write_sec"] < best:
            best = stats["write_sec"]
        if r < reps - 1:
            shutil.rmtree(rout, ignore_errors=True)
    t_enc = best  # job time = until write commit

    t0 = time.time()
    n_dec = pipeline.decode_table(spark, out_path).count()
    t_dec = time.time() - t0

    shutil.rmtree(work, ignore_errors=True)
    raw_gb = stats["raw_bytes"] / 1e9
    return {
        "encode_sec": round(t_enc, 2),
        "decode_sec": round(t_dec, 2),
        "encode_gbps": round(raw_gb / t_enc, 4),
        "decode_gbps": round(raw_gb / t_dec, 4),
        "encode_ratio": round(stats["ratio"], 3),
        "encode_rows": n_rows,
        "encode_raw_bytes": stats["raw_bytes"],
        "encode_enc_bytes": stats["enc_bytes"],
        "decoded_rows": n_dec,
        "chunks": stats["chunks"],
        "cpus": CPUS,
    }


def main() -> None:
    t_start = time.time()
    spark = build_spark()
    sf = sf_from_dir(SF_DIR)

    enc = bench_encode(spark, sf)

    queries: dict[str, float] = {}
    if not ENCODE_ONLY:
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        # best-of-2 per query, same rationale as the encode job: the
        # host's wall clock is bimodal (identical runs swing 2-3x), and
        # the minimum is the engine's number
        q_reps = int(os.environ.get("BENCH_QUERY_REPS", "2"))
        for name in BENCH_QUERIES:
            best = None
            for _ in range(q_reps):
                t0 = time.time()
                n = qs[name](spark, SF_DIR).count()
                dt = time.time() - t0
                if best is None or dt < best:
                    best = dt
            queries[name] = round(best, 3)
            print(f"# {name}: {queries[name]}s ({n} rows)", file=sys.stderr)

    # headline = best-of sample sums (encode + decode + each query), the
    # number comparable across rounds under the best-of-N protocol; the
    # raw wall (which pays for every repetition) is reported alongside
    total = round(
        enc["encode_sec"] + enc["decode_sec"] + sum(queries.values()), 2
    )
    out = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "wall_sec": round(time.time() - t_start, 2),
        "queries": queries,
        "sf": sf,
        **enc,
        **bench_reader_info(),
    }
    print(json.dumps(out))


def bench_reader_info() -> dict:
    """INFORMATIONAL round-4 reader numbers (extra keys only — the
    headline `value` stays protocol-comparable across rounds): footer
    aggregates vs a DuckDB full scan, and a stat-pruned point probe vs
    pyarrow read+filter, on a pyarrow export of lineitem.

    reader_point_probe_cold_ms is the first probe on the freshly
    written files (every footer parsed); reader_point_probe_ms is the
    best of 3 later probes, which reuse pqreader's cached footer
    parses. sf0.1 lineitem is not sorted on l_orderkey: every row
    group spans ~0-150k, so min/max prune nothing and the probe decodes
    the key column of every group. It is decode-bound, and no metadata
    cache makes it beat pyarrow's full read+filter on this data. On a
    4-core host the warm probe took 46-49 ms (cold 72-94 ms) against
    29-33 ms for pyarrow, while the footer cache took
    reader_footer_agg_ms from 8.8-11.7 ms to 1.2 ms."""
    import glob
    import shutil
    import tempfile

    try:
        import duckdb
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from parquet_go_spark.interop import pqreader

        src = os.path.join(SF_DIR, "lineitem.parquet")
        d = tempfile.mkdtemp(prefix="bench_reader_")
        t = pq.read_table(src)
        n, k = t.num_rows, 8
        for i in range(k):
            pq.write_table(t.slice(i * n // k, n // k),
                           f"{d}/part-{i}.parquet",
                           row_group_size=65536, write_page_index=True)
        files = sorted(glob.glob(d + "/*.parquet"))
        cols = ["l_orderkey", "l_extendedprice", "l_quantity"]

        def best(fn, reps=3):
            times = []
            for _ in range(reps):
                t0 = time.time()
                fn()
                times.append(time.time() - t0)
            return round(min(times) * 1000, 2)

        key = int(t.column("l_orderkey")[n // 2].as_py())

        def probe():
            return [pqreader.read_table(
                f, columns=["l_orderkey", "l_quantity"],
                predicate=("l_orderkey", "=", key)) for f in files]

        cold_ms = best(probe, reps=1)
        agg_ms = best(lambda: pqreader.merge_aggregates(
            [pqreader.footer_aggregates(f, cols) for f in files]))
        con = duckdb.connect()
        exprs = ", ".join(f"min({c}), max({c}), count({c})" for c in cols)
        duck_ms = best(lambda: con.execute(
            f"SELECT {exprs} FROM read_parquet('{d}/*.parquet')"
        ).fetchone())
        probe_ms = best(probe)
        pa_ms = best(lambda: [
            pq.read_table(f, columns=["l_orderkey", "l_quantity"])
            .filter(pc.equal(pc.field("l_orderkey"), key))
            for f in files])
        shutil.rmtree(d, ignore_errors=True)
        return {
            "reader_footer_agg_ms": agg_ms,
            "reader_duckdb_fullscan_agg_ms": duck_ms,
            "reader_point_probe_cold_ms": cold_ms,
            "reader_point_probe_ms": probe_ms,
            "reader_pyarrow_full_filter_ms": pa_ms,
        }
    except Exception as e:  # informational only: never fail the bench
        return {"reader_info_error": str(e)[:200]}


if __name__ == "__main__":
    main()
