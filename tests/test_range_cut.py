"""The range layout as a sorted stream the encode kernel cuts.

`encode_table(layout="range")` shuffles rows by repo and sorts each
partition by (repo, *sort_cols); `_group_slices(sorted_input=True)` then
yields each group whole as soon as the stream passes it, and
`_encode_chunk_batches` cuts a group past 2× the target into chunks of
~target bytes. So a repo's chunks hold disjoint, ordered sort-key
ranges, a task holds one group plus one batch, and a resume skips whole
repos."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_go_spark.plans import pipeline
from tests.colcodec_read import same_rows, spark_where

ROWS_PER_BATCH = 500


def _sorted_stream(sizes, consumed, txt_bytes=100):
    """Batches of ROWS_PER_BATCH rows over groups ("g<i>", 0) of the
    given row counts, in key order, so groups straddle batch edges.
    Returns (batch generator, {key: index of its last batch})."""
    keys = [f"g{i:03d}" for i, n in enumerate(sizes) for _ in range(n)]
    last_batch = {(f"g{i:03d}", 0): (sum(sizes[:i + 1]) - 1) // ROWS_PER_BATCH
                  for i in range(len(sizes))}

    def gen():
        for bi, s in enumerate(range(0, len(keys), ROWS_PER_BATCH)):
            part = keys[s:s + ROWS_PER_BATCH]
            consumed["n"] = bi + 1
            yield pa.record_batch({
                "__repo": pa.array(part),
                "__bucket": pa.array(np.zeros(len(part), np.int32)),
                "k": pa.array(np.arange(s, s + len(part))),
                "txt": pa.array(["x" * txt_bytes] * len(part)),
            })
        consumed["n"] = -1

    return gen(), last_batch


def _sizes(n_groups, seed=0):
    rng = np.random.default_rng(seed)
    return [int(x) for x in rng.integers(1, 1500, n_groups)]


def test_sorted_groups_yield_once_final_before_later_batches():
    sizes = _sizes(60)
    consumed = {"n": 0}
    batches, last_batch = _sorted_stream(sizes, consumed)
    seen, ks = [], []
    for key, tbl, final in pipeline._group_slices(
            batches, ["k", "txt"], None, sorted_input=True):
        assert final
        seen.append(key)
        ks.extend(tbl.column("k").to_pylist())
        if consumed["n"] != -1:
            # a group that ends inside a batch goes before the next batch
            # is read; one that ends a batch, once the next starts
            assert consumed["n"] <= last_batch[key] + 2
    assert seen == sorted(last_batch)  # each group once, in stream order
    assert ks == list(range(sum(sizes)))  # every row once, in order


def test_sorted_input_waves_only_past_flush_bytes():
    sizes = [40, 3000, 7, 900, 5000, 1]
    flush = 200 << 10  # ~1900 rows of 100-byte txt
    consumed = {"n": 0}
    batches, _ = _sorted_stream(sizes, consumed)
    waves: dict[tuple, list] = {}
    for key, tbl, final in pipeline._group_slices(
            batches, ["k", "txt"], flush, sorted_input=True):
        if not final:
            assert tbl.nbytes >= flush
        waves.setdefault(key, []).append((final, tbl.num_rows))
    # only the two groups past flush_bytes wave; each ends final once
    assert [k for k, w in waves.items() if len(w) > 1] == [("g001", 0),
                                                          ("g004", 0)]
    assert all([f for f, _ in w].count(True) == 1 and w[-1][0]
               for w in waves.values())
    assert [sum(n for _, n in waves[(f"g{i:03d}", 0)])
            for i in range(len(sizes))] == sizes


def test_sorted_input_holds_one_group_plus_one_batch():
    """With no flush at all, a sorted stream never buffers more than the
    group in hand and the batch being split; the unsorted loop would
    hold the whole input."""
    sizes = _sizes(120, seed=1)
    batches, _ = _sorted_stream(sizes, {"n": 0}, txt_bytes=200)
    row_bytes = 200 + 4 + 8  # txt data + offset + k
    batch_bytes = ROWS_PER_BATCH * (row_bytes + 4 + 4 + 4)  # + repo, bucket
    base = pa.total_allocated_bytes()
    peak, n = 0, 0
    for _, tbl, final in pipeline._group_slices(
            batches, ["k", "txt"], None, sorted_input=True):
        peak = max(peak, pa.total_allocated_bytes() - base)
        n += tbl.num_rows
        del tbl
    assert n == sum(sizes)
    assert sum(sizes) * row_bytes > 20 * batch_bytes  # the input is large
    assert peak <= max(sizes) * row_bytes + 3 * batch_bytes


def test_lost_sort_raises_naming_the_group():
    """A group that appears again after the stream passed it means the
    input lost its sort: the sorted loop raises instead of writing
    overlapping chunks and s-tagged fragments."""
    def batch(keys):
        return pa.record_batch({
            "__repo": pa.array(keys),
            "__bucket": pa.array(np.zeros(len(keys), np.int32)),
            "k": pa.array(np.arange(len(keys))),
            "txt": pa.array(["x"] * len(keys)),
        })

    got = []
    with pytest.raises(ValueError, match=r"\('a', 0\)"):
        for key, _, final in pipeline._group_slices(
                iter([batch(["a", "a", "b"]), batch(["b", "c"]),
                      batch(["a"])]), ["k", "txt"], None,
                sorted_input=True):
            got.append((key, final))
    assert got == [(("a", 0), True), (("b", 0), True)]


# ---------------------------------------------------------------------------
# the range store, end to end
# ---------------------------------------------------------------------------

TINY_TARGET = 16 << 10


@pytest.fixture
def small_batches(spark):
    """Several Arrow batches per encode task, as on inputs larger than
    maxRecordsPerBatch: a group then spans batches, and the loop's
    sorted_input rule has to hold across them."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")
    yield
    spark.conf.set(key, old)


def _edge_df(spark):
    """"big": distinct short paths (several chunks at TINY_TARGET; stats
    stay below the 16-byte truncation); "same": one path value; "nulls":
    every path NULL; and a NULL repo."""
    return spark.range(6000).select(
        F.when(F.col("id") < 3000, F.lit("big"))
        .when(F.col("id") < 4000, F.lit("same"))
        .when(F.col("id") < 5000, F.lit("nulls"))
        .otherwise(F.lit(None).cast("string")).alias("repo"),
        F.when(F.col("id") < 3000,
               F.format_string("p%06d", (F.col("id") * 7919) % 3001))
        .when(F.col("id") < 4000, F.lit("p-same"))
        .when(F.col("id") < 5000, F.lit(None).cast("string"))
        .otherwise(F.format_string("q%05d", F.col("id"))).alias("path"),
        F.col("id").alias("n"),
        F.repeat(F.format_string("c%d-", F.col("id")), 4).alias("content"),
    )


def _path_chunks(spark, store, repo):
    """[(min_val, max_val)] of the path column over repo's chunks."""
    m = (pipeline.manifest(spark, store)
         .where((F.col("repo") == repo) & (F.col("column") == "path"))
         .select("chunk_id", "min_val", "max_val").distinct().collect())
    return [(r.min_val, r.max_val) for r in m]


def test_range_store_disjoint_chunks_and_edge_repos(spark, tmp_path,
                                                   small_batches):
    df = _edge_df(spark)
    store = str(tmp_path / "store")
    pipeline.encode_table(spark, df, store, layout="range",
                          sort_cols=["path"], resume=False,
                          target_chunk_bytes=TINY_TARGET)
    assert not os.path.exists(os.path.join(store, "_bounds"))
    assert set(pq.read_table(store, columns=["bucket"])
               .column(0).to_pylist()) == {0}

    big = sorted(_path_chunks(spark, store, "big"))
    assert len(big) > 2
    # disjoint and ordered: each chunk's max sorts below the next's min
    for (_, hi), (lo, _) in zip(big, big[1:]):
        assert hi < lo
    same = _path_chunks(spark, store, "same")
    assert len(same) > 1 and set(same) == {("p-same", "p-same")}
    assert set(_path_chunks(spark, store, "nulls")) == {(None, None)}

    assert pipeline.verify_roundtrip(spark, df, store)["ok"]

    src = str(tmp_path / "src.parquet")
    df.write.parquet(src)
    for path in ("p001234", "p-same", "p999999"):
        cond = F.col("path") == path
        got = spark_where(spark, store, cond)
        assert same_rows(got, spark.read.parquet(src).where(cond))
    cond = F.col("path").isNull()
    assert spark_where(spark, store, cond).count() == 1000


def _chunk_ids(store):
    return sorted(set(pq.read_table(store, columns=["chunk_id"])
                      .column(0).to_pylist()))


def test_range_resume_skips_whole_repos(spark, tmp_path, small_batches):
    from parquet_go_spark.sources.repogen import repos_table

    df = repos_table(spark, 4000, seed=5, n_repos=8, partitions=3)
    repos = sorted(r.repo for r in df.select("repo").distinct().collect())
    store = str(tmp_path / "store")
    kw = dict(layout="range", sort_cols=["path"],
              target_chunk_bytes=64 << 10)
    first = pipeline.encode_table(
        spark, df.where(F.col("repo").isin(repos[:5])), store, **kw)
    before = _chunk_ids(store)
    assert first["chunks"] > 5  # several chunks per repo

    res = pipeline.encode_table(spark, df, store, **kw)
    assert res["skipped_chunks"] == 5  # whole repos, counted once each
    after = _chunk_ids(store)
    assert set(before) < set(after)
    new = {c.split("#", 1)[0] for c in set(after) - set(before)}
    assert new == set(repos[5:])
    assert pipeline.verify_roundtrip(spark, df, store)["ok"]

    again = pipeline.encode_table(spark, df, store, **kw)
    assert again["skipped_chunks"] == len(repos)
    assert _chunk_ids(store) == after


def test_store_with_bounds_sidecar_reads_but_refuses_resume(spark, tmp_path):
    """A store the former quantile planner wrote: several buckets per
    repo plus a `_bounds` parquet sidecar."""
    from parquet_go_spark.sources.repogen import repos_table

    df = repos_table(spark, 2000, seed=2, n_repos=4, partitions=2)
    store = str(tmp_path / "old")
    pipeline.encode_table(spark, df, store, sort_cols=["path"],
                          target_chunk_bytes=64 << 10, resume=False)
    assert max(pq.read_table(store, columns=["bucket"])
               .column(0).to_pylist()) > 0
    os.makedirs(os.path.join(store, "_bounds"))
    pq.write_table(pa.table({"repo": ["r"], "__n_buckets": [2],
                             "__bnds": [[1.0, 2.0]]}),
                   os.path.join(store, "_bounds", "part-0.parquet"))
    ids = _chunk_ids(store)

    assert pipeline.verify_roundtrip(spark, df, store)["ok"]
    path = df.select("path").head()[0]
    cond = F.col("path") == path
    assert same_rows(spark_where(spark, store, cond), df.where(cond))
    for layout in ("range", "hash"):
        with pytest.raises(ValueError, match="_bounds"):
            pipeline.encode_table(spark, df, store, layout=layout,
                                  sort_cols=["path"], resume=True)
    assert _chunk_ids(store) == ids
