"""Round-3 regression tests: encode-kernel memory bounding (streaming
flush), split-chunk id compatibility with streaming resume, range-resume
grown-input safety, struct null-fill in compaction, distributed footer
stats."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F
from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual,
                                    LessThanOrEqual)

from parquet_go_spark.codecs import chunk as chunklib
from parquet_go_spark.plans import pipeline
from tests.colcodec_read import all_chunks, direct_read, same_rows, spark_where


def _mk_df(spark, n=2000, repos=("alpha", "beta")):
    return spark.range(n).select(
        F.concat(F.lit("repo_"), F.element_at(
            F.array(*[F.lit(r) for r in repos]),
            (F.col("id") % len(repos) + 1).cast("int"),
        )).alias("repo"),
        F.concat(F.lit("path/"), F.col("id")).alias("path"),
        F.col("id").alias("commit_no"),
        F.repeat(F.concat(F.lit("content-"), F.col("id")), 20).alias("content"),
    )


# ---------------------------------------------------------------------------
# VERDICT #1: the encode kernel must flush groups while input is still
# streaming in — never buffer a partition's whole share.
# ---------------------------------------------------------------------------

def _kernel_batches(n_batches, rows_per, repo="r", bucket=0):
    """Synthetic mapInArrow input batches for one group (~5 KB each)."""
    for bi in range(n_batches):
        ids = np.arange(bi * rows_per, (bi + 1) * rows_per, dtype=np.int64)
        yield pa.record_batch({
            "__repo": pa.array([repo] * rows_per),
            "__bucket": pa.array([bucket] * rows_per, pa.int32()),
            "k": pa.array(ids),
            "txt": pa.array([f"row-{i:08d}-" + "x" * 40 for i in ids]),
        })


def test_encode_kernel_flushes_before_input_exhausted():
    columns = [("k", "bigint"), ("txt", "string")]
    target = 16 << 10  # flush threshold = 2x = 32 KB
    fn = pipeline._encode_stream_fn(columns, None, "@b7", target)

    consumed = {"n": 0, "done": False}

    def tracked():
        for b in _kernel_batches(40, 80):  # ~40 x 5 KB = 200 KB total
            consumed["n"] += 1
            yield b
        consumed["done"] = True

    out_batches = []
    first_yield_consumed = None
    for rb in fn(tracked()):
        if first_yield_consumed is None:
            first_yield_consumed = consumed["n"]
            assert not consumed["done"], (
                "kernel buffered the whole partition before encoding"
            )
        out_batches.append(rb)

    # flushed after ~32 KB of the 200 KB input, i.e. well before the end
    assert first_yield_consumed <= 12
    assert len(out_batches) >= 3, "expected several flush waves"

    # every chunk id is unique, suffix-terminated, and the union decodes
    # to the full input
    ids = [rb.column("chunk_id")[0].as_py() for rb in out_batches]
    assert len(set(ids)) == len(ids)
    assert all(i.endswith("@b7") for i in ids)
    got = []
    for rb in out_batches:
        for i in range(rb.num_rows):
            if rb.column("column")[i].as_py() == "k":
                vals, _ = chunklib.decode_chunk(rb.column("blob")[i].as_py())
                got.extend(np.asarray(vals).tolist())
    assert sorted(got) == list(range(40 * 80))

    # the shared helper itself, on interleaved groups: ~10 KB of "a" rows
    # per batch flushes at 25 KB (after batch 3), while "b" buckets 0/1
    # stay small; the slices of "a" after the flush start a new wave
    def mixed():
        for bi in range(5):
            keys = [("a", 0)] * 10 + [("b", 0)] * 2 + [("b", 1)] * (bi > 0)
            ids = np.arange(bi * 100, bi * 100 + len(keys), dtype=np.int64)
            consumed["n"] = bi + 1
            yield pa.record_batch({
                "__repo": pa.array([r for r, _ in keys]),
                "__bucket": pa.array([k for _, k in keys], pa.int32()),
                "k": pa.array(ids),
                "txt": pa.array(["x" * (1000 if r == "a" else 10)
                                 for r, _ in keys]),
            })
        consumed["n"] = -1
    waves = []
    for key, tbl, final in pipeline._group_slices(mixed(), ["k", "txt"],
                                                  25_000):
        waves.append((key, final, consumed["n"], tbl.column("k").to_pylist()))
        assert tbl.column_names == ["k", "txt"]
    assert [(k, f) for k, f, _, _ in waves] == [
        (("a", 0), False), (("b", 0), True), (("b", 1), True),
        (("a", 0), True)]
    assert waves[0][2] == 3  # yielded while batches 4-5 were unread
    assert waves[0][3] == [b * 100 + i for b in range(3) for i in range(10)]
    assert waves[3][3] == [b * 100 + i for b in (3, 4) for i in range(10)]
    assert waves[2][3] == [b * 100 + 12 for b in range(1, 5)]


def test_encode_kernel_small_group_single_chunk():
    """Groups under the threshold still produce one untagged chunk."""
    columns = [("k", "bigint"), ("txt", "string")]
    fn = pipeline._encode_stream_fn(columns, None, "", 8 << 20)
    out = list(fn(_kernel_batches(3, 50)))
    assert len(out) == 1
    assert out[0].column("chunk_id")[0].as_py() == "r#0"


# ---------------------------------------------------------------------------
# ADVICE medium: range-layout resume over a grown input must not drop
# rows of repos absent from the persisted bounds sidecar.
# ---------------------------------------------------------------------------

def test_range_resume_grown_input_keeps_new_repos(spark):
    out = tempfile.mkdtemp(prefix="r3_range_grow_")
    kw = dict(repo_col="repo", salt_cols=["path"], sort_cols=["path"],
              layout="range")
    df1 = _mk_df(spark, 1200, repos=("alpha", "beta"))
    pipeline.encode_table(spark, df1, out, resume=True, **kw)
    # grown input: a repo that did not exist when _bounds was computed
    df2 = _mk_df(spark, 1800, repos=("alpha", "beta", "gamma"))
    pipeline.encode_table(spark, df2, out, resume=True, **kw)
    dec = pipeline.decode_table(spark, out)
    got = {r.repo for r in dec.select("repo").distinct().collect()}
    assert "repo_gamma" in got, "grown-input repo silently dropped"
    n_gamma_in = df2.where(F.col("repo") == "repo_gamma").count()
    n_gamma_out = dec.where(F.col("repo") == "repo_gamma").count()
    assert n_gamma_out == n_gamma_in


# ---------------------------------------------------------------------------
# ADVICE medium: compact_tables must null-fill missing STRUCT columns
# with a struct of per-field nulls, not a null struct (which the encode
# contract rejects).
# ---------------------------------------------------------------------------

def test_compact_struct_null_fill(spark):
    base = tempfile.mkdtemp(prefix="r3_compact_struct_")
    with_struct = _mk_df(spark, 300).withColumn(
        "props",
        F.struct(F.col("path").alias("p"),
                 F.col("commit_no").alias("c")),
    )
    without = _mk_df(spark, 300).withColumn(
        "path", F.concat(F.lit("other/"), F.col("path"))
    )
    kw = dict(repo_col="repo", salt_cols=["path"], sort_cols=["path"])
    pipeline.encode_table(spark, with_struct, f"{base}/in0", resume=False, **kw)
    pipeline.encode_table(spark, without, f"{base}/in1", resume=False, **kw)
    pipeline.compact_tables(
        spark, [f"{base}/in0", f"{base}/in1"], f"{base}/out",
        repo_col="repo", salt_cols=["path"], sort_cols=["path"],
        min_chunk_bytes=1 << 30,  # force every chunk through re-encode
    )
    dec = pipeline.decode_table(spark, f"{base}/out")
    assert dec.count() == 600
    filled = dec.where(F.col("path").startswith("other/"))
    assert filled.count() == 300
    r = filled.select("props.p", "props.c").head()
    assert r[0] is None and r[1] is None


# ---------------------------------------------------------------------------
# VERDICT #2: footer-stat collection must not be a sequential driver loop
# on many-file inputs; the distributed path must match the sequential one.
# ---------------------------------------------------------------------------

def test_footer_stats_distributed_matches_sequential(spark, monkeypatch):
    src = tempfile.mkdtemp(prefix="r3_footers_")
    _mk_df(spark, 4000).repartition(80).write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    files = df.inputFiles()
    assert len(files) > pipeline._FOOTER_DRIVER_MAX
    seq_bytes, seq_rows = pipeline._footer_stats(files)
    avg = pipeline._avg_row_bytes_from_metadata(df)
    assert avg == pytest.approx(seq_bytes / seq_rows)

    # and the distributed path is actually the one taken at this count
    called = {"n": 0}
    real = pipeline._footer_stats

    def counting(paths):
        called["n"] += 1
        return real(paths)

    monkeypatch.setattr(pipeline, "_footer_stats", counting)
    pipeline._avg_row_bytes_from_metadata(df)
    assert called["n"] == 0, "driver-side sequential loop used for many files"


def test_footer_stats_few_files_driver_path(spark):
    src = tempfile.mkdtemp(prefix="r3_footers_small_")
    _mk_df(spark, 500).coalesce(2).write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    avg = pipeline._avg_row_bytes_from_metadata(df)
    assert avg is not None and avg > 0


def test_footer_stats_unreadable_vs_fault(tmp_path, monkeypatch):
    """An unreadable footer means "no footer sizing" — (-1, 0) — while
    any other error inside the footer read is a fault and propagates."""
    import pyarrow.parquet as pq

    bad = tmp_path / "garbage.parquet"
    bad.write_bytes(b"not a parquet file at all")
    assert pipeline._footer_stats([str(bad)]) == (-1, 0)
    assert pipeline._footer_stats([str(tmp_path / "gone.parquet")]) \
        == (-1, 0)

    def boom(*a, **kw):
        raise RuntimeError("injected fault")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    with pytest.raises(RuntimeError, match="injected fault"):
        pipeline._footer_stats([str(bad)])


# ---------------------------------------------------------------------------
# VERDICT #8: lsh_ann_pairs auto-sizing must not need a df.count() scan
# when the caller supplies the row count (catalog/manifest stats).
# ---------------------------------------------------------------------------

def test_lsh_ann_n_vectors_skips_count_scan(spark):
    from parquet_go_spark.operators import similarity

    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            F.cos(F.col("id") * (i + 1)).cast("double") for i in range(8)
        ]).alias("embedding"),
    )

    class NoCount:
        """Proxy that fails the test if the operator scans for a count."""

        def __init__(self, df):
            self._df = df

        def count(self):
            raise AssertionError("lsh_ann_pairs ran a count() scan")

        def __getattr__(self, name):
            return getattr(self._df, name)

    out = similarity.lsh_ann_pairs(
        NoCount(emb), "embedding", "vec_id",
        n_vectors=300, dim=8, min_sim=0.0,
    )
    assert out.count() >= 0

    # explicit n_planes never counted; n_planes=None without n_vectors
    # still falls back to the scan (documented)
    with pytest.raises(AssertionError):
        similarity.lsh_ann_pairs(NoCount(emb), "embedding", "vec_id",
                                 dim=8, min_sim=0.0)


# ---------------------------------------------------------------------------
# VERDICT #9: minhash must not leave cached intermediates behind.
# ---------------------------------------------------------------------------

def test_minhash_unpersists_intermediates(spark):
    from parquet_go_spark.operators import dedup

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(i, f"shared body {i % 5} tail {i}") for i in range(80)],
        "doc_id bigint, text string",
    )
    out = dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    out.count()
    after = jsc.getPersistentRDDs().size()
    # only the checkpointed result may remain resident — the signature
    # matrix and candidate caches must be gone
    assert after <= before + 1


# ---------------------------------------------------------------------------
# VERDICT #3: FSST symbol-table training is amortized across a column's
# chunks — one train per (repo, column, stream) per task, decode stays
# self-contained, and reuse costs <2% ratio on same-distribution text.
# ---------------------------------------------------------------------------

def _fsst_text(n, tag="", start=0):
    # repetitive code-like text where FSST wins the trial
    return [
        f"def handler_{tag}{i % 97}(request, response):\n"
        f"    return self.registry.lookup('{tag}route_{i % 31}')\n"
        for i in range(start, start + n)
    ]


def test_fsst_table_reuse_trains_once(monkeypatch):
    from parquet_go_spark.codecs import fsst, selector
    from parquet_go_spark.codecs.kinds import Codec, Kind
    from parquet_go_spark.codecs.bytearrays import ByteArrays

    calls = {"n": 0}
    real_train = fsst.train

    def counting_train(data, generations=fsst.GENERATIONS):
        calls["n"] += 1
        return real_train(data, generations)

    monkeypatch.setattr(selector.fsst, "train", counting_train)

    cache: dict = {}
    blobs = []
    for wave in range(3):  # three chunks of the same column
        vals = ByteArrays.from_pylist(
            [t.encode() for t in _fsst_text(400, start=wave * 400)]
        )
        base = {"chunk_id": f"r#{wave}", "repo": "r", "bucket": wave,
                "n_rows": len(vals), "column": "content"}
        rec = pipeline._encode_one(vals, Kind.BYTE_ARRAY, "string", None,
                                   base, fsst_cache=cache)
        blobs.append((vals, rec))
        assert rec["codec"] == Codec.FSST
    assert calls["n"] == 1  # later chunks reused the cached table

    # decode needs no side state and round-trips exactly
    for vals, rec in blobs:
        out, meta = chunklib.decode_chunk(rec["blob"])
        assert out.to_pylist() == vals.to_pylist()

    # ratio loss vs per-chunk training bounded (<2%) on the last chunk
    vals, rec = blobs[-1]
    fresh, _ = selector.select_and_encode(vals, Kind.BYTE_ARRAY)
    assert len(rec["blob"]) <= len(fresh) * 1.02


def test_fsst_reuse_still_loses_trial_when_stale(monkeypatch):
    """A table trained on unlike data must not force FSST through: the
    selector's trial competition is the ratio guard."""
    from parquet_go_spark.codecs import fsst, selector
    from parquet_go_spark.codecs.kinds import Codec, Kind
    from parquet_go_spark.codecs.bytearrays import ByteArrays

    # train on code-like text...
    code = ByteArrays.from_pylist([t.encode() for t in _fsst_text(300)])
    state: dict = {}
    selector.select_and_encode(code, Kind.BYTE_ARRAY, fsst_state=state)
    assert "table" in state

    # ...then encode low-redundancy distinct hex strings with that table:
    # whatever wins, the blob must match the best codec's size (reuse may
    # only change WHICH codec wins, never inflate the output)
    import hashlib
    rnd = ByteArrays.from_pylist([
        hashlib.sha256(str(i).encode()).hexdigest().encode() * 2
        for i in range(600)
    ])
    blob, info = selector.select_and_encode(rnd, Kind.BYTE_ARRAY,
                                            fsst_state=state)
    fresh_blob, fresh_info = selector.select_and_encode(rnd, Kind.BYTE_ARRAY)
    assert len(blob) <= len(fresh_blob) * 1.05
    out, _ = chunklib.decode_chunk(blob)
    assert out.to_pylist() == rnd.to_pylist()


# ---------------------------------------------------------------------------
# VERDICT #6: uniform-width binary columns upgrade to FLBA — no per-value
# length framing, bloom/stats stay in logical byte-array space.
# ---------------------------------------------------------------------------

def test_uuid_binary_upgrades_to_flba(spark, tmp_path):
    from parquet_go_spark.codecs.kinds import Kind

    df = spark.range(4000).select(
        (F.col("id") % 4).cast("string").alias("grp"),
        F.col("id").alias("k"),
        F.unhex(F.md5(F.col("id").cast("string"))).alias("uid"),  # 16 B
        F.col("id").cast("string").cast("binary").alias("ragged"),
    )
    out = str(tmp_path / "uuid")
    pipeline.encode_table(spark, df, out, repo_col="grp", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    man = pipeline.manifest(spark, out)
    rows = {(r["column"]): r for r in man.where(
        F.col("stream") == "values").collect() if r["column"] in ("uid", "ragged")}
    assert rows["uid"]["kind"] == Kind.FIXED_LEN_BYTE_ARRAY
    # FLBA drops length framing: encoded strictly below raw+lengths
    assert rows["uid"]["enc_bytes"] < rows["uid"]["raw_bytes"] + 4 * rows["uid"]["n_rows"]
    assert rows["ragged"]["kind"] == Kind.BYTE_ARRAY  # non-uniform stays

    d = pipeline.decode_table(spark, out)
    src = {r["k"]: r["uid"] for r in df.collect()}
    got = {r["k"]: r["uid"] for r in d.collect()}
    assert got == src

    # the pruned read's bloom probe hashes in logical byte-array space
    probe = src[123]
    hits = spark_where(spark, out, F.col("uid") == F.lit(probe)).collect()
    assert [r["k"] for r in hits] == [123]
    rows, kept = direct_read(out, [EqualTo(("uid",), probe)])
    assert 123 in {r["k"] for r in rows}
    assert kept < all_chunks(out)  # min/max span everything: the bloom pruned


def test_array_struct_roundtrip(spark, tmp_path):
    """array<struct<...>> — repeated-group shredding (one shared lengths
    stream + per-field `f:` streams with validity; the reference's
    column_buffer_repeated.go + schema.go:341-430). Covers empty lists,
    a nullable int field, and string/float leaves."""
    df = spark.range(3000).select(
        (F.col("id") % 5).cast("string").alias("grp"),
        F.col("id").alias("k"),
        F.when(F.col("id") % 11 == 0, F.array().cast(
            "array<struct<w:string,n:int,x:double>>"
        )).otherwise(F.transform(
            F.sequence(F.lit(1), (F.col("id") % 4) + 1),
            lambda i: F.struct(
                F.concat(F.lit("w"), (F.col("id") * 10 + i).cast("string")).alias("w"),
                F.when(i % 3 == 0, None).otherwise(i.cast("int")).alias("n"),
                (i * 0.5).alias("x"),
            ),
        )).alias("props"),
    )
    out = str(tmp_path / "lstruct")
    pipeline.encode_table(spark, df, out, repo_col="grp", salt_cols=["k"],
                          sort_cols=["k"], resume=False)

    # stream layout: one lengths + one stream per field, no "values"
    man = pipeline.manifest(spark, out)
    streams = {r["stream"] for r in man.where(
        F.col("column") == "props").select("stream").distinct().collect()}
    assert streams == {"lengths", "f:w", "f:n", "f:x"}

    d = pipeline.decode_table(spark, out)
    src = {r["k"]: r["props"] for r in df.collect()}
    got = {r["k"]: r["props"] for r in d.collect()}
    assert got == src

    # column pruning still works alongside the nested column
    sub = pipeline.decode_table(spark, out, columns_subset=["k"])
    assert sub.columns == ["k"]
    assert sub.count() == 3000


def test_col_kind_accepts_arbitrary_nesting():
    # round 3: the shredder recurses to any depth (schema.go:341-430);
    # only unsupported SCALAR leaves and container map keys reject
    for t in ("array<struct<a:array<int>>>",
              "array<struct<a:struct<b:int>>>",
              "array<struct<a:map<string,int>>>",
              "map<string,map<string,array<struct<x:int>>>>"):
        pipeline._col_kind(t)
    with pytest.raises(ValueError, match="unsupported column type"):
        pipeline._col_kind("array<struct<a:interval>>")


def test_compact_array_struct_empty_fill(spark, tmp_path):
    """Schema-unifying compaction fills a missing array<struct> column
    with EMPTY lists (the non-null nested-input contract)."""
    t = "array<struct<a:string,b:int>>"
    d1 = spark.range(200).select(
        F.lit("r").alias("grp"), F.col("id").alias("k"),
        F.array(F.struct(
            F.col("id").cast("string").alias("a"),
            F.col("id").cast("int").alias("b"),
        )).alias("props"),
    )
    d2 = spark.range(200, 400).select(
        F.lit("r").alias("grp"), F.col("id").alias("k"),
    )
    p1, p2, po = (str(tmp_path / x) for x in ("a", "b", "o"))
    for d, p in ((d1, p1), (d2, p2)):
        pipeline.encode_table(spark, d, p, repo_col="grp", salt_cols=["k"],
                              sort_cols=["k"], resume=False)
    pipeline.compact_tables(spark, [p1, p2], po, repo_col="grp",
                            salt_cols=["k"], sort_cols=["k"])
    out = pipeline.decode_table(spark, po)
    rows = {r["k"]: r["props"] for r in out.collect()}
    assert len(rows) == 400
    assert rows[5][0]["a"] == "5" and rows[5][0]["b"] == 5
    assert rows[300] == []


def _compound_df(spark, n=24000):
    return spark.range(n).select(
        F.lit("r").alias("repo"),
        F.element_at(
            F.array(F.lit("go"), F.lit("py"), F.lit("rs"), F.lit("ts")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("lang"),
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )


def _chunk_spans(store, cols):
    """[(min row tuple, max row tuple)] per chunk of store, decoded from
    its blob rows one chunk at a time."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    blobs = pq.read_table(store)
    names = [c for c, _ in cols]
    fn = pipeline._decode_stream_fn(cols)
    spans = []
    for cid in set(blobs.column("chunk_id").to_pylist()):
        rows = blobs.filter(pc.equal(blobs["chunk_id"], cid))
        for out in fn(iter(rows.to_batches())):
            tup = list(zip(*(out.column(c).to_pylist() for c in names)))
            spans.append((min(tup), max(tup)))
    return spans


def test_compound_range_layout(spark, tmp_path):
    """sort_cols=(lang, k) with a LOW-cardinality primary: the sorted
    stream (SortingColumns analog) cuts chunks that are disjoint in
    lexicographic (lang, k) order, so secondary-key stats prune within
    each lang range."""
    df = _compound_df(spark)
    out_c = str(tmp_path / "compound")
    kw = dict(repo_col="repo", salt_cols=["k"], layout="range",
              target_chunk_bytes=64 << 10, resume=False)
    pipeline.encode_table(spark, df, out_c, sort_cols=["lang", "k"], **kw)

    # each chunk's rows span [first, last] (lang, k) tuple; sorted by
    # their first tuple, every chunk ends below the next one's start
    spans = sorted(_chunk_spans(out_c, [("lang", "string"), ("k", "bigint")]))
    assert len(spans) > 4
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo

    # secondary pruning: a narrow k probe keeps a strict subset of chunks
    rows, kept = direct_read(out_c, [GreaterThanOrEqual(("k",), 5000),
                                     LessThanOrEqual(("k",), 5400)])
    assert kept < all_chunks(out_c)
    assert {r["k"] for r in rows} >= set(range(5000, 5401))

    cond = F.col("k").between(5000, 5400)
    got = spark_where(spark, out_c, cond)
    assert got.count() == 401
    assert same_rows(got, df.where(cond))

    # full round trip
    dec = pipeline.decode_table(spark, out_c)
    assert dec.count() == 24000
    src = {r["k"]: (r["lang"], r["pad"]) for r in df.collect()}
    gotall = {r["k"]: (r["lang"], r["pad"]) for r in dec.collect()}
    assert gotall == src


def test_compound_range_resume_skips_encoded_repo(spark, tmp_path):
    df = _compound_df(spark, n=6000)
    out = str(tmp_path / "cres")
    kw = dict(repo_col="repo", salt_cols=["k"], sort_cols=["lang", "k"],
              layout="range", target_chunk_bytes=64 << 10)
    pipeline.encode_table(spark, df, out, resume=False, **kw)
    r2 = pipeline.encode_table(spark, df, out, resume=True, **kw)
    assert r2["skipped_chunks"] > 0
    assert pipeline.decode_table(spark, out).count() == 6000  # no dupes


# ---------------------------------------------------------------------------
# Recursive arbitrary-depth shredding (VERDICT r2 missing #1): the stream
# grammar generalizes the one-level names with '/'-joined path segments,
# mirroring the reference's recursive schema walk (schema.go:341-430,
# column_buffer_repeated.go).
# ---------------------------------------------------------------------------

def test_shred_stream_naming_grammar():
    cases = {
        "struct<a:struct<x:int,y:string>,b:double>":
            {"f:a/f:x", "f:a/f:y", "f:b"},
        "array<array<int>>": {"lengths", "item/lengths", "item"},
        "map<string,array<string>>":
            {"lengths", "keys", "values/lengths", "values"},
        "map<string,struct<x:int,y:string>>":
            {"lengths", "keys", "values/f:x", "values/f:y"},
        "struct<a:array<int>,b:string>": {"f:a/lengths", "f:a", "f:b"},
        "array<struct<k:string,v:array<int>>>":
            {"lengths", "f:k", "f:v/lengths", "f:v"},
        "array<map<string,int>>":
            {"lengths", "item/lengths", "item/keys", "item/values"},
        # legacy one-level shapes keep their exact original names
        "array<string>": {"lengths", "values"},
        "array<struct<k:string,v:int>>": {"lengths", "f:k", "f:v"},
        "map<string,string>": {"lengths", "keys", "values"},
        "struct<a:int,b:string>": {"f:a", "f:b"},
    }
    mk = {
        "int": lambda: pa.int32(), "bigint": lambda: pa.int64(),
        "double": lambda: pa.float64(), "string": lambda: pa.string(),
    }

    def pa_type(t):
        el = pipeline._list_elem(t)
        if el is not None:
            return pa.list_(pa_type(el))
        sf = pipeline._struct_fields(t)
        if sf is not None:
            return pa.struct([(f, pa_type(ft)) for f, ft in sf])
        kv = pipeline._map_kv(t)
        if kv is not None:
            return pa.map_(pa_type(kv[0]), pa_type(kv[1]))
        return mk[t]()

    for typ, want in cases.items():
        arr = pa.array([], pa_type(typ))
        got = {s for s, *_ in pipeline._shred_column(arr, typ)}
        assert got == want, (typ, got, want)


def test_map_keys_must_be_scalar():
    with pytest.raises(ValueError, match="map keys must be scalar"):
        pipeline._col_kind("map<array<int>,int>")


def test_deep_nested_roundtrip(spark, tmp_path):
    df = spark.range(300).select(
        F.concat(F.lit("r"), F.col("id") % 3).alias("repo"),
        F.col("id").alias("k"),
        # struct-in-struct with nullable scalar leaves
        F.struct(
            F.struct(
                (F.col("id") % 7).cast("int").alias("x"),
                F.when(F.col("id") % 5 == 0, None)
                .otherwise(F.concat(F.lit("s"), F.col("id"))).alias("y"),
            ).alias("a"),
            (F.col("id") * 1.5).alias("b"),
        ).alias("st"),
        # array<array<int>> with empty inner lists and null elements
        F.array(
            F.array(
                (F.col("id") % 11).cast("int"),
                F.when(F.col("id") % 4 == 0, None)
                .otherwise(F.col("id") + 1).cast("int"),
            ),
            F.array().cast("array<int>"),
        ).alias("aa"),
        # map<string,array<string>>
        F.create_map(
            F.lit("tags"), F.array(F.concat(F.lit("t"), F.col("id") % 5)),
            F.lit("empty"), F.array().cast("array<string>"),
        ).alias("mv"),
        # array<struct<k:string,v:array<bigint>>> — repeated group with
        # a repeated leaf under it
        F.transform(
            F.sequence(F.lit(0), (F.col("id") % 3).cast("int")),
            lambda i: F.struct(
                F.concat(F.lit("k"), i).alias("k"),
                F.sequence(F.lit(0).cast("bigint"), i.cast("bigint")).alias("v"),
            ),
        ).alias("ps"),
    )
    out = str(tmp_path / "deep")
    pipeline.encode_table(spark, df, out, repo_col="repo",
                          salt_cols=["k"], sort_cols=["k"], resume=False)
    dec = pipeline.decode_table(spark, out)
    src = {r["k"]: r.asDict(recursive=True) for r in df.collect()}
    got = {r["k"]: r.asDict(recursive=True) for r in dec.collect()}
    assert got == src

    # column projection still prunes to one nested column
    sub = pipeline.decode_table(spark, out, columns_subset=["k", "aa"])
    assert set(sub.columns) == {"k", "aa"}
    assert sub.count() == 300


def test_deep_nested_fill_expr(spark):
    # compaction fill for a missing deeply-nested column must satisfy the
    # recursive null contract (containers non-null at every level)
    typ = "struct<a:struct<x:int,y:array<string>>,m:map<string,int>>"
    row = spark.range(1).select(pipeline._fill_expr(typ).alias("c")).first()
    assert row.c is not None
    assert row.c.a is not None
    assert row.c.a.x is None and row.c.a.y == []
    assert row.c.m == {}


# ---------------------------------------------------------------------------
# Level histograms (A4, writer_statistics.go:20-44 analog): per-leaf
# definition/repetition histograms derived vectorized from the lengths
# chain, checked against a row-wise Dremel reference implementation.
# ---------------------------------------------------------------------------

def _leaf_streams(t, prefix=""):
    """Leaf stream names of a type subtree (same grammar as the shredder)."""
    el = pipeline._list_elem(t)
    kv = pipeline._map_kv(t)
    sf = pipeline._struct_fields(t)
    if el is not None:
        child_prefix = (pipeline._join_stream(prefix, "item")
                        if (pipeline._list_elem(el) is not None
                            or pipeline._map_kv(el) is not None)
                        else prefix)
        return _leaf_streams(el, child_prefix)
    if kv is not None:
        return (_leaf_streams(kv[0], pipeline._join_stream(prefix, "keys"))
                + _leaf_streams(kv[1], pipeline._join_stream(prefix, "values")))
    if sf is not None:
        out = []
        for fn, ft in sf:
            out += _leaf_streams(ft, pipeline._join_stream(prefix, f"f:{fn}"))
        return out
    return [prefix or "values"]


def _dremel_ref(rows, typ):
    """Entry-wise Dremel level computation over Python values — the
    slow, obviously-correct reference for the engine\'s level semantics
    (containers non-null; each list/map level adds one def level; the
    scalar leaf adds the last; rep level = the list depth at which an
    entry continues an existing list)."""
    from collections import defaultdict
    ent = defaultdict(list)  # leaf stream -> [(def, rep)]

    def walk(val, t, prefix, dl, rl, depth):
        el = pipeline._list_elem(t)
        kv = pipeline._map_kv(t)
        sf = pipeline._struct_fields(t)
        if el is not None:
            child_prefix = (pipeline._join_stream(prefix, "item")
                            if (pipeline._list_elem(el) is not None
                                or pipeline._map_kv(el) is not None)
                            else prefix)
            if not val:
                for leaf in _leaf_streams(el, child_prefix):
                    ent[leaf].append((dl, rl))
                return
            for i, item in enumerate(val):
                walk(item, el, child_prefix, dl + 1,
                     rl if i == 0 else depth + 1, depth + 1)
        elif kv is not None:
            kp = pipeline._join_stream(prefix, "keys")
            vp = pipeline._join_stream(prefix, "values")
            if not val:
                for leaf in _leaf_streams(kv[0], kp) + _leaf_streams(kv[1], vp):
                    ent[leaf].append((dl, rl))
                return
            items = list(val.items()) if isinstance(val, dict) else list(val)
            for i, (k, v) in enumerate(items):
                r = rl if i == 0 else depth + 1
                walk(k, kv[0], kp, dl + 1, r, depth + 1)
                walk(v, kv[1], vp, dl + 1, r, depth + 1)
        elif sf is not None:
            for fn, ft in sf:
                walk(val.get(fn), ft,
                     pipeline._join_stream(prefix, f"f:{fn}"), dl, rl, depth)
        else:
            ent[prefix or "values"].append(
                (dl + (1 if val is not None else 0), rl))

    for row in rows:
        walk(row, typ, "", 0, 0, 0)
    out = {}
    for leaf, pairs in ent.items():
        max_d = max(d for d, _ in pairs)
        max_r = max(r for _, r in pairs)
        de = [0] * (max_d + 1)
        rp = [0] * (max_r + 1)
        for d, r in pairs:
            de[d] += 1
            rp[r] += 1
        out[leaf] = (de, rp)
    return out


def _pa_type_of(t):
    el = pipeline._list_elem(t)
    if el is not None:
        return pa.list_(_pa_type_of(el))
    sf = pipeline._struct_fields(t)
    if sf is not None:
        return pa.struct([(f, _pa_type_of(ft)) for f, ft in sf])
    kv = pipeline._map_kv(t)
    if kv is not None:
        return pa.map_(_pa_type_of(kv[0]), _pa_type_of(kv[1]))
    return {"int": pa.int32(), "bigint": pa.int64(),
            "double": pa.float64(), "string": pa.string()}[t]


def _engine_hists(typ, rows):
    arr = pa.array(rows, _pa_type_of(typ))
    return {
        name: (de, rep)
        for name, _v, _k, _t, _val, de, rep
        in pipeline._shred_column(arr, typ)
        if de is not None
    }


LEVEL_CASES = [
    ("array<int>", [[1, 2], [], [None]]),
    ("array<array<int>>", [[[1], []], [], [[2, None], [3]]]),
    ("struct<a:int,b:string>", [{"a": 1, "b": None}, {"a": None, "b": "x"}]),
    ("map<string,int>", [[("a", 1), ("b", None)], []]),
    ("array<struct<k:string,v:array<bigint>>>",
     [[{"k": "a", "v": [1, 2]}, {"k": "b", "v": []}], [],
      [{"k": "c", "v": [None]}]]),
    ("map<string,array<string>>",
     [[("k", ["a", "b"]), ("j", [])], [], [("m", [None])]]),
    ("struct<a:array<int>>", [{"a": [1]}, {"a": []}]),
]


@pytest.mark.parametrize("typ,rows", LEVEL_CASES,
                         ids=[t for t, _ in LEVEL_CASES])
def test_level_histograms_vs_dremel_reference(typ, rows):
    # dict rows for the reference walker
    def to_ref(v, t):
        el = pipeline._list_elem(t)
        kv = pipeline._map_kv(t)
        sf = pipeline._struct_fields(t)
        if el is not None:
            return None if v is None else [to_ref(x, el) for x in v]
        if kv is not None:
            return None if v is None else [
                (k, to_ref(x, kv[1])) for k, x in v]
        if sf is not None:
            return None if v is None else {
                fn: to_ref(v.get(fn), ft) for fn, ft in sf}
        return v

    ref = _dremel_ref([to_ref(r, typ) for r in rows], typ)
    got = _engine_hists(typ, rows)
    assert set(got) == set(ref)
    for leaf in ref:
        rd, rr = ref[leaf]
        gd, gr = got[leaf]
        # engine histograms are fixed-width (k lists + null + value for
        # def; k+1 for rep); the reference trims trailing zeros — pad
        gd2 = gd[:len(rd)] if len(gd) > len(rd) else gd + [0] * (len(rd) - len(gd))
        assert all(x == 0 for x in gd[len(rd):])
        gr2 = gr[:len(rr)] if len(gr) > len(rr) else gr + [0] * (len(rr) - len(gr))
        assert all(x == 0 for x in gr[len(rr):])
        assert gd2 == rd, (leaf, gd, rd)
        assert gr2 == rr, (leaf, gr, rr)
        assert sum(gd) == sum(gr)  # one def and one rep per entry


def test_level_histograms_in_manifest(spark, tmp_path):
    df = spark.range(400).select(
        F.concat(F.lit("r"), F.col("id") % 2).alias("repo"),
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, F.array().cast("array<int>"))
        .otherwise(F.array(
            (F.col("id") % 5).cast("int"),
            F.when(F.col("id") % 3 == 0, None)
            .otherwise(F.col("id") % 9).cast("int"),
        )).alias("vals"),
    )
    out = str(tmp_path / "hist")
    pipeline.encode_table(spark, df, out, repo_col="repo",
                          salt_cols=["k"], sort_cols=["k"], resume=False)
    m = pipeline.manifest(spark, out)
    r = (m.where((F.col("column") == "vals") & (F.col("stream") == "values"))
         .select(F.posexplode("def_hist").alias("i", "v"))
         .groupBy("i").agg(F.sum("v").alias("s"))
         .orderBy("i").collect())
    de = [row.s for row in r]
    n_empty = 400 // 7 + 1  # ids 0,7,...,399
    n_elems = (400 - n_empty) * 2
    n_null = sum(1 for i in range(400) if i % 7 != 0 and i % 3 == 0)
    assert de == [n_empty, n_null, n_elems - n_null]
    r = (m.where((F.col("column") == "vals") & (F.col("stream") == "values"))
         .select(F.posexplode("rep_hist").alias("i", "v"))
         .groupBy("i").agg(F.sum("v").alias("s"))
         .orderBy("i").collect())
    assert [row.s for row in r] == [400, 400 - n_empty]
    # scalar column: classic optional-leaf histogram, no rep levels
    r = (m.where((F.col("column") == "k") & (F.col("stream") == "values"))
         .select(F.posexplode("def_hist").alias("i", "v"))
         .groupBy("i").agg(F.sum("v").alias("s")).orderBy("i").collect())
    assert [row.s for row in r] == [0, 400]
    # lengths streams carry no histograms
    assert m.where((F.col("stream") == "lengths")
                   & F.col("def_hist").isNotNull()).count() == 0


# ---------------------------------------------------------------------------
# Round-3 review fixes: manifest back-compat, old split-id resume,
# bloom probe on list columns, FSST cache eviction
# ---------------------------------------------------------------------------

def test_manifest_reads_pre_round3_tables(spark, tmp_path):
    """A table written before def_hist/rep_hist existed must still
    resolve through manifest() (nulls for the missing stats)."""
    import glob
    import pyarrow.parquet as pq_
    df = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("repo"),
        F.col("id").alias("k"))
    out = str(tmp_path / "old")
    pipeline.encode_table(spark, df, out, repo_col="repo",
                          salt_cols=["k"], sort_cols=["k"], resume=False)
    # strip the round-3 columns from every blob file (simulate old table)
    for f in glob.glob(out + "/*.parquet"):
        t = pq_.read_table(f)
        t = t.drop_columns(["def_hist", "rep_hist"])
        pq_.write_table(t, f)
    for crc in glob.glob(out + "/.*.crc"):
        os.remove(crc)  # hadoop checksum sidecars of the rewritten files
    m = pipeline.manifest(spark, out)
    assert m.where(F.col("def_hist").isNotNull()).count() == 0
    assert m.count() > 0
    # resume over the old table: nothing re-encoded
    before = m.count()
    pipeline.encode_table(spark, df, out, repo_col="repo",
                          salt_cols=["k"], sort_cols=["k"], resume=True)
    assert pipeline.manifest(spark, out).count() == before
    # decode still round-trips
    assert pipeline.decode_table(spark, out).count() == 300


def test_ds_array_contains_is_exact(spark, tmp_path):
    """array<scalar> columns: the encoder writes no element blooms, and
    no filter on an array column is pruned (Spark 4.1 pushes no
    array_contains to a Python data source), so every chunk is read and
    Spark's exact filter gives the answer."""
    df = spark.range(500).select(
        (F.col("id") % 4).cast("string").alias("repo"),
        F.col("id").alias("k"),
        F.array(F.col("id"), F.col("id") + 1000).alias("vals"),
    )
    out = str(tmp_path / "lb")
    pipeline.encode_table(spark, df, out, repo_col="repo",
                          salt_cols=["k"], sort_cols=["k"], resume=False)
    cond = F.array_contains("vals", 1123)
    got = spark_where(spark, out, cond)
    assert [r.k for r in got.collect()] == [123]
    assert same_rows(got, df.where(cond))
    _, kept = direct_read(out, [EqualTo(("vals",), [123, 1123])])
    assert kept == all_chunks(out)


def test_fsst_cache_evicts_one_not_all():
    from parquet_go_spark.codecs.bytearrays import ByteArrays
    from parquet_go_spark.codecs.kinds import Kind
    # keyed (column, stream): one state per column across the task's repos
    cache = {(f"c{i}", "values"): {"keep": i} for i in range(512)}
    vals = ByteArrays.from_pylist([b"abcabcabc"] * 50)
    pipeline._encode_one(vals, Kind.BYTE_ARRAY, "string", None,
                         {"repo": "r", "column": "new", "chunk_id": "x",
                          "bucket": 0, "n_rows": 50},
                         fsst_cache=cache)
    assert len(cache) == 512  # one evicted, one added — not a clear()
    assert ("new", "values") in cache
    assert ("c0", "values") not in cache  # oldest went
    assert ("c1", "values") in cache
