"""Python Data Source (spark.read.format("colcodec")): full-table read
equals the source, pushed filters prune chunks task-side (stats + bloom)
without ever changing results, and SQL views compose over the format."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from parquet_go_spark.plans import pipeline
from parquet_go_spark.sources import datasource
from tests.colcodec_read import compiled, survives


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dsstore"))
    src = spark.createDataFrame(
        [(i, f"grp{i % 4}", f"name-{i:05d}", float(i) / 7) for i in range(4000)],
        "k bigint, grp string, name string, price double",
    )
    pipeline.encode_table(spark, src, d, repo_col="grp", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    datasource.register(spark)
    return d, src


def test_full_read_equals_source(spark, store):
    d, src = store
    df = spark.read.format("colcodec").load(d)
    assert df.schema == src.schema
    got = sorted(map(tuple, df.collect()))
    exp = sorted(map(tuple, src.collect()))
    assert got == exp


def test_pushed_filters_stay_exact(spark, store):
    d, src = store
    df = spark.read.format("colcodec").load(d)
    cases = [
        F.col("k") == 7,
        (F.col("k") > 3900) & (F.col("grp") == "grp1"),
        F.col("name").isin("name-00001", "name-03999", "name-99999"),
        F.col("price") <= 1.0,
        F.col("k") == -5,  # refuted everywhere → empty
    ]
    for cond in cases:
        got = sorted(map(tuple, df.where(cond).collect()))
        exp = sorted(map(tuple, src.where(cond).collect()))
        assert got == exp, str(cond)


def test_sql_view_over_format(spark, store):
    d, src = store
    spark.read.format("colcodec").load(d).createOrReplaceTempView("ds_t")
    n = spark.sql(
        "SELECT count(*) AS n FROM ds_t WHERE k % 2 = 0 AND grp = 'grp2'"
    ).collect()[0]["n"]
    assert n == src.where("k % 2 = 0 AND grp = 'grp2'").count()


def test_chunk_survives_semantics():
    """The colcodec read's prune rule (pqreader._view_survives over the
    chunk's manifest values) on bounds alone."""
    from pyspark.sql.datasource import EqualTo

    from parquet_go_spark.sources.datasource import ColcodecReader

    types = {"k": "bigint", "name": "string"}
    stats = {"k": ("100", "200"), "name": ("aaa", "mmm")}
    blooms = {"k": None, "name": None}
    ok = lambda f: survives(f, types, stats, blooms)  # noqa: E731
    assert ok([("k", "=", 150)])
    assert not ok([("k", "=", 99)])
    assert not ok([("k", ">", 200)])
    assert ok([("k", ">=", 200)])
    assert not ok([("k", "<", 100)])
    assert ok([("k", "<=", 100)])
    assert ok([("name", "=", "bbb")])
    assert not ok([("name", "=", "zzz")])
    assert ok([("name", "in", ["zzz", "bbb"])])
    assert not ok([("name", "in", ["zzz", "nnn"])])
    # NULL bounds are unbounded → never prunable
    assert ok([("k", "=", 99)]) is False
    assert survives([("k", "=", 99)], types,
                    {"k": (None, None)}, {"k": None})
    # a chunk with no values stream for the column: kept
    assert survives([("k", "=", 99)], types, {})
    # unknown column: never pushed, so never judged
    r = ColcodecReader("/nonexistent", list(types.items()))
    r.pushFilters([EqualTo(("other",), 1)])
    assert r._filters == []


def test_bloom_refutes_inside_bounds():
    import numpy as np

    from parquet_go_spark.codecs import bloom as bloomlib
    from parquet_go_spark.codecs.kinds import Kind

    present = np.array([100, 150, 200], dtype=np.int64)
    blob = bloomlib.build(present, Kind.INT64)
    types = {"k": "bigint"}
    stats = {"k": ("100", "200")}
    assert survives([("k", "=", 150)], types, stats, {"k": blob})
    # 137 is inside [100, 200] but not in the chunk: the bloom prunes
    # what min/max cannot (false positives possible, never negatives)
    hits = sum(
        survives([("k", "=", v)], types, stats, {"k": blob})
        for v in range(101, 200) if v not in (150,)
    )
    assert hits < 20  # ~1% fpp on 98 absent probes
    # `in` probes the bloom with the members inside the bounds only:
    # 150 hits, 137 misses, and 5 and 999 never reach the bloom
    assert survives([("k", "in", [5, 150, 999])], types, stats,
                    {"k": blob})
    assert not survives([("k", "in", [5, 137, 999])], types, stats,
                        {"k": blob})


def test_legacy_uvarint_blooms_abstain(store, tmp_path):
    """A store whose blooms predate the XXH64 change (uvarint block
    count ahead of the words, so length % 32 != 0) must keep every
    chunk those blooms would judge: `=` and `in` return the rows of an
    unpushed read. The legacy words here are all zero, so any probe of
    them would refute everything."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import EqualTo, In

    from parquet_go_spark.codecs.varint import write_uvarint
    from tests.colcodec_read import direct_read

    def legacy(blob):
        if blob is None:
            return None
        out = bytearray()
        write_uvarint(out, len(blob) // 32)
        return bytes(out) + bytes(len(blob))

    d = str(tmp_path / "legacy")
    shutil.copytree(store[0], d)
    n_blooms = 0
    for f in os.listdir(d):
        if not f.endswith(".parquet") or f.startswith(("_", ".")):
            continue
        path = os.path.join(d, f)
        t = pq.read_table(path)
        blooms = t.column("bloom").to_pylist()
        n_blooms += sum(b is not None for b in blooms)
        i = t.schema.get_field_index("bloom")
        t = t.set_column(i, "bloom",
                         pa.array([legacy(b) for b in blooms], pa.binary()))
        pq.write_table(t, path)
    assert n_blooms

    every, _ = direct_read(d, [])
    cases = [
        (EqualTo(("k",), 7), lambda r: r["k"] == 7),
        (In(("k",), (5, 1234, 3999)), lambda r: r["k"] in (5, 1234, 3999)),
        (In(("name",), ("name-00001", "name-03999", "name-99999")),
         lambda r: r["name"] in ("name-00001", "name-03999")),
        (EqualTo(("name",), "name-02000"),
         lambda r: r["name"] == "name-02000"),
    ]
    for flt, match in cases:
        want = sorted(map(repr, filter(match, every)))
        got, _ = direct_read(d, [flt])
        assert want and sorted(map(repr, filter(match, got))) == want, flt


def test_startswith_and_not_equal_prune_chunks(store):
    """startswith and != on the repo column, constant per chunk, drop
    chunks (range bounds, and lo == hi == v), and the rows equal the
    unpushed read."""
    from pyspark.sql.datasource import EqualTo, Not, StringStartsWith

    from tests.colcodec_read import all_chunks, direct_read

    d = store[0]
    every, _ = direct_read(d, [])
    cases = [
        (StringStartsWith(("grp",), "grp1"),
         lambda r: r["grp"].startswith("grp1")),
        (Not(EqualTo(("grp",), "grp0")), lambda r: r["grp"] != "grp0"),
    ]
    for flt, match in cases:
        rows, kept = direct_read(d, [flt])
        want = sorted(map(repr, filter(match, every)))
        assert want and sorted(map(repr, filter(match, rows))) == want, flt
        assert len(kept) < len(all_chunks(d)), flt


def test_metadata_read_only_when_a_pred_can_refute(store):
    """A WHERE no compiled predicate can refute (contains) reads no
    chunk metadata; an `=` reads it once per blob file, and neither
    reads chunk ids a second time."""
    from unittest import mock

    import pyarrow.parquet as pq
    from pyspark.sql.datasource import EqualTo, StringContains

    from tests.colcodec_read import direct_read

    d = store[0]
    n_files = len([f for f in os.listdir(d) if f.endswith(".parquet")
                   and not f.startswith(("_", "."))])
    real = pq.read_table
    for flt, n_meta in [(StringContains(("name",), "-0001"), 0),
                        (EqualTo(("grp",), "grp2"), n_files)]:
        metas = []

        def spy(path, *a, **kw):
            if "columns" in kw:
                metas.append(kw["columns"])
            return real(path, *a, **kw)

        with mock.patch.object(pq, "read_table", spy):
            direct_read(d, [flt])
        assert len(metas) == n_meta, flt
        assert all(c != ["chunk_id"] for c in metas), flt


def test_datasource_slices_pack_small_files(tmp_path):
    """partitions() packs consecutive data files, in name order, into
    slices of at most _SLICE_BYTES; a larger file is alone in its
    slice; pushed filters ride in every slice and are reset after."""
    from pyspark.sql.datasource import EqualTo

    from parquet_go_spark.sources.datasource import (_SLICE_BYTES,
                                                     ColcodecReader)

    mib = 1 << 20
    assert _SLICE_BYTES == 4 * mib  # Spark's openCostInBytes default
    sizes = [mib, mib, mib, 2 * mib, 5 * mib, mib // 2, 4 * mib, 1,
             3 * mib, mib, 9 * mib, 7]
    for i, n in enumerate(sizes):
        with open(tmp_path / f"part-{i:03d}.parquet", "wb") as fh:
            fh.truncate(n)  # sparse: size without the bytes
    for name in ("_colcodec_schema.json", "_x.parquet", ".y.parquet",
                 "notes.txt"):
        (tmp_path / name).write_bytes(b"x")  # not data files
    r = ColcodecReader(str(tmp_path), [("k", "bigint")])
    r.pushFilters([EqualTo(("k",), 7)])
    parts = r.partitions()

    names = [os.path.basename(f) for p in parts for f in p.units]
    assert names == [f"part-{i:03d}.parquet" for i in range(len(sizes))]
    size = {os.path.join(str(tmp_path), f"part-{i:03d}.parquet"): n
            for i, n in enumerate(sizes)}
    totals = [sum(size[f] for f in p.units) for p in parts]
    for p, total in zip(parts, totals):
        assert total <= _SLICE_BYTES or len(p.units) == 1
    for p in parts:  # a file over the limit is alone
        if any(size[f] > _SLICE_BYTES for f in p.units):
            assert len(p.units) == 1
    # greedy: no slice could take the next slice's first file
    for total, nxt in zip(totals, parts[1:]):
        assert total + size[nxt.units[0]] > _SLICE_BYTES
    assert [len(p.units) for p in parts] == [3, 1, 1, 1, 1, 2, 1, 1, 1]
    assert all(p.filters == (("k", "=", 7),) for p in parts)
    assert all(p.filters == () for p in r.partitions())


def test_packed_slices_read_like_per_file(spark, tmp_path):
    """Over a store of many small files, reading the packed slices
    yields the same row multiset as reading every file on its own,
    with eq / range / null filters pushed and with none."""
    from collections import Counter

    import pyarrow as pa
    from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual,
                                        IsNull, LessThan)

    from parquet_go_spark.sources.datasource import (ColcodecReader,
                                                     _compile_filters,
                                                     _read_file)

    datasource.register(spark)
    d = str(tmp_path / "smallfiles")
    src = spark.createDataFrame(
        [(i, f"grp{i % 3}", f"name-{i:05d}",
          None if i % 7 == 0 else float(i)) for i in range(2400)],
        "k bigint, grp string, name string, v double",
    )
    src.repartitionByRange(24, "k").write.format("colcodec") \
        .option("repo_col", "grp").mode("append").save(d)
    cols = pipeline._read_schema_sidecar(d)
    files = sorted(os.path.join(d, f) for f in os.listdir(d)
                   if f.endswith(".parquet")
                   and not f.startswith(("_", ".")))

    def rows(batches):
        if not batches:
            return Counter()
        return Counter(tuple(r.values())
                       for r in pa.Table.from_batches(batches).to_pylist())

    cases = [  # (pushed filters, rows survive)
        ([], True),
        ([EqualTo(("k",), 1234)], True),
        ([EqualTo(("name",), "name-00042")], True),
        ([GreaterThanOrEqual(("k",), 500), LessThan(("k",), 900)], True),
        ([IsNull(("v",))], True),
        ([EqualTo(("k",), -1)], False),  # refuted in every file
    ]
    for pushed, survive in cases:
        r = ColcodecReader(d, cols)
        r.pushFilters(pushed)
        parts = r.partitions()
        assert len(files) > len(parts) >= 1
        packed = rows([b for p in parts for b in r.read(p)])
        tree = _compile_filters(cols, parts[0].filters)
        per_file = rows([b for f in files
                         for b in _read_file(f, tree, cols)])
        assert packed == per_file, pushed
        assert bool(packed) == survive, pushed
        if not pushed:
            assert packed == Counter(map(tuple, src.collect()))


@pytest.fixture(scope="module")
def typed_store(spark, tmp_path_factory):
    """Columns in every physical kind the pruner touches: int32 with
    negatives, float32, date, timestamp, and a double column containing
    NaN — the shapes where kind-mismatched bloom probes / datetime
    literals / NaN bounds would silently drop rows."""
    import datetime as dt
    import math

    d = str(tmp_path_factory.mktemp("dstyped"))
    rows = [
        (
            i,
            f"g{i % 3}",
            int(i - 600),                       # int32, negatives
            float((i - 600) / 4.0),             # float32
            dt.date(2024, 1, 1) + dt.timedelta(days=i % 400),
            dt.datetime(2024, 1, 1, 12, 0, 0)
            + dt.timedelta(minutes=i),
            float("nan") if i % 100 == 0 else float(i) / 3.0,
        )
        for i in range(1200)
    ]
    src = spark.createDataFrame(
        rows,
        "k bigint, grp string, i32 int, f32 float, d date, "
        "ts timestamp, price double",
    )
    pipeline.encode_table(spark, src, d, repo_col="grp", salt_cols=["k"],
                          sort_cols=["k"], resume=False)
    datasource.register(spark)
    return d, src


def test_pushdown_typed_columns_exact(spark, typed_store):
    import datetime as dt

    d, src = typed_store
    df = spark.read.format("colcodec").load(d)
    cases = [
        F.col("i32") == -5,                       # int32 bloom, negative
        F.col("i32").isin(-5, 599, 10**10),       # in incl. out-of-range
        F.col("f32") == F.lit(2.25).cast("float"),  # float32 bloom
        F.col("d") == F.lit(dt.date(2024, 2, 1)),   # date literal
        F.col("ts") == F.lit(
            dt.datetime(2024, 1, 1, 13, 40)),       # timestamp literal
        F.col("ts") > F.lit(dt.datetime(2024, 1, 1, 23, 0)),
        F.col("price") == 2.0,  # chunk min/max poisoned by NaN: must
                                # still find 2.0 (NaN bounds unbounded)
    ]
    for cond in cases:
        got = sorted(map(str, df.where(cond).collect()))
        exp = sorted(map(str, src.where(cond).collect()))
        assert got == exp and got, str(cond)


def test_probe_key_conversions():
    """Pushed literals compile into the store's encoded stat space
    (pqreader._pred_stat_value over the leaves datasource._leaf
    builds), and manifest bounds convert with datasource._stat_value."""
    import datetime as dt

    from pyspark.sql.datasource import EqualTo

    from parquet_go_spark.sources.datasource import (ColcodecReader,
                                                     _leaf, _stat_value)

    def stat(spark_type, value):
        return compiled([("c", spark_type)], [("c", "=", value)])[0].stat_cmp

    assert stat("date", dt.date(1970, 1, 2)) == 1
    # naive LTZ literal = driver-local wall clock (Spark's pushdown
    # contract, anchored to UTC in pushFilters); NTZ naive = the stored
    # wall clock directly
    naive = dt.datetime(1970, 1, 1, 0, 0, 1)
    local_utc = naive.astimezone(dt.timezone.utc).replace(tzinfo=None)
    exp = (local_utc - dt.datetime(1970, 1, 1)) \
        // dt.timedelta(microseconds=1)
    cols = [("ts", "timestamp"), ("nts", "timestamp_ntz")]
    r = ColcodecReader("/nonexistent", cols)
    r.pushFilters([EqualTo(("ts",), naive), EqualTo(("nts",), naive)])
    assert [p.stat_cmp for p in compiled(cols, r._filters)] \
        == [exp, 1_000_000]
    aware = dt.datetime(1970, 1, 1, 1, 0, 1, tzinfo=dt.timezone(
        dt.timedelta(hours=1)))
    assert stat("timestamp", aware) == 1_000_000
    assert stat("bigint", "not-an-int") is None
    assert stat("double", float("nan")) is None
    # NaN bound = unbounded
    assert _stat_value(_leaf("v", "double"), "nan") is None


def test_write_path_roundtrip_append_overwrite(spark, tmp_path):
    import datetime as dt

    datasource.register(spark)
    d = str(tmp_path / "wstore")
    rows = [(i, f"g{i % 3}", f"text {i}", float(i) / 3,
             dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i))
            for i in range(2000)]
    src = spark.createDataFrame(
        rows, "k bigint, grp string, txt string, price double, ts timestamp")
    src.write.format("colcodec").option("repo_col", "grp") \
       .mode("append").save(d)
    back = spark.read.format("colcodec").load(d)
    assert sorted(map(str, back.collect())) == sorted(map(str, src.collect()))
    # append accumulates; overwrite replaces
    head = spark.createDataFrame(rows[:50], src.schema)
    head.write.format("colcodec").option("repo_col", "grp") \
        .mode("append").save(d)
    assert spark.read.format("colcodec").load(d).count() == 2050
    head.write.format("colcodec").option("repo_col", "grp") \
        .mode("overwrite").save(d)
    assert spark.read.format("colcodec").load(d).count() == 50
    # filters work over the written store
    assert spark.read.format("colcodec").load(d) \
        .where(F.col("k") == 7).count() == 1
    # commit swept the staging dir
    assert not os.path.exists(os.path.join(d, ".staging"))


def test_write_append_schema_mismatch_raises(spark, tmp_path):
    datasource.register(spark)
    d = str(tmp_path / "wmismatch")
    a = spark.createDataFrame([(1, "x")], "k bigint, grp string")
    a.write.format("colcodec").option("repo_col", "grp") \
     .mode("append").save(d)
    b = spark.createDataFrame([(1.5, "x")], "k double, grp string")
    with pytest.raises(Exception, match="schema differs"):
        b.write.format("colcodec").option("repo_col", "grp") \
         .mode("append").save(d)


def test_write_rejects_unknown_repo_col(spark, tmp_path):
    datasource.register(spark)
    a = spark.createDataFrame([(1, "x")], "k bigint, grp string")
    with pytest.raises(Exception, match="repo_col"):
        a.write.format("colcodec").option("repo_col", "nope") \
         .mode("append").save(str(tmp_path / "wbad"))


def test_write_null_repo_rows_survive(spark, tmp_path):
    """NULL repo values group under "None" for placement but the rows —
    and their true null — survive the round trip."""
    datasource.register(spark)
    d = str(tmp_path / "wnull")
    src = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "a", 3.0), (4, None, 4.0)],
        "k bigint, grp string, v double")
    src.write.format("colcodec").option("repo_col", "grp") \
       .mode("append").save(d)
    back = spark.read.format("colcodec").load(d)
    assert sorted(map(str, back.collect())) == sorted(map(str, src.collect()))


def test_write_small_target_flushes_chunks(spark, tmp_path):
    """A repo larger than target_chunk_bytes flushes into several chunks
    of one task, with unique ids, and still round-trips; a target of 0
    is rejected before any task runs."""
    datasource.register(spark)
    d = str(tmp_path / "wflush")
    src = spark.createDataFrame(
        [(i, "g0", f"text-{i:06d}-" + "y" * 100) for i in range(3000)],
        "k bigint, grp string, txt string").coalesce(1)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "500")  # the task sees six Arrow batches
    try:
        src.write.format("colcodec").option("repo_col", "grp") \
           .option("target_chunk_bytes", str(32 << 10)).mode("append") \
           .save(d)
    finally:
        spark.conf.set(conf, old)
    man = pipeline.manifest(spark, d).where(F.col("column") == "k")
    ids = [r["chunk_id"] for r in man.select("chunk_id").collect()]
    assert len(ids) >= 2
    assert len(set(ids)) == len(ids)
    back = spark.read.format("colcodec").load(d)
    assert sorted(map(str, back.collect())) == sorted(map(str, src.collect()))
    with pytest.raises(Exception, match="target_chunk_bytes must be > 0"):
        src.write.format("colcodec").option("repo_col", "grp") \
           .option("target_chunk_bytes", "0").mode("append") \
           .save(str(tmp_path / "wzero"))


def test_write_appends_decode_through_pipeline(spark, tmp_path):
    """Two separate append jobs must produce globally-unique chunk ids:
    pipeline.decode_table groups blob rows by chunk_id ACROSS files, so
    a cross-job collision would merge two chunks' streams."""
    datasource.register(spark)
    d = str(tmp_path / "wjobs")
    a = spark.createDataFrame(
        [(i, "g0", f"a{i}") for i in range(300)],
        "k bigint, grp string, txt string")
    b = spark.createDataFrame(
        [(i, "g0", f"b{i}") for i in range(300, 600)], a.schema)
    a.write.format("colcodec").option("repo_col", "grp") \
     .mode("append").save(d)
    b.write.format("colcodec").option("repo_col", "grp") \
     .mode("append").save(d)
    man = pipeline.manifest(spark, d)
    ids = [r["chunk_id"] for r in man.select("chunk_id").distinct().collect()]
    assert len(ids) == len(set(ids))
    dec = pipeline.decode_table(spark, d)
    exp = a.unionAll(b)
    assert sorted(map(str, dec.collect())) == sorted(map(str, exp.collect()))


def test_write_schema_mismatch_fails_at_plan_time(spark, tmp_path):
    """A mismatched append is rejected in writer() — before Spark runs
    any encode task."""
    datasource.register(spark)
    d = str(tmp_path / "wplan")
    a = spark.createDataFrame([(1, "x")], "k bigint, grp string")
    a.write.format("colcodec").option("repo_col", "grp") \
     .mode("append").save(d)
    b = spark.createDataFrame([(1.5, "x")], "k double, grp string")
    with pytest.raises(Exception, match="schema differs"):
        b.write.format("colcodec").option("repo_col", "grp") \
         .mode("append").save(d)


def test_streaming_sink_exactly_once(spark, tmp_path):
    """writeStream.format("colcodec"): micro-batches land as
    batch-stamped files; restarting from the same checkpoint processes
    only new input, and a replayed batch commits nothing twice."""
    datasource.register(spark)
    src_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    schema = "k bigint, grp string, txt string"
    df1 = spark.createDataFrame(
        [(i, f"g{i % 3}", f"t{i}") for i in range(400)], schema)
    df1.write.parquet(src_dir + "/f1")

    def run_once():
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1").parquet(src_dir + "/*")
             .writeStream.format("colcodec").option("repo_col", "grp")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start(store))
        q.awaitTermination(120)

    run_once()
    assert spark.read.format("colcodec").load(store).count() == 400
    df2 = spark.createDataFrame(
        [(i, f"g{i % 3}", f"t{i}") for i in range(400, 700)], schema)
    df2.write.parquet(src_dir + "/f2")
    run_once()
    assert spark.read.format("colcodec").load(store).count() == 700
    run_once()  # no new input: nothing duplicates
    got = sorted(map(str, spark.read.format("colcodec").load(store).collect()))
    exp = sorted(map(str, df1.unionAll(df2).collect()))
    assert got == exp


def test_streaming_source_tails_store(spark, tmp_path):
    """readStream.format("colcodec"): offsets are file-set diffs, so a
    checkpointed query emits exactly the files added since its last run
    — no re-emission, no misses."""
    datasource.register(spark)
    store = str(tmp_path / "sstore")
    ckpt = str(tmp_path / "sckpt")
    outdir = str(tmp_path / "sout")
    schema = "k bigint, grp string, txt string"
    df1 = spark.createDataFrame(
        [(i, f"g{i % 3}", f"t{i}") for i in range(300)], schema)
    df1.write.format("colcodec").option("repo_col", "grp") \
       .mode("append").save(store)

    def run_once():
        q = (spark.readStream.format("colcodec").load(store)
             .writeStream.format("parquet").option("path", outdir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(outdir).count() == 300
    df2 = spark.createDataFrame(
        [(i, f"g{i % 3}", f"t{i}") for i in range(300, 500)], schema)
    df2.write.format("colcodec").option("repo_col", "grp") \
       .mode("append").save(store)
    run_once()
    assert spark.read.parquet(outdir).count() == 500
    run_once()  # no new files
    got = sorted(map(str, spark.read.parquet(outdir).collect()))
    exp = sorted(map(str, df1.unionAll(df2).collect()))
    assert got == exp


def test_stream_sink_partial_commit_recovers(spark, tmp_path):
    """A crash mid-rename leaves batch files without the .done marker;
    the replay must clear the partials and rewrite the batch in full —
    never mistake a partial batch for a committed one."""
    datasource.register(spark)
    store = str(tmp_path / "pstore")
    ckpt = str(tmp_path / "pckpt")
    src_dir = str(tmp_path / "pin")
    os.makedirs(src_dir)
    schema = "k bigint, grp string"
    df1 = spark.createDataFrame(
        [(i, f"g{i % 2}") for i in range(200)], schema)
    df1.write.parquet(src_dir + "/f1")

    def run_once():
        q = (spark.readStream.schema(schema).parquet(src_dir + "/*")
             .writeStream.format("colcodec").option("repo_col", "grp")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start(store))
        q.awaitTermination(120)

    run_once()
    # simulate the mid-commit crash: marker gone, one batch file gone
    markers = [f for f in os.listdir(store) if f.endswith(".done")]
    assert markers
    os.unlink(os.path.join(store, markers[0]))
    parts = sorted(f for f in os.listdir(store) if f.endswith(".parquet"))
    os.unlink(os.path.join(store, parts[0]))
    # wipe the checkpoint so the batch REPLAYS from scratch
    import shutil as _sh
    _sh.rmtree(ckpt)
    run_once()
    back = spark.read.format("colcodec").load(store)
    assert sorted(map(str, back.collect())) == sorted(map(str, df1.collect()))


def test_stream_sink_rejects_complete_mode(spark, tmp_path):
    datasource.register(spark)
    schema = "k bigint, grp string"
    src_dir = str(tmp_path / "cin")
    os.makedirs(src_dir)
    spark.createDataFrame([(1, "a")], schema).write.parquet(src_dir + "/f1")
    agg = (spark.readStream.schema(schema).parquet(src_dir + "/*")
           .groupBy("grp").count())
    with pytest.raises(Exception, match="append output mode only"):
        q = (agg.writeStream.format("colcodec").option("repo_col", "grp")
             .outputMode("complete")
             .option("checkpointLocation", str(tmp_path / "cckpt"))
             .trigger(availableNow=True).start(str(tmp_path / "cstore")))
        q.awaitTermination(60)


def test_stream_source_detects_rewrite(spark, tmp_path):
    """Overwrite/compaction under a tailing reader must fail loudly,
    not silently re-emit rewritten files as new data."""
    from parquet_go_spark.sources.datasource import ColcodecStreamReader

    datasource.register(spark)
    store = str(tmp_path / "rwstore")
    schema = "k bigint, grp string"
    df = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    df.write.format("colcodec").option("repo_col", "grp") \
      .mode("append").save(store)
    rdr = ColcodecStreamReader(store, pipeline._read_schema_sidecar(store))
    start = rdr.latestOffset()
    df.write.format("colcodec").option("repo_col", "grp") \
      .mode("overwrite").save(store)
    end = rdr.latestOffset()
    with pytest.raises(RuntimeError, match="rewritten"):
        rdr.partitions(start, end)


def test_chunk_survives_null_tests():
    """isnull/notnull prune on the manifest's null_count/n_rows alone
    — no stats, no bloom, unknown stays kept."""
    types = {"v": "double"}
    st = {"v": (None, None)}
    no_nulls = {"v": (0, 100)}
    all_null = {"v": (100, 100)}
    some = {"v": (40, 100)}
    f_isnull = [("v", "isnull", None)]
    f_notnull = [("v", "notnull", None)]
    assert not survives(f_isnull, types, st, {}, no_nulls)
    assert survives(f_isnull, types, st, {}, all_null)
    assert survives(f_isnull, types, st, {}, some)
    assert not survives(f_notnull, types, st, {}, all_null)
    assert survives(f_notnull, types, st, {}, no_nulls)
    assert survives(f_notnull, types, st, {}, some)
    # unknown null info: always keep; absent nulls dict: keep
    assert survives(f_isnull, types, st, {}, {"v": (None, None)})
    assert survives(f_isnull, types, st, {})


def test_datasource_null_filters_exact(spark, tmp_path):
    """IS NULL / IS NOT NULL through the colcodec data source equal the
    source DataFrame, with nulls concentrated so chunks actually
    prune (null-free repos refuted for IS NULL)."""
    d = str(tmp_path / "nullstore")
    src = spark.createDataFrame(
        [(i, f"grp{i % 3}",
          None if i % 3 == 0 else float(i)) for i in range(3000)],
        "k bigint, grp string, v double",
    )
    # grp0 rows carry ALL the nulls; grp1/grp2 chunks are null-free
    pipeline.encode_table(spark, src, d, repo_col="grp",
                          sort_cols=["k"], resume=False)
    datasource.register(spark)
    # fresh load PER QUERY — the documented safe pattern under the
    # upstream Spark 4.1 readInfo-caching bug (see module docstring
    # and test_python_ds_relation_reuse_upstream_caveat)
    for cond in ("v IS NULL", "v IS NOT NULL",
                 "v IS NULL AND k < 100", "v IS NOT NULL OR k = 0"):
        df = spark.read.format("colcodec").load(d)
        got = sorted(map(tuple, df.where(cond).collect()))
        exp = sorted(map(tuple, src.where(cond).collect()))
        assert got == exp, cond
    from pyspark.sql.datasource import IsNotNull, IsNull

    r = datasource.ColcodecReader(d, pipeline._read_schema_sidecar(d))
    r.pushFilters([IsNull(("v",)), IsNotNull(("k",))])
    assert r._filters == [("v", "isnull", None), ("k", "notnull", None)]


def test_python_ds_relation_reuse_upstream_caveat(spark, tmp_path):
    """PINS an UPSTREAM Spark 4.1 behavior (not ours): with
    spark.sql.python.filterPushdown.enabled, the JVM caches planned
    partitions per relation (PythonDataSourceV2.readInfo) and filter
    pushdown overwrites the cache — so a REUSED DataFrame serves the
    first pushed query's pruned scan to a later query that pushes
    nothing. Demonstrated on a minimal source with NO instance state,
    proving it is not this package's reader. If this test starts
    failing on a future Spark, the caching was fixed: delete the
    caveat from sources/datasource.py + sources/pqread.py docstrings
    and this pin."""
    from pyspark.sql.datasource import (
        DataSource, DataSourceReader, EqualTo)

    class MiniReader(DataSourceReader):
        def __init__(self):
            self.keep = None

        def pushFilters(self, filters):  # noqa: N802
            fs = list(filters)
            for f in fs:
                if isinstance(f, EqualTo):
                    self.keep = f.value
            return iter(fs)

        def read(self, partition):
            for i in range(10):
                if self.keep is None or i == self.keep:
                    yield (i,)

    class MiniSource(DataSource):
        @classmethod
        def name(cls):
            return "minids_upstream_pin"

        def schema(self):
            return "k int"

        def reader(self, schema):
            return MiniReader()

    prior = spark.conf.get("spark.sql.python.filterPushdown.enabled",
                           None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(MiniSource)
        df = spark.read.format("minids_upstream_pin").load()
        assert df.where("k = 3").count() == 1
        # UPSTREAM BUG: reused relation serves the pruned scan (≠ 10)
        assert df.count() == 1
        # the safe pattern: a fresh relation per query is exact
        assert spark.read.format(
            "minids_upstream_pin").load().count() == 10
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set(
                "spark.sql.python.filterPushdown.enabled", prior)
