"""Driver contract for the spark-graft builder (PySpark target).

Queries map SURVEY.md §2's operator inventory onto the driver's
(spark, sf_dir) → DataFrame protocol, with matching DuckDB oracle SQL:

- rt_pipeline_*   full encode→blobs+manifest→decode round trips (the
                  write/read paths, SURVEY §3.1-3.2) per table shape
- rt_<codec>_*    forced-codec distributed round trips (TestEncoding
                  analog, encoding_test.go:207-216) — E1..E10
- stats_* chunk_* manifest column-index statistics (column_index.go)
- prune_* bloom_* chunk pruning by min/max and blooms (search.go:6-95,
                  bloom.go:189+), all through the colcodec data source
- dedup/minhash/simhash/ngram  training-data dedup operators
- text_analysis_*  token/quality/langid/fingerprint (one fused query)
- cosine/knn/lsh  embedding similarity search
- multimodal_*    binary-payload metadata (size, sha256)
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from parquet_go_spark.codecs.kinds import Codec
from parquet_go_spark.interop import compact as interop_compact
from parquet_go_spark.interop import export as interop_export
from parquet_go_spark.operators import dedup, multimodal, roundtrip, similarity, text
from parquet_go_spark.plans import pipeline
from parquet_go_spark.sources import datasource as colcodec_ds

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_ENCODE_SPECS = {
    "lineitem": dict(repo_col="l_returnflag", salt_cols=["l_orderkey", "l_linenumber"],
                     sort_cols=["l_orderkey", "l_linenumber"]),
    "orders": dict(repo_col="o_orderpriority", salt_cols=["o_orderkey"],
                   sort_cols=["o_orderkey"]),
    "documents": dict(repo_col="source", salt_cols=["doc_id"], sort_cols=["doc_id"]),
    "events": dict(repo_col="event_type", salt_cols=["event_id"], sort_cols=["event_id"]),
    "part": dict(repo_col="p_brand", salt_cols=["p_partkey"], sort_cols=["p_partkey"]),
    "customer": dict(repo_col="c_mktsegment", salt_cols=["c_custkey"],
                     sort_cols=["c_custkey"]),
    "embeddings": dict(repo_col="label", salt_cols=["vec_id"], sort_cols=["vec_id"]),
}


def _encode_fresh(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Encode a testdata table into a fresh blobs+manifest dir; return path."""
    out = tempfile.mkdtemp(prefix=f"colcodec_{name}_")
    df = _load(spark, sf_dir, name)
    pipeline.encode_table(spark, df, out, resume=False, **_ENCODE_SPECS[name])
    return out


def _fmt_ts(df: DataFrame, *cols: str) -> DataFrame:
    """Canonicalize timestamp columns to strings for oracle comparison."""
    for c in cols:
        df = df.withColumn(c, F.date_format(F.col(c), TS_FMT_SPARK))
    return df


def _rt_pipeline(name: str, ts_cols: tuple[str, ...] = ()):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = _encode_fresh(spark, sf_dir, name)
        return _fmt_ts(pipeline.decode_table(spark, out), *ts_cols)

    return q


def _rt_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _encode_fresh(spark, sf_dir, "embeddings")
    d = pipeline.decode_table(spark, out)
    return d.select(
        "vec_id", "label",
        F.size("embedding").alias("dim"),
        (F.floor(
            F.aggregate("embedding", F.lit(0.0),
                        lambda acc, x: acc + x.cast("double")) * 1e3 + 0.5
        ) / 1e3).alias("checksum"),
    )


def _codec_rt(table: str, column: str, codec: int, *, dict_wrap=False,
              sort_within=False, derive=None):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _load(spark, sf_dir, table)
        if derive is not None:
            df = derive(df)
        return roundtrip.codec_roundtrip(
            df, column, codec, dict_wrap=dict_wrap, sort_within=sort_within
        )

    return q


def _rt_nullable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optional-column round trip: derive nulls, encode (validity bitmap
    = definition-levels analog), decode, return."""
    import tempfile

    df = (
        _load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 10).cast("string").alias("grp"),
            F.when(F.col("o_orderkey") % 3 == 0, None)
            .otherwise(F.col("o_orderstatus")).alias("status_n"),
            F.when(F.col("o_orderkey") % 5 == 0, None)
            .otherwise(F.col("o_custkey")).alias("custkey_n"),
            F.when(F.col("o_orderkey") % 7 == 0, None)
            .otherwise(F.col("o_totalprice")).alias("price_n"),
        )
    )
    out = tempfile.mkdtemp(prefix="colcodec_nullable_")
    pipeline.encode_table(
        spark, df, out, repo_col="grp", salt_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], resume=False,
    )
    return pipeline.decode_table(spark, out)


def _rt_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL logical-type round trip (type_decimal.go:18 analog):
    p≤9 → unscaled INT32, p≤18 → INT64, p>18 → FLBA(16). Output cast to
    string for a formatting-stable oracle comparison."""
    df = (
        _load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 10).cast("string").alias("grp"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            (F.col("o_custkey") % 1000).cast("decimal(7,0)").alias("ckey_small"),
            # >18-digit decimal built via string concat (decimal arithmetic
            # would rescale): orderkey digits + 18 zeros + ".25" → FLBA(16)
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("000000000000000000.25"),
            ).cast("decimal(38,2)").alias("price_big"),
        )
    )
    out = tempfile.mkdtemp(prefix="colcodec_decimal_")
    pipeline.encode_table(
        spark, df, out, repo_col="grp", salt_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], resume=False,
    )
    d = pipeline.decode_table(spark, out)
    return d.select(
        "o_orderkey", "grp",
        F.col("price").cast("string").alias("price"),
        F.col("ckey_small").cast("string").alias("ckey_small"),
        F.col("price_big").cast("string").alias("price_big"),
    )



def _props_expr():
    """text → array<struct<w:string,n:int>>; the ONE definition shared
    by the round-trip query, the level-histogram query, and (in spirit)
    their oracles — the length%3 null rule must stay in lockstep."""
    return F.transform(
        F.slice(F.split(F.col("text"), " "), 1, 5),
        lambda x: F.struct(
            x.alias("w"),
            F.when(F.length(x) % 3 == 0, None)
            .otherwise(F.length(x)).cast("int").alias("n"),
        ),
    )


def _props_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", "source", _props_expr().alias("props"))
    )


def _rt_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table pipeline round trip — the part/customer/events fold
    (VERDICT r3 #1): three independent encode→decode round trips whose
    EVERY column lands in one uniform (tbl, k, s, i, d, ts_s) union, so
    a single driver correctness row still hashes full decode fidelity
    for all three flat-table shapes."""
    outs = {n: _encode_fresh(spark, sf_dir, n)
            for n in ("part", "customer", "events")}
    p = pipeline.decode_table(spark, outs["part"]).select(
        F.lit("part").alias("tbl"),
        F.col("p_partkey").alias("k"),
        F.concat_ws("|", "p_name", "p_brand", "p_type").alias("s"),
        F.col("p_size").cast("bigint").alias("i"),
        F.col("p_retailprice").alias("d"),
        F.lit(None).cast("string").alias("ts_s"),
    )
    c = pipeline.decode_table(spark, outs["customer"]).select(
        F.lit("customer").alias("tbl"),
        F.col("c_custkey").alias("k"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("s"),
        F.col("c_nationkey").cast("bigint").alias("i"),
        F.col("c_acctbal").alias("d"),
        F.lit(None).cast("string").alias("ts_s"),
    )
    e = pipeline.decode_table(spark, outs["events"]).select(
        F.lit("events").alias("tbl"),
        F.col("event_id").alias("k"),
        F.concat_ws("|", "event_type", "props").alias("s"),
        F.col("user_id").cast("bigint").alias("i"),
        F.col("value").alias("d"),
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
    )
    return p.unionByName(c).unionByName(e)


def _rt_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array<string> + array<struct<w,n>> round trip in ONE encoded
    table — the tags/props fold: LIST-of-BYTE_ARRAY shredding (lengths
    stream + flattened values, node.go:505-525 analog) and the
    repeated-group shredding (shared lengths stream + per-field `f:`
    streams with validity, column_buffer_repeated.go +
    schema.go:341-430 analog) verified by one driver row."""
    df = (
        _load(spark, sf_dir, "documents")
        .select(
            "doc_id", "source",
            F.slice(F.split(F.col("text"), " "), 1, 5).alias("tags"),
            _props_expr().alias("props"),
        )
    )
    out = tempfile.mkdtemp(prefix="colcodec_lists_")
    pipeline.encode_table(
        spark, df, out, repo_col="source", salt_cols=["doc_id"],
        sort_cols=["doc_id"], resume=False,
    )
    d = pipeline.decode_table(spark, out)
    return d.select(
        "doc_id", "source",
        F.concat_ws("\x1f", "tags").alias("tags_joined"),
        F.size("tags").alias("n_tags"),
        F.size("props").alias("n_elems"),
        F.concat_ws(
            "\x1f", F.transform("props", lambda s: s["w"])
        ).alias("ws_joined"),
        F.aggregate(
            "props", F.lit(0).cast("bigint"),
            lambda acc, s: acc + F.coalesce(
                s["n"].cast("bigint"), F.lit(0)
            ),
        ).alias("n_sum"),
    )


def _text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token stats + quality + langid + fingerprint composed into one
    narrow single-pass plan (all pure Column expressions — one scan of
    documents) and one driver correctness row."""
    d = text.fingerprint(
        text.lang_id(text.quality_score(_load(spark, sf_dir, "documents")))
    )
    return d.select(
        "doc_id", "n_tokens", "alpha_ratio", "digit_ratio", "punct_ratio",
        "stopword_ratio", "avg_token_len", "quality", "pred_lang",
        "fp_md5", "fp_sha256", "fp_len",
    )



def _rt_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map<string,string> round trip — MAP key_value shredding (three
    streams: entry lengths + flattened keys + nullable values;
    node.go:528-540 analog). Output projected to scalars via
    element_at/size for a portable oracle comparison."""
    df = (
        _load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 10).cast("string").alias("grp"),
            F.create_map(
                F.lit("status"), F.col("o_orderstatus"),
                F.lit("prio"),
                F.when(F.col("o_orderkey") % 3 == 0, None)
                .otherwise(F.col("o_orderpriority")),
            ).alias("attrs"),
        )
    )
    out = tempfile.mkdtemp(prefix="colcodec_map_")
    pipeline.encode_table(
        spark, df, out, repo_col="grp", salt_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], resume=False,
    )
    d = pipeline.decode_table(spark, out)
    return d.select(
        "o_orderkey", "grp",
        F.element_at("attrs", "status").alias("status"),
        F.element_at("attrs", "prio").alias("prio"),
        F.size("attrs").alias("n_entries"),
    )


def _rt_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UUID-ish fixed-width binary round trip (type_uuid.go:14 analog):
    a 16-byte binary column auto-upgrades to FLBA(16), dropping the
    per-value length framing of the generic BYTE_ARRAY path. Output is
    hex-projected for a portable oracle comparison."""
    df = (
        _load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 10).cast("string").alias("grp"),
            F.unhex(F.md5(
                F.concat(F.lit("k"), F.col("o_orderkey").cast("string"))
            )).alias("uid"),
        )
    )
    out = tempfile.mkdtemp(prefix="colcodec_uuid_")
    pipeline.encode_table(
        spark, df, out, repo_col="grp", salt_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], resume=False,
    )
    d = pipeline.decode_table(spark, out)
    return d.select(
        "o_orderkey", "grp", F.hex("uid").alias("uuid_hex"),
    )


def _rt_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """struct round trip — per-field stream shredding (Deconstruct/
    Reconstruct analog, schema.go:341-430) incl. a nullable field and a
    decimal field."""
    df = (
        _load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 10).cast("string").alias("grp"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.when(F.col("o_orderkey") % 4 == 0, None)
                .otherwise(F.col("o_custkey")).alias("ckey"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            ).alias("props"),
        )
    )
    out = tempfile.mkdtemp(prefix="colcodec_struct_")
    pipeline.encode_table(
        spark, df, out, repo_col="grp", salt_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], resume=False,
    )
    d = pipeline.decode_table(spark, out)
    return d.select(
        "o_orderkey",
        F.col("props.status").alias("status"),
        F.col("props.ckey").alias("ckey"),
        F.col("props.price").cast("string").alias("price"),
    )


def _rt_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-depth nesting round trip (round 3): struct-in-struct,
    array under struct, and map<string,array<string>> — the recursive
    shredding analog of the reference's schema walk (schema.go:341-430,
    column_buffer_repeated.go). Output projected to scalars for a
    portable oracle comparison."""
    ok = F.col("o_orderkey")
    m = (ok % 4 + 1).cast("bigint")
    df = (
        _load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (ok % 10).cast("string").alias("grp"),
            F.struct(
                F.struct(
                    (ok % 100).cast("int").alias("x"),
                    F.when(ok % 5 == 0, None)
                    .otherwise(F.substring("o_orderpriority", 1, 8))
                    .alias("y"),
                ).alias("a"),
                F.when(ok % 11 == 0, F.array().cast("array<bigint>"))
                .otherwise(F.sequence(F.lit(1).cast("bigint"), m))
                .alias("arr"),
            ).alias("nested"),
            F.create_map(
                F.lit("p"),
                F.array(F.col("o_orderpriority"), F.col("o_orderstatus")),
                F.lit("e"), F.array().cast("array<string>"),
            ).alias("attrs"),
        )
    )
    out = tempfile.mkdtemp(prefix="colcodec_nested_")
    pipeline.encode_table(
        spark, df, out, repo_col="grp", salt_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], resume=False,
    )
    d = pipeline.decode_table(spark, out)
    return d.select(
        "o_orderkey",
        F.col("nested.a.x").alias("ax"),
        F.col("nested.a.y").alias("ay"),
        F.size("nested.arr").alias("n_arr"),
        F.aggregate(
            "nested.arr", F.lit(0).cast("bigint"), lambda acc, v: acc + v
        ).alias("arr_sum"),
        F.concat_ws(",", F.element_at("attrs", F.lit("p"))).alias("p_joined"),
        F.size(F.element_at("attrs", F.lit("e"))).alias("e_n"),
    )


def _level_hist_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Definition/repetition level histograms (A4, the
    writer_statistics.go:20-44 analog): encode the repeated-group props
    column, then element-wise-sum the per-chunk leaf histograms from
    the manifest. The oracle recomputes the same Dremel entry counts
    from the raw table in closed form."""
    df = _props_df(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="colcodec_levhist_")
    pipeline.encode_table(
        spark, df, out, repo_col="source", salt_cols=["doc_id"],
        sort_cols=["doc_id"], resume=False,
    )
    m = pipeline.manifest(spark, out).where(
        (F.col("column") == "props") & F.col("def_hist").isNotNull()
    )

    def esum(c):
        return (
            m.select("stream", F.posexplode(c).alias("i", "v"))
            .groupBy("stream", "i").agg(F.sum("v").alias("v"))
            .groupBy("stream").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "v"))),
                        lambda s: s["v"].cast("string"),
                    ), ",",
                ).alias(c)
            )
        )

    return esum("def_hist").join(esum("rep_hist"), "stream").select(
        "stream", "def_hist", "rep_hist"
    )


def _parquet_interop_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-direction format interop (round 3): export orders as REAL
    .parquet files — thrift compact metadata + our codec page payloads
    (DELTA_BINARY_PACKED / RLE_DICTIONARY / BYTE_STREAM_SPLIT dict
    pages, v1 def levels) — then read them back with Spark's parquet-mr
    reader. The oracle reads the ORIGINAL table, so parquet-mr's decode
    of our bytes must agree value-for-value (the mirror of the golden
    decode suite; the reference is a full parquet writer, writer.go)."""
    df = _load(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="colcodec_interop_")
    interop_export.export_parquet(
        spark, df, out, repo_col="o_orderstatus",
        salt_cols=["o_orderkey"], target_chunk_bytes=1 << 20,
    )
    back = spark.read.parquet(out + "/*.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    return _fmt_ts(back, "o_orderdate")


def _parquet_interop_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIST-column interop (round 3): export embeddings (array<float>)
    as real parquet — the 3-level LIST group with true Dremel rep/def
    level streams — and read it back through Spark's parquet-mr reader.
    Projected to (dim, checksum) scalars like rt_pipeline_embeddings so
    the oracle is portable."""
    emb = _load(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="colcodec_interop_emb_")
    interop_export.export_parquet(
        spark, emb, out, repo_col="label", salt_cols=["vec_id"],
        target_chunk_bytes=256 << 10,
    )
    back = spark.read.parquet(out + "/*.parquet")
    return back.select(
        "vec_id", "label",
        F.size("embedding").alias("dim"),
        (F.floor(
            F.aggregate("embedding", F.lit(0.0),
                        lambda acc, x: acc + x.cast("double")) * 1e3 + 0.5
        ) / 1e3).alias("checksum"),
    )


def _rt_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT shredding round trip (type_variant.go:27 +
    variant_shredded_write.go/read.go slice): flat JSON built from
    orders shreds into struct<metadata, value, typed_value{a,b}> — a,b
    typed; c,d variant-binary residual (d absent on every third row) —
    encodes through the pipeline's struct stream grammar, decodes, and
    reconstructs the JSON; the oracle recomputes each extracted field
    from the raw table."""
    from parquet_go_spark.operators import variant as vops

    ok = F.col("o_orderkey")
    df = (
        _load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (ok % 10).cast("string").alias("grp"),
            F.to_json(F.struct(
                F.col("o_custkey").alias("a"),
                F.col("o_orderstatus").alias("b"),
                (ok % 97).alias("c"),
                F.when(ok % 3 == 0, None)
                .otherwise(F.col("o_orderpriority")).alias("d"),
            )).alias("js"),
        )
    )
    sh = vops.shred_json(df, "js", [("a", "bigint"), ("b", "string")])
    out = tempfile.mkdtemp(prefix="colcodec_variant_")
    pipeline.encode_table(
        spark, sh, out, repo_col="grp", salt_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], resume=False,
    )
    d = pipeline.decode_table(spark, out)
    un = vops.unshred_json(d, "var")
    js = F.col("json")
    return un.select(
        "o_orderkey",
        F.get_json_object(js, "$.a").alias("a"),
        F.get_json_object(js, "$.b").alias("b"),
        F.get_json_object(js, "$.c").alias("c"),
        F.get_json_object(js, "$.d").alias("d"),
    )


def _parquet_read_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-direction parquet (OpenFile analog, file.go:65-130): export
    orders with OUR writer, then decode the files back through OUR
    pqreader kernels with spark.read.format("pqread") — distributed,
    size-planned slices, with a stat/bloom-prunable WHERE pushed into
    every task (row groups that footer min/max statistics refute are
    skipped without reading a data page, the reader analog of
    column_index.go search) — and compare against the source table
    WHERE-filtered by the oracle."""
    from parquet_go_spark.sources import pqread

    df = _load(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="colcodec_pqread_")
    interop_export.export_parquet(
        spark, df, out, repo_col="o_orderstatus",
        salt_cols=["o_orderkey"], target_chunk_bytes=1 << 20,
    )
    pqread.register(spark)
    back = (
        spark.read.format("pqread").load(out)
        .where(F.col("o_totalprice") > 300000.0)
        .select("o_orderkey", "o_custkey", "o_orderstatus",
                "o_totalprice", "o_orderdate", "o_orderpriority")
    )
    return _fmt_ts(back, "o_orderdate")


def _parquet_interop_complex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP + STRUCT interop in ONE exported parquet file (the round-3
    map/struct queries folded): the MAP group's two leaf chunks share
    entry lengths with the optional value leaf at def levels 0..3, and
    the struct group carries one leaf chunk per field with def levels
    0..2 — both read back through Spark's parquet-mr reader and hashed
    by one driver row. Projected to scalars so the oracle is portable."""
    df = (
        _load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 10).cast("string").alias("grp"),
            F.create_map(
                F.lit("status"), F.col("o_orderstatus"),
                F.lit("prio"),
                F.when(F.col("o_orderkey") % 3 == 0, None)
                .otherwise(F.col("o_orderpriority")),
            ).alias("attrs"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.when(F.col("o_orderkey") % 4 == 0, None)
                .otherwise(F.col("o_custkey")).alias("ckey"),
                F.col("o_totalprice").alias("price"),
            ).alias("props"),
            # DECIMAL leaves (round 4): INT64-backed and FLBA(16)-backed
            F.col("o_totalprice").cast("decimal(12,2)").alias("price_dec"),
            F.concat(F.col("o_orderkey").cast("string"),
                     F.lit("000000000000000000.25"))
            .cast("decimal(38,2)").alias("big_dec"),
        )
    )
    out = tempfile.mkdtemp(prefix="colcodec_interop_cx_")
    interop_export.export_parquet(
        spark, df, out, repo_col="grp", salt_cols=["o_orderkey"],
        target_chunk_bytes=256 << 10,
    )
    back = spark.read.parquet(out + "/*.parquet")
    return back.select(
        "o_orderkey", "grp",
        F.element_at("attrs", "status").alias("m_status"),
        F.element_at("attrs", "prio").alias("m_prio"),
        F.size("attrs").alias("n_entries"),
        F.col("props.status").alias("s_status"),
        F.col("props.ckey").alias("s_ckey"),
        F.col("props.price").alias("s_price"),
        F.col("price_dec").cast("string").alias("price_dec"),
        F.col("big_dec").cast("string").alias("big_dec"),
    )


def _pruned_read(spark: SparkSession, store: str, cond,
                 *cols: str) -> DataFrame:
    """The store's one pruned read: spark.read.format("colcodec") with a
    pushed-down filter — task-side chunk pruning via manifest stats +
    split-block blooms, Spark re-applies the filter exactly
    (sources/datasource.py). The DataFrame is created fresh per query
    (the Spark 4.1 relation-reuse caveat in that module)."""
    colcodec_ds.register(spark)
    return spark.read.format("colcodec").load(store).where(cond).select(
        *cols)


def _datasource_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source read path (Spark 4 DataSource API): encode
    orders into a blob store and read it back through plain spark.read
    with a pushed-down point filter."""
    out = _encode_fresh(spark, sf_dir, "orders")
    return _pruned_read(spark, out, F.col("o_custkey") == 7, "o_orderkey",
                        "o_custkey", "o_orderstatus", "o_totalprice")


def _datasource_write_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source WRITE path: df.write.format("colcodec") encodes
    each task's partition directly (size-triggered per-repo flush, staged
    files renamed atomically by the driver commit), then the read path
    decodes it back (sources/datasource.py ColcodecArrowWriter)."""
    colcodec_ds.register(spark)
    out = tempfile.mkdtemp(prefix="colcodec_dsw_") + "/store"
    df = _load(spark, sf_dir, "orders")
    (df.write.format("colcodec").option("repo_col", "o_orderpriority")
       .mode("append").save(out))
    return _fmt_ts(spark.read.format("colcodec").load(out), "o_orderdate")


def _parquet_bloom_point_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec bloom filters in real parquet (round 3): export orders with
    split-block blooms on o_custkey — XXH64 spec hashing, the filter the
    reference writes per chunk (writer.go:2089-2095; format proven
    byte-identical to parquet-mr's on the golden bloom fixture) — then
    answer a point lookup by probing ONLY footers+bitsets to prune
    files, reading just the survivors. Oracle runs the same point query
    on the original table, so a bloom false NEGATIVE (missed rows) can't
    hide; the pruning itself is asserted in tests/test_interop_bloom.py."""
    import numpy as np
    import os as _os

    from parquet_go_spark.codecs.kinds import Kind
    from parquet_go_spark.interop import pqbloom

    df = _load(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="colcodec_bloom_")
    interop_export.export_parquet(
        spark, df, out, repo_col="o_orderstatus",
        salt_cols=["o_orderkey"], target_chunk_bytes=256 << 10,
        bloom_cols=["o_custkey"],
    )
    paths = [_os.path.join(out, f) for f in sorted(_os.listdir(out))
             if f.endswith(".parquet")]
    keep = pqbloom.prune_files(
        paths, "o_custkey", np.array([7], dtype=np.int64), Kind.INT64,
        spark=spark)
    back = (
        spark.read.parquet(*keep)
        .where(F.col("o_custkey") == 7)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    return back


def _compact_export_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interop-path compaction (round 3): export documents as many tiny
    parquet files (64 KB target), fold them with compact_export (the
    MergeRowGroups/writer_copy.go analog for real parquet files —
    cross-repo bin-packing, tombstoned resume keys), and read the
    compacted directory back through Spark's parquet reader. The oracle
    reads the original table, so compaction must be lossless."""
    df = _load(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="colcodec_compactexp_")
    interop_export.export_parquet(
        spark, df, out, repo_col="source", salt_cols=["doc_id"],
        target_chunk_bytes=64 << 10,
    )
    interop_compact.compact_export(spark, out, small_bytes=1 << 20,
                                   target_bytes=2 << 20)
    return spark.read.parquet(out + "/*.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars")


def _stats_minmax_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _encode_fresh(spark, sf_dir, "lineitem")
    m = pipeline.manifest(spark, out).where(F.col("stream") == "values")

    def mm(col, agg):
        v = F.when(F.col("column") == col, F.col(agg + "_val").cast("double"))
        return (F.min(v) if agg == "min" else F.max(v))

    return m.agg(
        mm("l_orderkey", "min").alias("min_orderkey"),
        mm("l_orderkey", "max").alias("max_orderkey"),
        mm("l_quantity", "min").alias("min_qty"),
        mm("l_quantity", "max").alias("max_qty"),
        mm("l_extendedprice", "min").alias("min_price"),
        mm("l_extendedprice", "max").alias("max_price"),
    )


def _footer_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-only aggregates (round 4): export lineitem as real
    parquet through OUR writer, then answer min/max/count from FOOTER
    BYTES ALONE — pqreader.footer_aggregates never decodes a data
    page (the metadata-scan analog of the reference's
    ColumnChunk.Statistics walk, file.go footer path). String bounds
    count because the writer records is_min/max_value_exact
    (Statistics fields 7/8) when truncation did not occur. The oracle
    computes the identical aggregates by scanning the source table —
    value equality proves the footer stats ARE the scan answers."""
    from parquet_go_spark.interop import pqreader

    df = _load(spark, sf_dir, "lineitem")
    out = tempfile.mkdtemp(prefix="colcodec_footeragg_")
    interop_export.export_parquet(
        spark, df, out, repo_col="l_returnflag",
        salt_cols=["l_orderkey"], target_chunk_bytes=1 << 20,
    )
    agg = pqreader.spark_footer_aggregates(spark, out)
    a, c = agg["columns"], agg["rows"]
    row = (
        a["l_orderkey"]["min"], a["l_orderkey"]["max"],
        a["l_orderkey"]["count"],
        a["l_extendedprice"]["min"], a["l_extendedprice"]["max"],
        a["l_extendedprice"]["count"],
        a["l_returnflag"]["min"], a["l_returnflag"]["max"],
        a["l_returnflag"]["count"], c,
    )
    return spark.createDataFrame(
        [row],
        "min_okey bigint, max_okey bigint, cnt_okey bigint, "
        "min_price double, max_price double, cnt_price bigint, "
        "min_rflag string, max_rflag string, cnt_rflag bigint, "
        "n_rows bigint",
    )


def _bloom_point_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup: chunks whose o_custkey bloom refutes 7 are skipped."""
    out = _encode_fresh(spark, sf_dir, "orders")
    return _pruned_read(spark, out, F.col("o_custkey") == 7,
                        "o_orderkey", "o_custkey", "o_totalprice")


def _prune_decode_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range read: chunks whose o_orderkey min/max miss [100, 5000] are
    skipped."""
    out = _encode_fresh(spark, sf_dir, "orders")
    return _pruned_read(spark, out, F.col("o_orderkey").between(100, 5000),
                        "o_orderkey", "o_custkey", "o_totalprice")


def _range_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound range layout end-to-end (round 3): encode under
    layout='range' with compound sort keys (o_orderstatus, o_orderkey) —
    the SortingColumns analog (sorting.go:23-127, config.go:411) — then
    a pruned read on the SECONDARY key. Each group's rows are sorted by
    (status, orderkey) and cut by size, so its chunks hold disjoint
    o_orderkey sub-ranges within each status range, and the manifest
    min/max prune skips chunks a hash layout must read."""
    df = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey", "o_totalprice",
        (F.col("o_orderkey") % 4).cast("string").alias("grp"),
    )
    out = tempfile.mkdtemp(prefix="colcodec_rangeprune_")
    pipeline.encode_table(
        spark, df, out, repo_col="grp", salt_cols=["o_orderkey"],
        sort_cols=["o_orderstatus", "o_orderkey"], layout="range",
        target_chunk_bytes=256 << 10, resume=False,
    )
    return _pruned_read(spark, out, F.col("o_orderkey").between(100, 5000),
                        "o_orderkey", "o_orderstatus", "o_totalprice")


def _cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.cosine_topk(emb, "embedding", "vec_id", list(qv), k=10)


def _knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.knn_join(
        emb, "embedding", "vec_id", queries, "embedding", "vec_id", k=5
    )


def _lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_pairs(
        emb, "embedding", "vec_id", n_planes=8, min_sim=0.1
    )


def _lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-style multi-probe LSH ANN: exact cosine only inside the
    query's flip-1 sketch buckets (narrow scan + IN-filter + top-k heap
    — no join or corpus shuffle)."""
    emb = _load(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.lsh_ann_topk(
        emb, "embedding", "vec_id", [float(x) for x in qv],
        n_planes=8, k=10, n_flip=1,
    )


def _ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbours: seeded centroid cells, probe
    the n_probe nearest, brute-force only inside them (assignment is one
    codegen'd array_max over centroid literals — no explode/shuffle)."""
    emb = _load(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.ivf_ann_topk(
        emb, "embedding", "vec_id", [float(x) for x in qv],
        n_cells=16, n_probe=4, k=10,
    )


def _compact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two disjoint encodes → compact (verbatim splice + small-chunk
    re-encode) → decode equals the original table (merge.go:25 analog)."""
    import tempfile

    o = _load(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="colcodec_compact_")
    spec = _ENCODE_SPECS["orders"]
    for i, part in enumerate(
        (o.where(F.col("o_orderkey") % 2 == 0), o.where(F.col("o_orderkey") % 2 == 1))
    ):
        pipeline.encode_table(spark, part, f"{base}/in{i}", resume=False, **spec)
    pipeline.compact_tables(
        spark, [f"{base}/in0", f"{base}/in1"], f"{base}/out",
        repo_col=spec["repo_col"], salt_cols=spec["salt_cols"],
        sort_cols=spec["sort_cols"],
    )
    return _fmt_ts(pipeline.decode_table(spark, f"{base}/out"), "o_orderdate")


def _merge_dedupe_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeRowGroups analog: overlapping unions, then dedupe (merge.go:25)."""
    o = _load(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderkey") % 2 == 0)
    b = o.where(F.col("o_orderkey") % 3 == 0)
    merged = a.unionByName(b).dropDuplicates(["o_orderkey"])
    return _fmt_ts(merged, "o_orderdate")


def _consecutive_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    return dedup.consecutive_dedupe(li, ["l_returnflag", "l_linestatus"])


def _convert_schema_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution Convert analog (convert.go:370): reorder, drop,
    widen, stringify."""
    o = _load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("string").alias("okey_str"),
        F.col("o_custkey").cast("double").alias("ckey_d"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_dec"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate_str"),
    )


def _topk_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k scan (ScanRowReader/limit analog) with deterministic ties.

    orderBy().limit(k) plans as TakeOrderedAndProject — a distributed
    partial top-k (per-task k-row heap), not a single-partition global
    sort; the rank window then runs over only the k survivors."""
    from pyspark.sql import Window

    li = _load(spark, sf_dir, "lineitem")
    order = [
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    ]
    top = (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(*order).limit(100)
    )
    w = Window.orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode lineitem+documents at sf0.001, return the codec
    decision summary per column (what the selector chose + ratios)."""
    sf_dir = "/root/testdata/sf0.001"
    rows = []
    for name in ("lineitem", "documents"):
        out = _encode_fresh(spark, sf_dir, name)
        m = pipeline.manifest(spark, out)
        rows.append(
            m.groupBy("column", "codec", "dict")
            .agg(
                F.sum("raw_bytes").alias("raw_bytes"),
                F.sum("enc_bytes").alias("enc_bytes"),
                F.sum("n_rows").alias("n_rows"),
            )
            .withColumn("table", F.lit(name))
        )
    out_df = rows[0].unionByName(rows[1])
    return out_df.select(
        "table", "column", "codec", "dict", "n_rows", "raw_bytes", "enc_bytes",
        F.round(F.col("raw_bytes") / F.col("enc_bytes"), 3).alias("ratio"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """≤50 entries by contract: the driver's correctness gate records
    only the first 50 queries (VERDICT r3 #1), so redundant shapes are
    FOLDED (part/customer/events → rt_pipeline_multi, tags/props →
    rt_pipeline_lists, interop map/struct → parquet_interop_complex,
    the four text queries → text_analysis_documents) rather than listed
    individually — every operator family keeps a green row. Dropped as
    queries (still pytest-covered): rt_pipeline_orders (orders round
    trips via interop/datasource/compact), simhash_documents (subsumed
    by simhash_pairs)."""
    li_flag = lambda df: df.select((F.col("l_quantity") > 25).alias("flag"))  # noqa: E731
    return {
        # ---- pipeline round trips (encode→manifest→decode), per shape ----
        "rt_pipeline_lineitem": _rt_pipeline("lineitem", ("l_shipdate",)),
        "rt_pipeline_documents": _rt_pipeline("documents"),
        "rt_pipeline_multi": _rt_multi,
        "rt_pipeline_embeddings": _rt_embeddings,
        "rt_pipeline_nullable": _rt_nullable,
        "rt_pipeline_decimal": _rt_decimal,
        "rt_pipeline_lists": _rt_lists,
        "rt_pipeline_struct": _rt_struct,
        "rt_pipeline_map": _rt_map,
        "rt_pipeline_uuid": _rt_uuid,
        "rt_pipeline_nested": _rt_nested,
        "rt_pipeline_variant": _rt_variant,
        # ---- forced-codec round trips (E1..E10) ----
        "rt_plain_part_name": _codec_rt("part", "p_name", Codec.PLAIN),
        "rt_rle_dict_returnflag": _codec_rt(
            "lineitem", "l_returnflag", Codec.PLAIN, dict_wrap=True
        ),
        "rt_delta_bp_orderkey": _codec_rt(
            "orders", "o_orderkey", Codec.DELTA_BINARY_PACKED
        ),
        "rt_delta_length_text": _codec_rt(
            "documents", "text", Codec.DELTA_LENGTH_BYTE_ARRAY
        ),
        "rt_delta_byte_array_ptype": _codec_rt(
            "part", "p_type", Codec.DELTA_BYTE_ARRAY, sort_within=True
        ),
        "rt_bss_price": _codec_rt(
            "lineitem", "l_extendedprice", Codec.BYTE_STREAM_SPLIT
        ),
        "rt_fsst_text": _codec_rt("documents", "text", Codec.FSST),
        "rt_rle_boolean": _codec_rt(
            "lineitem", "flag", Codec.RLE, derive=li_flag
        ),
        # ---- parquet write-direction interop + data source ----
        "parquet_interop_orders": _parquet_interop_orders,
        "parquet_interop_embeddings": _parquet_interop_embeddings,
        "parquet_interop_complex": _parquet_interop_complex,
        "parquet_read_golden": _parquet_read_golden,
        "parquet_bloom_point_orders": _parquet_bloom_point_orders,
        "datasource_read_orders": _datasource_read_orders,
        "datasource_write_orders": _datasource_write_orders,
        "compact_export_documents": _compact_export_documents,
        # ---- manifest statistics + pruning ----
        "stats_minmax_lineitem": _stats_minmax_lineitem,
        "level_hist_props": _level_hist_props,
        "footer_agg_lineitem": _footer_agg_lineitem,
        "prune_decode_orders": _prune_decode_orders,
        "range_prune_orders": _range_prune_orders,
        "bloom_point_orders": _bloom_point_orders,
        # ---- dedup ----
        "dedup_exact_documents": lambda spark, sf: dedup.exact_dedup(
            _load(spark, sf, "documents"), "doc_id", "text"
        ),
        "ngram_jaccard_documents": lambda spark, sf: dedup.ngram_jaccard_pairs(
            _load(spark, sf, "documents"), "doc_id", "text", n=3, threshold=0.8
        ),
        "minhash_pairs_documents": lambda spark, sf: dedup.minhash_dedup_pairs(
            _load(spark, sf, "documents"), "doc_id", "text", threshold=0.8
        ),
        "simhash_pairs_documents": lambda spark, sf: dedup.simhash_near_pairs(
            dedup.simhash(_load(spark, sf, "documents"), "doc_id", "text"),
            max_hamming=8,
        ),
        "consecutive_dedupe_lineitem": _consecutive_dedupe,
        # ---- text analysis (token/quality/langid/fingerprint fold) ----
        "text_analysis_documents": _text_analysis,
        # ---- similarity search ----
        "cosine_topk_embeddings": _cosine_topk,
        "knn_join_embeddings": _knn_join,
        "lsh_ann_embeddings": _lsh_ann,
        "ivf_ann_embeddings": _ivf_ann,
        "lsh_ann_topk_embeddings": _lsh_ann_topk,
        # ---- multimodal plumbing ----
        "multimodal_meta_documents": lambda spark, sf: multimodal.media_metadata(
            _load(spark, sf, "documents").select(
                "doc_id", F.col("text").cast("binary").alias("payload")
            ),
            "doc_id", "payload",
        ),
        # ---- row reshaping / merge / scan ----
        "convert_schema_orders": _convert_schema_orders,
        "merge_dedupe_orders": _merge_dedupe_orders,
        "compact_orders": _compact_orders,
        "topk_lineitem": _topk_lineitem,
    }


def oracle_sql() -> dict[str, str]:
    li_cols = (
        "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
        "strftime(l_shipdate, '{f}') AS l_shipdate"
    ).format(f=TS_FMT_DUCK)
    o_cols = (
        "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "strftime(o_orderdate, '{f}') AS o_orderdate, o_orderpriority"
    ).format(f=TS_FMT_DUCK)

    grams_cte = (
        "WITH grams AS ("
        " SELECT doc_id AS id, unnest(list_distinct("
        "  [substr(text, CAST(i AS INT), 3) for i in range(1, length(text) - 1)]"
        " )) AS g FROM documents WHERE length(text) >= 3), "
        "sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id), "
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i "
        " FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id GROUP BY 1, 2) "
    )

    stop_en = text.sql_stop_hits("text", text.STOPWORDS_EN)
    stop_de = text.sql_stop_hits("text", text.STOPWORDS_DE)
    stop_fr = text.sql_stop_hits("text", text.STOPWORDS_FR)
    stop_es = text.sql_stop_hits("text", text.STOPWORDS_ES)
    ntok = text.sql_tokens("text")

    r6 = lambda x: f"floor(({x}) * 1e6 + 0.5) / 1e6"  # noqa: E731
    alpha_x = ("(length(text) - length(regexp_replace(text, '[A-Za-z]', "
               "'', 'g'))) * 1.0 / greatest(length(text), 1)")
    digit_x = ("(length(text) - length(regexp_replace(text, '[0-9]', "
               "'', 'g'))) * 1.0 / greatest(length(text), 1)")
    punct_x = ("(length(text) - length(regexp_replace(text, '[^" + "\\" + "w"
               + "\\" + "s]', '', 'g'))) * 1.0 / greatest(length(text), 1)")
    stop_x = f"{stop_en} * 1.0 / greatest({ntok}, 1)"
    avg_x = f"(length(text) - {ntok} + 1) * 1.0 / greatest({ntok}, 1)"
    token_stats = f"""
        SELECT doc_id,
          {ntok} AS n_tokens,
          {r6(alpha_x)} AS alpha_ratio,
          {r6(digit_x)} AS digit_ratio,
          {r6(punct_x)} AS punct_ratio,
          {r6(stop_x)} AS stopword_ratio,
          {r6(avg_x)} AS avg_token_len
        FROM documents
    """


    langid = f"""
        SELECT doc_id, CASE
          WHEN greatest({stop_en}, {stop_de}, {stop_fr}, {stop_es}) = 0 THEN 'und'
          WHEN {stop_en} >= greatest({stop_de}, {stop_fr}, {stop_es}) THEN 'en'
          WHEN {stop_de} >= greatest({stop_fr}, {stop_es}) THEN 'de'
          WHEN {stop_fr} >= {stop_es} THEN 'fr'
          ELSE 'es' END AS pred_lang
        FROM documents
    """

    cosine_topk = """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0),
        sims AS (SELECT vec_id AS nn_id,
          list_dot_product(CAST(embedding AS DOUBLE[]), qv)
          / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])))
             * sqrt(list_dot_product(qv, qv))) AS sim
          FROM embeddings, q)
        SELECT row_number() OVER (ORDER BY sim DESC, nn_id) AS rank,
               nn_id, floor(sim * 1e4 + 0.5) / 1e4 AS sim4
        FROM sims QUALIFY rank <= 10
    """

    knn_join = """
        WITH sims AS (SELECT q.vec_id AS q_id, e.vec_id AS nn_id,
          list_dot_product(CAST(e.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[]))
          / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(e.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                     CAST(q.embedding AS DOUBLE[])))) AS sim
          FROM embeddings e, embeddings q WHERE q.vec_id < 5)
        SELECT q_id,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nn_id)
                 AS rank,
               nn_id, floor(sim * 1e4 + 0.5) / 1e4 AS sim4
        FROM sims QUALIFY rank <= 5
    """

    return {
        "rt_pipeline_lineitem": f"SELECT {li_cols} FROM lineitem",
        "rt_pipeline_documents": "SELECT * FROM documents",
        "rt_pipeline_multi": (
            "SELECT 'part' AS tbl, p_partkey AS k, "
            "concat_ws('|', p_name, p_brand, p_type) AS s, "
            "CAST(p_size AS BIGINT) AS i, p_retailprice AS d, "
            "CAST(NULL AS VARCHAR) AS ts_s FROM part "
            "UNION ALL SELECT 'customer', c_custkey, "
            "concat_ws('|', c_name, c_mktsegment), "
            "CAST(c_nationkey AS BIGINT), c_acctbal, NULL FROM customer "
            "UNION ALL SELECT 'events', event_id, "
            "concat_ws('|', event_type, props), user_id, value, "
            "strftime(ts, '{f}') FROM events"
        ).format(f=TS_FMT_DUCK),
        "rt_pipeline_embeddings": (
            "SELECT vec_id, label, len(embedding) AS dim, "
            "floor(list_sum(CAST(embedding AS DOUBLE[])) * 1e3 + 0.5) / 1e3 AS checksum "
            "FROM embeddings"
        ),
        "rt_pipeline_nullable": (
            "SELECT o_orderkey, CAST(o_orderkey % 10 AS VARCHAR) AS grp, "
            "CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END "
            "AS status_n, "
            "CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey END "
            "AS custkey_n, "
            "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END "
            "AS price_n FROM orders"
        ),
        "rt_pipeline_decimal": (
            "SELECT o_orderkey, CAST(o_orderkey % 10 AS VARCHAR) AS grp, "
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price, "
            "CAST(CAST(o_custkey % 1000 AS DECIMAL(7,0)) AS VARCHAR) "
            "AS ckey_small, "
            "CAST(CAST(CAST(o_orderkey AS VARCHAR) || "
            "'000000000000000000.25' AS DECIMAL(38,2)) AS VARCHAR) "
            "AS price_big FROM orders"
        ),
        "rt_pipeline_lists": (
            "SELECT doc_id, source, "
            "array_to_string(list_slice(string_split(text, ' '), 1, 5), "
            "chr(31)) AS tags_joined, "
            "least(len(string_split(text, ' ')), 5) AS n_tags, "
            "least(len(string_split(text, ' ')), 5) AS n_elems, "
            "array_to_string(list_slice(string_split(text, ' '), 1, 5), "
            "chr(31)) AS ws_joined, "
            "CAST(coalesce(list_sum(list_transform("
            "list_slice(string_split(text, ' '), 1, 5), "
            "x -> CASE WHEN length(x) % 3 = 0 THEN 0 ELSE length(x) END)), "
            "0) AS BIGINT) AS n_sum FROM documents"
        ),
        "rt_pipeline_map": (
            "SELECT o_orderkey, CAST(o_orderkey % 10 AS VARCHAR) AS grp, "
            "o_orderstatus AS status, "
            "CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority "
            "END AS prio, 2 AS n_entries FROM orders"
        ),
        "rt_pipeline_struct": (
            "SELECT o_orderkey, o_orderstatus AS status, "
            "CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_custkey END AS ckey, "
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price "
            "FROM orders"
        ),
        "rt_pipeline_uuid": (
            "SELECT o_orderkey, CAST(o_orderkey % 10 AS VARCHAR) AS grp, "
            "upper(md5('k' || CAST(o_orderkey AS VARCHAR))) AS uuid_hex "
            "FROM orders"
        ),
        "rt_pipeline_nested": (
            "SELECT o_orderkey, "
            "CAST(o_orderkey % 100 AS INTEGER) AS ax, "
            "CASE WHEN o_orderkey % 5 = 0 THEN NULL "
            "ELSE substring(o_orderpriority, 1, 8) END AS ay, "
            "CAST(CASE WHEN o_orderkey % 11 = 0 THEN 0 "
            "ELSE o_orderkey % 4 + 1 END AS INTEGER) AS n_arr, "
            "CAST(CASE WHEN o_orderkey % 11 = 0 THEN 0 "
            "ELSE ((o_orderkey % 4 + 1) * (o_orderkey % 4 + 2)) // 2 "
            "END AS BIGINT) AS arr_sum, "
            "o_orderpriority || ',' || o_orderstatus AS p_joined, "
            "0 AS e_n FROM orders"
        ),
        "rt_pipeline_variant": (
            "SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS a, "
            "o_orderstatus AS b, CAST(o_orderkey % 97 AS VARCHAR) AS c, "
            "CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority "
            "END AS d FROM orders"
        ),
        "rt_plain_part_name": "SELECT p_name FROM part",
        "rt_rle_dict_returnflag": "SELECT l_returnflag FROM lineitem",
        "rt_delta_bp_orderkey": "SELECT o_orderkey FROM orders",
        "rt_delta_length_text": "SELECT text FROM documents",
        "rt_delta_byte_array_ptype": "SELECT p_type FROM part",
        "rt_bss_price": "SELECT l_extendedprice FROM lineitem",
        "rt_fsst_text": "SELECT text FROM documents",
        "rt_rle_boolean": "SELECT (l_quantity > 25) AS flag FROM lineitem",
        "stats_minmax_lineitem": (
            "SELECT CAST(min(l_orderkey) AS DOUBLE) AS min_orderkey, "
            "CAST(max(l_orderkey) AS DOUBLE) AS max_orderkey, "
            "CAST(min(l_quantity) AS DOUBLE) AS min_qty, "
            "CAST(max(l_quantity) AS DOUBLE) AS max_qty, "
            "CAST(min(l_extendedprice) AS DOUBLE) AS min_price, "
            "CAST(max(l_extendedprice) AS DOUBLE) AS max_price FROM lineitem"
        ),
        "parquet_interop_orders": f"SELECT {o_cols} FROM orders",
        "parquet_interop_embeddings": (
            "SELECT vec_id, label, len(embedding) AS dim, "
            "floor(list_sum(CAST(embedding AS DOUBLE[])) * 1e3 + 0.5) / 1e3 AS checksum "
            "FROM embeddings"
        ),
        "parquet_interop_complex": (
            "SELECT o_orderkey, CAST(o_orderkey % 10 AS VARCHAR) AS grp, "
            "o_orderstatus AS m_status, "
            "CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority "
            "END AS m_prio, 2 AS n_entries, "
            "o_orderstatus AS s_status, "
            "CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_custkey "
            "END AS s_ckey, o_totalprice AS s_price, "
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) "
            "AS price_dec, "
            "CAST(CAST(CAST(o_orderkey AS VARCHAR) || "
            "'000000000000000000.25' AS DECIMAL(38,2)) AS VARCHAR) "
            "AS big_dec FROM orders"
        ),
        "parquet_read_golden": (
            f"SELECT {o_cols} FROM orders WHERE o_totalprice > 300000.0"
        ),
        "datasource_write_orders": f"SELECT {o_cols} FROM orders",
        "datasource_read_orders": (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
            "FROM orders WHERE o_custkey = 7"
        ),
        "parquet_bloom_point_orders": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE o_custkey = 7"
        ),
        "compact_export_documents": (
            "SELECT doc_id, text, lang, source, n_chars FROM documents"
        ),
        "level_hist_props": (
            "WITH s AS (SELECT least(len(string_split(text, ' ')), 5) AS L, "
            "list_transform(list_slice(string_split(text, ' '), 1, 5), "
            "x -> length(x)) AS lens FROM documents), "
            "agg AS (SELECT count(*) AS n, CAST(sum(L) AS BIGINT) AS c1, "
            "CAST(sum(CASE WHEN L > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ne, "
            "CAST(sum(CASE WHEN L = 0 THEN 1 ELSE 0 END) AS BIGINT) AS emp, "
            "CAST(sum(len(list_filter(lens, x -> x % 3 = 0))) AS BIGINT) "
            "AS nulls FROM s) "
            "SELECT 'f:w' AS stream, "
            "CAST(emp AS VARCHAR) || ',0,' || CAST(c1 AS VARCHAR) "
            "AS def_hist, "
            "CAST(n AS VARCHAR) || ',' || CAST(c1 - ne AS VARCHAR) "
            "AS rep_hist FROM agg "
            "UNION ALL SELECT 'f:n', "
            "CAST(emp AS VARCHAR) || ',' || CAST(nulls AS VARCHAR) || ',' "
            "|| CAST(c1 - nulls AS VARCHAR), "
            "CAST(n AS VARCHAR) || ',' || CAST(c1 - ne AS VARCHAR) FROM agg"
        ),
        "footer_agg_lineitem": (
            "SELECT min(l_orderkey) AS min_okey, max(l_orderkey) AS "
            "max_okey, count(l_orderkey) AS cnt_okey, "
            "min(l_extendedprice) AS min_price, max(l_extendedprice) AS "
            "max_price, count(l_extendedprice) AS cnt_price, "
            "min(l_returnflag) AS min_rflag, max(l_returnflag) AS "
            "max_rflag, count(l_returnflag) AS cnt_rflag, "
            "count(*) AS n_rows FROM lineitem"
        ),
        "prune_decode_orders": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE o_orderkey BETWEEN 100 AND 5000"
        ),
        "range_prune_orders": (
            "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
            "WHERE o_orderkey BETWEEN 100 AND 5000"
        ),
        "bloom_point_orders": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE o_custkey = 7"
        ),
        "dedup_exact_documents": (
            "SELECT sha256(text) AS digest, min(doc_id) AS keep_id, "
            "count(*) AS dup_count FROM documents GROUP BY 1"
        ),
        "ngram_jaccard_documents": grams_cte + (
            "SELECT id_a, id_b, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard "
            "FROM inter JOIN sizes sa ON id_a = sa.id "
            "JOIN sizes sb ON id_b = sb.id "
            "WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.8"
        ),
        "text_analysis_documents": f"""
            WITH s AS ({token_stats})
            SELECT s.doc_id, n_tokens, alpha_ratio, digit_ratio,
              punct_ratio, stopword_ratio, avg_token_len,
              floor((
                  0.4 * least(n_tokens / 100.0, 1.0)
                + 0.3 * alpha_ratio
                + 0.2 * stopword_ratio
                + 0.1 * (1 - least(digit_ratio * 5, 1.0))) * 1e6 + 0.5)
                / 1e6 AS quality,
              l.pred_lang, f.fp_md5, f.fp_sha256, f.fp_len
            FROM s
            JOIN ({langid}) l ON s.doc_id = l.doc_id
            JOIN (SELECT doc_id, md5(text) AS fp_md5,
                         sha256(text) AS fp_sha256,
                         length(text) AS fp_len FROM documents) f
              ON s.doc_id = f.doc_id
        """,
        "cosine_topk_embeddings": cosine_topk,
        "knn_join_embeddings": knn_join,
        "multimodal_meta_documents": (
            "SELECT doc_id AS media_id, strlen(text) AS n_bytes, "
            "sha256(text) AS digest FROM documents"
        ),
        "convert_schema_orders": (
            "SELECT CAST(o_orderkey AS VARCHAR) AS okey_str, "
            "CAST(o_custkey AS DOUBLE) AS ckey_d, "
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_dec, "
            "strftime(o_orderdate, '%Y-%m-%d') AS odate_str FROM orders"
        ),
        "merge_dedupe_orders": (
            f"SELECT {o_cols} FROM orders "
            "WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0"
        ),
        "lsh_ann_embeddings": similarity.sql_lsh_ann_pairs(
            "embeddings", "embedding", "vec_id", n_planes=8, min_sim=0.1
        ),
        "ivf_ann_embeddings": similarity.sql_ivf_ann_topk(
            "embeddings", "embedding", "vec_id",
            query_id=0, n_cells=16, n_probe=4, k=10,
        ),
        "lsh_ann_topk_embeddings": similarity.sql_lsh_ann_topk(
            "embeddings", "embedding", "vec_id",
            query_id=0, n_planes=8, k=10, n_flip=1,
        ),
        "consecutive_dedupe_lineitem": (
            "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"
        ),
        "compact_orders": f"SELECT {o_cols} FROM orders",
        "topk_lineitem": (
            "SELECT row_number() OVER (ORDER BY l_extendedprice DESC, "
            "l_orderkey, l_linenumber) AS rank, l_orderkey, l_linenumber, "
            "l_extendedprice FROM lineitem QUALIFY rank <= 100"
        ),
        # minhash_pairs / simhash* / lsh_ann are hash-construction-
        # specific → rows-only checks (no portable SQL).
    }
