"""One codec decision per (column, stream) per encode task: the FSST
symbol table and the last full trial's winner carry across the task's
chunks of a column (repos included), guarded by one drift bound; and
encode_table's summary is read in process, equal to a Spark
aggregation of the manifest."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark.codecs import chunk as chunklib
from parquet_go_spark.codecs import fsst, selector
from parquet_go_spark.codecs.bytearrays import ByteArrays
from parquet_go_spark.codecs.kinds import Codec, Kind
from parquet_go_spark.plans import pipeline


def _code(n, start=0):
    # repetitive code-like text where FSST wins the trial
    return [
        f"def handler_{i % 97}(request, response):\n"
        f"    return self.registry.lookup('route_{i % 31}')\n".encode()
        for i in range(start, start + n)
    ]


def _hex(n):
    return [hashlib.sha256(str(i).encode()).hexdigest().encode() * 2
            for i in range(n)]


@pytest.fixture
def train_calls(monkeypatch):
    calls = {"n": 0}
    real = fsst.train

    def counting(data, generations=fsst.GENERATIONS):
        calls["n"] += 1
        return real(data, generations)

    monkeypatch.setattr(selector.fsst, "train", counting)
    return calls


def test_three_repos_one_column_train_fsst_once(train_calls):
    repos = [f"org{r}/repo{r}" for r in range(3) for _ in range(400)]
    text = _code(1200)
    batch = pa.RecordBatch.from_pydict({
        "content": pa.array(text, pa.string()),
        "__repo": pa.array(repos),
        "__bucket": pa.array(np.zeros(len(repos), np.int32)),
    })
    fn = pipeline._encode_stream_fn([("content", "string")], None)
    out = pa.Table.from_batches(list(fn(iter([batch]))))
    assert out.num_rows == 3  # one chunk per repo
    assert train_calls["n"] == 1  # the later repos reused the table
    assert set(out.column("codec").to_pylist()) == {Codec.FSST}
    got = []
    for blob in out.column("blob").to_pylist():
        vals, _ = chunklib.decode_chunk(blob)
        got.extend(vals.to_pylist())
    assert sorted(got) == sorted(text)


def test_like_chunk_takes_sticky_path():
    state: dict = {}
    first = ByteArrays.from_pylist(_code(400))
    blob1, info1 = selector.select_and_encode(first, Kind.BYTE_ARRAY,
                                              fsst_state=state)
    assert info1["trials"]
    assert state["winner"][:2] == (info1["codec"], info1["dict"])
    second = ByteArrays.from_pylist(_code(400, start=400))
    blob2, info2 = selector.select_and_encode(second, Kind.BYTE_ARRAY,
                                              fsst_state=state)
    assert info2["trials"] == {}  # one encode with the recorded winner
    assert (info2["codec"], info2["dict"]) == (info1["codec"], info1["dict"])
    assert info2["enc_bytes"] == len(blob2)
    out, _ = chunklib.decode_chunk(blob2)
    assert out.to_pylist() == second.to_pylist()
    # the reused decision stays within the drift bound of a fresh one
    fresh, _ = selector.select_and_encode(second, Kind.BYTE_ARRAY)
    assert len(blob2) <= selector.FSST_RETRAIN_FACTOR * len(fresh)


def test_drifted_chunk_runs_full_trial_again(train_calls):
    state: dict = {}
    selector.select_and_encode(ByteArrays.from_pylist(_code(400)),
                               Kind.BYTE_ARRAY, fsst_state=state)
    assert state["winner"][0] == Codec.FSST
    assert train_calls["n"] == 1
    drifted = ByteArrays.from_pylist(_hex(600))
    blob, info = selector.select_and_encode(drifted, Kind.BYTE_ARRAY,
                                            fsst_state=state)
    assert info["trials"]  # the code-trained winner failed the bound
    assert state["winner"][:2] == (info["codec"], info["dict"])
    out, _ = chunklib.decode_chunk(blob)
    assert out.to_pylist() == drifted.to_pylist()


def test_binary_ragged_and_flba_chunks_never_share_a_winner(monkeypatch):
    """A binary column whose chunks alternate ragged and uniform width
    encodes them as BYTE_ARRAY and FLBA: a winner recorded on one kind
    is never reused by a chunk of the other."""
    rng = np.random.default_rng(0)
    seen = []
    real = selector.select_and_encode

    def spy(values, kind, **kw):
        before = kw["fsst_state"].get("kind")
        blob, info = real(values, kind, **kw)
        seen.append((kind, before, info["trials"] == {}))
        return blob, info

    monkeypatch.setattr(selector, "select_and_encode", spy)
    ragged = lambda: ByteArrays.from_pylist(  # noqa: E731
        [rng.bytes(int(k)) for k in rng.integers(4, 40, 300)])
    uniform = lambda: ByteArrays.from_pylist(  # noqa: E731
        [rng.bytes(16) for _ in range(300)])
    cache: dict = {}
    chunks = [ragged(), ragged(), uniform(), uniform(), ragged()]
    for i, vals in enumerate(chunks):
        base = {"chunk_id": f"r#{i}", "repo": "r", "bucket": i,
                "n_rows": len(vals), "column": "b"}
        rec = pipeline._encode_one(vals, Kind.BYTE_ARRAY, "binary", None,
                                   base, fsst_cache=cache)
        out, _ = chunklib.decode_chunk(rec["blob"])
        if isinstance(out, np.ndarray):
            out = pipeline._flba_to_byte_values(out)
        assert out.to_pylist() == vals.to_pylist()
    kinds = [k for k, _, _ in seen]
    assert kinds == [Kind.BYTE_ARRAY, Kind.BYTE_ARRAY,
                     Kind.FIXED_LEN_BYTE_ARRAY, Kind.FIXED_LEN_BYTE_ARRAY,
                     Kind.BYTE_ARRAY]
    for kind, before, sticky in seen:
        assert not sticky or before == kind
    # reuse holds within a kind and stops at each kind change
    assert [s for _, _, s in seen] == [False, True, False, True, False]


# ---------------------------------------------------------------------------
# encode_table's summary: an in-process read of the manifest columns must
# equal the Spark aggregation it replaced
# ---------------------------------------------------------------------------

def _spark_summary(spark, store):
    import pyspark.sql.functions as F  # noqa: N812

    agg = pipeline.manifest(spark, store).agg(
        F.countDistinct("chunk_id").alias("chunks"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
    ).collect()[0]
    return {
        "chunks": agg["chunks"],
        "raw_bytes": agg["raw_bytes"],
        "enc_bytes": agg["enc_bytes"],
        "ratio": (agg["raw_bytes"] or 0) / max(agg["enc_bytes"] or 1, 1),
    }


def _summary(res):
    return {k: res[k] for k in ("chunks", "raw_bytes", "enc_bytes", "ratio")}


def test_encode_table_summary_equals_spark_aggregation(spark, tmp_path):
    import os

    import pyspark.sql.functions as F  # noqa: N812

    from parquet_go_spark.sources.repogen import repos_table

    df = repos_table(spark, 6000, seed=3, n_repos=12, partitions=4)
    store = str(tmp_path / "store")
    # fresh range store
    res = pipeline.encode_table(spark, df, store, layout="range",
                                sort_cols=["path"], resume=False,
                                target_chunk_bytes=256 << 10)
    assert res["chunks"] > 1 and res["skipped_chunks"] == 0
    assert _summary(res) == _spark_summary(spark, store)

    # resumed store: half the repos first, then the whole input
    half = str(tmp_path / "half")
    repos = sorted(r.repo for r in df.select("repo").distinct().collect())
    pipeline.encode_table(spark, df.where(F.col("repo").isin(repos[:6])),
                          half, layout="range", sort_cols=["path"],
                          target_chunk_bytes=256 << 10)
    res = pipeline.encode_table(spark, df, half, layout="range",
                                sort_cols=["path"],
                                target_chunk_bytes=256 << 10)
    assert res["skipped_chunks"] > 0
    assert not os.path.exists(os.path.join(half, "_bounds"))
    assert _summary(res) == _spark_summary(spark, half)

    # a resume that encodes nothing: everything skipped
    again = pipeline.encode_table(spark, df, half, layout="range",
                                  sort_cols=["path"],
                                  target_chunk_bytes=256 << 10)
    assert again["skipped_chunks"] > res["skipped_chunks"]
    assert _summary(again) == _summary(res) == _spark_summary(spark, half)


def test_encode_table_summary_of_empty_input(spark, tmp_path):
    from parquet_go_spark.sources.repogen import repos_table

    df = repos_table(spark, 100, seed=3, n_repos=4).limit(0)
    store = str(tmp_path / "empty")
    res = pipeline.encode_table(spark, df, store, resume=False)
    want = {"chunks": 0, "raw_bytes": None, "enc_bytes": None, "ratio": 0.0}
    assert _summary(res) == want == _spark_summary(spark, store)
    assert res["skipped_chunks"] == 0
