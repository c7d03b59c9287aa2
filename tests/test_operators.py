"""Training-data operator tests: dedup, text analysis, similarity,
multimodal plumbing — small-scale semantic checks with plain-Python
reference implementations."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from parquet_go_spark.operators import dedup, multimodal, similarity, text

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _py_ngrams(s: str, n: int = 3) -> set[str]:
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def test_exact_dedup(spark, docs):
    out = {r["digest"]: r for r in dedup.exact_dedup(docs, "doc_id", "text").collect()}
    dup = hashlib.sha256(DOCS[0][1].encode()).hexdigest()
    assert out[dup]["keep_id"] == 0 and out[dup]["dup_count"] == 2
    assert len(out) == 4  # 5 docs, one exact dup


def test_ngram_jaccard_exact_values(spark, docs):
    rows = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    a, b = _py_ngrams(DOCS[0][1]), _py_ngrams(DOCS[1][1])
    expect = round(len(a & b) / len(a | b), 6)
    assert got[(0, 1)] == expect
    assert got[(0, 3)] == 1.0  # identical docs
    assert (0, 2) not in got  # unrelated


def test_minhash_finds_near_dups(spark, docs):
    rows = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.5
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert (0, 3) in pairs  # identical always collides
    # verified jaccard equals the exact value
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert j[(0, 3)] == 1.0


def test_simhash_identical_and_near(spark, docs):
    sk = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert sk[0] == sk[3]
    ham01 = bin((sk[0] ^ sk[1]) & (2**64 - 1)).count("1")
    ham02 = bin((sk[0] ^ sk[2]) & (2**64 - 1)).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated


def test_token_stats_and_quality(spark, docs):
    d = text.quality_score(docs).collect()
    by_id = {r["doc_id"]: r for r in d}
    assert by_id[0]["n_tokens"] == 9
    assert by_id[4]["n_tokens"] == 0
    assert 0.0 <= by_id[0]["quality"] <= 1.0
    assert by_id[0]["stopword_ratio"] > by_id[2]["stopword_ratio"]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is in the house and it is warm"),
            (1, "der hund ist nicht in das haus und die katze"),
            (2, "le chat est dans la maison et les chiens"),
            (3, "el perro es una mascota y los gatos con el"),
            (4, "xyzzy plugh"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_cosine_topk_exact(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    rows = similarity.cosine_topk(df, "embedding", "vec_id", [1.0, 0.0, 0.0], k=2).collect()
    assert [r["nn_id"] for r in rows] == [0, 1]
    assert rows[0]["sim4"] == 1.0


def test_knn_join_each_query_finds_self(spark):
    vecs = [(i, [float(x) for x in np.eye(4)[i % 4]]) for i in range(8)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = df.where(F.col("vec_id") < 2)
    rows = similarity.knn_join(df, "embedding", "vec_id", q, "embedding", "vec_id", k=1).collect()
    for r in rows:
        assert r["sim4"] == 1.0  # rank-1 neighbor is an identical vector


def test_multimodal_stub_deterministic(spark):
    """media_metadata reports only what the bytes prove: size + sha256."""
    payloads = {1: b"abc", 2: b"xyz" * 100}
    df = spark.createDataFrame(
        [Row(media_id=k, payload=v) for k, v in payloads.items()])
    meta = {r["media_id"]: r for r in
            multimodal.media_metadata(df, "media_id", "payload").collect()}
    for k, p in payloads.items():
        assert meta[k]["n_bytes"] == len(p)
        assert meta[k]["digest"] == hashlib.sha256(p).hexdigest()


def test_consecutive_dedupe(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (2, "b"), (3, "c")], ["k", "v"]
    )
    rows = dedup.consecutive_dedupe(df, ["k", "v"]).collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [
        (1, "a"), (2, "a"), (2, "b"), (3, "c")
    ]


def test_ivf_ann_probes_cells_and_finds_self(spark):
    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(64)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    query = vecs[0][1]
    got = similarity.ivf_ann_topk(
        df, "embedding", "vec_id", query, n_cells=8, n_probe=3, k=5
    ).collect()
    assert got[0]["nn_id"] == 0 and got[0]["sim4"] == 1.0
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
    # every hit lives in a probed cell
    cents = similarity.ivf_centroids(df, "embedding", "vec_id", 8)
    probed = set(similarity.ivf_probe_cells(query, cents, 3))
    assert {r["cell_id"] for r in got} <= probed
    # within probed cells IVF is exact: matches brute force restricted
    # to the probed-cell membership
    assigned = {r["id"]: r["cell_id"] for r in
                similarity.ivf_assign(df, "embedding", "vec_id", cents).collect()}
    cand = [v for v in vecs if assigned[v[0]] in probed]
    cdf = spark.createDataFrame(cand, ["vec_id", "embedding"])
    exact = similarity.cosine_topk(cdf, "embedding", "vec_id", query, k=5).collect()
    assert [r["nn_id"] for r in got] == [r["nn_id"] for r in exact]


def test_ivf_ann_degenerate_vectors_never_crash(spark):
    """Zero-norm vectors must not raise ANSI DIVIDE_BY_ZERO anywhere in
    the IVF plan (one bad embedding must not kill a corpus scan): they
    score -inf, rank last, and surface sim4 as NULL."""
    rows = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.5, 0.5, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # zero-norm centroid (vec_id 0 is a centroid) and candidate
    got = similarity.ivf_ann_topk(
        df, "embedding", "vec_id", [1.0, 0.0, 0.0],
        n_cells=3, n_probe=3, k=4).collect()
    assert got[0]["nn_id"] == 1 and got[0]["sim4"] == 1.0
    by_id = {r["nn_id"]: r for r in got}
    if 0 in by_id:  # degenerate candidate ranks last with NULL sim4
        assert by_id[0]["rank"] == len(got)
        assert by_id[0]["sim4"] is None
    # zero-norm QUERY: deterministic, no crash
    got_q = similarity.ivf_ann_topk(
        df, "embedding", "vec_id", [0.0, 0.0, 0.0],
        n_cells=3, n_probe=2, k=3).collect()
    assert [r["rank"] for r in got_q] == list(range(1, len(got_q) + 1))
    assert all(r["sim4"] is None for r in got_q)


def test_ivf_train_improves_cells(spark):
    """Lloyd's refinement: trained centroids give each vector a nearer
    cell than the seeded smallest-id centroids (mean best-cosine never
    decreases), and empty cells keep their previous centroid."""
    rng = np.random.default_rng(5)
    blobs = []
    for b, center in enumerate([(5.0, 0.0), (0.0, 5.0), (-5.0, -5.0)]):
        for i in range(20):
            x = [center[0] + rng.normal(0, 0.3), center[1] + rng.normal(0, 0.3)]
            blobs.append((b * 20 + i, [float(v) for v in x]))
    df = spark.createDataFrame(blobs, "vec_id bigint, embedding array<double>")
    seeded = similarity.ivf_centroids(df, "embedding", "vec_id", 3)
    trained = similarity.ivf_train(
        df, "embedding", "vec_id", n_cells=3, iters=3)
    assert [c for c, _ in trained] == [c for c, _ in seeded]  # stable ids

    def mean_best_cos(cents):
        import math
        tot = 0.0
        for _, v in blobs:
            best = max(
                similarity._seq_dot(v, cv)
                / (math.sqrt(similarity._seq_dot(v, v))
                   * math.sqrt(similarity._seq_dot(cv, cv)))
                for _, cv in cents)
            tot += best
        return tot / len(blobs)

    assert mean_best_cos(trained) >= mean_best_cos(seeded) - 1e-9
    # trained cells separate the three blobs
    assigned = similarity.ivf_assign(df, "embedding", "vec_id", trained)
    cells = {r["id"]: r["cell_id"] for r in assigned.collect()}
    for b in range(3):
        ids = [b * 20 + i for i in range(20)]
        assert len({cells[i] for i in ids}) == 1  # one cell per blob
    # trained centroids feed the query path unchanged
    got = similarity.ivf_ann_topk(
        df, "embedding", "vec_id", blobs[0][1],
        n_probe=1, k=3, cents=trained).collect()
    assert got[0]["nn_id"] == 0


def test_lsh_ann_topk_multiprobe(spark):
    """Multi-probe LSH top-k: self is rank 1; every hit's sketch is in
    the flip-1 probe set; result is exact over the probed buckets; and
    clustered data gives high recall (random near-orthogonal data is
    the documented weak case for any LSH)."""
    rng = np.random.default_rng(9)
    center = rng.normal(size=16)
    rows = []
    for i in range(30):  # tight cluster around `center`
        rows.append((i, [float(x) for x in center + rng.normal(0, 0.05, 16)]))
    for i in range(30, 90):  # background noise
        rows.append((i, [float(x) for x in rng.normal(size=16)]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    query = rows[0][1]
    got = similarity.lsh_ann_topk(
        df, "embedding", "vec_id", query, n_planes=6, dim=16, k=10)
    out = got.collect()
    assert out[0]["nn_id"] == 0 and out[0]["sim4"] == 1.0
    # probe-set containment
    probes = set(similarity.lsh_probe_sketches(query, 6, 16, 42, 1))
    sk = {r["id"]: r["sketch"] for r in similarity.hyperplane_sketch(
        df, "embedding", "vec_id", 6, 16, 42).collect()}
    assert all(sk[r["nn_id"]] in probes for r in out)
    # clustered data: most of the true top-10 is recovered
    exact = similarity.cosine_topk(df, "embedding", "vec_id", query, k=10)
    rec = len({r["nn_id"] for r in out}
              & {r["nn_id"] for r in exact.collect()}) / 10
    assert rec >= 0.8, rec
    # exact over the probed set: brute force restricted to probed ids
    cand = [v for v in rows if sk[v[0]] in probes]
    cdf = spark.createDataFrame(cand, "vec_id bigint, embedding array<double>")
    restr = similarity.cosine_topk(cdf, "embedding", "vec_id", query, k=10)
    assert [r["nn_id"] for r in out] == [r["nn_id"] for r in restr.collect()]
