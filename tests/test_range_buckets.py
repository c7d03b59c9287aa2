"""Range-layout bucket ids pinned against a pure-Python reference.

`plan_chunks_range` evaluates per-repo thresholds instead of counting
every quantile bound per row. Whatever the evaluation, a row's bucket
must stay min(floor(pos·n/G), n−1) with pos = #{bounds ≤ key}, so that
existing stores resume onto the same chunks. The reference below reads
the persisted `_bounds`/`_bounds2` sidecars and applies that formula
row by row."""

from __future__ import annotations

import random

import pytest

from parquet_go_spark.plans import pipeline

G1 = pipeline.RANGE_GRANULARITY
G2 = pipeline.RANGE_GRANULARITY2
TARGET = 100  # bytes: tiny, so the big repo gets n > 1024 (n1 > 128)

# label → (repo, rows). "flat" has one distinct path, so its bounds are
# all equal; "flat_high" adds rows above them on a reused sidecar, which
# land in a coarse range that has no `_bounds2` row. "fresh" is a repo
# the reused `_bounds` sidecar does not know.
SOURCES = {"big": ("big", 6000), "mid": ("mid", 300), "one": ("one", 2),
           "nulls": ("nulls", 400), "allnull": ("allnull", 50),
           "flat": ("flat", 80), "fresh": ("fresh", 120),
           "flat_high": ("flat", 20)}
BASE = ["big", "mid", "one", "nulls", "allnull", "flat"]
GROWN = BASE + ["fresh", "flat_high"]


def _ref_bucket(key, bnds, n, g):
    if bnds is None:  # Spark's least() skips the null position count
        return n - 1
    pos = 0 if key is None else sum(1 for b in bnds if key >= b)
    return min(pos * n // g, n - 1)


def _rows(labels):
    rnd = random.Random(11)
    rows = []
    for label in labels:
        repo, size = SOURCES[label]
        for i in range(size):
            path = f"{rnd.randrange(1 << 20):05x}/f{i % 37}.py"
            if label == "allnull" or (label == "nulls" and i % 3 == 0):
                path = None
            elif label in ("flat", "flat_high"):
                path = "m/same.py" if label == "flat" else "z/high.py"
            k = None if i % 11 == 0 else rnd.randrange(50)
            rows.append((len(rows), label, repo, path, k))
    return rows


def _df(spark, labels):
    return spark.createDataFrame(
        _rows(labels), "id long, label string, repo string, path string, "
                       "k int")


def _sidecars(spark, df, keys, tmp_path):
    data = df.drop("id", "label")
    b1, b2 = pipeline.compute_range_bounds(
        data, "repo", keys, pipeline._row_size_expr(data), TARGET)
    b1.write.parquet(str(tmp_path / "_bounds"))
    b1 = spark.read.parquet(str(tmp_path / "_bounds"))
    if b2 is not None:
        b2.write.parquet(str(tmp_path / "_bounds2"))
        b2 = spark.read.parquet(str(tmp_path / "_bounds2"))
    return b1, b2


def _expected(df, keys, b1, b2):
    """{id: bucket} by the reference formula, and the rows whose
    (repo, coarse) range has no `_bounds2` row."""
    types = dict(df.dtypes)
    surr = [pipeline._order_surrogate(df[k], types[k]).alias(f"s{i}")
            for i, k in enumerate(keys)]
    p1 = {r.repo: r for r in b1.collect()}
    p2 = ({(r.repo, r["__coarse"]): r["__bnds2"] for r in b2.collect()}
          if b2 else {})
    out, no_b2 = {}, set()
    for r in df.select("id", "repo", *surr).collect():
        b = p1.get(r.repo)
        if b is None:
            out[r.id] = 0
        elif b2 is None:
            out[r.id] = _ref_bucket(r.s0, b["__bnds"], b["__n_buckets"], G1)
        else:
            coarse = _ref_bucket(r.s0, b["__bnds"], b["__n1"], G1)
            if (r.repo, coarse) not in p2:
                no_b2.add(r.id)
            sub = _ref_bucket(r.s1, p2.get((r.repo, coarse)), b["__w"], G2)
            out[r.id] = coarse * b["__w"] + sub
    return out, p1, no_b2


@pytest.mark.parametrize("keys", [["path"], ["path", "k"]],
                         ids=["single", "compound"])
def test_range_buckets_match_reference(spark, tmp_path, keys):
    b1, b2 = _sidecars(spark, _df(spark, BASE), keys, tmp_path)
    grown = _df(spark, GROWN)
    want, p1, no_b2 = _expected(grown, keys, b1, b2)
    n1 = {r: b["__n_buckets"] if b2 is None else b["__n1"]
          for r, b in p1.items()}
    assert n1["one"] == 1 and n1["big"] > 128 and n1["mid"] > 1
    assert p1["allnull"]["__bnds"] is None and "fresh" not in p1

    planned = pipeline.plan_chunks_range(
        grown, "repo", keys if b2 is not None else keys[0], b1, b2)
    got = {r.id: r["__bucket"]
           for r in planned.select("id", "__bucket").collect()}
    assert got == want
    label = {r[0]: r[1] for r in _rows(GROWN)}
    by_label = {}
    for i, b in got.items():
        by_label.setdefault(label[i], set()).add(b)
    assert by_label["fresh"] == {0}
    assert by_label["one"] == {0}
    # the big repo's ids reach past G: the n > G scaling is exercised
    assert max(by_label["big"]) > G1
    if b2 is not None:
        assert {label[i] for i in no_b2} == {"flat_high"}
