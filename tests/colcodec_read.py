"""Helpers for tests of the colcodec store's one pruned read.

A pruning test checks two things. `spark_where` is the read a user
writes (`spark.read.format("colcodec").load(store).where(cond)`); its
rows must equal the source filtered the same way. `direct_read` runs
`ColcodecReader` in process with explicit `pyspark.sql.datasource`
Filters, so the prune rule runs even where Spark would not push the
literal, and reports which chunks survived it. `survives` and
`compiled` unit-test that rule: one chunk's manifest values, and one
literal's stat value."""

from __future__ import annotations

from unittest import mock

import pyarrow.parquet as pq

from parquet_go_spark.plans import pipeline
from parquet_go_spark.sources import datasource


def spark_where(spark, store: str, cond):
    """A fresh colcodec DataFrame per query (the Spark 4.1 relation-reuse
    caveat in sources/datasource.py), filtered by `cond`."""
    datasource.register(spark)
    return spark.read.format("colcodec").load(store).where(cond)


def same_rows(got, want) -> bool:
    """Row multisets of two DataFrames with the same columns."""
    return (sorted(map(repr, got.collect()))
            == sorted(map(repr, want.select(*got.columns).collect())))


def all_chunks(store: str) -> set:
    return set(pq.read_table(store, columns=["chunk_id"])
               .column(0).to_pylist())


def direct_read(store: str, filters) -> tuple[list[dict], set]:
    """Push `filters` into a ColcodecReader, read every slice; return
    (decoded rows, ids of the chunks that survived pruning)."""
    real = pq.read_table
    kept: set = set()

    def spy(path, *a, **kw):
        t = real(path, *a, **kw)
        if "columns" not in kw:  # a data read, not the metadata pre-scan
            kept.update(t.column("chunk_id").to_pylist())
        return t

    r = datasource.ColcodecReader(store, pipeline._read_schema_sidecar(store))
    r.pushFilters(filters)
    with mock.patch.object(pq, "read_table", spy):
        rows = [row for p in r.partitions() for b in r.read(p)
                for row in b.to_pylist()]
    return rows, kept


def compiled(cols, filters) -> list:
    """The colcodec read's compiled predicates for pushed (col, op,
    value) triples over store columns `cols`."""
    from parquet_go_spark.interop import pqreader

    return pqreader._tree_leaves(datasource._compile_filters(cols, filters))


def survives(filters, types: dict, stats: dict, blooms: dict | None = None,
             nulls: dict | None = None) -> bool:
    """One chunk through the colcodec read's prune rule: `filters`
    compile against the store's Spark `types`; per column, `stats` holds
    the chunk's manifest (min_val, max_val) strings, `blooms` its bloom
    bytes and `nulls` its (null_count, n_rows)."""
    rows: dict = {}
    for col, (mn, mx) in stats.items():
        rows.setdefault(col, {}).update(min_val=mn, max_val=mx)
    for col, blob in (blooms or {}).items():
        rows.setdefault(col, {})["bloom"] = blob
    for col, (nc, nr) in (nulls or {}).items():
        rows.setdefault(col, {}).update(null_count=nc, n_rows=nr)
    tree = datasource._compile_filters(list(types.items()), filters)
    return datasource._rows_survive(tree, rows)
