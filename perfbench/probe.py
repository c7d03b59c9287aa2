"""probe_parquet: the parquet interop path, in process, with no JVM.

Setup generates a seeded typed table (sorted int64 key, timestamps, a
double price, a small-int qty, a boolean with nulls, a low-NDV string),
writes it with ``pqwriter.write_table`` to FILES files (page index, a
bloom filter on the key; DELTA_BINARY_PACKED, BYTE_STREAM_SPLIT,
RLE_DICTIONARY and RLE all appear) and answers a seeded probe mix with
pyarrow's read+filter (the oracle). Each round of the timed loop writes
the files afresh, scans them with ``pqreader.read_table`` (checked
against the source) and runs a batch of point, absent-key and range
probes over every file (each checked against the oracle).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from perfbench import codec_replay, harness, repos
from perfbench.workload import Workload

N_ROWS = 1_000_000
FILES = 8  # N_ROWS splits evenly
ROW_GROUP_ROWS = 65_536
PAGE_ROWS = 8_192
N_QUERIES = 60
PROBES_PER_ROUND = 60
RANGE_KEYS = 300  # key span of a range probe
REPS = 3
COLUMNS = ("key", "ts", "price", "qty", "flag", "cat")


def make_table(seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n = N_ROWS
    key = (np.cumsum(rng.integers(1, 4, n)) + 1000).astype(np.int64)
    ts = (1_700_000_000_000_000
          + np.cumsum(rng.integers(0, 2_000_000, n))).astype(np.int64)
    price = np.round(rng.lognormal(3.0, 1.0, n), 2)
    qty = rng.integers(1, 51, n).astype(np.int32)
    flag_valid = rng.random(n) < 0.9
    flag = rng.random(n) < 0.5
    cats = np.array([f"category_{i:02d}" for i in range(16)])
    return pa.table({
        "key": key,
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "price": price,
        "qty": qty,
        "flag": pa.array(flag, mask=~flag_valid),
        "cat": pa.array(cats[rng.integers(0, len(cats), n)], pa.string()),
    })


def column_specs(t: pa.Table) -> list:
    from parquet_go_spark.codecs.bytearrays import ByteArrays
    from parquet_go_spark.codecs.kinds import Codec, Kind
    from parquet_go_spark.interop.pqwriter import ColumnSpec

    flag = t.column("flag").combine_chunks()
    valid = flag.is_valid().to_numpy(zero_copy_only=False)
    return [
        ColumnSpec("key", Kind.INT64, t.column("key").to_numpy(),
                   encoding=Codec.DELTA_BINARY_PACKED),
        ColumnSpec("ts", Kind.INT64,
                   t.column("ts").cast(pa.int64()).to_numpy(),
                   encoding=Codec.DELTA_BINARY_PACKED,
                   logical="timestamp_micros"),
        ColumnSpec("price", Kind.DOUBLE, t.column("price").to_numpy(),
                   encoding=Codec.BYTE_STREAM_SPLIT),
        ColumnSpec("qty", Kind.INT32, t.column("qty").to_numpy(),
                   encoding=Codec.RLE_DICTIONARY),
        ColumnSpec("flag", Kind.BOOLEAN,
                   flag.drop_null().to_numpy(zero_copy_only=False),
                   validity=valid, encoding=Codec.RLE),
        ColumnSpec("cat", Kind.BYTE_ARRAY,
                   ByteArrays.from_arrow(t.column("cat").combine_chunks()),
                   encoding=Codec.RLE_DICTIONARY, logical="string"),
    ]


def write_files(parts: list[list], out_dir: str) -> list[str]:
    from parquet_go_spark.interop import pqwriter

    os.makedirs(out_dir, exist_ok=True)
    files = []
    for i, specs in enumerate(parts):
        f = os.path.join(out_dir, f"part-{i:02d}.parquet")
        pqwriter.write_table(f, specs, row_group_rows=ROW_GROUP_ROWS,
                             page_rows=PAGE_ROWS, bloom_columns=["key"])
        files.append(f)
    return files


def same_rows(a: pa.Table, b: pa.Table) -> bool:
    """Equal column by column (field nullability may differ)."""
    return (a.column_names == b.column_names and a.num_rows == b.num_rows
            and all(x.equals(y) for x, y in zip(a.columns, b.columns)))


class Probe(Workload):
    name = "probe_parquet"

    def launch(self) -> None:
        harness.require_native()
        import parquet_go_spark.interop.pqreader  # noqa: F401
        import parquet_go_spark.interop.pqwriter  # noqa: F401

    def setup(self, rep: int) -> None:
        import pyarrow.parquet as pq

        self.table = make_table(self.seed)
        self.raw_bytes = self.table.nbytes
        per_file = N_ROWS // FILES
        self.parts = [column_specs(self.table.slice(i * per_file, per_file))
                      for i in range(FILES)]
        self.files = write_files(self.parts, self.work.fresh("setup"))
        self.queries = self.make_queries()
        ref = pq.read_table(self.files)
        self.expected = [ref.filter(self.pa_filter(q)) for q in self.queries]

    def make_queries(self) -> list:
        keys = self.table.column("key").to_numpy()
        have = set(keys.tolist())
        rng = np.random.default_rng(self.seed)
        out = []
        for i in range(N_QUERIES):
            kind = i % 3
            k = int(keys[rng.integers(len(keys))])
            if kind == 0:
                out.append(("key", "=", k))
            elif kind == 1:
                while k in have:
                    k += 1
                out.append(("key", "=", k))
            else:
                out.append([("key", ">=", k), ("key", "<", k + RANGE_KEYS)])
        return out

    @staticmethod
    def pa_filter(q):
        import pyarrow.compute as pc

        preds = q if isinstance(q, list) else [q]
        ops = {"=": pc.equal, ">=": pc.greater_equal, "<": pc.less}
        expr = None
        for col, op, v in preds:
            e = ops[op](pc.field(col), v)
            expr = e if expr is None else expr & e
        return expr

    @staticmethod
    def scan(files) -> pa.Table:
        from parquet_go_spark.interop import pqreader

        return pa.concat_tables([pqreader.read_table(f) for f in files])

    @staticmethod
    def probe(files, q) -> pa.Table:
        from parquet_go_spark.interop import pqreader

        return pa.concat_tables(
            [pqreader.read_table(f, predicate=q) for f in files])

    def measure(self, seconds: float, traced: bool) -> dict:
        loop = harness.Loop(seconds)
        stored = []
        self.read_bytes: dict[int, int] = {}
        i = q = 0
        while i == 0 or loop.running():
            out_dir = self.work.fresh(f"round{i % 2}")
            files = loop.op("write",
                            lambda: write_files(self.parts, out_dir))
            if files is None:
                break
            stored.append(sum(os.path.getsize(f) for f in files)
                          / self.raw_bytes)
            loop.op("scan", lambda: self.scan(files),
                    lambda t: same_rows(t, self.table))
            for _ in range(PROBES_PER_ROUND):
                j = q % len(self.queries)
                before = harness.io_rchar() if traced else 0
                loop.op("probe", lambda: self.probe(files, self.queries[j]),
                        lambda t: same_rows(t, self.expected[j]))
                if traced:  # per query, the least seen: other threads'
                    # reads (the memory poller's) only ever add to it
                    got = harness.io_rchar() - before
                    self.read_bytes[j] = min(got, self.read_bytes.get(j, got))
                q += 1
            i += 1
        self.finish_loop(loop)
        mb = self.raw_bytes / harness.MB
        nan = [float("nan")]
        return {
            "write_mb_s": mb / harness.median(loop.samples.get("write", nan)),
            "scan_mb_s": mb / harness.median(loop.samples.get("scan", nan)),
            "stored_per_raw": harness.median(stored or nan),
            "read_p50_ms": harness.median(
                loop.samples.get("probe", nan)) * 1e3,
        }

    def layers(self) -> dict[str, tuple]:
        import pyarrow.parquet as pq

        from parquet_go_spark.interop import pqbloom, pqreader, pqwriter

        files = self.files
        out: dict[str, tuple] = {}
        one = self.work.fresh("column")
        os.makedirs(one)
        for spec in column_specs(self.table):
            raw = self.table.column(spec.name).nbytes / harness.MB
            s, _ = harness.time_call(lambda: pqwriter.write_table(
                os.path.join(one, f"{spec.name}.parquet"), [spec],
                row_group_rows=ROW_GROUP_ROWS, page_rows=PAGE_ROWS), REPS)
            out[f"interop.pqwriter.write_mb_s.{spec.name}"] = (raw / s, "MB/s")

        def per_file(fn):
            return harness.time_call(
                lambda: [fn(f) for f in files], REPS)[0] * 1e3 / len(files)

        out["interop.pqreader.read_schema_ms"] = (
            per_file(pqreader.read_schema), "ms")
        out["interop.pqreader.footer_aggregates_ms"] = (
            per_file(pqreader.footer_aggregates), "ms")
        out["interop.pqbloom.read_blooms_ms"] = (
            per_file(lambda f: pqbloom.read_blooms(f, column="key")), "ms")
        out["interop.pqreader.probe_read_bytes"] = (
            harness.median(list(self.read_bytes.values())), "bytes")
        pa_ms = [harness.time_call(
            lambda: pq.read_table(files, filters=self.pa_filter(q)), 1)[0]
            for q in self.queries]
        out["interop.pyarrow.probe_ms"] = (harness.median(pa_ms) * 1e3, "ms")
        out.update(codec_replay.replay(
            self.seed, repos.N_ROWS, repos.n_repos(repos.N_ROWS)))
        return out
