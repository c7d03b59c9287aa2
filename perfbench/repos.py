"""repos_store: write, scan and query one colcodec store, side by side.

The input is the seeded repos table (``sources.repogen``: Zipf-skewed
repos, FSST-bait content). Each round of the timed loop

1. writes it with ``pipeline.encode_table(layout="range",
   sort_cols=["path"])`` into a fresh store (the write path: encode
   kernels, FSST training, the Arrow transfer and the shuffle);
2. scans the store SCANS_PER_ROUND times with ``pipeline.decode_table``,
   checking the decoded rows' hash multiset and count against the source;
3. issues LOOKUPS_PER_ROUND queries of a seeded mix through
   ``spark.read.format("colcodec").load(p).where(...)`` (the read path:
   planning, listing, task-side pruning, decode of survivors): present
   ``path =``, absent ``path =`` (inside the chunks' min/max, so only the
   bloom can refute it) and ``path`` ranges. Each query builds a fresh
   DataFrame, as the Spark 4.1 caveat in ``sources/datasource.py``
   requires, and is checked against the same filter run through
   ``spark.read.parquet`` on the source.

The run holds one JVM and session; the traced phase gets a fresh session
with the event log on, and every operation runs under a job description
``"<role>:<i>"`` that ``eventlog.fold`` groups by.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import codec_replay, eventlog, harness
from perfbench.workload import Workload

N_ROWS = 25_000
WARM_ROWS = 2_000
N_QUERIES = 48
SCANS_PER_ROUND = 3
LOOKUPS_PER_ROUND = 4
RANGE_SPAN = 16  # distinct paths covered by a range query
REPO_COLS = ["repo", "path", "commit", "lang", "content"]
SPARK_ROLES = ("encode", "scan", "lookup")


def n_repos(n_rows: int) -> int:
    return max(50, n_rows // 2000)


def row_hashes(df) -> np.ndarray:
    """Sorted per-row xxhash64 over every repos column: a multiset
    fingerprint of the rows (catches drops, duplicates and changes)."""
    import pyspark.sql.functions as F  # noqa: N812

    t = df.select(F.xxhash64(*REPO_COLS).alias("h")).toArrow()
    return np.sort(t.column("h").to_numpy())


def _kernel_paths(batches):
    import pyarrow as pa

    from parquet_go_spark.codecs import _native

    path = "native" if _native.load() is not None else "numpy"
    for b in batches:
        yield pa.RecordBatch.from_pydict({"k": [path] * b.num_rows})


def condition(q):
    import pyspark.sql.functions as F  # noqa: N812

    col = F.col("path")
    if q[0] == "eq":
        return col == q[1]
    return (col >= q[1]) & (col < q[2])


class ReposStore(Workload):
    name = "repos_store"

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.spark = harness.Spark(work, harness.spark_cpus())
        self.ops = 0
        self.call_ms: dict[str, float] = {}

    @property
    def session(self):
        return self.spark.session

    def on_session(self) -> None:
        from parquet_go_spark.sources import datasource

        datasource.register(self.session)
        if hasattr(self, "source"):  # a DataFrame is bound to its session
            self.df = self.session.read.parquet(self.source)

    def launch(self) -> None:
        """JVM and session, native kernels in the driver and every
        worker, and one small round so that the timed loop's first
        encode, decode and data-source query are not the JVM's first."""
        self.spark.start()
        harness.require_native()
        self.on_session()
        self.warm_workers()
        df, _, hashes = self.make_source(WARM_ROWS, "warm_source")
        self.warm_store = self.encode(df, "warm_store")
        if not np.array_equal(self.decode(self.warm_store), hashes):
            raise SystemExit("perfbench: warm-up round decoded wrong rows")
        self.warm_lookup()

    def setup(self, rep: int) -> None:
        self.df, self.raw_bytes, self.hashes = self.make_source(
            N_ROWS, "source")
        self.source = self.work.sub("data", "source")
        self.queries = self.make_queries()
        self.expected = self.oracle()

    def start_trace(self) -> None:
        self.spark.restart(event_log=True)
        self.on_session()
        self.warm_workers()
        self.warm_lookup()

    def close(self) -> None:
        self.spark.stop()

    def warm_workers(self) -> None:
        """Start the session's Python workers and check that every one
        of them loaded the native kernels."""
        n = self.spark.cpus * 2
        got = {r.k for r in self.session.range(0, n, 1, n)
               .mapInArrow(_kernel_paths, "k string").collect()}
        if got != {"native"}:
            raise SystemExit(
                f"perfbench: Spark workers run kernel_path={sorted(got)}")

    def warm_lookup(self) -> None:
        """A session plans its first data-source query cold."""
        self.load(self.warm_store).where(condition(("eq", ""))).collect()

    def make_source(self, n_rows: int, name: str) -> tuple:
        """Seeded repos table written to parquet under data/<name>:
        (df, raw_bytes, hashes)."""
        import pyspark.sql.functions as F  # noqa: N812

        from parquet_go_spark.sources.repogen import repos_table

        path = self.work.fresh(name)
        repos_table(self.session, n_rows, seed=self.seed,
                    n_repos=n_repos(n_rows),
                    partitions=self.spark.cpus * 2).write.parquet(path)
        df = self.session.read.parquet(path)
        raw = df.select(sum(F.octet_length(c) for c in REPO_COLS)
                        .alias("b")).agg(F.sum("b")).collect()[0][0]
        return df, int(raw), row_hashes(df)

    def encode(self, df, name: str) -> str:
        from parquet_go_spark.plans import pipeline

        store = self.work.fresh(name)
        pipeline.encode_table(self.session, df, store, layout="range",
                              sort_cols=["path"], resume=False)
        return store

    def decode(self, store: str) -> np.ndarray:
        from parquet_go_spark.plans import pipeline

        return row_hashes(pipeline.decode_table(self.session, store))

    def load(self, store: str):
        return self.session.read.format("colcodec").load(store)

    def make_queries(self) -> list[tuple]:
        """Seeded mix: ("eq", path) present, ("eq", path) absent,
        ("range", lo, hi) over RANGE_SPAN consecutive distinct paths."""
        from parquet_go_spark.sources.repogen import EXTS

        paths = sorted(self.df.select("path").distinct().toArrow()
                       .column(0).to_pylist())
        have = set(paths)
        rng = np.random.default_rng(self.seed)
        out = []
        for i in range(N_QUERIES):
            kind = i % 3
            if kind == 0:
                out.append(("eq", paths[rng.integers(len(paths))]))
            elif kind == 1:
                while True:
                    p = (f"src/module{rng.integers(8)}/pkg{rng.integers(24)}"
                         f"/file_{rng.integers(5000)}"
                         f".{EXTS[rng.integers(len(EXTS))]}")
                    if p not in have:
                        break
                out.append(("eq", p))
            else:
                j = int(rng.integers(len(paths) - RANGE_SPAN))
                out.append(("range", paths[j], paths[j + RANGE_SPAN]))
        return out

    def oracle(self) -> list[np.ndarray]:
        """Each query's sorted row hashes, from one pass of
        spark.read.parquet over the source."""
        import pyspark.sql.functions as F  # noqa: N812

        t = self.df.select(
            F.xxhash64(*REPO_COLS).alias("h"),
            *[condition(q).alias(f"q{i}")
              for i, q in enumerate(self.queries)]).toArrow()
        h = t.column("h").to_numpy()
        return [np.sort(h[t.column(f"q{i}").to_numpy(zero_copy_only=False)])
                for i in range(len(self.queries))]

    def tagged(self, role: str, fn):
        """fn under a fresh job description "<role>:<i>"; records the
        call start for the planning-delay metric."""
        tag = f"{role}:{self.ops}"
        self.ops += 1

        def run():
            self.spark.tag(tag)
            self.call_ms[tag] = time.time() * 1e3
            try:
                return fn()
            finally:
                self.spark.tag(None)

        return run

    def measure(self, seconds: float, traced: bool) -> dict:
        loop = harness.Loop(seconds)
        stored = []
        i = q = 0
        while i == 0 or loop.running():
            name = f"store{i % 2}"
            store = loop.op("encode", self.tagged(
                "encode", lambda: self.encode(self.df, name)))
            if store is None:
                break
            self.store = store
            stored.append(harness.dir_bytes(store) / self.raw_bytes)
            for _ in range(SCANS_PER_ROUND):
                loop.op("scan", self.tagged(
                    "scan", lambda: self.decode(store)),
                    lambda h: np.array_equal(h, self.hashes))
            for k in range(LOOKUPS_PER_ROUND):
                if k and not loop.running():  # every round queries
                    break
                j = q % len(self.queries)
                loop.op("lookup", self.tagged("lookup", lambda: row_hashes(
                    self.load(store).where(condition(self.queries[j])))),
                    lambda h: np.array_equal(h, self.expected[j]))
                q += 1
            i += 1
        self.finish_loop(loop)
        mb = self.raw_bytes / harness.MB
        nan = [float("nan")]
        return {
            "write_mb_s": mb / harness.median(loop.samples.get("encode", nan)),
            "scan_mb_s": mb / harness.median(loop.samples.get("scan", nan)),
            "stored_per_raw": harness.median(stored or nan),
            "read_p50_ms": harness.median(
                loop.samples.get("lookup", nan)) * 1e3,
        }

    def candidate_chunks(self) -> tuple[int, float]:
        """(chunks in the last store, mean chunks per query whose
        manifest min/max on path admits it)."""
        import pyspark.sql.functions as F  # noqa: N812

        from parquet_go_spark.plans import pipeline

        m = (pipeline.manifest(self.session, self.store)
             .where((F.col("column") == "path")
                    & (F.col("stream") == "values"))
             .select("min_val", "max_val").toArrow())
        lo = m.column("min_val").to_pylist()
        hi = m.column("max_val").to_pylist()
        counts = []
        for q in self.queries:
            a, b = (q[1], q[1]) if q[0] == "eq" else (q[1], q[2])
            counts.append(sum(
                1 for x, y in zip(lo, hi)
                if (x is None or x <= b) and (y is None or y >= a)))
        return m.num_rows, float(np.mean(counts))

    def layers(self) -> dict[str, tuple]:
        chunks, candidates = self.candidate_chunks()
        self.session.stop()  # flushes the event log
        self.spark.session = None
        folded = eventlog.fold(eventlog.log_files(self.spark.event_dir))
        out = {}
        for role in SPARK_ROLES:
            per, _ = eventlog.per_op(folded, role)
            for k in eventlog.LAYER_FIELDS:
                out[f"spark.{role}.{k}"] = (per[k], eventlog.UNITS[k])
        plan_ms = [folded[t]["first_submit_ms"] - self.call_ms[t]
                   for t in folded if t.startswith("lookup:")]
        out["lookup.driver_plan_ms"] = (harness.median(plan_ms), "ms")
        out["lookup.chunks_total"] = (chunks, "count")
        out["lookup.candidate_chunks"] = (candidates, "count")
        out.update(codec_replay.replay(self.seed, N_ROWS, n_repos(N_ROWS)))
        return out
