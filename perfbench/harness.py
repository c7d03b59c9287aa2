"""Shared plumbing for the colcodec benchmark: the per-run work directory
and environment, the Spark session lifecycle, the process-tree memory
poller, the layer timer and the summary statistics.

Everything a run writes lands under ``<checkout>/.perfbench_work/``: the
compiled native kernels, Spark's local and temp dirs, the generated
inputs, the stores and the event log. The directory is removed when the
run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
MB = 1e6

# percentiles a tail may be reported at; the tail is the highest one
# with at least TAIL_BEYOND samples above it
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Task slots for local[N]: half the CPUs. With one slot per CPU the
    Python workers, the JVM and this driver oversubscribe the host, and
    run-to-run spread of every Spark timing measured 2-3x wider."""
    return max(1, cpus() // 2)


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(samples) -> tuple[float, float] | None:
    """(percentile, value) of the highest TAIL_GRID percentile with at
    least TAIL_BEYOND samples beyond it, or None when there are too few
    samples for any of them."""
    import numpy as np

    n = len(samples)
    best = None
    for p in TAIL_GRID:
        if n * (1 - p / 100) >= TAIL_BEYOND:
            best = p
    if best is None:
        return None
    return best, float(np.percentile(np.asarray(samples), best))


def io_rchar() -> int:
    """Bytes this process has read through read-like syscalls so far."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError("rchar missing from /proc/self/io")


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under path, checksum sidecars excluded."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(d, f))
    return total


class WorkDir:
    """Per-run work space inside the checkout, plus the environment
    that keeps the run's writes in it (compiler cache, temp files) and
    makes Spark's Python workers import this checkout's package."""

    def __init__(self):
        self.path = os.path.join(WORK_BASE, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "cache", "local", "data"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["TMPDIR"] = self.sub("tmp")
        # every JVM the run starts (spark-submit's launcher too): temp
        # files here, no hsperfdata file in the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.sub('tmp')} -XX:-UsePerfData")
        os.environ["XDG_CACHE_HOME"] = self.sub("cache")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def fresh(self, *parts: str) -> str:
        """An empty directory path under data/ (removed first if present)."""
        p = self.sub("data", *parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_BASE)  # only when no other run is using it
        except OSError:
            pass


def kernel_path() -> str:
    """"native" when the compiled kernels load, else "numpy"."""
    from parquet_go_spark.codecs import _native

    return "native" if _native.load() is not None else "numpy"


def require_native() -> str:
    path = kernel_path()
    if path != "native":
        raise SystemExit(
            "perfbench: native codec kernels did not load (kernel_path="
            f"{path}); a numpy-fallback run measures a different program")
    return path


# a heap the workloads fill in every run, so the JVM's resident size
# tops out at the same place instead of wherever lazy heap growth stops
DRIVER_MEMORY = "1g"


class Spark:
    """The run's SparkSession: local[n_cpus], a 1 GB driver heap, all
    local files under the work dir. restart() replaces the session
    on the same JVM (fresh Python workers); stop() ends the JVM and
    waits for it."""

    def __init__(self, work: WorkDir, n_cpus: int):
        self.work = work
        self.cpus = n_cpus
        self.session = None
        self.event_dir: str | None = None

    def start(self, event_log: bool = False):
        from pyspark.sql import SparkSession

        w = self.work
        b = (
            SparkSession.builder.master(f"local[{self.cpus}]")
            .appName("colcodec-perfbench")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.sql.shuffle.partitions", str(self.cpus))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.log.level", "ERROR")
            .config("spark.local.dir", w.sub("local"))
            .config("spark.sql.warehouse.dir", w.sub("warehouse"))
        )
        # session timezone stays at the host default: setting it
        # explicitly ships it into every Arrow batch to Python workers
        if event_log:
            self.event_dir = w.sub("eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", self.event_dir)
                 .config("spark.eventLog.compress", "false"))
        else:
            b = b.config("spark.eventLog.enabled", "false")
        self.session = b.getOrCreate()
        return self.session

    def restart(self, event_log: bool = False):
        self.session.stop()
        self.session = None
        return self.start(event_log)

    def tag(self, name: str | None) -> None:
        self.session.sparkContext.setJobDescription(name)

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.session is not None:
            self.session.stop()
            self.session = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()


class RssPoller:
    """Samples the peak resident set (VmHWM) of every process in this
    process's tree. `peak_mb` is the largest Python process seen (this
    driver or a Spark Python worker: the engine's own memory);
    `other_peak_mb` the largest other one (the JVM, whose heap is capped
    by DRIVER_MEMORY)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = {"python": 0, "other": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree(root: int) -> list[tuple[int, str]]:
        """(pid, command name) of root and its descendants."""
        children: dict[int, list[tuple[int, str]]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append((int(name), comm))
        out, todo = [], [(root, "python")]
        while todo:
            node = todo.pop()
            out.append(node)
            todo.extend(children.get(node[0], ()))
        return out

    @staticmethod
    def _hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        for pid, comm in self._tree(os.getpid()):
            kind = "python" if comm.startswith("python") else "other"
            self.peak_kb[kind] = max(self.peak_kb[kind], self._hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssPoller":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb["python"] * 1024 / MB

    @property
    def other_peak_mb(self) -> float:
        return self.peak_kb["other"] * 1024 / MB


def time_call(fn, reps: int):
    """(median seconds over reps calls, last result)."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return median(times), out


class Loop:
    """Closed-loop bookkeeping for one measured phase: op latencies by
    kind, attempted/failed counts, and the deadline."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.t0 = time.perf_counter()
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0

    def running(self) -> bool:
        return time.perf_counter() - self.t0 < self.seconds

    def op(self, kind: str, fn, check=None):
        """Run fn() as one timed operation; check(result) -> bool decides
        correctness (outside the timed span). A raise or a failed check
        counts as failed; returns the result or None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # an op that raises is a failed op
            self.failed += 1
            print(f"perfbench: {kind} raised", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        if check is not None and not check(out):
            self.failed += 1
            print(f"perfbench: {kind} returned a wrong result",
                  file=sys.stderr)
            return None
        self.samples.setdefault(kind, []).append(dt)
        return out
