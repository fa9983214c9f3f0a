"""Session set-up, seeded inputs, the RSS sampler and small statistics.

Everything here runs in the benchmark's own client process; the program
under test is the ``distributed_extraction_framework_spark`` package at
the root of the checkout.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

CORES = os.cpu_count() or 1
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = 2 * CORES

# caches the benchmark keeps between runs; everything else it writes
# lives under a per-process scratch directory removed at exit
KEEP_INPUTS = 6


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) and len(delta) > 7 else 0.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(_children(cur))
    return out


def _stat_cpu_s(path: str) -> float:
    """utime + stime of one /proc stat file, in seconds."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


# native ids of the benchmark's own helper threads in this process, whose
# CPU is not the program's
_HELPER_TIDS: set[int] = set()


def client_cpu_s() -> float:
    """CPU seconds of this process, the program's driver (plan
    construction in ``extract()``, the SPARQL compiler, the pipeline's
    lineage and fingerprint logic, py4j), minus the benchmark's helper
    threads."""
    helpers = 0.0
    for tid in _HELPER_TIDS:
        try:
            helpers += _stat_cpu_s(f"/proc/self/task/{tid}/stat")
        except OSError:
            pass
    return time.process_time() - helpers


# JVM threads whose CPU is left out: the JIT compilers. They took a third
# of a cold KG build's CPU and a quarter of the query mix's, in amounts
# that depend on when methods got hot, not on the work.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_cpu_s(pid: int) -> float:
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            total += _stat_cpu_s(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            pass
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of this
    process's descendants, the JVM and the Python workers, less the JVM's
    JIT compiler threads."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    jit = sum(_jit_cpu_s(jvm) for jvm in _children(os.getpid()))
    return ticks / os.sysconf("SC_CLK_TCK") - jit


class Sample:
    """Wall, CPU seconds and host steal of one timed operation. ``cpu_s``
    is the whole program's: the client process (the driver) plus the JVM
    and the Python workers; ``client_s`` is the client's share."""

    def __init__(self, wall: float, cpu_s: float, client_s: float, steal: float):
        self.wall, self.cpu_s, self.client_s, self.steal = wall, cpu_s, client_s, steal


def measure(fn, *args):
    """Run ``fn(*args)``; returns (result, Sample)."""
    k0, t0_cpu, c0 = cpu_ticks(), tree_cpu_s(), client_cpu_s()
    t0 = time.perf_counter()
    result = fn(*args)
    wall = time.perf_counter() - t0
    client = client_cpu_s() - c0
    return result, Sample(wall, tree_cpu_s() - t0_cpu + client, client,
                          steal_frac(k0, cpu_ticks()))


def log(msg: str) -> None:
    """Progress line on stderr, stamped with the process age."""
    print(f"[{process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    """Inclusive linear-interpolated quantile (q in [0, 1])."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values: list[float]) -> str:
    return (f"median {statistics.median(values):.4g} "
            f"[q1 {quantile(values, 0.25):.4g}, q3 {quantile(values, 0.75):.4g}] "
            f"n={len(values)}")


class Workspace:
    """Directories of one run inside ``<checkout>/.perfbench``."""

    def __init__(self, root: str):
        self.base = os.path.join(root, ".perfbench")
        self.inputs = os.path.join(self.base, "inputs")
        self.traces = os.path.join(self.base, "traces")
        self.scratch = os.path.join(self.base, f"run-{os.getpid()}")
        for d in (self.inputs, self.traces, self.scratch):
            os.makedirs(d, exist_ok=True)
        # scratch left by a run that was killed before it could clean up
        for entry in os.listdir(self.base):
            pid = entry[len("run-"):]
            if entry.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(self.base, entry), ignore_errors=True)
        self.tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(self.tmp, exist_ok=True)

    def input_dir(self, workload: str, seed: int, pages: int) -> str:
        return os.path.join(self.inputs, f"{workload}-s{seed}-n{pages}")

    def evict_inputs(self) -> None:
        entries = sorted(
            (os.path.join(self.inputs, e) for e in os.listdir(self.inputs)),
            key=os.path.getmtime, reverse=True,
        )
        for stale in entries[KEEP_INPUTS:]:
            shutil.rmtree(stale, ignore_errors=True)

    def close(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


def heap_setting() -> str:
    """The driver heap the program's session picks (``spark.driver.memory``
    in ``session.DEFAULT_CONF``); the benchmark leaves it as it is."""
    from distributed_extraction_framework_spark.session import DEFAULT_CONF

    return DEFAULT_CONF.get("spark.driver.memory", "default")


def session_conf(ws: Workspace, event_log_dir: str | None = None) -> dict:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ws.scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ws.scratch, "spark-warehouse"),
        # a fixed set of JIT compiler threads, so that the CPU tree_cpu_s
        # leaves out never moves to a thread that has exited
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={ws.tmp} "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            # Spark 4 compresses event logs by default; keep plain JSON
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log_dir,
        })
    return conf


def start_session(ws: Workspace, event_log_dir: str | None = None):
    """get_spark + the first trivial job; returns (spark, seconds)."""
    from distributed_extraction_framework_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf=session_conf(ws, event_log_dir))
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark, kill_jvm: bool = True) -> None:
    """Stop the SparkContext (if any); with ``kill_jvm`` also end the JVM
    process and wait for it, so the next start_session launches a fresh
    one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if spark is not None:
        spark.stop()
    if not kill_jvm or SparkContext._gateway is None:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits on EOF of its stdin
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def write_corpus(spark, ws: Workspace, workload: str, seed: int, pages: int,
                 files: int) -> str:
    """Seeded synthetic corpus as parquet, cached by (workload, seed, size).

    ``sources.synth`` reads its module-level ``SEED`` inside ``make_page``,
    so the generator sets it on the worker before generating a batch.
    """
    import pandas as pd

    from distributed_extraction_framework_spark.schema import PAGES_SCHEMA

    path = os.path.join(ws.input_dir(workload, seed, pages), "pages")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(os.path.dirname(path))
        return path
    log(f"generating {workload} corpus: {pages} pages, seed {seed}")
    n = pages
    cols = list(PAGES_SCHEMA.names)

    def gen(batches):
        from distributed_extraction_framework_spark.sources import synth

        synth.SEED = seed
        for pdf in batches:
            yield pd.DataFrame([synth.make_page(int(i), n) for i in pdf["id"]],
                               columns=cols)

    (spark.range(0, n, numPartitions=files)
     .mapInPandas(gen, schema=PAGES_SCHEMA)
     .write.mode("overwrite").parquet(path))
    ws.evict_inputs()
    return path


def local_pages(seed: int, pages: int, indices) -> list[dict]:
    """Driver-side rows of the same corpus (the oracle's input)."""
    from distributed_extraction_framework_spark.sources import synth

    synth.SEED = seed
    return [synth.make_page(i, pages) for i in indices]


class RssSampler:
    """Peak resident memory of this process's descendants, sampled from
    /proc by one thread: the Spark JVM (driver and local executors) and,
    separately, the Python workers it forks."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_jvm_bytes = 0
        self.peak_workers_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except OSError:
            return 0

    def _sample(self) -> None:
        """The JVM is this process's child; the Python workers descend
        from the JVM."""
        jvm, workers = 0, 0
        for child in _children(os.getpid()):
            jvm += self._rss(child)
            workers += sum(self._rss(pid) for pid in _descendants(child))
        self.peak_bytes = max(self.peak_bytes, jvm + workers)
        self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
        self.peak_workers_bytes = max(self.peak_workers_bytes, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        _HELPER_TIDS.add(self._thread.native_id)
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        _HELPER_TIDS.discard(self._thread.native_id)

    @property
    def jvm_peak_mb(self) -> float:
        return self.peak_jvm_bytes / 2**20

    @property
    def workers_peak_mb(self) -> float:
        return self.peak_workers_bytes / 2**20

    def describe(self) -> str:
        return (f"peak RSS {self.peak_bytes / 2**20:.0f} MB (JVM peak "
                f"{self.peak_jvm_bytes / 2**20:.0f} MB, Python workers peak "
                f"{self.peak_workers_bytes / 2**20:.0f} MB)")


def _heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def reset_heap_peaks(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def heap_peaks_mb(spark) -> dict:
    """Peak usage (MB) of each heap memory pool since the last reset, from
    the JVM's memory-pool MXBeans."""
    return {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in _heap_pools(spark)}


def heap_live_mb(spark) -> float:
    """Heap in use right after a full collection: what the program still
    holds. Python's collector runs first, so that JVM objects only
    unreachable Python proxies kept alive are released; then two JVM
    collections, the second after Spark's ContextCleaner has dropped what
    the first one released (checkpointed blocks, broadcasts, shuffles)."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed() / 2**20
