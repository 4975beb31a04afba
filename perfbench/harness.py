"""Process-level plumbing of the benchmark: the Spark session's lifetime,
the environment record, peak memory of the process tree, and the timing
statistics every workload reports."""

from __future__ import annotations

import glob
import os
import platform
import tempfile
import threading
import time

# Cores of the local[N] master. The session helper defaults to 32, which
# oversubscribes a small machine; the benchmark pins N to the host's
# cores, at most 4, so runs on bigger hosts stay comparable.
MAX_CORES = 4


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def start_spark(out_dir: str, event_log_dir: str | None = None):
    """Start a local[N] session whose scratch, warehouse and (optional)
    event log all live under ``out_dir``."""
    from sparkbigdatatextanalysis_spark.session import get_spark

    tmp = os.path.abspath(os.path.join(out_dir, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # keep every scratch file inside the checkout: Spark's local dirs (an
    # inherited SPARK_LOCAL_DIRS would win over spark.local.dir) and the
    # gateway's connection-info temp dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
        "spark.sql.warehouse.dir": os.path.join(out_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    n = cores()
    spark = get_spark("perfbench", cpus=n, shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to exit
    (closing its stdin tells the gateway server to shut down)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every process visible in /proc."""
    out: dict[int, tuple[int, str]] = {}
    for p in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(p) as f:
                stat = f.read()
            pid = int(p.split("/")[2])
            comm = stat.split("(", 1)[1].rsplit(")", 1)[0]
            out[pid] = (int(stat.rsplit(")", 1)[1].split()[1]), comm)
        except (OSError, ValueError, IndexError):
            continue
    return out


def _descends(pid: int, root: int, table: dict[int, tuple[int, str]]) -> bool:
    hops = 0
    while pid > 1 and pid != root and hops < 64:
        pid = table.get(pid, (0, ""))[0]
        hops += 1
    return pid == root


def foreign_jvms() -> int:
    """Java processes not descended from this one: another Spark session
    or JVM competing for the same cores."""
    me = os.getpid()
    table = _proc_table()
    return sum(
        1 for pid, (_, comm) in table.items() if comm == "java" and not _descends(pid, me, table)
    )


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants (the
    gateway JVM and its Python workers), in MB."""
    me = os.getpid()
    table = _proc_table()
    total = 0
    for pid in table:
        if pid == me or _descends(pid, me, table):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Samples the process tree's resident memory on a background thread;
    ``peak_mb`` is the largest sample."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def environment(spark=None) -> dict:
    """Core count, versions, load and competing JVMs at this moment."""
    env = {
        "cores_used": cores(),
        "cores_online": os.cpu_count(),
        "python": platform.python_version(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "foreign_jvms": foreign_jvms(),
    }
    if spark is not None:
        env["spark"] = spark.version
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return env


def heap_after_gc_mb(spark) -> float:
    """JVM heap in use after a full GC, in MB: what the session still
    holds (cached blocks and anything never released). Python drops its
    proxies first; the second GC, a moment after the first, also frees
    the broadcasts and shuffles the context cleaner released in between."""
    import gc

    jvm = spark.sparkContext._jvm
    gc.collect()
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def storage_used_bytes(spark) -> int:
    """Bytes held by cached blocks (memory plus disk) right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None when that percentile would not reach the
    median (fewer than twenty samples)."""
    n = len(samples)
    if n < 20:
        return None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(samples)[n - 11]


class Clock:
    """Seconds since construction, from the monotonic clock."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def __call__(self) -> float:
        return time.perf_counter() - self.t0
