"""Run environment shared by every workload: a per-run scratch directory
inside the checkout, the Spark session, cache clearing between timed
operations, per-operation Spark job counts, and memory readings."""

from __future__ import annotations

import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return [-1.0, -1.0, -1.0]


class Scratch:
    """A fresh directory per run, removed when the run ends. Python's
    tempfile, Spark's local dirs and the JVM's tmpdir all point into it,
    and so do the query registry's scratch tables."""

    def __init__(self) -> None:
        self.path = os.path.join(WORK_ROOT, str(os.getpid()))
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "events"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "spark-local")
        tempfile.tempdir = os.environ["TMPDIR"]

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        remove_scratch(os.getpid())


def remove_scratch(pid: int) -> None:
    """Remove the scratch directory of the run in process ``pid``."""
    shutil.rmtree(os.path.join(WORK_ROOT, str(pid)), ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass  # another run still owns a directory here


def redirect_registry_scratch(scratch: Scratch) -> None:
    """The registry's mutating queries stage tables under fixed paths;
    point those module-level roots into this run's scratch directory."""
    from delta_lake_spark.queries import _fixtures, delta_ops

    delta_ops._SCRATCH = scratch.sub("dls_query_tables")
    _fixtures._FIX_ROOT = scratch.sub("dls_query_tables", "fixtures")


def start_session(scratch: Scratch, event_log: bool):
    """local[nproc] session with the time zone and parquet nanos setting
    pinned up front (the events reader otherwise sets both on first use)."""
    from pyspark.sql import SparkSession

    n = str(cores())
    tmp = scratch.sub("tmp")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", scratch.sub("spark-local"))
        .config("spark.sql.warehouse.dir", scratch.sub("warehouse"))
        # a fixed heap and young generation (left to G1's resizing, peak
        # RSS of the same code varied by a third between runs), and JIT
        # compiler threads that live all run, so cpu_s can subtract them
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if event_log:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.dir", "file://" + scratch.sub("events"))
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end its JVM and wait for it. The JVM exits when its
    stdin closes, which otherwise happens only as Python exits, so the JVM
    would outlive the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if gateway is not None:
        gateway.close()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def clear_caches(spark) -> None:
    """Drop every memo the engine exposes a clear call for, so a repeat
    measures real work rather than a memo hit."""
    from delta_lake_spark.operators._cache import clear_session_caches
    from delta_lake_spark.queries._fixtures import clear_fixture_memo
    from delta_lake_spark.queries.llm import clear_funnel_memo

    clear_funnel_memo(spark)
    clear_session_caches(spark)
    clear_fixture_memo()


class JobCounter:
    """Runs each operation under its own job group and counts the Spark
    jobs it submitted (status tracker; no UI needed)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.seq = 0

    def begin(self, label: str) -> str:
        self.seq += 1
        group = f"op{self.seq}:{label}"
        self.sc.setJobGroup(group, label)
        return group

    def jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# JVM JIT compiler threads, by their (15-character) kernel thread names
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> tuple[str, int]:
    """(thread or process name, user plus system clock ticks)."""
    with open(stat_path) as fh:
        text = fh.read()
    name = text[text.index("(") + 1:text.rindex(")")]
    fields = text[text.rindex(")") + 2:].split()
    return name, int(fields[11]) + int(fields[12])


def cpu_s() -> float:
    """CPU seconds (user plus system) used so far by this process and
    every descendant still running (the JVM and its Python workers),
    less the JVM's JIT compiler threads: compiling is warm-up, and its
    share of a pass shrinks from run to run at an uneven pace."""
    total = 0
    for p in [os.getpid(), *_descendants(os.getpid())]:
        try:
            total += _ticks(f"/proc/{p}/stat")[1]
            for tid in os.listdir(f"/proc/{p}/task"):
                name, ticks = _ticks(f"/proc/{p}/task/{tid}/stat")
                if name.startswith(_JIT_THREADS):
                    total -= ticks
        except (OSError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus its JVM (the
    ``java`` descendant), from /proc VmHWM."""
    me = os.getpid()
    total = _hwm_kb(me)
    for p in _descendants(me):
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    total += _hwm_kb(p)
        except OSError:
            continue
    return total / 1024.0


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "python": platform.python_version(),
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def geomean(xs: list[float]) -> float:
    """Geometric mean; a reading under one clock tick counts as one tick."""
    tick = 1.0 / os.sysconf("SC_CLK_TCK")
    return math.exp(statistics.fmean(math.log(max(x, tick)) for x in xs))


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def summary(xs: list[float]) -> dict:
    """Median and p90 with the sample count and how many samples lie
    beyond the p90 (a p90 is only trusted with ten or more beyond it)."""
    if not xs:
        return {"n": 0}
    p90 = percentile(xs, 90)
    return {
        "n": len(xs),
        "p50": round(median(xs), 6),
        "p90": round(p90, 6),
        "beyond_p90": sum(1 for x in xs if x > p90),
    }


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
