"""Measurement plumbing shared by the workloads: percentiles, process
CPU, host weather, spans, and the Spark session's lifetime."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: A reported tail percentile keeps at least this many samples above it.
TAIL_BEYOND = 10

# ------------------------------------------------------------ statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic that still has
    ``TAIL_BEYOND`` samples above it.  Needs ``2 * TAIL_BEYOND + 1``
    samples so the tail sits at or above the median."""
    n = len(xs)
    if n <= 2 * TAIL_BEYOND:
        raise ValueError(f"{n} samples cannot support a tail with {TAIL_BEYOND} beyond it")
    k = n - TAIL_BEYOND - 1
    return float(sorted(xs)[k]), 100.0 * (k + 1) / n


def scaled_percentiles(groups: dict[str, list[float]]) -> tuple[float, float, float]:
    """(p50, tail, tail percentile) of latencies from several kinds of op
    with different typical costs.  Each latency is divided by the
    geometric mean of its kind, the percentiles are taken over the pooled
    ratios and scaled back by the geometric mean of all latencies, so
    every kind weighs alike.  (A kind's median would be a poor divisor:
    its exact 1.0 ratios would pile up at the middle of the pool.)  With
    one kind this is the plain median and ``tail``."""
    gm = {k: math.exp(statistics.fmean(math.log(x) for x in v)) for k, v in groups.items()}
    g = math.exp(statistics.fmean(math.log(m) for m in gm.values()))
    ratios = [x / gm[k] for k, v in groups.items() for x in v]
    t, pct = tail(ratios)
    return g * median(ratios), g * t, pct


def trend(xs: list[float]) -> float:
    """Relative change of the median from the first to the second half
    of a sequence of per-round times (0.1 = the second half is 10 %
    slower)."""
    h = len(xs) // 2
    if h < 2:
        return 0.0
    a, b = median(xs[:h]), median(xs[h:])
    return (b - a) / a if a else 0.0


# ------------------------------------------------------- CPU and weather

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: str) -> tuple[int, float] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[1] is ppid; utime, stime, cutime, cstime are fields 11-14
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), cpu


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of this process and every live
    descendant, plus what reaped descendants left in their parents'
    child counters: Python, the JVM and its Python workers together."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _proc_stat(name)
        if st is not None:
            parent[int(name)], cpu[int(name)] = st
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += c
    return total


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


@dataclass
class HostSample:
    wall: float
    cpu_s: float
    load1: float
    jiffies: int
    steal: int

    @classmethod
    def take(cls) -> "HostSample":
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        total, steal = _cpu_times()
        return cls(time.perf_counter(), tree_cpu_s(), load1, total, steal)


def weather(a: HostSample, b: HostSample) -> dict[str, float]:
    """Steal %, end load and this process tree's CPU utilisation (as a
    share of every core) between two samples."""
    dj = max(1, b.jiffies - a.jiffies)
    wall = max(1e-9, b.wall - a.wall)
    return {
        "steal_pct": 100.0 * (b.steal - a.steal) / dj,
        "load1": b.load1,
        "cpu_util": 100.0 * (b.cpu_s - a.cpu_s) / wall / (os.cpu_count() or 1),
    }


#: Loop length of the host-speed probe.
CALIB_ITERS = 1_000_000


def calib_ms() -> float:
    """Median wall time of three runs of a fixed pure-Python loop.  It
    moves only with the host: steal misses a neighbour busy on the same
    physical core, which on a shared machine can slow every process by
    half for minutes at a time."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(CALIB_ITERS):
            s += i * i
        times.append(1e3 * (time.perf_counter() - t))
    return median(times)


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class Tracer:
    """Spans kept in memory around each public call the benchmark
    makes.  A disabled tracer records nothing and costs one branch."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: int = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children
        cover (children of one span never overlap: calls are serial)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + 1e3 * (s.end - s.start - child[i])
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


# --------------------------------------------------------------- session

DRIVER_MEM = "2g"


def spark_env(work: str, cpus: int) -> None:
    """Environment for a session that writes only under ``work``: local
    dirs, JVM and Python temp files, and a fixed driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def start_session(work: str, cpus: int, root: str):
    from spark_kafka_streaming_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": root,
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def versions(spark) -> dict[str, str]:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "pyspark": pyspark.__version__,
        "jdk": str(jvm.java.lang.System.getProperty("java.version")),
    }


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def du(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, from filesystem metadata only."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                size += os.path.getsize(os.path.join(d, f))
            except OSError:
                continue
            files += 1
    return files, size
