"""Shared pieces of the benchmark: the work directory, the Spark session,
spans, Spark status-store totals and percentiles."""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def process_start_epoch() -> float:
    """Wall-clock time at which this process was created (Linux /proc);
    the time of the first call elsewhere."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return time.time()
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


class Clock:
    """Seconds since this process started, minus intervals spent making
    benchmark inputs (``excluded``), which are not the program's set-up."""

    def __init__(self):
        self.start = process_start_epoch()
        self.skipped = 0.0

    @contextmanager
    def excluded(self):
        t0 = time.time()
        try:
            yield
        finally:
            self.skipped += time.time() - t0

    def since_start(self) -> float:
        """Seconds from process start to now, less the excluded intervals."""
        return time.time() - self.start - self.skipped


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (Linux)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Keep Spark's and Python's scratch files inside the work directory
    and size Spark for this machine (``local[<cores>]``)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    from foxsec_pipeline_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def stop_spark() -> None:
    """Stop the active Spark context and the JVM gateway process behind
    it, and wait for that process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    return s[k]


def tail_percentile(n: int) -> float:
    """The highest of p95, p90, p80 and p50 with at least ten of ``n``
    samples beyond it."""
    return next((q for q in (95.0, 90.0, 80.0) if n * (100.0 - q) / 100.0 >= 10), 50.0)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """Spans kept in memory and written out when the run ends. Disabled,
    ``span`` only yields, so untraced runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str = "run", **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "trace": trace, "name": name, "start": time.time(), "end": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def record(self, name: str, start: float, end: float, trace: str,
               parent: int | None = None, **attrs) -> int:
        """Add a span measured elsewhere (a micro-batch from Spark's
        progress report, a sink call); returns its id."""
        self.spans.append({"id": len(self.spans), "parent": parent, "trace": trace,
                           "name": name, "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def wait_listener_bus(spark) -> None:
    """Let the status store catch up with jobs that already finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_stats(spark, job_ids) -> dict:
    """Totals over the given jobs from Spark's status store: jobs,
    stages, executor run and CPU time, shuffle, spill and input bytes,
    and the summed wall time of the jobs themselves."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stages: set[int] = set()
    wall = 0.0
    jobs = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        stages.update(info.stageIds)
        jd = store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            wall += (done.get().getTime() - sub.get().getTime()) / 1000.0
    out = {"jobs": jobs, "stages": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "input_bytes": 0, "job_wall_s": wall}
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j wraps NoSuchElementException: stage never ran
            continue
        if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["executor_run_s"] += sd.executorRunTime() / 1000.0
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["input_bytes"] += sd.inputBytes()
    return out


def group_job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def spark_layer(stats: dict, wall_s: float, slots: int) -> dict:
    """Per-layer ``spark.*`` metrics from ``job_stats`` totals."""
    busy = stats["executor_cpu_s"] / (wall_s * slots) if wall_s > 0 else 0.0
    return {
        "spark.jobs": (stats["jobs"], "count"),
        "spark.stages": (stats["stages"], "count"),
        "spark.executor_run_s": (stats["executor_run_s"], "s"),
        "spark.executor_cpu_s": (stats["executor_cpu_s"], "s"),
        "spark.cpu_busy_ratio": (busy, "ratio"),
        "spark.shuffle_read_bytes": (stats["shuffle_read_bytes"], "bytes"),
        "spark.shuffle_write_bytes": (stats["shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": (stats["spill_bytes"], "bytes"),
        "spark.input_bytes": (stats["input_bytes"], "bytes"),
    }
