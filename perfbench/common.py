"""Shared plumbing of the benchmark: the run's sandbox, the Spark session,
process-tree probes, Spark status-store harvesting and the span recorder.

Everything the benchmark reads or writes lives under the checkout it runs
from; ``prepare_env`` points every temporary directory Spark, the JVM and
Python use at the run's work directory before pyspark is imported.
"""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "netcdf4_variable_streamer_spark"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Pin the core count and confine every temp dir to ``work``. Must run
    before the engine or pyspark is imported: the engine reads
    ``SPARK_GRAFT_CPUS`` at import time and ``tempfile`` caches its dir."""
    for sub in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    # no /tmp/hsperfdata_* file from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, n_cpus: int | None = None):
    """A ``local[n]`` session with the engine's build confs (driver memory
    and the JVM's default collector included), except that every directory
    Spark and the JVM write is under ``work`` and the status store keeps
    every job and stage of the operation."""
    from pyspark.sql import SparkSession

    from netcdf4_variable_streamer_spark.session import BUILD_CONFS

    n = n_cpus or cpus()
    b = SparkSession.builder.master(f"local[{n}]").appName("perfbench")
    confs = {
        **BUILD_CONFS,
        "spark.sql.shuffle.partitions": str(n),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no /tmp/hsperfdata_* file; JVM temp files go under ``work``
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData"
        " -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# -- process-tree probes (/proc) ---------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # utime, stime, cutime, cstime: own time plus that of reaped children
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


def tree_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by the driver Python process, the JVM and
    every process below the JVM (the Python workers)."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime + sum(
        _cpu_s(p) for p in [jvm, *descendants(jvm)]
    )


def memory_mb(jvm: int) -> dict[str, float]:
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    workers = [hwm_mb(p) for p in descendants(jvm)]
    return {
        "py_driver": py,
        "jvm": hwm_mb(jvm),
        "py_worker": max(workers, default=0.0),
    }


# -- Spark status store --------------------------------------------------------


def harvest(spark) -> tuple[list[dict], list[dict]]:
    """Every job (with its group, submission time and stage ids) and every
    stage (with its task metrics) the live status store holds, as plain
    dicts. Works with ``spark.ui.enabled=false``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        g, sub, ids = j.jobGroup(), j.submissionTime(), j.stageIds()
        desc = j.description()
        jobs.append({
            "job": j.jobId(),
            "group": g.get() if g.isDefined() else "",
            "description": desc.get() if desc.isDefined() else "",
            "submitted": sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
            "stage_ids": [ids.apply(k) for k in range(ids.size())],
        })
    stages = []
    sl = store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
        sc._jvm.java.util.ArrayList(),
    )
    for i in range(sl.size()):
        s = sl.apply(i)
        stages.append({
            "stage": s.stageId(),
            "status": s.status().toString(),
            "tasks": s.numCompleteTasks(),
            "executor_run_s": s.executorRunTime() / 1e3,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "input_bytes": s.inputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
        })
    return jobs, stages


# -- spans ---------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent) kept in memory until the run
    writes them out. A disabled tracer records nothing. ``cost`` is the
    time spent recording, the tracing overhead inside the timed region."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cost = 0.0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.t
        if t.enabled:
            now = time.perf_counter()
            self.idx = len(t.spans)
            t.spans.append({
                "id": self.idx,
                "name": self.name,
                "parent": t._stack[-1] if t._stack else None,
                "start": now - t._t0,
                "end": None,
                **self.attrs,
            })
            t._stack.append(self.idx)
            t.cost += time.perf_counter() - now
        return self

    def __exit__(self, *exc):
        t = self.t
        if t.enabled:
            now = time.perf_counter()
            t.spans[self.idx]["end"] = now - t._t0
            t._stack.pop()
            t.cost += time.perf_counter() - now
        return False


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]
