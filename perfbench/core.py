"""Shared machinery of the lake benchmark: the engine start-up, latency
statistics, memory and environment probes, and the span tracer.

Nothing in this module knows a workload; ``run.py`` wires workloads to it.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)

# Layers of the library, in the order tables print them.
LAYERS = (
    "session", "catalog", "config", "ingest", "functions", "sources",
    "queries", "operators",
)


# -- statistics ---------------------------------------------------------------

def p50(values: list[float]) -> float:
    return statistics.median(values)


def tail_percentile(n: int) -> int:
    """The highest whole percentile that leaves at least ten samples
    beyond it, by the nearest-rank rule (rank = ceil(p/100 * n)).
    Below 11 samples no percentile qualifies and 0 is returned."""
    if n < 11:
        return 0
    p = (100 * (n - 10)) // n
    while p > 0 and n - math.ceil(p * n / 100) < 10:
        p -= 1
    return p


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples) for the ``*_tail_s`` rule. Below 20
    samples the rule's percentile would not reach the median; the maximum
    is reported instead, as percentile 100, so a short run never
    understates its tail."""
    s = sorted(values)
    n = len(s)
    p = tail_percentile(n)
    if p < 50:
        return s[-1], 100, n
    return s[math.ceil(p * n / 100) - 1], p, n


# -- process probes -----------------------------------------------------------

def rss_peak_mb(pid: int | None) -> float:
    """Peak resident memory (VmHWM) of ``pid`` in MB, or of this process
    when ``pid`` is None."""
    if pid is None:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def environment(work_dir: str) -> dict:
    """What a reader needs to compare two runs: cores, load, storage."""
    import platform

    storage = "unknown"
    try:
        best = ""
        with open("/proc/mounts") as f:
            for line in f:
                dev, mnt, fstype = line.split()[:3]
                if work_dir.startswith(mnt) and len(mnt) > len(best):
                    best, storage = mnt, f"{fstype} at {mnt} ({dev})"
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": round(os.getloadavg()[0], 2),
        "storage": storage,
        "flush_policy": "no fsync; the page cache decides (Spark and the "
                        "Delta log write through the local filesystem)",
        "python": platform.python_version(),
    }


# -- engine start-up -------------------------------------------------------------

def start_engine(work_dir: str, app: str):
    """Start Spark through the library's session factory and return
    (spark, get_spark_s, registry_import_s, jvm_pid).

    The package path is exported in PYTHONPATH before the JVM starts: the
    JVM hands its environment to the Python workers it forks, so UDF
    closures that pickle references to ``rtdl_spark`` import on the
    workers from any working directory."""
    paths = [REPO_ROOT] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    # local[nproc]; a heap the workloads fill, so peak RSS measures the
    # program rather than how far the collector let the heap grow
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    t0 = time.perf_counter()
    from rtdl_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # first job: executor threads, codegen
    t1 = time.perf_counter()
    import rtdl_spark.queries as q

    q.all_queries()
    t2 = time.perf_counter()
    jvm = spark.sparkContext._jvm
    pid = int(jvm.java.lang.ProcessHandle.current().pid())
    return spark, t1 - t0, t2 - t1, pid


# -- tracing ------------------------------------------------------------------------

class Tracer:
    """Spans ``{name, start, end, parent, op_id}`` kept in memory.

    A span's name is ``<layer>.<function>`` (or ``op.<kind>`` for the
    workload's own op boundary). Each span runs under its own Spark job
    group, so the jobs a call starts are attributed to it, and nested
    spans hand their group back to the parent when they close. A disabled
    tracer is a no-op context manager: the timed runs pay nothing."""

    def __init__(self, spark, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._sc = spark.sparkContext

    def _group(self, idx: int | None) -> None:
        if idx is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"pb-{idx}", self.spans[idx]["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": 0.0,
            "end": 0.0,
            "parent": self._stack[-1] if self._stack else None,
            "op_id": self.op_id,
            "jobs": [],
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self._group(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            ids = self._sc.statusTracker().getJobIdsForGroup(f"pb-{idx}")
            rec["jobs"] = [int(j) for j in ids]
            self._group(self._stack[-1] if self._stack else None)

    def job_seconds(self) -> dict[int, float]:
        """Wall seconds of every job the spans saw, from the status
        store (submission to completion)."""
        store = self._sc._jsc.sc().statusStore()
        out = {}
        for s in self.spans:
            for j in s["jobs"]:
                try:
                    jd = store.job(j)
                    sub, done = jd.submissionTime(), jd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        out[j] = (
                            done.get().getTime() - sub.get().getTime()
                        ) / 1000.0
                except Exception:
                    pass
        return out

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced


def instrument(tracer: Tracer, targets: list[tuple[str, str, str]]) -> list:
    """Wrap library functions in spans for the traced run.

    ``targets`` lists (module, attribute, span name); an attribute may be
    ``Class.method``. Module-level functions are also re-bound in every
    loaded ``rtdl_spark`` module that imported them by name, so calls
    between layers are traced too. Returns the undo list for
    ``uninstrument``."""
    import importlib

    undo = []
    for mod_name, attr, span_name in targets:
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            owner = getattr(mod, cls_name)
            orig = owner.__dict__[meth]
            setattr(owner, meth, tracer.wrap(orig, span_name))
            undo.append((owner, meth, orig))
            continue
        orig = getattr(mod, attr)
        wrapped = tracer.wrap(orig, span_name)
        for m in list(sys.modules.values()):
            if m is None or not getattr(m, "__name__", "").startswith(
                "rtdl_spark"
            ):
                continue
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, wrapped)
                    undo.append((m, k, orig))
    return undo


def uninstrument(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)
