"""Shared run machinery: scratch state, set-up, timing, tracing.

A run owns one scratch directory inside the checkout (``.perfbench_run``
by default), wiped at start and at exit, so every run starts from the
same state: the program's ``SPARKCLIF_TMP`` (sinks, stream sources,
checkpoints, state dirs), Spark's local dirs and the JVM's temp dir
all live under it. The benchmark reads and writes only inside its
checkout, so these sit on the checkout's filesystem rather than on the
tmpfs the program picks by default; every other setting is the
program's own.

Timing is done from outside the program: every operation is one call
into a public function of a sparkclif layer, timed by ``Recorder.op``.
With tracing on, ``Recorder`` also keeps a span per call (name, start,
end, parent) and the Spark jobs, stages and tasks that ran inside it,
read from the application status store after the listener bus drains.
"""

from __future__ import annotations

import importlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

def prepare_scratch(root: str) -> str:
    """Wipe and recreate the run's scratch dir and point the program,
    Spark and the JVM at it. Must run before the first SparkSession."""
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "spark-local", "java-tmp", "inputs"):
        os.makedirs(os.path.join(root, sub))
    os.environ["SPARKCLIF_TMP"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "java-tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=" + os.path.join(root, "java-tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no console progress bars on stderr
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    # Python workers import the program from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p
    )
    return root


class Timeline:
    """Wall-clock seconds of each phase of a run, for the log."""

    def __init__(self):
        self.t = time.perf_counter()
        self.phases: list[tuple[str, float]] = []

    def mark(self, phase: str) -> None:
        now = time.perf_counter()
        self.phases.append((phase, now - self.t))
        self.t = now

    def __str__(self) -> str:
        return " ".join(f"{p}={s:.1f}s" for p, s in self.phases)


def cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 4


class Recorder:
    """Times operations; with ``trace`` also records spans and Spark
    work counts per operation."""

    def __init__(self, trace: bool, spark):
        self.trace = trace
        self.spark = spark
        self.samples: dict[str, list[float]] = {}  # kind -> seconds
        self.spans: list[tuple[str, float, float]] = []  # (kind, start, end)
        self.counts: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def _jobs_after(self, after_job: int):
        """Status-store records of the jobs with an id above
        ``after_job`` (ids are sequential per SparkContext; the store
        lists the newest first)."""
        lst = self.spark._jsc.sc().statusStore().jobsList(None)
        out = []
        for i in range(lst.size()):
            j = lst.apply(i)
            if j.jobId() <= after_job:
                break
            out.append(j)
        return out

    def _last_job_id(self) -> int:
        lst = self.spark._jsc.sc().statusStore().jobsList(None)
        return lst.apply(0).jobId() if lst.size() else -1

    def spark_work(self, after_job: int) -> tuple[int, int, int]:
        """(jobs, stages, tasks) run since job id ``after_job``, counted
        once the listener bus has delivered every event."""
        self.spark._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs = self._jobs_after(after_job)
        return (
            len(jobs),
            sum(j.numCompletedStages() for j in jobs),
            sum(j.numCompletedTasks() for j in jobs),
        )

    @contextmanager
    def op(self, kind: str, layer: str):
        """Time one operation of ``kind``; in a traced run also keep its
        span and attribute its Spark jobs/stages/tasks to ``layer``."""
        before = self._last_job_id() if self.trace else None
        t0 = time.perf_counter()
        yield
        t1 = time.perf_counter()
        self.samples.setdefault(kind, []).append(t1 - t0)
        if self.trace:
            self.spans.append((kind, t0, t1))
            jobs, stages, tasks = self.spark_work(before)
            self.add(f"{layer}.jobs", jobs)
            self.add(f"{layer}.stages", stages)
            self.add(f"{layer}.tasks", tasks)

    def span_log(self) -> str:
        """The spans as JSON: [kind, start, end], seconds from the first
        span's start. Operations never nest, so no span has a parent."""
        t0 = self.spans[0][1] if self.spans else 0.0
        return json.dumps([[k, round(a - t0, 4), round(b - t0, 4)] for k, a, b in self.spans])


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0


def shut_down(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    (and with it the Python workers it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _purge_program_modules() -> None:
    for name in [m for m in sys.modules if m == "sparkclif" or m.startswith("sparkclif.")]:
        del sys.modules[name]


def sync_tree(root: str) -> None:
    """Flush every file under ``root`` to disk, so the writeback of
    freshly made inputs does not land inside a measured phase."""
    for d, _dirs, files in os.walk(root):
        for f in files:
            fd = os.open(os.path.join(d, f), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def set_up(reps: int, unmeasured: int = 2) -> tuple[object, dict]:
    """Set the program up ``unmeasured + reps`` times in this process
    and return the last session plus the median of each set-up phase
    over the last ``reps``.

    One set-up = import the query registry afresh (every sparkclif
    module re-executed), stop the running session and build a new one
    with ``session.get_spark``, then warm it (``base_warmup``). The
    first set-up launches the JVM; its launch time is reported on its
    own. The first ``unmeasured`` set-ups are kept out of the medians:
    the few after the launch still run 10-60 % slower while the JVM
    compiles the set-up path."""
    phases: dict[str, list[float]] = {"import": [], "spark": [], "warm": [], "total": []}
    spark = None
    launch = None
    for i in range(unmeasured + reps):
        t0 = time.perf_counter()
        _purge_program_modules()
        importlib.import_module("sparkclif.registry").all_queries()
        t1 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = importlib.import_module("sparkclif.session").get_spark("perfbench", cpus=cpus())
        spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        if i == 0:
            launch = t2 - t1
        base_warmup(spark)
        t3 = time.perf_counter()
        if i < unmeasured:
            continue
        phases["import"].append(t1 - t0)
        phases["spark"].append(t2 - t1)
        phases["warm"].append(t3 - t2)
        phases["total"].append(t3 - t0)
    return spark, {
        "setup_s": statistics.median(phases["total"]),
        "session.get_spark_s": statistics.median(phases["spark"]),
        "session.warmup_s": statistics.median(phases["warm"]),
        "registry.import_s": statistics.median(phases["import"]),
        "session.jvm_launch_s": launch,
    }


def base_warmup(spark) -> None:
    """One small SQL job: the session's first query compiles and loads
    the code every later query uses."""
    spark.range(200_000).selectExpr("sum(id)").collect()


def worker_warmup(spark) -> None:
    """Start the Arrow Python worker pool (one worker per core), so no
    timed operation pays for the pool's start."""
    spark.range(8_000).repartition(cpus()).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
