"""Run scaffolding shared by the workloads: the run root, the Spark session,
the span tracer and the statistics the report uses.

Everything here measures from outside the engine: wall time around calls into
its public functions, Spark job counts from the status tracker (one job tag
per span), and bytes on disk.
"""

from __future__ import annotations

import itertools
import math
import os
import statistics
import tempfile
import threading
import time
from contextlib import contextmanager

SPARK_CONFS = {
    "spark.ui.showConsoleProgress": "false",
    # 2g is ample for these inputs and keeps the benchmark small on a
    # shared machine; the engine default (8g) would only reserve address space
    "spark.driver.memory": "2g",
}


class RunRoot:
    """A fresh directory inside the checkout that holds every file a run
    writes, TMPDIR and Spark's local dirs included; removed on close."""

    def __init__(self, checkout: str):
        base = os.path.join(checkout, ".perfbench_run")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=base)
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.tmp)
        # stage_click_log, the stage_* helpers and streaming checkpoints all
        # call tempfile; point it (and every child process) into the root
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "spark-local")
        tempfile.tempdir = None
        self._n = 0

    def fresh(self, name: str) -> str:
        """A new, not-yet-existing path under the root."""
        self._n += 1
        return os.path.join(self.path, f"{name}-{self._n:03d}")

    def close(self) -> None:
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run's root is still there


class Session:
    """Starts (and restarts) the engine session through `session.get_spark`."""

    def __init__(self, root: RunRoot):
        self.root = root
        self.spark = None

    def start(self):
        from clinical_search_data_pipeline_spark.caching import release_caches
        from clinical_search_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            release_caches()
            self.spark.stop()
        confs = dict(SPARK_CONFS)
        confs["spark.sql.warehouse.dir"] = os.path.join(self.root.path, "warehouse")
        # JIT compiler threads stay alive for the whole run, so tree_cpu_s
        # sees (and leaves out) all of their time; the flag changes when
        # threads are started, not what gets compiled
        confs["spark.driver.extraJavaOptions"] = (
            f"-Djava.io.tmpdir={self.root.tmp} -XX:-UseDynamicNumberOfCompilerThreads"
        )
        self.spark = get_spark(app_name="perfbench", extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def idle_check(self) -> list[str]:
        """Release engine caches; report any stream still running."""
        from clinical_search_data_pipeline_spark.caching import release_caches

        release_caches()
        return [f"stream still active: {q.name or q.id}" for q in self.spark.streams.active]

    def stop(self) -> None:
        if self.spark is not None:
            from clinical_search_data_pipeline_spark.caching import release_caches

            release_caches()
            for q in self.spark.streams.active:
                q.stop()
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            # the JVM exits when its stdin closes; wait for it
            if gateway is not None and getattr(gateway, "proc", None) is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None


class Tracer:
    """In-memory spans around public calls. With tracing off, `span` only
    yields; with it on, each span records name, start, end, parent and op
    id, and tags the Spark jobs its thread starts so the status tracker can
    count them (jobs launched from other threads are not attributed)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None  # the current session; set by the caller
        self.spans: list[dict] = []
        # span ids double as Spark job tags, so they are never reused
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = f"pb-span-{next(self._ids)}"
            rec = {
                "id": sid,
                "name": name,
                "parent": parent["id"] if parent else None,
                "op": op or (parent["op"] if parent else None),
                "start": time.perf_counter(),
            }
            self.spans.append(rec)
        sc = self.spark.sparkContext
        sc.addJobTag(sid)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            sc.removeJobTag(sid)
            rec["spark_jobs"], rec["spark_tasks"] = self._job_counts(sid)

    def _job_counts(self, tag: str) -> tuple[int, int]:
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        ids = list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
        tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
        return len(ids), tasks

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of `xs` that still has
    at least ten samples beyond it (nearest-rank), or the maximum, marked
    percentile 100, when there are fewer than eleven samples."""
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan"), 0
    s = sorted(xs)
    if n < 11:
        return s[-1], 100.0, n
    # nearest-rank index n-11 leaves exactly ten samples above it
    pct = math.floor(100.0 * (n - 10) / n)
    idx = max(0, math.ceil(pct / 100.0 * n) - 1)
    return s[idx], float(pct), n


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under `path`, commit logs included, .crc and _SUCCESS markers not."""
    total = files = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(".crc") or f == "_SUCCESS":
                continue
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            comm, rest = f.read().split("(", 1)[1].rsplit(")", 1)
    except OSError:
        return None  # exited while we looked
    return comm, rest.split()


# CPU last seen per JIT compiler thread, by (pid, tid): the JVM retires
# idle compiler threads, and a retired thread's time stays in its process's
# total, so it must stay subtracted
_jit_seen: dict[tuple[int, int], float] = {}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM, Spark's Python workers), plus what their
    reaped children used, minus what the JVM's JIT compiler threads used
    (see jit_cpu_s). Read from /proc; steal time is not included."""
    return _tree_cpu() - jit_cpu_s()


def jit_cpu_s() -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far (as of
    the last tree_cpu_s call). Their work follows the JVM's compile queue,
    not the engine's work, and in a fresh JVM it is a large,
    timing-dependent share of the process CPU."""
    return sum(_jit_seen.values())


def _tree_cpu() -> float:
    me = os.getpid()
    parent, cpu = {}, {}
    tick = os.sysconf("SC_CLK_TCK")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        parent[int(pid)] = int(st[1][1])
        cpu[int(pid)] = sum(int(x) for x in st[1][11:15]) / tick
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p != me:
            continue
        total += c
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and "CompilerThre" in st[0]:
                # a thread's own utime and stime (its children fields stay 0)
                _jit_seen[(pid, int(tid))] = sum(int(x) for x in st[1][11:13]) / tick
    return total


class Clock:
    """Wall-clock helper for closed-loop phases."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.deadline = self.t0 + seconds

    def left(self) -> float:
        return self.deadline - time.perf_counter()
