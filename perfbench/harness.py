"""Run plumbing shared by the workloads: pinned Spark session, private work
directory, process-tree memory sampler, host probe and the Spark-side trace.

Nothing here touches the package's internals: the trace reads Spark's own
bookkeeping (job groups, `statusTracker()`, the status store) around calls
into the package's public functions.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager

import numpy as np

# Spark settings every run pins explicitly (and reports), never inherited
# from the package's `SPARK_GRAFT_CPUS` default of 32 slots. n_shards is
# build_index's default.
N_SHARDS = 8
DRIVER_MEMORY = "2g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def settings() -> dict:
    n = cpu_count()
    return {
        "master": f"local[{n}]",
        "shuffle_partitions": n,
        "n_shards": N_SHARDS,
        "driver_memory": DRIVER_MEMORY,
    }


def start_spark(work: str):
    """A local[<nproc>] session whose temp space lives under `work`."""
    from blacklab_spark.session import get_spark

    s = settings()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM (spark-submit's launcher too) keeps its temp files in `work`
    # and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return get_spark(
        s["master"],
        app_name="perfbench",
        shuffle_partitions=s["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": s["driver_memory"],
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark_local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.executorEnv.TMPDIR": tmp,
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants (Spark's
    Python worker daemon outlives the JVM by a moment), so that
    `reap_descendants` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(grace_s: float = 15.0) -> None:
    """Wait until this process has no child left, reaping each one; a
    child still running after `grace_s` gets SIGTERM, then SIGKILL."""
    me = os.getpid()
    start = time.monotonic()
    sent: dict[int, int] = {}
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        late = time.monotonic() - start - grace_s
        if late > 0:
            sig = signal.SIGTERM if late < 5.0 else signal.SIGKILL
            for pid in _children().get(me, ()):
                if sent.get(pid) != sig:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                    sent[pid] = sig
        time.sleep(0.05)


@contextmanager
def work_dir(root: str):
    """A per-run directory under `root`, removed on exit (also on failure)."""
    path = os.path.join(root, f"run-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(root)
        except OSError:  # another run still uses it
            pass


# ------------------------------------------------------------------ stats --
def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default), q in [0, 1]."""
    return float(np.quantile(np.asarray(values, dtype=np.float64), q))


def median(values) -> float:
    return float(statistics.median(values))


# ------------------------------------------------------------------- host --
def probe_host() -> float:
    """Single-thread argsort probe (as in scripts/bench_one_level.py): the
    seconds to argsort 7M reversed int64. Diagnostic only: no run is
    dropped, gated or retried on it."""
    c = np.arange(7_000_000, dtype=np.int64)[::-1].copy()
    t0 = time.perf_counter()
    np.argsort(c, kind="stable")
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Summed PSS of `root` and all its descendants, from /proc. PSS counts
    a page shared by n processes as 1/n in each, so the Python workers
    forked from one daemon, and a child the JVM forks for a moment, are not
    counted twice (summed RSS swung by up to 1.4 GB between runs from
    exactly that)."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _pss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class MemSampler:
    """Samples the benchmark's process tree (driver, JVM, Python workers)
    every `period` seconds; `peak_mb` is the largest summed PSS seen."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))


# ------------------------------------------------------------------ trace --
_STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("output_bytes", "outputBytes", 1),
)


class SparkTrace:
    """Tags each traced call's Spark jobs with a job group and reads their
    jobs, stages and stage metrics back from `statusTracker()` and the
    status store. Disabled (a no-op) in untraced runs."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._n = 0

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group; yields the group id."""
        if not self.enabled:
            yield None
            return
        self._n += 1
        gid = f"perfbench-{self._n}-{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def metrics(self, *gids: str) -> dict:
        """Summed job/stage/task counts and stage metrics of the groups."""
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        out.update({k: 0.0 for k, _, _ in _STAGE_FIELDS})
        if not self.enabled:
            return out
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        defaults = [getattr(store, f"stageData$default${i}")() for i in range(2, 6)]
        for gid in gids:
            for jid in st.getJobIdsForGroup(gid):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in info.stageIds:
                    attempts = store.stageData(sid, *defaults)
                    for i in range(attempts.size()):
                        d = attempts.apply(i)
                        if d.status().toString() == "SKIPPED":
                            continue
                        out["stages"] += 1
                        out["tasks"] += d.numCompleteTasks()
                        for key, getter, scale in _STAGE_FIELDS:
                            out[key] += getattr(d, getter)() * scale
        return out

    def total_jobs(self) -> int:
        """Jobs submitted so far in this SparkContext (all threads)."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())
