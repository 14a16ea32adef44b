"""Spark session, Spark's own counters and run context, read from outside.

Nothing here reaches into ``datatest_spark``: layer calls are timed by
the caller, Spark's per-stage counters come from the JVM status store
(``sc._jsc.sc().statusStore()``, live with ``spark.ui.enabled=false``),
memory from ``/proc``.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from inputs import ROOT, WORK

# A fixed, pre-touched heap: peak RSS then measures what a change adds
# outside the heap (Python workers, Arrow and native buffers) instead of
# when G1 happened to grow the heap, which moved it by ~20% run to run.
# 2g holds this benchmark's inputs with room to spare on a 15 GB host.
HEAP = "2g"
SHUFFLE_PARTITIONS = 4


def prepare_env() -> None:
    """Process environment every Spark process of a run inherits."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # Python workers import datatest_spark from the checkout; without
    # this they fail with ModuleNotFoundError outside the repo root
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")


def spark_conf(slots: int):
    from pyspark import SparkConf

    tmp = os.path.join(WORK, "tmp")
    return (
        SparkConf()
        .setMaster(f"local[{slots}]")
        .setAppName(f"perfbench-{slots}")
        .set("spark.driver.memory", HEAP)
        .set("spark.driver.extraJavaOptions",
             f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
             f"-Djava.io.tmpdir={tmp}")
        .set("spark.ui.enabled", "false")
        # fixed at context start; cannot be turned off afterwards
        .set("spark.ui.showConsoleProgress", "false")
        .set("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .set("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .set("spark.sql.adaptive.enabled", "true")
        .set("spark.sql.session.timeZone", "UTC")
        .set("spark.sql.execution.arrow.pyspark.enabled", "true")
        .set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .set("spark.sql.parquet.columnarReaderBatchSize", "256")
        .set("spark.sql.files.maxPartitionBytes", "16m")
    )


def launch_jvm(slots: int) -> None:
    """Start the JVM gateway once per process; sessions reuse it."""
    from pyspark import SparkContext

    SparkContext._ensure_initialized(conf=spark_conf(slots))


def build_session(slots: int):
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.config(conf=spark_conf(slots)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextmanager
def one_slot(spark, timeout: float = 60.0):
    """Run the body with one of the session's two task slots held by a
    sleeping JVM task, so its jobs get one slot under the same plan,
    JIT state and Python workers as the two-slot passes."""
    sc = spark.sparkContext
    group = "perfbench-slot-holder"

    def hold():
        sc.setJobGroup(group, "holds one task slot", interruptOnCancel=True)
        try:
            spark.range(0, 1, 1, 1).selectExpr(
                "java_method('java.lang.Thread', 'sleep', 3600000L)"
            ).collect()
        except Exception:  # cancelled below; the interrupt surfaces here
            pass

    t = threading.Thread(target=hold, daemon=True)
    t.start()
    tracker = sc.statusTracker()
    deadline = time.time() + timeout
    while time.time() < deadline:
        # nothing else runs while the holder starts, so any running
        # task is the holder's
        stages = [tracker.getStageInfo(s)
                  for s in tracker.getActiveStageIds()]
        if any(s and s.numActiveTasks for s in stages):
            break
        time.sleep(0.05)
    else:
        raise RuntimeError("the slot holder task did not start")
    try:
        yield
    finally:
        sc.cancelJobGroup(group)
        t.join(timeout)


def stop_session(spark) -> None:
    spark.catalog.clearCache()
    spark.stop()


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait until it and every process it
    started (the PySpark daemon and its workers) have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    tree = [proc.pid] + descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    _wait_gone(tree)


def stop_resource_tracker() -> None:
    """Stop the helper process that a spawn pool (input generation)
    leaves running, so it neither outlives the run nor counts in its
    memory."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_pid", None) is not None:
        tracker._stop()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids, timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit; kill what is left at the deadline."""
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids):
        if time.time() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            return
        time.sleep(0.05)


# ------------------------------------------------------ status store


class StatusStore:
    """Per-job-group stage counters from the JVM ``AppStatusStore``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, groups, t0: float, t1: float) -> List:
        """Jobs of one layer call: those in its job groups, plus
        ungrouped jobs submitted inside its time window (jobs launched
        from a library's own thread pool do not inherit the group)."""
        self._drain()
        seq = self.jsc.statusStore().jobsList(None)
        out = []
        for k in range(seq.size()):
            j = seq.apply(k)
            g = j.jobGroup()
            if g.isDefined():
                if g.get() in groups:
                    out.append(j)
                continue
            sub = j.submissionTime()
            if sub.isDefined():
                ts = sub.get().getTime() / 1000.0
                if t0 <= ts <= t1:
                    out.append(j)
        return out

    def stage_metrics(self, groups, t0: float, t1: float) -> Dict:
        jobs = self.jobs(groups, t0, t1)
        stage_ids = set()
        for j in jobs:
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_ids.add(ids.apply(k))
        store = self.jsc.statusStore()
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        seq = store.stageList(None, False, False, empty, None)
        m = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0,
             "cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
             "input_records": 0, "output_bytes": 0, "shuffle_read": 0,
             "shuffle_write": 0, "stage_records": []}
        for k in range(seq.size()):
            s = seq.apply(k)
            if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
                continue
            m["stages"] += 1
            m["tasks"] += s.numCompleteTasks()
            m["run_s"] += s.executorRunTime() / 1000.0
            m["cpu_s"] += s.executorCpuTime() / 1e9
            m["gc_s"] += s.jvmGcTime() / 1000.0
            m["input_bytes"] += s.inputBytes()
            m["input_records"] += s.inputRecords()
            m["output_bytes"] += s.outputBytes()
            m["shuffle_read"] += s.shuffleReadBytes()
            m["shuffle_write"] += s.shuffleWriteBytes()
            m["stage_records"].append(
                {"stage": s.stageId(), "tasks": s.numCompleteTasks(),
                 "run_ms": s.executorRunTime(),
                 "cpu_ms": s.executorCpuTime() / 1e6,
                 "gc_ms": s.jvmGcTime(), "input_bytes": s.inputBytes(),
                 "input_records": s.inputRecords(),
                 "output_bytes": s.outputBytes(),
                 "shuffle_read": s.shuffleReadBytes(),
                 "shuffle_write": s.shuffleWriteBytes()})
        return m

    def cached_bytes(self) -> int:
        self._drain()
        seq = self.jsc.statusStore().rddList(True)
        total = 0
        for k in range(seq.size()):
            r = seq.apply(k)
            total += r.memoryUsed() + r.diskUsed()
        return total


# ------------------------------------------------------------ tracing


class Tracer:
    """Spans around layer calls, kept in memory until the run ends.

    Each span runs its Spark jobs under its own job group; its stage
    counters are read from the status store when it closes.  With
    ``enabled=False`` a span only measures wall time."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.store = StatusStore(spark) if enabled else None
        self.spans: List[Dict] = []
        self._stack: List[Dict] = []

    @contextmanager
    def span(self, name: str, trace_id: Optional[str] = None):
        parent = self._stack[-1] if self._stack else None
        sp = {"name": name, "id": len(self.spans),
              "parent": parent["id"] if parent else None,
              "trace_id": trace_id or (parent["trace_id"] if parent
                                       else name)}
        sc = self.spark.sparkContext
        group = sp["group"] = f"perfbench-{sp['id']}-{name}"
        if self.enabled:
            sc.setJobGroup(group, name)
        self._stack.append(sp)
        if self.enabled:
            sp["jvm_read_bytes"] = -jvm_read_bytes()
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            if self.enabled:
                sp["jvm_read_bytes"] += jvm_read_bytes()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self.spans.append(sp)

    def close(self, sp: Dict) -> Dict:
        """Attach the stage counters of the span and its descendants
        (call after the span ends)."""
        if self.enabled and "spark" not in sp:
            ids = {sp["id"]}
            for s in reversed(self.spans):  # a span ends after its children
                if s["parent"] in ids:
                    ids.add(s["id"])
            groups = {s["group"] for s in self.spans if s["id"] in ids}
            sp["spark"] = self.store.stage_metrics(groups, sp["start"],
                                                   sp["end"])
        return sp


# ------------------------------------------------------- run context


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def descendants(pid: int) -> List[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_seconds() -> float:
    """CPU time (user + system, reaped children included) used so far by
    every process this one started: the driver JVM and Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def jvm_read_bytes() -> int:
    """Bytes the driver JVM has read through ``read()`` calls (files,
    local shuffle, worker sockets).  Spark's own ``inputBytes`` misses
    scans that feed a Python UDF: those run on a separate writer thread
    whose reads the task's file-system counters do not see."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("rchar:"):
                        total += int(line.split()[1])
        except (OSError, ValueError):
            continue
    return total


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python workers (the
    processes this one started that are named ``java`` or ``python*``),
    sampled from ``/proc``; per-name peaks go to the run context.  A child
    the JVM forks to run a shell command carries the forking thread's
    name and, until it execs, the JVM's whole resident set: counting it
    would add the JVM a second time."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.peak_by_comm: Dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_comm: Dict[str, int] = {}
            for pid in descendants(me):
                try:
                    with open(f"/proc/{pid}/comm") as fh:
                        comm = fh.read().strip()
                except OSError:
                    continue
                if comm == "java" or comm.startswith("python"):
                    by_comm[comm] = by_comm.get(comm, 0) + _rss_kb(pid)
            self.peak_kb = max(self.peak_kb, sum(by_comm.values()))
            for comm, kb in by_comm.items():
                self.peak_by_comm[comm] = max(
                    self.peak_by_comm.get(comm, 0), kb)
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


def read_steal():
    """(steal ticks, total ticks) of the aggregate ``/proc/stat`` line."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def cpu_canary(reps: int = 3) -> float:
    """Median wall seconds of a fixed single-thread loop (run context:
    a slow host phase shows here, not as a code change)."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i & 1023
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)
