"""Measurement plumbing shared by every workload, all of it outside the
package under test: the Spark session the benchmark owns, a sampler of
the process tree read from /proc, a reader of Spark's status store, and
an in-memory span recorder.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import subprocess
import sys
import threading
import time

CORES = 4
WORK = ".perfbench"          # scratch root, relative to the checkout root

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def work_dir(*parts: str) -> str:
    p = os.path.join(os.path.abspath(WORK), *parts)
    os.makedirs(p, exist_ok=True)
    return p


def pin_environment() -> None:
    """Keep every file Spark and Python write under the scratch root and
    let the Python workers import the package and this benchmark."""
    root = os.getcwd()
    tmp = work_dir("tmp")
    os.environ["TMPDIR"] = tmp
    # one hash seed for every Python worker: set and dict layouts, and so
    # their speed, do not change from one process to the next
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["SPARK_LOCAL_DIRS"] = work_dir("spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_PYTHON"] = (os.environ.get("PYSPARK_PYTHON")
                                    or sys.executable)
    import tempfile
    tempfile.tempdir = tmp


def new_session():
    """One local[4] session with the engine's own configuration (its
    driver heap included) plus the benchmark's steadiness settings, which
    only keep the console quiet and every file under the scratch root."""
    from ocr_gpu_services_spark.session import get_spark
    return get_spark(app="perfbench", cores=CORES, extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work_dir("spark-local"),
        "spark.sql.warehouse.dir": work_dir("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir('tmp')}",
    })


def collect_heaps(spark) -> None:
    """Full JVM and driver garbage collection: every timed job starts
    from a collected heap."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def heap_peak(spark, reset: bool = False) -> float:
    """Peak used JVM heap in MB since the last reset, summed over the
    heap's memory pools (read through JMX; each pool's own peak)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    total = 0
    for i in range(pools.size()):
        pool = pools.get(i)
        if str(pool.getType()) != "Heap memory":
            continue
        if reset:
            pool.resetPeakUsage()
        else:
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()          # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# process tree, read from /proc
# ---------------------------------------------------------------------------

def _scan_proc() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, cpu ticks, rss bytes) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode("latin-1")
        except OSError:
            continue
        lp, rp = raw.find("("), raw.rfind(")")
        fields = raw[rp + 2:].split()
        out[int(name)] = (int(fields[1]), raw[lp + 1:rp],
                          int(fields[11]) + int(fields[12]),
                          int(fields[21]) * _PAGE)
    return out


def _tree(procs: dict, root: int) -> dict:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    keep, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in procs:
            keep[p] = procs[p]
            todo.extend(kids.get(p, ()))
    return keep


def _kind(comm: str) -> str:
    if comm.startswith("java"):
        return "jvm"
    if comm.startswith("python") or comm.startswith("pyspark"):
        return "python"
    return "other"


def _rss_by_kind(tree: dict) -> dict:
    """Summed RSS of the JVM and of the Python processes, and of both.
    Other processes are left out: a child the JVM forks to run a shell
    command reports the JVM's own resident pages until it execs, which
    would count them twice."""
    by = {"jvm": 0, "python": 0}
    for _pp, comm, _cpu, rss in tree.values():
        if _kind(comm) in by:
            by[_kind(comm)] += rss
    by["all"] = by["jvm"] + by["python"]
    return by


class ProcSampler:
    """Samples the benchmark's process tree (Python driver, JVM, workers)
    in a background thread.  ``window()`` brackets a timed region and
    yields a dict filled on exit with CPU seconds (total, jvm, python)
    and the peak summed RSS (all, jvm, python) seen inside the region.
    ``rss_mb()`` reads the summed RSS now."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.root = os.getpid()
        self._last: dict[int, tuple[str, int]] = {}
        self._peak: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _sample(self) -> dict:
        tree = _tree(_scan_proc(), self.root)
        with self._lock:
            for pid, (_pp, comm, cpu, _rss) in tree.items():
                self._last[pid] = (comm, cpu)
            for k, v in _rss_by_kind(tree).items():
                self._peak[k] = max(self._peak.get(k, 0), v)
        return tree

    def _loop(self):
        while not self._stop.wait(self.interval):
            self._sample()

    @contextlib.contextmanager
    def window(self):
        res: dict = {}
        start = self._sample()
        with self._lock:
            self._peak = _rss_by_kind(start)
            alive = set(self._last)
        yield res
        self._sample()
        with self._lock:
            by = {"jvm": 0, "python": 0, "other": 0}
            for pid, (comm, cpu) in self._last.items():
                base = start[pid][2] if pid in start else 0
                if pid in start or pid not in alive:
                    by[_kind(comm)] += max(0, cpu - base)
            res["cpu_s"] = sum(by.values()) / _TICK
            res["jvm_cpu_s"] = by["jvm"] / _TICK
            res["python_cpu_s"] = by["python"] / _TICK
            for k, v in self._peak.items():
                res[f"peak_rss_{k}_mb"] = v / 2**20

    def rss_mb(self) -> float:
        return _rss_by_kind(_tree(_scan_proc(), self.root))["all"] / 2**20


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

class StageLog:
    """Per-stage metrics from the status store (works with the UI off).
    ``since(mark)`` returns the stages that ran after ``mark()``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm, self._gw = sc._jvm, sc._gateway
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._seen: dict[tuple[int, int], dict] = {}

    def _stages(self):
        jl = self._jvm.java.util.ArrayList
        return self._store.stageList(
            jl(), False, False, self._gw.new_array(self._jvm.double, 0), jl())

    def mark(self) -> set:
        self._refresh()
        return set(self._seen)

    def _refresh(self):
        # the store is fed by the asynchronous listener bus: drain it so
        # the stages of the action that just returned are all recorded
        self._sc.listenerBus().waitUntilEmpty()
        st = self._stages()
        for i in range(st.size()):
            s = st.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen or str(s.status()) not in (
                    "COMPLETE", "SKIPPED", "FAILED"):
                continue
            self._seen[key] = {
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "input_bytes": s.inputBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
            }

    def since(self, mark: set) -> dict:
        self._refresh()
        return {k: v for k, v in self._seen.items() if k not in mark}

    def task_run_ms(self, key: tuple[int, int]) -> list[int]:
        tasks = self._store.taskList(key[0], key[1], 2**31 - 1)
        out = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                out.append(m.get().executorRunTime())
        return out


def stage_totals(stages: dict) -> dict:
    return {k: sum(s[k] for s in stages.values())
            for k in ("run_ms", "cpu_ns", "gc_ms", "input_bytes",
                      "shuffle_write_bytes")}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Spans:
    """Spans around the benchmark's calls into each layer: name, start,
    end, parent and one run id, kept in memory and written once."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        idx = len(self.items)
        if self.enabled:
            self.items.append({"run": self.run_id, "id": idx, "name": name,
                               "parent": (self._stack[-1] if self._stack
                                          else None),
                               "start": t0, "end": None})
            self._stack.append(idx)
        try:
            yield
        finally:
            if self.enabled:
                self._stack.pop()
                self.items[idx]["end"] = time.perf_counter()

    def dump(self) -> None:
        if not self.enabled:
            return
        path = os.path.join(work_dir("spans"), f"{self.run_id}.json")
        with open(path, "w") as f:
            json.dump(self.items, f)
