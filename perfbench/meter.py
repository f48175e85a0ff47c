"""Outside-in measurement: spans around layer calls, Spark status-store
deltas, /proc readings and output-directory walks.

Nothing here reaches into the package: every number is taken at the
boundary of a call the benchmark makes (timers around it, the driver
JVM's status store and the process tree's ``/proc`` entries read before
and after it, the table/index directories walked after it).
"""

from __future__ import annotations

import math
import os
import resource
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the higher of the nearest-rank p90 and the
    highest nearest-rank percentile with at least ten samples beyond it.
    Below 100 samples no percentile above p90 has ten samples beyond
    it, and below 21 none above the median, so short runs report p90
    (the maximum below 10 samples) rather than a "tail" under the median."""
    xs = sorted(values)
    n = len(xs)
    i = max(math.ceil(0.9 * n) - 1, n - 11)
    return xs[i], 100.0 * (i + 1) / n, n


# ---- /proc -------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``root`` and all its descendants."""
    kids = _children_map()
    out, todo = [], [(root, 0)]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, parent))
        todo.extend((k, pid) for k in kids.get(pid, ()))
    return out


class ProcSampler:
    """Background sampler of the process tree: peak resident set size,
    CPU seconds of the pyspark worker daemon and its workers, and CPU
    seconds of the whole tree.

    The daemon ignores SIGCHLD, so its workers are reaped by the kernel
    and their CPU never reaches the daemon's cutime. Instead every
    process running ``pyspark.daemon`` (the daemon and the workers it
    forks) is sampled each ``period_s`` and its last-seen utime + stime
    kept; the CPU a worker spends after its last sample is missed.

    The tree's CPU (``tree_cpu_s``) adds the driver JVM's own and reaped
    children's time (the launcher JVM that spark-submit runs before it
    execs java lands there) and this Python process's time less the
    sampler thread's own, and leaves out the JVM's JIT compiler and
    garbage collector threads (sampled per thread like the workers;
    ``cpu_parts`` reports them apart): a long-lived scheduler
    pays its JIT compilation once, yet in a run of a minute it is a
    third of the JVM's CPU, and a collection lands in whichever op
    happens to fill the heap, so both move from run to run by more than
    the program's own work does."""

    def __init__(self, root: int, period_s: float) -> None:
        self.root = root
        self.period_s = period_s
        self.peak_rss = 0
        self.peak_parts: dict = {}
        self._worker_ticks: dict[tuple[int, bytes], int] = {}
        self._jvm_ticks = 0
        self._thread_ticks: dict[str, dict[tuple[int, bytes], int]] = {"jit": {}, "gc": {}}
        self._sampler_cpu_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        with self._lock:
            self._sample()

    def _sample(self) -> None:
        procs = {}
        for pid, parent in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(b")") + 2 :].split()
            # read every time: the JVM starts as the spark-submit script
            # and execs java under the same pid
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            procs[pid] = (parent, cmd, fields)
        rss = 0
        parts = {"jvm": 0, "driver": 0, "workers": 0, "n_workers": 0}
        for pid, (parent, cmd, fields) in procs.items():
            if pid == self.root:
                part = "driver"
            elif b"pyspark.daemon" in cmd:
                part = "workers"
            elif b"java" in cmd and not (parent in procs and procs[parent][1] == cmd):
                part = "jvm"
            else:
                # a helper the JVM spawns (through a vfork'd child that shares
                # its memory until exec) or the launcher script before it execs
                # java: counting it would count the JVM twice
                continue
            rss += int(fields[21]) * _PAGE
            parts[part] += int(fields[21]) * _PAGE
            parts["n_workers"] += part == "workers"
            if part == "workers":
                self._worker_ticks[(pid, fields[19])] = int(fields[11]) + int(fields[12])
            elif part == "jvm" and parent == self.root:
                self._jvm_ticks = sum(int(x) for x in fields[11:15])
                self._sample_jvm_threads(pid)
        if rss > self.peak_rss:
            self.peak_rss, self.peak_parts = rss, parts

    def _sample_jvm_threads(self, jvm: int) -> None:
        try:
            tids = os.listdir(f"/proc/{jvm}/task")
        except OSError:
            return
        for tid in tids:
            try:
                with open(f"/proc/{jvm}/task/{tid}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            name = stat[stat.index(b"(") + 1 : stat.rindex(b")")]
            if name.startswith((b"C1 CompilerThre", b"C2 CompilerThre")):
                kind = "jit"
            elif name.startswith((b"GC Thread", b"G1 ", b"VM Thread")):
                kind = "gc"
            else:
                continue
            fields = stat[stat.rindex(b")") + 2 :].split()
            self._thread_ticks[kind][(int(tid), fields[19])] = int(fields[11]) + int(fields[12])

    def cpu_parts(self) -> dict[str, float]:
        with self._lock:
            self._sample()
            jit = sum(self._thread_ticks["jit"].values())
            gc = sum(self._thread_ticks["gc"].values())
            ru = resource.getrusage(resource.RUSAGE_SELF)
            return {
                "driver": ru.ru_utime + ru.ru_stime - self._sampler_cpu_s,
                "jvm": (self._jvm_ticks - jit - gc) / _CLK_TCK,
                "gc": gc / _CLK_TCK,
                "workers": sum(self._worker_ticks.values()) / _CLK_TCK,
                "jit": jit / _CLK_TCK,
            }

    def tree_cpu_s(self) -> float:
        """CPU seconds the process tree's own work has used so far: the
        driver, the JVM less its JIT and GC threads, the workers."""
        return program_cpu_s(self.cpu_parts())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._sampler_cpu_s = time.thread_time()
            self._stop.wait(self.period_s)

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def program_cpu_s(parts: dict[str, float]) -> float:
    return parts["driver"] + parts["jvm"] + parts["workers"]


def host_record() -> dict:
    """Load, steal and core count, for the run record."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
        "total_jiffies": sum(cpu),
    }


# ---- output directories ------------------------------------------------


class FileLedger:
    """Tracks files under a set of directories between walks: bytes of
    files created since the last walk (by inode, so a rename is not a
    new file), and the current on-disk total."""

    def __init__(self, dirs: list[str]) -> None:
        self.dirs = dirs
        self.seen: set[tuple[int, int, int]] = set()
        self.created_bytes = 0

    def walk(self) -> tuple[int, int]:
        """Record new files; return (n_files, bytes) on disk now."""
        now: set[tuple[int, int, int]] = set()
        n = total = 0
        for d in self.dirs:
            for root, _dirs, files in os.walk(d):
                for name in files:
                    try:
                        st = os.stat(os.path.join(root, name))
                    except FileNotFoundError:
                        continue
                    key = (st.st_ino, st.st_size, st.st_mtime_ns)
                    now.add(key)
                    n += 1
                    total += st.st_size
                    if key not in self.seen:
                        self.created_bytes += st.st_size
        self.seen = now
        return n, total


def file_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


def parquet_files(path: str) -> list[str]:
    """Data files a reader of ``path`` lists (hidden dirs skipped)."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return out


# ---- Spark status store ------------------------------------------------


@dataclass
class SparkDelta:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


class StatusStore:
    """Reads the driver's status store for the jobs and stages an op
    started. The benchmark has one client thread, so the jobs and
    stages created between two readings of the scheduler's id counters
    are exactly the op's."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._sc = sc
        self._store = sc.statusStore()
        self._dag = sc.dagScheduler()
        gw = spark.sparkContext._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def delta(self, since: tuple[int, int]) -> SparkDelta:
        self._sc.listenerBus().waitUntilEmpty()
        job_hi, stage_hi = self.mark()
        d = SparkDelta()
        for jid in range(since[0], job_hi):
            j = self._store.job(jid)
            d.jobs += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                d.job_intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
        for sid in range(since[1], stage_hi):
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            it = attempts.iterator()
            while it.hasNext():
                s = it.next()
                if s.status().toString() == "SKIPPED":
                    continue
                d.stages += 1
                d.tasks += s.numCompleteTasks() + s.numFailedTasks()
                d.executor_run_s += s.executorRunTime() / 1000.0
                d.executor_cpu_s += s.executorCpuTime() / 1e9
                d.shuffle_write_bytes += s.shuffleWriteBytes()
                d.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return d


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---- spans -------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int


class Tracer:
    """In-memory spans around the layer calls the benchmark makes.

    Disabled, ``span`` only yields; enabled, it records name, start,
    end, parent span and op id, and spans are written out once, when
    the run ends."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self.op_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total seconds, and self seconds (the
        span's duration minus what its direct children cover)."""
        child_time = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        out: dict[str, dict] = {}
        for i, sp in enumerate(self.spans):
            r = out.setdefault(sp.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            r["calls"] += 1
            r["total_s"] += sp.end - sp.start
            r["self_s"] += sp.end - sp.start - child_time[i]
        return out
