"""In-memory spans and Spark-side counters for the benchmark.

Nothing here changes what the program does: spans wrap calls the
benchmark makes into the program's public functions, and the counters
are read from Spark's own status store (jobs and stages), the JVM's
garbage-collector beans, a ``StreamingQueryListener`` and ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Spans kept in memory (name, start, end, parent, op id) and written
    out once, at the end of the run. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def write(self, path: str, layers: dict[str, float]) -> None:
        """Write the spans and the run's per-layer medians to ``path``."""
        with open(path, "w") as f:
            json.dump({"layers": layers, "spans": [asdict(s) for s in self.spans]}, f)


@dataclass
class Job:
    start: float
    end: float
    run_s: float
    shuffle_write_mb: float
    spill_mb: float


@dataclass
class JobStats:
    """What Spark ran inside one time window."""

    jobs: int = 0
    busy_s: float = 0.0  # length of the union of the job spans
    executor_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


class SparkCounters:
    """Job and stage counters from Spark's status store plus JVM GC time.

    Job ids are dense, so the jobs of a window are the ids issued since
    the id ``mark`` returned at its start. The listener bus is drained
    before the store is read, so it has seen every job that already ended."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc = list(mf.getGarbageCollectorMXBeans())

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Py4JJavaError:
            return None

    def mark(self) -> int:
        """Id of the next job Spark will issue."""
        return int(self._dag.numTotalJobs())

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc) / 1000.0

    def jobs_since(self, first: int) -> list[Job]:
        self._bus.waitUntilEmpty(10_000)
        out, jid = [], first
        while (job := self._job(jid)) is not None:
            jid += 1
            sub, end = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and end.isDefined()):
                continue
            j = Job(sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0, 0.0, 0.0, 0.0)
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # a stage that never ran
                    continue
                j.run_s += st.executorRunTime() / 1000.0
                j.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
                j.spill_mb += st.diskBytesSpilled() / 2**20
            out.append(j)
        return out


def window_stats(jobs: list[Job], t0: float, t1: float) -> JobStats:
    """Jobs submitted inside ``[t0, t1]``, their spans clipped to it."""
    inside = [j for j in jobs if t0 - 0.001 <= j.start <= t1]
    return JobStats(
        jobs=len(inside),
        busy_s=_union([(j.start, j.end) for j in inside], t0, t1),
        executor_run_s=sum(j.run_s for j in inside),
        shuffle_write_mb=sum(j.shuffle_write_mb for j in inside),
        spill_mb=sum(j.spill_mb for j in inside),
    )


def _union(spans: list[tuple[float, float]], t0: float, t1: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, t0), min(e, t1)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class ProgressRecorder(StreamingQueryListener):
    """Collects every streaming progress event; ``wait_terminated`` blocks
    until ``n`` queries have ended, after which all their progress events
    have arrived (the listener bus delivers in order)."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.progress.append(
                {
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "timestamp": p.timestamp,
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= n, timeout):
                raise TimeoutError(f"saw {self.terminated} of {n} query terminations")


def descendants(root: int) -> list[int]:
    """Every live process descended from ``root``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        out.append(pid)
    return out


def jvm_pids(root: int) -> list[int]:
    """Java processes descended from ``root`` (the Spark driver JVM)."""
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:
            pass
    return out


def wait_gone(pids: list[int], timeout: float = 60.0) -> None:
    """Block until none of ``pids`` is alive (zombies count as gone)."""
    deadline = time.time() + timeout
    for pid in pids:
        while time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
        else:
            raise TimeoutError(f"process {pid} still running")


def _cpu_clock_s(pid: int) -> float:
    """CPU seconds of process ``pid`` to the nanosecond, from the kernel's
    per-process CPU clock; 0 once it has exited."""
    try:
        # the clock id clock_getcpuclockid(3) gives: process-wide, CPUCLOCK_SCHED
        return time.clock_gettime((~pid << 3) | 2)
    except OSError:
        return 0.0


def _thread_cpu_s(pid: int, tid: str) -> float:
    """CPU seconds of one thread of another process, to the nanosecond."""
    try:
        with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
            return int(f.read().split()[0]) / 1e9
    except OSError:
        return 0.0


def _reaped_children_s(pid: int) -> float:
    """CPU seconds of the children ``pid`` has reaped (clock ticks)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process under it,
    counting exited children each has reaped, less the time of the JVMs'
    JIT compiler threads. How much a JVM still compiles depends on how
    warm it is, not on the work of an op, and it is the largest part of
    the spread of op CPU time between runs. The compiler threads must live
    for the whole run (``-XX:-UseDynamicNumberOfCompilerThreads``), or the
    time of one that exits would stay in its process's total."""
    total = 0.0
    for pid in [root] + descendants(root):
        total += _cpu_clock_s(pid) + _reaped_children_s(pid)
        total -= sum(_thread_cpu_s(pid, tid) for tid in _jit_threads(pid))
    return total


def _jit_threads(pid: int) -> list[str]:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return []
    out = []
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    out.append(tid)
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            return next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
    except OSError:
        return 0


def python_rss_mb(client: int, jvms: list[int]) -> float:
    """Peak resident sets (``VmHWM``) of the Python client and of every live
    Python process under its JVMs (the PySpark daemon and its workers)."""
    pids = [client]
    for jvm in jvms:
        for pid in descendants(jvm):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().startswith("python"):
                        pids.append(pid)
            except OSError:
                pass
    return sum(_hwm_kb(p) for p in pids) / 1024.0


_GC_PAUSE = re.compile(r"^\[(\d+)ms\].* Pause .* (\d+)M->(\d+)M\(\d+M\)")


def heap_after_gc_mb(gc_log: str, windows: list[tuple[float, float]]) -> list[float]:
    """Per window ``(t0, t1)`` (epoch seconds), the largest heap occupancy
    right after a collection inside it, from a JVM unified GC log written
    with ``-Xlog:gc:file=...:timemillis``: the most the program kept live
    at once, give or take old-generation garbage not yet collected.
    Windows without a collection are left out."""
    pauses = []
    with open(gc_log) as f:
        for line in f:
            if m := _GC_PAUSE.search(line):
                pauses.append((int(m.group(1)) / 1000.0, int(m.group(3))))
    out = []
    for t0, t1 in windows:
        inside = [mb for t, mb in pauses if t0 <= t <= t1]
        if inside:
            out.append(float(max(inside)))
    return out
