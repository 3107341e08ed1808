"""Measurement from outside the engine: spans, Spark's status store and
/proc.

- :class:`Tracer` records a span around each call the benchmark makes
  into a layer's public function. Spans stay in memory and are written
  out once, at exit. A disabled tracer records nothing.
- :func:`spark_window_metrics` reads Spark's own runtime statistics
  (the AppStatusStore the UI and AQE are fed from) for every job and
  stage one benchmark operation ran.
- :class:`ProcStats` reads CPU time and peak RSS of the driver Python
  process, the JVM and the Python workers the JVM forked.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[tuple[int, int | None]] = []  # (span, op)
        self._next = 0

    @contextmanager
    def span(self, layer: str, name: str, op: int | None = None):
        """A span of ``layer``; ``op`` (the timed operation it belongs
        to) defaults to the enclosing span's."""
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent, parent_op = self._stack[-1] if self._stack else (None, None)
        if op is None:
            op = parent_op
        self._stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({
                "id": sid, "parent": parent, "layer": layer, "name": name,
                "op": op, "start": start, "end": time.perf_counter(),
            })

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- Spark status store ---------------------------------------------------

STAGE_FIELDS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "input_b",
                "shuffle_write_b", "spill_b")


def spark_counters(spark) -> tuple[int, int]:
    """The ids the scheduler gives the next job and the next stage."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    # two AtomicIntegers, which py4j hands over as ints
    return int(dag.nextJobId()), int(dag.nextStageId())


def spark_window_metrics(spark, start: tuple[int, int]) -> dict[str, float]:
    """Totals over every job and stage the scheduler created since
    ``start`` (a :func:`spark_counters` reading): jobs, stages that ran
    (skipped stages excluded), tasks, executor run and CPU time, GC
    time, input, shuffle-write and spill bytes. With one client, that
    window is exactly one benchmark operation, including the jobs a
    streaming query runs on its own thread and job group. Waits for the
    listener bus first, so the store has seen every event."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs, stages = spark_counters(spark)
    store = jsc.statusStore()
    out = dict.fromkeys(("jobs", "stages") + STAGE_FIELDS, 0)
    out["jobs"] = jobs - start[0]
    for sid in range(start[1], stages):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # created, never submitted
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["run_ms"] += sd.executorRunTime()
        out["cpu_ns"] += sd.executorCpuTime()
        out["gc_ms"] += sd.jvmGcTime()
        out["input_b"] += sd.inputBytes()
        out["shuffle_write_b"] += sd.shuffleWriteBytes()
        out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


# -- /proc ----------------------------------------------------------------


def _stat(pid: int | str) -> tuple[int, float] | None:
    """(parent pid, CPU seconds incl. reaped children) of ``pid``, or
    of a thread given as ``"<pid>/task/<tid>"``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks / _TICK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot: its growth during a run shows a loaded host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcStats:
    """CPU seconds and peak RSS of the driver, the JVM and its Python
    workers. Workers are found as descendants of the JVM; each process's
    own peak (VmHWM) is kept, so a worker that exits before the end
    still counts."""

    def __init__(self, jvm_pid: int):
        self.driver_pid = os.getpid()
        self.jvm_pid = jvm_pid
        self._hwm: dict[int, int] = {}
        self._role: dict[int, str] = {}
        self._jit: dict[int, float] = {}  # per JIT-compiler thread

    def _workers(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    parent[int(name)] = st[0]
        out = []
        for pid in parent:
            p = parent.get(pid)
            while p is not None and p > 1:
                if p == self.jvm_pid:
                    out.append(pid)
                    break
                p = parent.get(p)
        return out

    def _jit_s(self) -> float:
        """CPU of the JVM's JIT compiler threads ("C1/C2 CompilerThread"),
        kept per thread because HotSpot retires idle compiler threads."""
        task = f"/proc/{self.jvm_pid}/task"
        try:
            tids = os.listdir(task)
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"{task}/{tid}/comm") as fh:
                    if "CompilerThre" not in fh.read():
                        continue
            except OSError:
                continue
            st = _stat(f"{self.jvm_pid}/task/{tid}")
            if st is not None:
                self._jit[tid] = max(self._jit.get(tid, 0.0), st[1])
        return sum(self._jit.values())

    def sample(self) -> dict[str, float]:
        """CPU seconds per role so far (``jit`` is the part of ``jvm``
        spent compiling); refreshes the peak-RSS record."""
        workers = self._workers()
        cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for role, pids in (("driver", [self.driver_pid]),
                           ("jvm", [self.jvm_pid]), ("pyworker", workers)):
            for pid in pids:
                st = _stat(pid)
                if st is not None:
                    cpu[role] += st[1]
                self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm_kb(pid))
                self._role[pid] = role
        cpu["jit"] = self._jit_s()
        return cpu

    def peak_rss_mb(self) -> dict[str, float]:
        """Sum of each process's peak RSS, per role and in total."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, kb in self._hwm.items():
            out[self._role[pid]] += kb / 1024.0
        out["total"] = sum(out.values())
        return out
