"""Layer timing from outside the library.

Spans are taken in the benchmark around calls into each layer's public
functions. Spark's execution of a call is read from its status store
(which works with the UI off): every job the call started is tagged with
a job group, and the stages of those jobs are summed after the action.
"""

from __future__ import annotations

import os
import statistics

# per-stage fields summed into an ``exec`` record, with their scale to
# the reported unit
_STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "jvm_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "tasks": ("numCompleteTasks", 1),
    "task_retries": ("numFailedTasks", 1),
}
EXEC_FIELDS = (*_STAGE_FIELDS, "py_s", "stages")


def empty_exec() -> dict[str, float]:
    return dict.fromkeys(EXEC_FIELDS, 0.0)


class StatusReader:
    """Sums the status store's stage metrics over the jobs of a group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = sc.statusTracker()
        self._no_tasks = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def read(self, groups: list[str]) -> dict[str, float]:
        """Totals over every stage attempt of the groups' jobs; stages a
        job skipped (their output was reused) count for nothing."""
        self._bus.waitUntilEmpty()
        out = empty_exec()
        seen: set[int] = set()
        for group in groups:
            for job in self.jobs(group):
                info = self._tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    attempts = self._store.stageData(
                        sid, False, self._no_tasks, False, self._no_quantiles
                    )
                    for i in range(attempts.length()):
                        sd = attempts.apply(i)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        out["stages"] += 1
                        for key, (getter, scale) in _STAGE_FIELDS.items():
                            out[key] += getattr(sd, getter)() * scale
                        out["task_retries"] += sd.numKilledTasks()
        out["py_s"] = max(out["task_s"] - out["jvm_cpu_s"], 0.0)
        return out


def sum_records(records: list[dict[str, float]]) -> dict[str, float]:
    out = empty_exec()
    for r in records:
        for k in out:
            out[k] += r[k]
    return out


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def peak_rss_mb(root_pid: int | None = None) -> dict[str, float]:
    """VmHWM (peak resident set) in MB of every process descended from
    this one, keyed ``<pid>:<command>``: the JVM, its Python worker
    daemon and the workers. The benchmark reports the sum."""
    root_pid = os.getpid() if root_pid is None else root_pid
    return {f"{p}:{_comm(p)}": _vm_hwm_kb(p) / 1024.0 for p in descendants(root_pid)}


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
# names of HotSpot's JIT compiler threads ("C2 CompilerThread0", ...) as
# /proc shows them, cut to 15 characters
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(root_pid: int | None = None) -> tuple[float, float]:
    """(work, jit): CPU seconds, user plus system, used so far by this
    process and every live descendant (the calling process, the JVM and
    the Python workers), split into the JVM's JIT compiler threads and
    everything else.

    A process's figure includes the children it has reaped, so a worker
    that exits stays in the sum. The compiler threads must live as long
    as the JVM (``-XX:-UseDynamicNumberOfCompilerThreads``), or the time
    of one that exits would move from ``jit`` to ``work``.
    """
    root_pid = os.getpid() if root_pid is None else root_pid
    total = jit = 0
    for pid in (root_pid, *descendants(root_pid)):
        total += _cpu_ticks(f"/proc/{pid}", reaped=True)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            if _read(f"/proc/{pid}/task/{tid}/comm").startswith(_JIT_THREADS):
                jit += _cpu_ticks(f"/proc/{pid}/task/{tid}", reaped=False)
    return (total - jit) * _TICK_S, jit * _TICK_S


def _cpu_ticks(proc_dir: str, reaped: bool) -> int:
    """utime + stime (fields 14 and 15 of stat(5)), plus cutime + cstime
    (16 and 17) with ``reaped``; 0 once the process or thread is gone."""
    stat = _read(f"{proc_dir}/stat")
    if not stat:
        return 0
    fields = stat.rsplit(")", 1)[1].split()
    return sum(int(v) for v in fields[11 : 15 if reaped else 13])


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":  # an exited child waiting to be reaped
            children.setdefault(int(ppid), []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
