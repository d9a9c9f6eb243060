"""Measurement arithmetic: percentiles, ``/proc`` process-tree CPU and RSS,
and Spark status-store aggregation.

Everything here reads the program from outside: ``/proc`` for the process
tree, and Spark's own status store (job groups, ``lastStageAttempt``) for
the engine.  The pure functions take plain data so the tests can feed them
synthetic process tables and stage rows.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
MIN_TAIL_SAMPLES = 10


# ------------------------------------------------------------ percentiles

def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between
    order statistics (NumPy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th
    percentile's rank."""
    return n - math.ceil(n * q / 100.0)


def tail_is_supported(n: int, q: float) -> bool:
    """A percentile is reported as measured only when at least ten samples
    lie beyond it (so p90 needs 100 samples, p75 needs 40)."""
    return samples_beyond(n, q) >= MIN_TAIL_SAMPLES


# --------------------------------------------------------- /proc process tree

@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    utime: int    # clock ticks, this process
    stime: int
    cutime: int   # clock ticks, reaped descendants
    cstime: int
    rss_kb: int = 0
    hwm_kb: int = 0


def parse_stat(text: str) -> tuple[int, str, int, int, int, int, int]:
    """Parse ``/proc/<pid>/stat``: ``(ppid, comm, utime, stime, cutime,
    cstime, starttime)``.  ``comm`` may hold spaces and parentheses, so the
    fields are split after the last ``)``."""
    open_, close = text.index("("), text.rindex(")")
    comm = text[open_ + 1:close]
    f = text[close + 2:].split()
    # f[0] is field 3 (state); utime is field 14, starttime field 22
    return (int(f[1]), comm, int(f[11]), int(f[12]), int(f[13]),
            int(f[14]), int(f[19]))


def _status_kb(pid: int) -> tuple[int, int]:
    rss = hwm = 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except OSError:
        pass
    return rss, hwm


def read_proc_table(root_pid: int, with_memory: bool = False) -> dict[int, Proc]:
    """Snapshot every live process in the tree under ``root_pid``
    (inclusive)."""
    table: dict[int, Proc] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid, comm, ut, st, cut, cst, _ = parse_stat(fh.read())
        except (OSError, ValueError):
            continue  # exited between listdir and open
        table[int(name)] = Proc(int(name), ppid, comm, ut, st, cut, cst)
    keep = subtree(table, root_pid)
    out = {}
    for pid in keep:
        p = table[pid]
        if with_memory:
            rss, hwm = _status_kb(pid)
            p = Proc(p.pid, p.ppid, p.comm, p.utime, p.stime, p.cutime,
                     p.cstime, rss, hwm)
        out[pid] = p
    return out


def subtree(table: dict[int, Proc], root_pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for p in table.values():
        children.setdefault(p.ppid, []).append(p.pid)
    seen, stack = set(), [root_pid]
    while stack:
        pid = stack.pop()
        if pid in seen or pid not in table:
            continue
        seen.add(pid)
        stack.extend(children.get(pid, ()))
    return seen


def classify(table: dict[int, Proc], root_pid: int) -> dict[int, str]:
    """Label each process ``driver`` (the benchmark's own Python process),
    ``jvm`` (a ``java`` process) or ``python_worker`` (anything below a
    JVM: the PySpark daemon and the workers it forks).  Other helpers the
    driver starts count as ``driver``."""
    labels: dict[int, str] = {}

    def label(pid: int) -> str:
        if pid in labels:
            return labels[pid]
        p = table[pid]
        if pid == root_pid:
            out = "driver"
        elif p.comm == "java":
            out = "jvm"
        else:
            parent = label(p.ppid) if p.ppid in table else "driver"
            out = "python_worker" if parent in ("jvm", "python_worker") else parent
        labels[pid] = out
        return out

    for pid in subtree(table, root_pid):
        label(pid)
    return labels


def tree_cpu(table: dict[int, Proc], root_pid: int) -> dict[str, float]:
    """CPU seconds of the tree by kind.

    Each live process contributes its own user+system time.  A process's
    ``cutime``/``cstime`` hold the CPU of children it has already reaped;
    those are charged to the kind of the children: once started, the JVM
    reaps only Python processes (the PySpark daemon), a Python worker reaps
    workers, and the driver reaps the JVM only after it exits.  So nothing
    is counted twice and short-lived workers are not lost.  (The JVM's
    ``cutime`` also holds its launcher's start-up CPU; callers take
    differences between snapshots, which cancel it.)"""
    out = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0}
    labels = classify(table, root_pid)
    for pid, kind in labels.items():
        p = table[pid]
        out[kind] += (p.utime + p.stime) / CLK_TCK
        reaped = (p.cutime + p.cstime) / CLK_TCK
        out["python_worker" if kind in ("jvm", "python_worker") else kind] += reaped
    return out


def tree_rss_mb(table: dict[int, Proc], root_pid: int) -> float:
    """High-water RSS of the JVM plus the current RSS of its Python
    workers, in MiB (the table must be read ``with_memory``)."""
    labels = classify(table, root_pid)
    kb = 0
    for pid, kind in labels.items():
        if kind == "jvm":
            kb += table[pid].hwm_kb
        elif kind == "python_worker":
            kb += table[pid].rss_kb
    return kb / 1024.0


def process_age_s(pid: int) -> float:
    """Seconds since ``pid`` started, from ``/proc`` (10 ms resolution)."""
    with open(f"/proc/{pid}/stat") as fh:
        start_ticks = parse_stat(fh.read())[6]
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / CLK_TCK


# ---------------------------------------------------- Spark status store

STAGE_FIELDS = ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_write_mb", "shuffle_read_mb", "input_mb",
                "spill_mb")
_MB = 1024.0 * 1024.0


def stage_row(sd) -> dict[str, float]:
    """One ``StageData`` from ``statusStore().lastStageAttempt(id)`` as plain
    numbers."""
    return {
        "tasks": sd.numTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "executor_run_s": sd.executorRunTime() / 1e3,
        "executor_cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "shuffle_write_mb": sd.shuffleWriteBytes() / _MB,
        "shuffle_read_mb": sd.shuffleReadBytes() / _MB,
        "input_mb": sd.inputBytes() / _MB,
        "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB,
    }


def aggregate_stages(jobs: dict[int, list[int]],
                     stages: dict[int, dict[str, float]]) -> dict[str, float]:
    """Totals for one job group: ``jobs`` maps job id to its stage ids,
    ``stages`` maps each stage id that ran to its row (stages skipped
    because their shuffle output was reused are absent).  A stage shared by
    two jobs is counted once."""
    out = {k: 0.0 for k in STAGE_FIELDS}
    stage_ids = {s for ids in jobs.values() for s in ids if s in stages}
    for sid in stage_ids:
        for k in STAGE_FIELDS:
            out[k] += stages[sid][k]
    out["jobs"] = float(len(jobs))
    out["stages"] = float(len(stage_ids))
    return out


def count_group_jobs(sc, tag: str) -> int:
    """Jobs Spark has recorded under job group ``tag`` so far, after the
    listener bus has drained (a finished job may not be in the status store
    yet otherwise)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def read_group(sc, tag: str) -> tuple[dict[int, list[int]], dict[int, dict]]:
    """Jobs and stage rows Spark recorded under job group ``tag``.

    Waits for the listener bus to drain first: the status store is filled
    asynchronously, so a read right after an action can miss the last
    task-end events.  Stages are read one at a time with
    ``lastStageAttempt`` (``stageList``'s signature changed in Spark 4)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs: dict[int, list[int]] = {}
    stages: dict[int, dict] = {}
    for jid in tracker.getJobIdsForGroup(tag):
        info = tracker.getJobInfo(jid)
        jobs[jid] = list(info.stageIds) if info is not None else []
        for sid in jobs[jid]:
            if sid in stages:
                continue
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage skipped, never attempted
                continue
            if str(sd.status()) != "SKIPPED":
                stages[sid] = stage_row(sd)
    return jobs, stages
