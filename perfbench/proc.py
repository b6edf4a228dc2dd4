"""Linux /proc readings: CPU of a process tree, Python worker peak RSS,
host steal share, and this process's start time."""

from __future__ import annotations

import os
import time

HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, or None if
    the process is gone.  Index 0 is the state (field 3 in proc(5))."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def children_map() -> dict[int, list[int]]:
    """Parent pid -> live child pids, from one scan of /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    return children


def descendants(root: int, children: dict[int, list[int]] | None = None) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    children = children_map() if children is None else children
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads ("C1/C2 CompilerThre")."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if "CompilerThre" in raw[raw.index("(") : raw.rindex(")")]:
            fields = raw[raw.rindex(")") + 2 :].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def cpu_split_s(root: int) -> dict[str, float]:
    """User+system CPU seconds of ``root``'s process tree, split by layer:

    - ``driver``: ``root`` itself;
    - ``jvm``: the JVM(s) it started, without their JIT compiler threads;
    - ``jit``: those JIT compiler threads;
    - ``workers``: the Python processes under the JVM, including every
      exited one a live process of the tree has reaped (cutime/cstime).
    """
    out = {"driver": 0, "jvm": 0, "jit": 0, "workers": 0}
    children = children_map()
    for pid in [root, *descendants(root, children)]:
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # utime, stime, cutime, cstime are proc(5) fields 14-17
        own, reaped = int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])
        if pid == root:
            out["driver"] += own + reaped
        elif _comm(pid) == "java":
            jit = _jit_ticks(pid)
            out["jit"] += jit
            out["jvm"] += own - jit
            out["workers"] += reaped  # the JVM reaps the workers it started
        else:
            out["workers"] += own + reaped
    return {k: v / HZ for k, v in out.items()}


def python_worker_hwm_kb(root: int) -> int:
    """Highest VmHWM among the Python processes under the JVM(s) that
    ``root`` started; 0 when there are none."""
    best = 0
    children = children_map()
    for jvm in (p for p in descendants(root, children) if _comm(p) == "java"):
        for pid in descendants(jvm, children):
            if not _comm(pid).startswith("python"):
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            best = max(best, int(line.split()[1]))
                            break
            except OSError:
                continue
    return best


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user, so it is left out of the total
    vals = [int(x) for x in parts[1:9]]
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def process_start_boottime() -> float:
    """This process's start, in CLOCK_BOOTTIME seconds."""
    return int(_stat_fields(os.getpid())[19]) / HZ


def since_process_start() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME) - process_start_boottime()
