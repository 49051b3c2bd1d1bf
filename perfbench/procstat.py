"""Process-tree CPU, host steal and the host fingerprint, read from /proc.

Process CPU time (utime + stime) excludes the time the hypervisor steals
from this VM, so CPU twins of the wall-clock metrics stay comparable when
steal varies. A process's ``cutime``/``cstime`` hold the CPU of children it
has reaped, so summing own + reaped-children time over the live tree
counts short-lived Python workers too.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys

TICK = os.sysconf("SC_CLK_TCK")


def _fields(pid: int) -> tuple[str, list[str]] | None:
    """(comm, the fields after comm) of ``/proc/<pid>/stat``, from ``state`` on."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own CPU s, reaped-children CPU s) of one process."""
    parsed = _fields(pid)
    if parsed is None:
        return None
    comm, fields = parsed
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / TICK
    children = (int(fields[13]) + int(fields[14])) / TICK
    return ppid, comm, own, children


def _snapshot() -> tuple[dict, dict[int, list[int]]]:
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                procs[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    return procs, children


def session_pids(sid: int) -> list[int]:
    """Pids of the live (not zombie) processes in session ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        parsed = _fields(int(entry)) if entry.isdigit() else None
        if parsed is not None and int(parsed[1][3]) == sid and parsed[1][0] != "Z":
            pids.append(int(entry))
    return pids


def find_jvm(root: int | None = None) -> int | None:
    """Pid of the first ``java`` process below ``root`` (default: this one)."""
    procs, children = _snapshot()
    todo = list(children.get(root or os.getpid(), []))
    while todo:
        pid = todo.pop(0)
        if procs[pid][1] == "java":
            return pid
        todo.extend(children.get(pid, []))
    return None


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of ``root`` (default: this process) and its descendants,
    split into the driver Python, the JVM, and everything below the JVM
    (the Python workers the JVM forks)."""
    root = root or os.getpid()
    procs, children = _snapshot()
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}

    def walk(pid: int, kind: str) -> None:
        _ppid, comm, own, reaped = procs[pid]
        if kind == "driver" and comm == "java":
            kind = "jvm"
        elif kind == "jvm" and comm != "java":
            kind = "workers"
        out[kind] += own + reaped
        for child in children.get(pid, []):
            walk(child, kind)

    if root in procs:
        walk(root, "driver")
    out["total"] = out["driver"] + out["jvm"] + out["workers"]
    return out


def steal_s() -> float:
    """Host-wide stolen CPU seconds since boot, summed over all vCPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK if len(fields) > 8 else 0.0


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def bytes_written_since(since: float, *roots: str) -> int:
    """Size of the files under ``roots`` modified at or after ``since``
    (epoch seconds). Files written and deleted in between are not seen."""
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                try:
                    st = os.lstat(os.path.join(dirpath, name))
                except OSError:
                    continue
                if st.st_mtime >= since:
                    total += st.st_size
    return total


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30
        )
        return out.stderr.splitlines()[0] if out.stderr else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def fingerprint(cpus: str, driver_mem: str) -> dict:
    """What must match before two results may be compared."""
    import duckdb
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "cpus": os.cpu_count(),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "machine": platform.machine(),
        "java": _java_version(),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
        "SPARK_GRAFT_CPUS": cpus,
        "driver_mem": driver_mem,
    }
