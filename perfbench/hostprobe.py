"""Host-side measurements: load and steal sampling, process-tree CPU time,
and the stamp that identifies which engine ran on which host."""

from __future__ import annotations

import hashlib
import os
import threading
import time
from pathlib import Path


def _read_stat_cpu() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _read_load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostSampler:
    """Samples the 1-minute load average every ``interval`` seconds in a
    background thread; ``window()`` summarizes load and hypervisor steal
    between two marks, so a noisy window shows beside its timing."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self._loads: list[float] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="perfbench-host", daemon=True
        )

    def _run(self) -> None:
        while not self._stop.is_set():
            load = _read_load1()
            with self._lock:
                self._loads.append(load)
            self._stop.wait(self.interval)

    def __enter__(self) -> HostSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def mark(self) -> tuple[int, tuple[int, int]]:
        with self._lock:
            return len(self._loads), _read_stat_cpu()

    def window(self, start: tuple[int, tuple[int, int]]) -> dict:
        idx, (steal0, all0) = start
        steal1, all1 = _read_stat_cpu()
        with self._lock:
            loads = self._loads[idx:] or [_read_load1()]
        return {
            "load1_max": max(loads),
            "load1_mean": round(sum(loads) / len(loads), 2),
            "steal_pct": round(100 * (steal1 - steal0) / max(1, all1 - all0), 2),
        }


def _proc_table() -> dict[int, tuple[int, float, bool]]:
    """pid -> (ppid, cpu seconds incl. reaped children, is the JVM)."""
    clk = os.sysconf("SC_CLK_TCK")
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        name = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        procs[int(entry)] = (int(rest[1]), ticks / clk, name == "java")
    return procs


def _under(procs: dict, pid: int, root: int) -> bool:
    while pid in procs and pid != root:
        pid = procs[pid][0]
    return pid == root


def descendants(root_pid: int | None = None) -> list[int]:
    root = os.getpid() if root_pid is None else root_pid
    procs = _proc_table()
    return [p for p in procs if p != root and _under(procs, p, root)]


def tree_cpu_seconds(root_pid: int | None = None) -> dict[str, float]:
    """utime+stime of ``root_pid`` (default: this process) and every live
    descendant, plus the time of descendants they have already reaped
    (cutime+cstime), split into the JVM and the rest (Python driver and
    workers)."""
    root = os.getpid() if root_pid is None else root_pid
    procs = _proc_table()
    out = {"jvm": 0.0, "python": 0.0}
    for pid, (_, cpu, is_jvm) in procs.items():
        if _under(procs, pid, root):
            out["jvm" if is_jvm else "python"] += cpu
    return out


def engine_source_hash(root: Path) -> str:
    """sha256 prefix over the engine package's .py sources (path + bytes)."""
    pkg = root / "easylink_spark"
    h = hashlib.sha256()
    for p in sorted(pkg.rglob("*.py")):
        h.update(p.relative_to(pkg).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def git_rev(root: Path) -> str | None:
    """HEAD commit read from .git files; None outside a git checkout."""
    git = root / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        loose = git / ref
        if loose.exists():
            return loose.read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        return None
    return None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def stamp(root: Path) -> dict:
    return {
        "engine_src": engine_source_hash(root),
        "git_rev": git_rev(root),
        "nproc": nproc(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
