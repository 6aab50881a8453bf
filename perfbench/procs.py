"""Memory sampler for a process tree, read from /proc.

The system under test is the benchmark's own Python process, the JVM
it launches and any PySpark worker daemons below them. The load
generator is a child of the same process, so its subtree is excluded
by PID, and so is the sampler itself.

Memory is the proportional set size (PSS): a page shared by several
processes counts once in total. The JVM forks short-lived helpers (for
example Hadoop's shell commands), and plain RSS would count the JVM's
whole heap again for every such fork that is alive at a sample.

The sampler runs as its own process, so its /proc walks take no time
from the interpreter that drives Spark:

    python3 procs.py <root pid> <interval s> <report path>

It reads ``exclude <pid>`` lines on stdin and writes its report when
stdin closes.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys


def _children_map(proc: str = "/proc") -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed
            continue
        # Field 4 (ppid) follows the parenthesised command name, which may
        # itself contain spaces or parentheses.
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def tree_pids(root: int, exclude: set[int] = frozenset(), proc: str = "/proc") -> list[int]:
    """``root`` and its descendants, minus the subtrees rooted at ``exclude``."""
    children = _children_map(proc)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def pss_bytes(pid: int, proc: str = "/proc") -> int:
    """Proportional set size of ``pid`` (0 if it has exited)."""
    try:
        with open(f"{proc}/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def sample_loop(root: int, interval: float, report: str) -> None:
    exclude = {os.getpid()}
    peak, peak_by_pid, counted = 0, {}, set()
    while True:
        ready, _, _ = select.select([sys.stdin], [], [], interval)
        line = sys.stdin.readline() if ready else None
        if line == "":  # stdin closed: the run is over
            break
        if line and line.startswith("exclude "):
            exclude.add(int(line.split()[1]))
        by_pid = {p: pss_bytes(p) for p in tree_pids(root, exclude)}
        counted.update(by_pid)
        total = sum(by_pid.values())
        if total > peak:
            peak, peak_by_pid = total, by_pid
    with open(report, "w") as f:
        json.dump({"peak": peak, "peak_by_pid": peak_by_pid, "counted": sorted(counted),
                   "excluded": sorted(exclude)}, f)


class RssSampler:
    """High-water PSS of this process's tree, sampled by a child process
    every ``interval`` seconds until :meth:`stop`."""

    def __init__(self, report: str, interval: float = 0.1) -> None:
        self._report = report
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()), str(interval), report],
            stdin=subprocess.PIPE, text=True)
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self.counted: list[int] = []
        self.excluded: list[int] = [self._proc.pid]

    def exclude(self, pid: int) -> None:
        self._proc.stdin.write(f"exclude {pid}\n")
        self._proc.stdin.flush()
        self.excluded.append(pid)

    def stop(self) -> None:
        """Stop sampling and load the report; a no-op after the first call."""
        if self._proc.stdin.closed:
            return
        self._proc.stdin.close()
        self._proc.wait(timeout=30)
        with open(self._report) as f:
            r = json.load(f)
        self.peak, self.counted, self.excluded = r["peak"], r["counted"], r["excluded"]
        self.peak_by_pid = {int(k): v for k, v in r["peak_by_pid"].items()}

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


if __name__ == "__main__":
    sample_loop(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
