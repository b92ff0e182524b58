"""Process-tree accounting from /proc.

Every process a benchmark run starts carries ``PERFBENCH_RUN=<token>`` in
its environment: the workload's Python driver sets it, and the Spark JVM,
the PySpark daemon and its forked workers inherit it.  The PySpark daemon
moves itself into a process group of its own, so the token, not the process
group, is what identifies the run's processes for CPU accounting and for
the survivor check.
"""

from __future__ import annotations

import os
import signal
import time

ENV_KEY = "PERFBENCH_RUN"
_HZ = os.sysconf("SC_CLK_TCK")


def marked_pids(token: str) -> list[int]:
    needle = f"{ENV_KEY}={token}".encode() + b"\0"
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read()
        except OSError:  # gone, or not ours
            continue
        if needle in env + b"\0":
            out.append(int(name))
    return out


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def cpu_seconds(pid: int) -> float:
    """utime + stime of the process plus those of its reaped children, so a
    sum over live processes keeps counting workers that have exited."""
    f = _stat(pid)
    if f is None:
        return 0.0
    # fields after ")": state(0) ... utime(11) stime(12) cutime(13) cstime(14)
    return sum(int(v) for v in f[11:15]) / _HZ


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def is_pyworker(pid: int) -> bool:
    c = cmdline(pid)
    return "pyspark.daemon" in c or "pyspark.worker" in c


class TreeMeter:
    """CPU of every process carrying the run token."""

    def __init__(self, token: str):
        self.token = token
        self._workers: set[int] = set()

    def cpu(self) -> float:
        return sum(cpu_seconds(p) for p in marked_pids(self.token))

    def pyworker_cpu(self) -> float:
        """CPU of the PySpark daemon and its workers (the MVT encoder and the
        pandas UDFs run there; the event log's executor CPU leaves them out)."""
        total = 0.0
        for p in marked_pids(self.token):
            if p in self._workers or is_pyworker(p):
                self._workers.add(p)
                total += cpu_seconds(p)
        return total


def kill_marked(token: str, grace: float = 5.0) -> list[int]:
    """SIGTERM every marked process (and its process group), then SIGKILL
    what is left after ``grace`` seconds.  Returns the pids found at first."""
    found = marked_pids(token)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = marked_pids(token)
        if not pids:
            break
        for p in pids:
            for kill in (lambda: os.killpg(os.getpgid(p), sig), lambda: os.kill(p, sig)):
                try:
                    kill()
                except (ProcessLookupError, PermissionError):
                    pass
        deadline = time.time() + grace
        while time.time() < deadline and marked_pids(token):
            time.sleep(0.1)
    return found
