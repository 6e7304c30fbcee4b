"""Shared pieces of the workloads: host context, pass records, digests."""

from __future__ import annotations

import ctypes
import hashlib
import math
import os
import signal
import statistics
import time
from dataclasses import dataclass, field


def nproc() -> int:
    return len(os.sched_getaffinity(0))


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    exits first (Linux), so stop_children() still finds it."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return  # not Linux: orphans go to init, as without this call
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = os.getpid()
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended meanwhile
        # the fields after the parenthesised command: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(name))
    return kids


def stop_children(grace: float = 10.0) -> None:
    """Reap every child of this process, adopted orphans included: send
    SIGTERM, then SIGKILL to those alive after ``grace`` seconds, and
    wait until none is left, or until ``grace`` more seconds have passed
    after the SIGKILL."""
    deadline = time.monotonic() + grace
    while (kids := _children()) and time.monotonic() < deadline + grace:
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0:
                    os.kill(pid, sig)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


@dataclass
class Outcome:
    """What a workload run measured and checked."""

    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    setups: list[float] = field(default_factory=list)
    walls: list[float] = field(default_factory=list)
    steals: list[float] = field(default_factory=list)
    pass_bytes: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    report: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, turns: int = 0) -> None:
        """Record a correctness check; a failed one fails ``turns`` turns."""
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            self.failed += turns

    def timed_pass(self):
        """Context manager that records one measured pass's wall and
        CPU-steal share."""
        return _Pass(self)

    @property
    def mb_per_s(self) -> float:
        return statistics.median(self.pass_bytes / w / 1e6 for w in self.walls)


class _Pass:
    def __init__(self, outcome: Outcome) -> None:
        self.o = outcome

    def __enter__(self):
        self.ticks = cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        tot, st = cpu_ticks()
        self.o.walls.append(self.wall)
        self.o.steals.append((st - self.ticks[1]) / max(1, tot - self.ticks[0]))
        return False


def digest_check(work: str, key: str, digest: str) -> bool:
    """Store the first digest seen for ``key``; later runs must match it."""
    d = os.path.join(work, "digests")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, key)
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip() == digest
    with open(path + ".tmp", "w") as f:
        f.write(digest)
    os.replace(path + ".tmp", path)
    return True


def sha(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()
