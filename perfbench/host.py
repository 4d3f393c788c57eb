"""Host noise and provenance, recorded with every run.

The benchmark host is a shared virtual machine whose noise varies
slowly (hypervisor steal of 1% in one minute and 8% in the next), so
each run records what the host was doing while it measured:

- ``host.steal_pct``: steal share of all CPU time, from /proc/stat;
- ``host.cpu_s``: CPU seconds used by this process and every process
  it started (the Spark JVM and its Python workers);
- ``host.load1``: one-minute load average at the end of the window;
- ``host.floor_ms``: median time of a fixed pure-Python job;
- ``host.peak_rss_mb``: peak resident memory of the process tree in
  the window (JVM heap growth makes it vary by a fifth between runs,
  so it explains noise rather than gating changes).
"""

from __future__ import annotations

import hashlib
import os
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) across all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(fields[:8])


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def tree_pids(root: int | None = None) -> list[int]:
    """This process and all its live descendants."""
    root = os.getpid() if root is None else root
    tree = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(tree.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live process tree, including
    children those processes have already reaped."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_mb() -> float:
    """Resident memory of the live process tree, in MiB."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def floor_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python job: a drifting floor means
    the host, not the program, got slower."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000)
    times.sort()
    return times[len(times) // 2]


class HostMeter:
    """Brackets a measured window: steal, CPU seconds, peak RSS."""

    def __init__(self):
        self.peak_rss_mb = 0.0
        self.start()

    def start(self) -> None:
        self._t0 = (*_cpu_times(), tree_cpu_s())
        self._t1 = None

    def stop(self) -> None:
        self._t1 = (*_cpu_times(), tree_cpu_s())
        self._load1 = os.getloadavg()[0]

    def sample_rss(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())

    def metrics(self) -> dict[str, float]:
        if self._t1 is None:
            self.stop()
        (steal0, total0, cpu0), (steal1, total1, cpu1) = self._t0, self._t1
        return {
            "host.steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "host.cpu_s": cpu1 - cpu0,
            "host.load1": self._load1,
            "host.floor_ms": floor_ms(),
            "host.peak_rss_mb": self.peak_rss_mb,
        }


def source_digest(root: str) -> str:
    """Digest of the engine sources: the checkout the benchmark runs
    in is not a git repository, so this stands in for the commit."""
    h = hashlib.sha256()
    for p in sorted(Path(root, "g_etl_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def commit(root: str) -> str | None:
    """HEAD commit when the checkout is a git work tree, else None."""
    head = Path(root, ".git", "HEAD")
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return Path(root, ".git", ref[5:]).read_text().strip()[:12]
        return ref[:12]
    except OSError:
        return None
