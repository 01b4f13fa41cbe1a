"""Host facts and process-tree accounting read straight from /proc.

The benchmark's process tree is its own Python process, the JVM it
launches and the ``pyspark.daemon`` workers under the JVM.  CPU is the sum of
utime+stime+cutime+cstime over that tree (reaped children fold into their
parent's cutime/cstime, so a worker that exits mid-window is still counted);
RSS is the summed resident set of the live tree.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/pid/stat (1-based), offset by pid+comm
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class RssSampler:
    """Background thread sampling the tree's summed RSS; keeps the peak."""

    def __init__(self, period_s: float = 0.2, enabled: bool = True):
        self.period_s = period_s
        self.enabled = enabled
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join()
            self.peak_mb = max(self.peak_mb, tree_rss_mb())


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def host_facts() -> dict:
    """nproc, free memory, load average and JVMs already running — read at
    start so a stray JVM from an earlier run is on record."""
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    mine = set(tree_pids())
    jvms = [pid for pid in (int(n) for n in os.listdir("/proc") if n.isdigit())
            if pid not in mine and _cmdline(pid).split(" ", 1)[0]
            .endswith("java")]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
        "loadavg": list(os.getloadavg()),
        "running_jvms": jvms,
    }


def wait_tree_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL whatever outlives timeout."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if p != os.getpid()]
    while left and time.monotonic() < deadline:
        left = [p for p in left if _alive(p)]
        if left:
            time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    while any(_alive(p) for p in left):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"
