"""Host facts, Spark sizing and /proc sampling for the KG benchmark.

Everything here reads the Linux ``/proc`` filesystem directly, so the
benchmark needs nothing beyond the standard library for its process
accounting.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
GIB = 1024 ** 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_bytes(mem_total: int, n_cores: int) -> int:
    """JVM heap from MemTotal: leave 2 GiB for the OS, 2 GiB for
    scratch held in the page cache (or tmpfs) and 512 MiB per Python
    worker, and give the JVM a third of what remains (the host may be
    shared), within [1, 6] GiB."""
    spare = mem_total - 4 * GIB - n_cores * GIB // 2
    return int(min(6 * GIB, max(1 * GIB, spare // 3)))


def cpu_ticks() -> tuple[int, int, int]:
    """(all, idle + iowait, steal) jiffies of all CPUs, from /proc/stat.
    Steal is time a virtual machine's CPUs waited for the hypervisor."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[3] + vals[4], vals[7]


def busy_fraction(interval_s: float = 0.25) -> float:
    """Share of all CPUs not idle (idle + iowait) over ``interval_s``."""
    t0, i0, _ = cpu_ticks()
    time.sleep(interval_s)
    t1, i1, _ = cpu_ticks()
    return 1.0 - (i1 - i0) / max(1, t1 - t0)


def git_sha(root: Path) -> str | None:
    """HEAD's sha read from ``.git`` without running git; None when the
    tree is not a git checkout."""
    head = root / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    name = ref[5:]
    loose = root / ".git" / name
    if loose.is_file():
        return loose.read_text().strip()
    packed = root / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    return None


def source_fingerprint(*paths: Path) -> str:
    """sha256 over the ``.py`` files under ``paths`` (sorted, by content)."""
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(base.rglob("*.py"))
        for p in files:
            h.update(str(p.relative_to(base.parent)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


# --- process-tree accounting ---------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at index 2 (state)
    return raw[raw.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys of ``root`` and its live descendants, including the
    children each has already reaped (cutime/cstime)."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_mem_bytes(root: int) -> tuple[int, int]:
    """(RSS of ``root``, PSS of its descendants). Forked Python workers
    share most pages with the daemon they fork from, so summing their RSS
    would count those pages once per worker; PSS splits them. A child
    still running the root's executable is a process the JVM is spawning,
    which shares the JVM's whole address space until it execs: it is
    skipped, or the JVM's heap would be counted twice."""
    try:
        with open(f"/proc/{root}/statm") as f:
            rss = int(f.read().split()[1]) * _PAGE
        root_exe = os.readlink(f"/proc/{root}/exe")
    except OSError:
        return 0, 0
    pss = 0
    for pid in tree_pids(root)[1:]:
        try:
            if os.readlink(f"/proc/{pid}/exe") != root_exe:
                pss += _pss_bytes(pid)
        except OSError:
            pass  # exited while we read
    return rss, pss


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass  # shuffle/temp files vanish while we walk
    return total


class PeakSampler:
    """Background thread recording the peak memory of a process tree (see
    ``tree_mem_bytes``) and the peak size of a scratch directory.
    ``reset()`` starts a new window."""

    def __init__(self, root_pid: int, scratch: str, interval_s: float = 0.1):
        self.root_pid, self.scratch, self.interval_s = root_pid, scratch, interval_s
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self.rss_peak = self.scratch_peak = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self.rss_peak = self.scratch_peak = 0

    def peaks(self) -> tuple[int, int]:
        self._sample()
        with self._lock:
            return self.rss_peak, self.scratch_peak

    def _sample(self) -> None:
        rss, scratch = sum(tree_mem_bytes(self.root_pid)), dir_bytes(self.scratch)
        with self._lock:
            self.rss_peak = max(self.rss_peak, rss)
            self.scratch_peak = max(self.scratch_peak, scratch)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()
