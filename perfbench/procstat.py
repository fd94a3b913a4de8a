"""Process-tree memory and CPU read from /proc, and host provenance.

The benchmark process starts the Spark JVM, which starts the Python
worker daemon and its workers; all of them are descendants of this
process, so one walk of /proc covers this Python process, the JVM and
the workers."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, comm, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1:s.rindex(")")]
    fields = s[s.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): utime/stime/cutime/cstime are
    # fields 14-17, rss (pages) is field 24
    cpu = sum(int(v) for v in fields[11:15]) / _HZ
    return int(fields[1]), comm, cpu, int(fields[21]) * _PAGE


def tree(root: int | None = None) -> dict:
    """{pid: (comm, cpu_s, rss_bytes)} for root and all its descendants."""
    root = os.getpid() if root is None else root
    info, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def cpu_split(snapshot: dict) -> tuple[float, float]:
    """(jvm_s, python_s) CPU seconds of a tree snapshot."""
    jvm = sum(c for comm, c, _ in snapshot.values() if comm == "java")
    return jvm, sum(c for comm, c, _ in snapshot.values()) - jvm


class TreeSampler:
    """Background thread recording the peak summed RSS of the process
    tree and every pid it has seen (so shutdown can wait for them)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_rss = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            snap = tree()
            self.pids.update(snap)
            self.peak_rss = max(self.peak_rss, sum(r for _, _, r in snap.values()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cores": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "loadavg": list(os.getloadavg())}


def _alive(pid: int) -> bool:
    """Running or sleeping; a zombie has ended and only awaits reaping."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout: float = 30.0) -> list[int]:
    """Wait until none of pids (except this process) exists; SIGKILL
    what is left after timeout and return those pids."""
    pids = {p for p in pids if p != os.getpid()}
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = {p for p in pids if _alive(p)}
        if not pids:
            return []
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    return sorted(pids)
