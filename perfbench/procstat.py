"""Process metrics read straight from ``/proc`` (no psutil).

The benchmark's own Python process is the Spark driver; the JVM Spark launches
is its child (``java``), and PySpark's Python worker daemon and the
workers it forks are descendants of the JVM.
"""

from __future__ import annotations

import contextlib
import os
import signal
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as handle:
            return handle.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat(pid: int) -> tuple[int, float, float] | None:
    """``(ppid, own cpu s, reaped children cpu s)`` from /proc/<pid>/stat."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime) / _CLK, (cutime + cstime) / _CLK


def _comm(pid: int) -> str:
    return (_read(f"/proc/{pid}/comm") or "").strip()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                kids.setdefault(st[0], []).append(int(entry))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    """Every process below ``pid`` in the process tree."""
    kids = _children_map() if kids is None else kids
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def jvm_pid(driver_pid: int | None = None) -> int | None:
    """The Spark JVM: the driver's ``java`` child process."""
    driver_pid = driver_pid or os.getpid()
    for pid in _children_map().get(driver_pid, ()):
        if _comm(pid) == "java":
            return pid
    return None


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive; kill what outlives ``timeout``."""
    end = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _state(p) not in ("Z", "X")]
        if not alive:
            return
        if time.monotonic() > end:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            end = time.monotonic() + timeout
        time.sleep(0.05)


def _state(pid: int) -> str:
    raw = _read(f"/proc/{pid}/stat") or ""
    return raw[raw.rindex(")") + 2] if ")" in raw else "X"


def _field(path: str, key: str) -> int:
    """The number on the ``key:`` line of a /proc key-value file, else 0."""
    for line in (_read(path) or "").splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def _io_wchar(pid: int) -> int:
    return _field(f"/proc/{pid}/io", "wchar")


def _hwm_kb(pid: int) -> int:
    return _field(f"/proc/{pid}/status", "VmHWM")


class ProcSampler:
    """Snapshots of CPU time and bytes written for the Spark driver, the JVM and
    the Python workers under the JVM."""

    def __init__(self, driver_pid: int | None = None):
        self.driver = driver_pid or os.getpid()
        self.jvm = jvm_pid(self.driver)

    def sample(self) -> dict:
        kids = _children_map()
        drv = _stat(self.driver)
        snap = {
            "driver_cpu": drv[1] if drv else 0.0,
            "jvm_cpu": 0.0,
            "pyworker_cpu": 0.0,
            "wchar": _io_wchar(self.driver),
        }
        if self.jvm is not None:
            jst = _stat(self.jvm)
            if jst is not None:
                snap["jvm_cpu"] = jst[1]
                snap["wchar"] += _io_wchar(self.jvm)
            # python daemon + workers: their own time plus what the daemon
            # reaped from workers that already exited
            for pid in descendants(self.jvm, kids):
                st = _stat(pid)
                if st is not None and _comm(pid).startswith("python"):
                    snap["pyworker_cpu"] += st[1] + st[2]
        return snap

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}

    def peak_rss_mb(self) -> float:
        """VmHWM of the Spark driver plus the JVM, in MiB."""
        kb = _hwm_kb(self.driver)
        if self.jvm is not None:
            kb += _hwm_kb(self.jvm)
        return kb / 1024.0
