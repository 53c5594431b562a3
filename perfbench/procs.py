"""The run's process tree, read from /proc: summed RSS sampling, and
reaping of anything (JVM, Python workers) still alive at the end."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process started (cold set-up is timed from here)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process
    and its live descendants."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(f) for f in fields[11:15])
        except (OSError, ValueError, IndexError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_threads() -> dict[tuple[int, int], int]:
    """CPU ticks of each JVM compiler thread (C1, C2) among this
    process's live descendants, by (pid, tid)."""
    out = {}
    for pid in descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if "CompilerThre" in stat[stat.find("(") : stat.rfind(")")]:
                out[(pid, int(tid))] = sum(int(f) for f in stat.rsplit(")", 1)[1].split()[11:13])
    return out


def jit_cpu_s(since: dict[tuple[int, int], int]) -> float:
    """CPU seconds the compiler threads used since ``jit_threads()``
    returned ``since`` (a thread that exited in between is not counted)."""
    ticks = sum(t - since.get(k, 0) for k, t in jit_threads().items())
    return ticks / os.sysconf("SC_CLK_TCK")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants: all
    of them, the JVMs among them, and the rest (the Python processes)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_jvm_bytes = 0
        self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = jvm = 0
        for p in [me, *descendants(me)]:
            rss = _rss_bytes(p)
            total += rss
            if _comm(p) == "java":
                jvm += rss
        self.peak_bytes = max(self.peak_bytes, total)
        self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
        self.peak_python_bytes = max(self.peak_python_bytes, total - jvm)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def reap_descendants(timeout_s: float = 20.0) -> None:
    """SIGTERM every descendant, SIGKILL what survives ``timeout_s``, and
    wait until none is left."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = descendants(me)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            # reap our own zombie children so they leave /proc
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            if not descendants(me):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes outlived the run: {descendants(me)}")
