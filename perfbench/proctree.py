"""The benchmark's process tree, read from ``/proc``: the CPU time and peak
resident memory of this process, the JVM and every Python worker, and a
wait for all of them to end.

CPU time is what the kernel charges the tree's processes (user + system,
with that of reaped children), which leaves out the time a virtual CPU
was runnable but held by the host (steal): on a shared host that time
varies from run to run with the neighbours, not with the program.

Resident memory is summed as PSS (``smaps_rollup``), which splits each
shared page among the processes mapping it: forked Python workers, and a
child the JVM has forked but not yet exec'd, would otherwise count the
pages they share with their parent again.

Reading the JVM's ``smaps_rollup`` walks its whole heap mapping (about
15 ms for a 1.4 GB JVM, against 1-2 ms for a Python worker), so a sampler
that needs only the Python side leaves the JVM out.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds charged so far to ``root`` and its descendants, their
    reaped children included: a worker that exits between two readings is
    counted once, in its parent's child times."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # utime stime cutime cstime: fields 14-17, 11-14 after the ')'
        fields = stat[stat.rindex(b")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS


def tree_rss_bytes(root: int, with_jvm: bool = True) -> tuple[int, int]:
    """(PSS of the JVM, PSS of every other process) of ``root``'s tree; the
    JVM's part is 0 unless ``with_jvm``."""
    jvm = other = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm", "rb") as f:
                is_jvm = f.read().strip() == b"java"
            if is_jvm and not with_jvm:
                continue
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        pss = int(line.split()[1]) * 1024
                        break
                else:
                    continue
        except OSError:
            continue
        if is_jvm:
            jvm += pss
        else:
            other += pss
    return jvm, other


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    every ``interval`` seconds on a daemon thread; ``peak_mb()`` since the
    last ``reset()``, of the whole tree and of its JVM and non-JVM parts.
    Without ``with_jvm`` the JVM is not read and its part stays 0."""

    def __init__(self, interval: float = 0.1, with_jvm: bool = True):
        self.interval = interval
        self.with_jvm = with_jvm
        self._peak = (0, 0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> tuple[int, int, int]:
        jvm, other = tree_rss_bytes(os.getpid(), self.with_jvm)
        return jvm + other, jvm, other

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            now = self._sample()
            with self._lock:
                self._peak = tuple(max(a, b) for a, b in zip(self._peak, now))

    def reset(self) -> None:
        with self._lock:
            self._peak = self._sample()

    def peak_mb(self, part: str = "tree") -> float:
        with self._lock:
            return self._peak[("tree", "jvm", "python").index(part)] / 2**20


def wait_children_gone(timeout: float = 30.0) -> None:
    """Wait until this process has no descendants; SIGKILL what is left
    after ``timeout`` and reap it."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return
