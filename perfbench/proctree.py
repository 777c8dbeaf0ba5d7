"""CPU and memory of a process tree, read from /proc.

Children are found through ``/proc/<pid>/task/<tid>/children`` of every
thread: the JVM starts the PySpark daemon from a non-main thread, so a walk
of the main thread's children alone misses the Python workers.  A
process's CPU includes its reaped children (``cutime``/``cstime``); the
Python workers are forked by the daemon and reaped by it, never by us, so
``os.times()`` in this process cannot see them.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:           # the process or thread exited meanwhile
        return None


def children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        text = _read(f"/proc/{pid}/task/{tid}/children")
        if text:
            out.extend(int(c) for c in text.split())
    return out


def tree(root: int) -> dict[int, int]:
    """pid -> parent pid for ``root`` and all its descendants."""
    parents, todo = {root: 0}, [root]
    while todo:
        pid = todo.pop()
        for c in children(pid):
            if c not in parents:
                parents[c] = pid
                todo.append(c)
    return parents


def _stat(pid: int) -> list[str] | None:
    text = _read(f"/proc/{pid}/stat")
    if text is None:
        return None
    # comm may hold spaces: fields start after the closing parenthesis
    return [text[text.index("(") + 1:text.rindex(")")]] + \
        text[text.rindex(")") + 2:].split()


def cpu_seconds(root: int) -> dict[str, float]:
    """CPU seconds of the tree, split into ``total`` and ``python_workers``
    (Python processes below the JVM: the PySpark daemon and its workers)."""
    total = workers = 0.0
    for pid, parent in tree(root).items():
        st = _stat(pid)
        if st is None:
            continue
        # st[k] is stat field k+2: utime, stime, cutime, cstime are 14..17
        sec = sum(int(v) for v in st[12:16]) / _TICK
        total += sec
        if pid != root and parent != root and st[0].startswith("python"):
            workers += sec
    return {"total": total, "python_workers": workers}


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        text = _read(f"/proc/{pid}/statm")
        if text:
            total += int(text.split()[1]) * _PAGE
    return total


class RssSampler:
    """Background sampler of the tree's resident memory; ``peak`` is the
    largest sum seen."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.interval)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1] != "Z"


def _stop(pids) -> None:
    """Stop ``pids`` and wait until each is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if _alive(p)]
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while any(_alive(p) for p in alive) and time.time() < deadline:
            time.sleep(0.1)


def run(cmd: list[str], timeout: float, **popen_kw) -> int | None:
    """Run ``cmd`` to its end or for ``timeout`` seconds, then stop every
    process of its tree that is left (the JVM, the PySpark daemon and its
    workers) and wait for them.  Returns the exit code, None on timeout."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **popen_kw)
    # remember every process of the tree while it runs: the PySpark daemon
    # moves to its own process group, so a group kill would miss it
    seen, deadline = set(), time.time() + timeout
    while proc.poll() is None and time.time() < deadline:
        seen.update(tree(proc.pid))
        time.sleep(0.2)
    code = proc.poll()
    if code is None:
        proc.kill()
    proc.wait()
    _stop(seen - {proc.pid})
    return code
