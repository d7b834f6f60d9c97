"""Runs the benchmark in a child process and, however the child ends, stops
every process it left behind (the JVM, Spark's Python workers) and waits for
each to end before returning.

The parent marks itself a child subreaper, so descendants orphaned by the
child are re-parented to it rather than to init: it can find them by walking
/proc and wait for them.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: orphans go to init, direct children are still waited for


def descendants(pid: int) -> list[int]:
    """Every live or zombie process below ``pid``, from the parent ids in /proc
    (a JVM forks from its own threads, which /proc/<pid>/task/<pid>/children
    does not list)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                text = fh.read()
        except OSError:
            continue
        ppid = int(text[text.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float = 20.0, limit_s: float = 40.0) -> None:
    """SIGTERM every descendant, SIGKILL those still alive after ``grace_s``,
    and reap each, until none is left (or ``limit_s`` has passed)."""
    start = time.monotonic()
    while True:
        _reap()
        left = descendants(os.getpid())
        elapsed = time.monotonic() - start
        if not left or elapsed > limit_s:
            return
        sig = signal.SIGTERM if elapsed < grace_s else signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _exit_on_signal(signum, frame) -> None:
    raise SystemExit(128 + signum)


def run(argv: list[str], cleanup=None) -> int:
    """Run ``python3 argv...`` as a child with ``CHILD_ENV`` set and return
    its exit code once it and everything it started have ended.
    ``cleanup(child_pid)`` runs last, on every path out."""
    _become_subreaper()
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _exit_on_signal)
    child = subprocess.Popen([sys.executable, *argv], env={**os.environ, CHILD_ENV: "1"})
    try:
        return child.wait()
    finally:
        stop_all()
        if cleanup is not None:
            cleanup(child.pid)
