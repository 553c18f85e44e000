"""Stopping every process a benchmark run starts.

A PySpark session runs in a JVM that ``spark-submit`` starts as a child
of the Python process, and the JVM starts Python worker daemons of its
own. ``spark.stop()`` leaves the JVM running; it only exits once it sees
its stdin close, which happens some time after the Python process has
gone. A run must not leave it (or its workers) behind, so the run:

* makes itself a child subreaper, so descendants orphaned by a dying
  parent are re-parented to it instead of to init and stay visible;
* on every way out, stops the session, closes the JVM's stdin and waits
  for it, then waits for every remaining descendant, escalating to
  SIGTERM and SIGKILL if one does not end on its own.
"""

from __future__ import annotations

import ctypes
import logging
import os
import signal
import subprocess
import sys
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Re-parent orphaned descendants to this process (Linux only; a
    no-op elsewhere)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1)
    except (OSError, AttributeError):
        pass


def _stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name (which
    may hold spaces or parentheses): state, ppid, ...; None once the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants() -> list[int]:
    """Every process below this one, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    found, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every
    live descendant (the JVM, its Python workers), each with the
    children it has already reaped."""
    ticks = 0
    for pid in (os.getpid(), *descendants()):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(timeout: float = 30.0) -> None:
    """Stop the active Spark context, if any, then end its JVM."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 — the JVM is ended below anyway
            pass
    end_jvm(timeout)


def end_jvm(timeout: float = 30.0) -> None:
    """End the py4j gateway's JVM without calling into it: close its
    stdin (the JVM exits on EOF) and wait, killing it after ``timeout``
    seconds. Safe where a py4j call could block, as in a signal
    handler. Not ``gateway.close()``: it can block forever on the py4j
    callback server once a streaming query listener has used it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    # py4j objects still alive when the interpreter exits send "detach"
    # commands to the ended JVM, and py4j logs each failure on the root
    # logger; nothing else logs this late
    logging.getLogger().setLevel(logging.CRITICAL)
    if proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap() -> None:
    """Collect every exited child (orphans re-parented here included)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def wait_descendants(grace: float = 15.0, term: float = 10.0) -> list[int]:
    """Wait until no descendant of this process is left. After ``grace``
    seconds the survivors get SIGTERM, after ``term`` more SIGKILL.
    Returns the pids that had to be signalled."""
    signalled: list[int] = []
    start = time.monotonic()
    sent = None
    while True:
        _reap()
        left = [p for p in descendants() if _alive(p)]
        if not left:
            _reap()
            return signalled
        waited = time.monotonic() - start
        want = (
            signal.SIGKILL if waited > grace + term
            else signal.SIGTERM if waited > grace
            else None
        )
        if want is not None and want != sent:
            for p in left:
                try:
                    os.kill(p, want)
                except ProcessLookupError:
                    pass
            signalled.extend(p for p in left if p not in signalled)
            sent = want
        time.sleep(0.05)


def stop_all() -> None:
    """Stop Spark and every other process this one started, and wait."""
    stop_spark()
    signalled = wait_descendants()
    if signalled:
        sys.stderr.write(
            f"perfbench: signalled leftover processes {signalled}\n"
        )


def exit_now(code: int) -> None:
    """Leave at once (from a signal handler): end the JVM and every
    other descendant, then exit without unwinding, because the
    interrupted code may hold a py4j lock that a clean stop would wait
    on."""
    try:
        end_jvm(10.0)
    finally:
        wait_descendants(grace=5.0, term=5.0)
        os._exit(code)
