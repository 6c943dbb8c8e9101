"""Process hygiene for a run: every process the run starts (the Spark JVM,
the pyspark daemon and its Python workers) has ended, and has been
waited for, before the run exits.

The JVM exits by itself only once it reads EOF on its stdin, and the
pyspark daemon only once the JVM is gone; both happen after the Python
driver has exited unless something waits for them.  So the run makes
itself a child subreaper (orphaned descendants are re-parented to it,
not to init, and stay findable), stops the JVM explicitly, and then
terminates and reaps whatever is left of its process tree."""

from __future__ import annotations

import ctypes
import os
import signal
import time

import host

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Re-parent orphaned descendants to this process (Linux only; a
    no-op elsewhere, where stop_tree still finds undetached children)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            _PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def exit_on_signals() -> None:
    """Turn SIGTERM and SIGHUP into SystemExit, so that the cleanup in
    `finally` blocks runs when the run is stopped from outside."""
    def _raise(signum, _frame):
        raise SystemExit(128 + signum)
    for s in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(s, _raise)


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM behind it: close its stdin (the
    gateway's signal to exit) and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=timeout)
            except Exception:  # left to stop_tree
                pass


def _reap() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _descendants() -> list[int]:
    me = os.getpid()
    return [p for p in host._tree(host._proc_table(), me) if p != me]


def stop_tree(grace: float = 10.0, timeout: float = 30.0) -> list[int]:
    """SIGTERM every descendant, SIGKILL those still there after `grace`
    seconds, and wait until none is left (or `timeout` passes).  Returns
    the pids still alive at the end; empty unless a kill failed."""
    t0 = time.monotonic()
    sig = signal.SIGTERM
    sent: set[int] = set()
    while True:
        _reap()
        left = _descendants()
        if not left or time.monotonic() - t0 > timeout:
            return left
        if sig == signal.SIGTERM and time.monotonic() - t0 > grace:
            sig, sent = signal.SIGKILL, set()
        for p in left:
            if p not in sent:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
                sent.add(p)
        time.sleep(0.05)
