"""Every process a run starts has ended before the run exits.

Spark's Python daemon leaves the JVM's process tree when the JVM exits and
shuts down on its own time. As a child subreaper the run inherits such
orphans, so it can stop and wait for every one of them on the way out.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

from perfbench.procmem import descendants

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of any descendant orphaned later."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float = 10.0) -> None:
    """SIGTERM every live descendant, SIGKILL what is left after `grace_s`,
    and wait until none is left."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace_s
        while True:
            _reap()
            left = descendants(me)
            if not left:
                return
            if time.monotonic() > end:
                break
            time.sleep(0.02)
    raise RuntimeError(f"processes still running after SIGKILL: {left}")
