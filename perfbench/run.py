"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 10 --trace 0

The run itself (``perfbench/measure.py``, which documents the flags and
the output) happens in a child process started in a session of its own.
Spark starts a JVM under that child, and the JVM starts Python workers
that move to process groups of their own, but all of them stay in the
session. When the child exits, or when the time limit passes, every
process left in the session is terminated, killed if it lingers, and
waited for, so no run leaves a process behind. The exit code is the
child's: non-zero on a failed check, a crash or the time limit.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
TIME_LIMIT_S = 170
GRACE_S = 10
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Orphans of the session re-parent to this process, which reaps them;
    without it (prctl missing) they go to init, which does."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def session_members(sid: int) -> list[int]:
    """Processes (zombies included) whose session id is ``sid``, from /proc."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_session(sid: int) -> bool:
    """SIGTERM, then SIGKILL, every process of the session; True once
    none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_members(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + GRACE_S
        while time.time() < end:
            reap()
            if not session_members(sid):
                return True
            time.sleep(0.05)
    return False


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    become_subreaper()
    signal.signal(signal.SIGTERM, _terminated)
    env = dict(os.environ, PERFBENCH_START=repr(START))
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "measure.py"), *sys.argv[1:]],
        env=env,
        start_new_session=True,
    )
    code = 1
    try:
        code = child.wait(timeout=max(TIME_LIMIT_S - (time.time() - START), 1))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s, stopped", file=sys.stderr)
    finally:
        if not stop_session(child.pid):
            print("perfbench: processes of the run survived SIGKILL", file=sys.stderr)
            code = code or 1
    return code


if __name__ == "__main__":
    sys.exit(main())
