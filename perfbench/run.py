"""Benchmark entry point: supervise one benchmark run and leave nothing behind.

    python3 perfbench/run.py --workload pipeline|query --seed N \
        --seconds S --trace 0|1 [--scale full|tiny]

Run from the repository root. The measuring program (``bench.py``) runs as a
child in its own session with ``PYTHONPATH`` set to the root, a private work
directory under ``perfbench/.work/`` and ``TMPDIR`` pointing into it. This
supervisor

- samples the summed RSS of every process in that session (the Python
  program, the Spark JVM and the ``pyspark.daemon`` workers) and adds
  ``peak_rss_mb`` to the child's result line;
- stops the child on timeout or SIGTERM, and the child stops Spark in its
  ``finally``;
- waits, bounded, for every process of the session to exit, kills the ones
  that remain, and fails loudly if it had to;
- deletes the work directory.

The last line of stdout is the result JSON; the exit code is 0 only when
every op succeeded and passed its output check.
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

RUN_TIMEOUT_S = 170  # the whole run must finish within 180 s
EXIT_GRACE_S = 15  # after the child exits, for the JVM and workers
SAMPLE_EVERY_S = 0.2
PR_SET_PDEATHSIG = 1


def session_procs(sid: int) -> dict[int, int]:
    """Live processes whose session id is ``sid``, as {pid: ppid}."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp session
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z" and int(fields[3]) == sid:
            out[int(entry)] = int(fields[1])
    return out


def tree_rss_bytes(sid: int) -> int:
    """Summed RSS of the session's processes. A child that has not yet
    exec'd and still runs its parent's program (the JVM's process-spawn
    child) shares the parent's memory image, so it is not counted again."""
    procs = session_procs(sid)
    total = 0
    for pid, ppid in procs.items():
        if ppid in procs and cmdline(pid) == cmdline(ppid) and "java" in cmdline(pid):
            continue
        total += rss_bytes(pid)
    return total


def rss_bytes(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cmdline(pid: int) -> str:
    try:
        raw = Path(f"/proc/{pid}/cmdline").read_bytes()
    except OSError:
        return "?"
    return raw.replace(b"\0", b" ").decode(errors="replace")[:160]


def kill_session(sid: int, sig: int) -> None:
    for pid in session_procs(sid):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def wait_session_empty(sid: int, timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    while True:
        left = list(session_procs(sid))
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.1)


def _die_with_parent() -> None:
    """Child preexec: get SIGTERM if this supervisor dies (e.g. SIGKILL)."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(PR_SET_PDEATHSIG, signal.SIGTERM)


class RssSampler(threading.Thread):
    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.stop_event = threading.Event()

    def run(self):
        while not self.stop_event.wait(SAMPLE_EVERY_S):
            self.peak = max(self.peak, tree_rss_bytes(self.sid))


def main(argv: list[str]) -> int:
    root = Path.cwd()
    here = Path(__file__).resolve().parent
    work = here / ".work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), env.get("PYTHONPATH", "")) if p
    )
    env["PERFBENCH_WORK"] = str(work)
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata under /tmp
    env["PYTHONUNBUFFERED"] = "1"
    trace = "--trace" in argv and argv[argv.index("--trace") + 1] == "1"

    child = subprocess.Popen(
        [sys.executable, str(here / "bench.py"), *argv],
        cwd=root,
        env=env,
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,
        preexec_fn=_die_with_parent,
    )
    sid = child.pid
    sampler = RssSampler(sid)
    sampler.start()
    stopped_by: list[str] = []

    def stop_child(reason: str) -> None:
        if child.poll() is None and not stopped_by:
            stopped_by.append(reason)
            print(f"perfbench: stopping the run ({reason})", file=sys.stderr)
            child.send_signal(signal.SIGTERM)

    def on_sigterm(signum, frame):
        stop_child("SIGTERM")

    signal.signal(signal.SIGTERM, on_sigterm)
    signal.signal(signal.SIGINT, on_sigterm)
    watchdog = threading.Timer(RUN_TIMEOUT_S, stop_child, args=("timeout",))
    watchdog.daemon = True
    watchdog.start()

    last = None
    try:
        for line in child.stdout:
            if last is not None:
                sys.stdout.write(last)
                sys.stdout.flush()
            last = line
        try:
            rc = child.wait(timeout=EXIT_GRACE_S)
        except subprocess.TimeoutExpired:
            kill_session(sid, signal.SIGKILL)
            rc = child.wait()
    finally:
        watchdog.cancel()
        left = wait_session_empty(sid, EXIT_GRACE_S)
        survivors = [(p, cmdline(p)) for p in left]
        if left:
            kill_session(sid, signal.SIGKILL)
            left = wait_session_empty(sid, 5)
        sampler.stop_event.set()
        sampler.join()
        shutil.rmtree(work, ignore_errors=True)

    if survivors:
        print("perfbench: FAILED - processes outlived the run and were killed:", file=sys.stderr)
        for pid, cmd in survivors:
            print(f"  {pid} {cmd}", file=sys.stderr)
        if left:
            print(f"perfbench: FAILED - still alive after SIGKILL: {left}", file=sys.stderr)
        return 3
    if stopped_by:
        return 124 if stopped_by[0] == "timeout" else 143
    if last is None:
        return rc or 1
    try:
        result = json.loads(last)
    except json.JSONDecodeError:
        sys.stdout.write(last)
        return rc or 1
    if not trace:
        result["metrics"]["peak_rss_mb"] = {"value": sampler.peak / 2**20, "unit": "MB"}
        print(f"peak_rss_mb {sampler.peak / 2**20:.1f} MB")
    print(json.dumps(result))
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
