"""Run one benchmark workload from the root of a checkout:

    python3 perfbench/run.py --workload assess --seed 1 --seconds 5 --trace 0

Workloads: ``assess`` (the 48-check assessment) and ``ingest``
(streaming near-dedup micro-batches). The last stdout line is the
result object; see perfbench/README.md.

This launcher prepares the worker's environment and cleans up after
it. The worker (``perfbench/worker.py``) runs in a fresh directory
under ``perfbench/.work/`` so ``spark-warehouse/``, index tables, drops
and Spark's local dirs stay out of the source tree, with ``PYTHONPATH``
pointing at the checkout so Spark's Python workers can import the
engine package. Every process the worker starts is stopped and waited
for before the launcher exits.
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 170
JVM_HEAP = "2g"
REQUIRED = ("BENCHMARK.json", "bench.py", "ai_ready_data_framework_spark/__init__.py")


def session_pids(sid: int) -> list[int]:
    """Live pids whose session id is ``sid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # post-comm fields: [0]=state, [1]=ppid, [2]=pgrp, [3]=session
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(entry))
    return out


def stop_session(sid: int, grace_s: float = 5.0) -> None:
    """TERM, then KILL, every process in session ``sid``; returns once
    none is left (the worker's JVM and Python workers included)."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def adopt_orphans() -> None:
    """Become the child subreaper, so processes the worker leaves behind
    (the JVM outlives the worker by a moment) are reparented here and
    reaped by ``reap_children`` rather than by init, some time later."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(timeout_s: float = 10.0) -> None:
    """Wait for every child that has ended; returns when none is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.monotonic() > deadline:
                return
            time.sleep(0.05)


def main(argv: list[str]) -> int:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a full checkout, missing {missing}", file=sys.stderr)
        return 2
    known, _ = _tag_parser().parse_known_args(argv)
    tag = f"{known.workload}-s{known.seed}-{os.getpid()}"
    work = os.path.join(ROOT, "perfbench", ".work", tag)
    os.makedirs(work)
    adopt_orphans()
    env = dict(os.environ)
    # Spark's Python workers (Python data sources and UDFs) import the
    # engine package from the checkout
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the live heap stays under 600 MB on both workloads; the engine's
    # 8 GB default only lets the collector grow the heap (and the peak
    # resident memory) by an amount that differs from run to run
    env["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log_path = os.path.join(work, "worker.log")
    last = ""
    # a TERM to the launcher still stops the worker's session below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.worker", *argv],
                cwd=work,
                env=env,
                stdout=subprocess.PIPE,
                stderr=log,
                text=True,
                start_new_session=True,
            )
            timer = _Deadline(proc, TIMEOUT_S)
            try:
                for line in proc.stdout:
                    sys.stdout.write(line)
                    sys.stdout.flush()
                    if line.strip():
                        last = line.strip()
                rc = proc.wait()
            finally:
                timer.cancel()
                stop_session(proc.pid)
                reap_children()
        ok = rc == 0 and ("--write-golden" in argv or _is_result(last))
        if not ok:
            with open(log_path) as f:
                tail = f.read()[-4000:]
            print(f"perfbench: worker failed (exit {rc})\n{tail}", file=sys.stderr)
        return 0 if ok else (rc or 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _tag_parser():
    import argparse

    p = argparse.ArgumentParser(add_help=False)
    p.add_argument("--workload", default="none")
    p.add_argument("--seed", default="none")
    return p


def _is_result(line: str) -> bool:
    try:
        obj = json.loads(line)
    except json.JSONDecodeError:
        return False
    return isinstance(obj, dict) and {"correct", "attempted", "failed", "metrics"} <= obj.keys()


class _Deadline:
    """Kills the worker's whole session if it outlives ``seconds``."""

    def __init__(self, proc: subprocess.Popen, seconds: float):
        import threading

        self._timer = threading.Timer(seconds, stop_session, (proc.pid, 1.0))
        self._timer.daemon = True
        self._timer.start()

    def cancel(self) -> None:
        self._timer.cancel()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
