"""Benchmark entry point: one run of one workload.

    python3 qabench/run.py --workload filter_pages --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The run is a
supervisor around one driver process (``qabench/driver.py``): the
supervisor marks itself a child subreaper, so every process the run
starts (the Spark JVM, the pyspark daemon and its Python workers, the
multiprocessing resource tracker) stays in its tree even when an
intermediate parent exits. After the driver ends, the supervisor kills
and reaps whatever is left and only then prints the driver's result
line, so the next run starts on an idle machine.

The result is one JSON line on stdout; everything else goes to stderr.
Exit status is 0 only when the driver succeeded and no process of the
run is left.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from qabench import procstat  # noqa: E402
from qabench.spec import WORKLOADS  # noqa: E402

_PR_SET_CHILD_SUBREAPER = 36
# the first run in a checkout builds the input pools; later runs take
# about a minute
DRIVER_TIMEOUT_S = 870


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_tree(timeout_s: float = 30.0) -> int:
    """Kill every descendant of this process and wait for all of them.

    Returns the number of processes still alive at the deadline (0 on
    success). As a subreaper this process inherits orphaned
    grandchildren, so repeating kill-then-reap converges."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        pids = procstat.descendants(os.getpid())
        if not pids:
            return 0
        if time.monotonic() > deadline:
            return len(pids)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        sig = signal.SIGKILL  # a polite first round, then no more


def supervise(cmd: list[str], env: dict[str, str]) -> int:
    """Run ``cmd`` to completion, then stop every process it left."""
    become_subreaper()
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, cwd=ROOT)

    def _stop(signum, _frame):
        raise SystemExit(128 + signum)

    old = signal.signal(signal.SIGTERM, _stop)
    try:
        rc = proc.wait(timeout=DRIVER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("qabench: driver timed out", file=sys.stderr)
        rc = 1
    finally:
        signal.signal(signal.SIGTERM, old)
        left = reap_tree()
    if left:
        print(f"qabench: {left} processes survived cleanup", file=sys.stderr)
        return 1
    return rc


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "eugl_spark", "__init__.py")):
        print("qabench: run from a checkout that holds eugl_spark/", file=sys.stderr)
        return 2
    t0 = time.monotonic()
    work = os.path.join(ROOT, ".qabench", "work", f"run-{os.getpid()}")
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=work,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable,
        # every JVM of the run (the Spark launcher too) keeps its temp
        # files, hsperfdata included, inside the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
        QABENCH_T0=repr(t0),
    )
    cmd = [
        sys.executable, "-m", "qabench.driver",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    try:
        rc = supervise(cmd, env)
        line = None
        if rc == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                line = f.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if line is None:
        print(f"qabench: driver failed (exit {rc})", file=sys.stderr)
        return rc or 1
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
