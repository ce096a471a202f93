"""A run stops every process it started, and refuses a bare directory."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# A stand-in driver that leaves the kinds of process a Spark run can
# leave: a child in its own process group (like the pyspark daemon),
# and a double-forked daemon whose parent has exited (an orphan).
FAKE_DRIVER = r"""
import os, subprocess, sys, time
out = sys.argv[1]
a = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(300)"],
                     start_new_session=True)
r, w = os.pipe()
if os.fork() == 0:
    os.setsid()
    if os.fork() == 0:
        os.write(w, str(os.getpid()).encode())
        time.sleep(300)
    os._exit(0)
os.wait()
orphan = int(os.read(r, 32))
with open(out, "w") as f:
    f.write(f"{a.pid} {orphan}")
"""

SUPERVISE = """
import sys
sys.path.insert(0, sys.argv[1])
from qabench.run import supervise
sys.exit(supervise([sys.executable, "-c", sys.argv[2], sys.argv[3]], {}))
"""


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def test_supervisor_stops_leftover_processes(tmp_path):
    pids_file = str(tmp_path / "pids")
    rc = subprocess.run(
        [sys.executable, "-c", SUPERVISE, ROOT, FAKE_DRIVER, pids_file],
        timeout=60,
    ).returncode
    assert rc == 0
    with open(pids_file) as f:
        pids = [int(x) for x in f.read().split()]
    assert len(pids) == 2
    assert not any(_alive(p) for p in pids), pids


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "qabench"), tmp_path / "qabench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "qabench/run.py", "--workload", "scrub_longrun",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.mark.skipif(not os.environ.get("QABENCH_SLOW"),
                    reason="starts Spark; set QABENCH_SLOW=1")
def test_real_run_leaves_no_process():
    def pids() -> set[int]:
        return {int(p) for p in os.listdir("/proc") if p.isdigit()}

    before = pids()
    out = subprocess.run(
        [sys.executable, "qabench/run.py", "--workload", "scrub_longrun",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    left = [p for p in pids() - before if _alive(p)]
    # only processes unrelated to the run may remain (none expected)
    cmds = {}
    for p in left:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmds[p] = f.read().replace(b"\0", b" ").decode()
        except OSError:
            pass
    assert not [c for c in cmds.values()
                if "java" in c or "pyspark" in c or "qabench" in c
                or "resource_tracker" in c], cmds
