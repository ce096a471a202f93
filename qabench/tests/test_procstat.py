from __future__ import annotations

import os
import subprocess
import sys
import time

from qabench import procstat

BURN_S = 0.8

# The child starts a grandchild that burns BURN_S of CPU and exits; the
# child reaps it (as the pyspark daemon reaps a Python worker) and then
# stays alive, so the grandchild's CPU now sits in the child's cutime.
CHILD = f"""
import subprocess, sys
g = subprocess.Popen([sys.executable, "-c", '''
import time
t = time.process_time()
while time.process_time() - t < {BURN_S}:
    pass
'''])
g.wait()
print("reaped", flush=True)
sys.stdin.read()
"""


def test_reaped_grandchild_cpu_counted_once():
    before = procstat.sample()
    child = subprocess.Popen(
        [sys.executable, "-c", CHILD],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert child.stdout.readline().strip() == "reaped"
        after = procstat.sample()
        mid_child = procstat.tree_cpu_s(child.pid)
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    used = procstat.window(before, after).cpu_s
    # two interpreter start-ups cost well under 0.5 s; counting the
    # grandchild twice (alive and reaped) would give at least 2 * BURN_S
    assert BURN_S <= used < BURN_S + 0.5, used
    assert BURN_S <= mid_child < BURN_S + 0.5, mid_child


def test_live_grandchild_counted():
    before = procstat.tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt=time.process_time()\n"
         "while time.process_time()-t<0.5: pass\n"
         "import sys; sys.stdin.read()"],
        stdin=subprocess.PIPE,
    )
    try:
        deadline = time.monotonic() + 30
        while procstat.tree_cpu_s() - before < 0.5 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert procstat.tree_cpu_s() - before >= 0.5
        assert child.pid in procstat.descendants(os.getpid())
    finally:
        child.stdin.close()
        child.wait(timeout=30)


def test_window_fractions():
    a = procstat.sample()
    time.sleep(0.2)
    b = procstat.sample()
    w = procstat.window(a, b)
    assert w.wall_s > 0
    assert 0.0 <= w.steal_frac <= 1.0
    assert 0.0 <= w.cpu_util <= 1.0
    assert procstat.tree_rss_mb() > 0
