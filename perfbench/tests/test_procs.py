"""A run waits for every process it started, orphans included, and
counts the CPU time of the live ones."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))

# Runs in a child interpreter, because becoming a subreaper changes the
# process that does it.
_SCRIPT = """
import subprocess, sys, time
from perfbench import procs
procs.become_subreaper()
# a live child's CPU time counts
cpu0 = procs.cpu_seconds()
burn = ("import time\\nt = time.process_time()\\n"
        "while time.process_time() - t < 0.5: pass\\ntime.sleep(60)")
busy = subprocess.Popen([sys.executable, "-c", burn])
time.sleep(2.0)
assert procs.cpu_seconds() - cpu0 >= 0.4, procs.cpu_seconds() - cpu0
busy.kill()
busy.wait()
# an orphan: the shell exits at once and leaves its sleep behind
subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 &"], check=True)
time.sleep(0.2)
assert procs.descendants(), "the orphaned sleep was not re-parented"
signalled = procs.wait_descendants(grace=0.5, term=2.0)
assert len(signalled) == 1, signalled
assert not procs.descendants()
# a child that ends on its own is waited for, not signalled
subprocess.Popen(["sleep", "0.3"])
assert procs.wait_descendants(grace=5.0, term=2.0) == []
print("ok")
"""


def test_wait_descendants_stops_orphans():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT], cwd=ROOT, capture_output=True,
        text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
