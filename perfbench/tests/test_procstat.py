"""Process-tree CPU and memory readings."""

import os
import subprocess
import sys
import time

import procstat

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"


def test_tree_cpu_counts_live_and_reaped_children():
    before = procstat.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN + "time.sleep(30)"])
    try:
        deadline = time.time() + 20
        while procstat.cpu_s(child.pid) < 0.25 and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in procstat.tree_pids(os.getpid())
        assert procstat.tree_cpu_s() - before >= 0.25
    finally:
        child.kill()
        child.wait(timeout=10)
    # once reaped, the child's CPU moves into this process's cutime
    subprocess.run([sys.executable, "-c", BURN], check=True, timeout=20)
    assert procstat.tree_cpu_s() - before >= 0.5


def test_memory_and_start_time():
    assert procstat.vm_hwm_mb(os.getpid()) > 1
    start = procstat.start_epoch()
    assert start <= time.time()
    assert time.time() - start < 24 * 3600
