import os
import subprocess
import sys

from perfbench import procstat


def test_cpu_counts_reaped_children():
    before = procstat.cpu_seconds(procstat.tree())
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(4_000_000))"], check=True, timeout=60)
    assert procstat.cpu_seconds(procstat.tree()) - before > 0.1


def test_tree_lists_live_children_with_start_times():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procstat.tree()
        assert procstat.start_time(child.pid) is not None
        assert procstat.peak_rss_by_process([os.getpid(), child.pid])
    finally:
        child.kill()
        child.wait(timeout=10)
    assert procstat.start_time(child.pid) is None
