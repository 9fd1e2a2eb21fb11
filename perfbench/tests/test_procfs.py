"""Process-tree figures: a child is found, its CPU counts after it exits."""

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import procfs  # noqa: E402

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"


def test_tree_holds_a_live_child_and_memory_is_counted():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        tree = procfs.process_tree(os.getpid())
        assert tree[0] == os.getpid()
        assert child.pid in tree
        assert procfs.pss_bytes(tree) > procfs.pss_bytes([os.getpid()]) > 0
    finally:
        child.kill()
        child.wait()


def test_cpu_of_a_reaped_child_counts_for_its_parent():
    before = procfs.cpu_seconds([os.getpid()])
    subprocess.run([sys.executable, "-c", BUSY], check=True)  # waits: reaped
    assert procfs.cpu_seconds([os.getpid()]) - before >= 0.25


def test_vanished_pids_are_skipped():
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    assert procfs.cpu_seconds([child.pid]) == 0
    assert procfs.pss_bytes([child.pid]) == 0
