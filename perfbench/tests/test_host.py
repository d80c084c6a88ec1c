"""Host sizing and the process-tree CPU clock."""

import subprocess
import sys
import time

from perfbench import host

GIB = 1 << 30


def test_driver_heap_is_a_sixteenth_of_memory_within_limits():
    assert host.driver_heap_bytes(4 * GIB) == GIB // 2
    assert host.driver_heap_bytes(16 * GIB) == GIB
    assert host.driver_heap_bytes(256 * GIB) == 2 * GIB


def test_tree_cpu_counts_a_live_child_process():
    # the child burns ~0.5 s of CPU, then idles until stdin closes
    code = (
        "import sys, time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\n"
        "print('done', flush=True)\n"
        "sys.stdin.read()\n"
    )
    before = host.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert host.tree_cpu_s() - before >= 0.4
        assert host.tree_cpu_s(child.pid) >= 0.4
    finally:
        child.stdin.close()
        child.wait(timeout=30)


def test_tree_cpu_of_an_idle_process_does_not_grow():
    child = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"], stdin=subprocess.PIPE)
    try:
        time.sleep(0.3)  # let the interpreter finish starting
        first = host.tree_cpu_s(child.pid)
        time.sleep(0.3)
        assert host.tree_cpu_s(child.pid) - first < 0.05
    finally:
        child.stdin.close()
        child.wait(timeout=30)
