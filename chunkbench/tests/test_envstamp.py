"""Process-tree CPU time and the stopwatch built on it."""

import subprocess
import sys
import time

from chunkbench import envstamp
from chunkbench.workloads import Stopwatch


def _spin(seconds: float) -> None:
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        pass


def test_stopwatch_counts_cpu_spent_and_not_time_slept():
    sw = Stopwatch()
    _spin(0.3)
    time.sleep(0.3)
    wall, cpu, steal = sw.stop()
    assert wall >= 0.6
    assert 0.2 <= cpu <= 0.45  # the spin, give or take clock ticks; not the sleep
    assert steal >= 0.0


def test_tree_cpu_includes_a_busy_child():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.time() + 5\nwhile time.time() < t: pass"]
    )
    try:
        before = envstamp.tree_cpu_s()
        time.sleep(0.5)
        assert envstamp.tree_cpu_s() - before >= 0.3
    finally:
        child.kill()
        child.wait(timeout=10)
