"""bench.py sizes its N-vs-4N legs from the host and ends a timed-out
child's whole process tree (no Spark started)."""

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

GB = 2**30


def test_plan_legs_small_host():
    n_small, n_big, heap_small, heap_big = bench.plan_legs(4, 15 * GB)
    assert (n_small, n_big) == (1, 4)
    assert heap_small == pytest.approx(2.25)
    assert heap_big == pytest.approx(9.0)


def test_plan_legs_large_host_keeps_2_vs_8():
    assert bench.plan_legs(32, 256 * GB) == (2, 8, 24.0, 96.0)


def test_plan_legs_skipped_below_4_cpus():
    assert bench.plan_legs(2, 15 * GB) is None


_SPAWN_SLEEP = r"""
import subprocess, sys
p = subprocess.Popen(["sleep", "60"])
print(p.pid, file=sys.stderr, flush=True)
p.wait()
"""


def test_run_child_timeout_kills_process_group():
    """A timed-out child comes back as a failure, and the grandchild it
    started (standing in for the JVM) is killed with it."""
    cpu = min(os.sched_getaffinity(0))
    t0 = time.monotonic()
    res, err = bench.run_child(_SPAWN_SLEEP, [], [cpu], timeout=2)
    assert res is None
    assert time.monotonic() - t0 < 10
    assert "timed out after 2s" in err
    grandchild = int(err.split()[0])
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline:
        try:
            with open(f"/proc/{grandchild}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except FileNotFoundError:
            return
        if state == "Z":
            return
        time.sleep(0.1)
    raise AssertionError(f"grandchild {grandchild} still running (state {state})")
