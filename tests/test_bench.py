"""bench.py sizes its N-vs-4N legs from the host (no Spark started)."""

import os
import sys

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
