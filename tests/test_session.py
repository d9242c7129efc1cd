"""The session factory's derived defaults (no Spark started)."""

import os

from outcite_duplicate_detecting_spark.session import default_driver_memory, local_cores

GB = 2**30


def test_local_cores_honours_an_explicit_count():
    assert local_cores(3) == 3
    assert local_cores("3") == 3
    assert local_cores("*") == len(os.sched_getaffinity(0))


def test_default_driver_memory_fits_ram():
    assert default_driver_memory(15 * GB) == "9216m"
    assert default_driver_memory(256 * GB) == "24576m"
