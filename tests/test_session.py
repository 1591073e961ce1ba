"""The session factory's defaults."""

from __future__ import annotations

import os


def test_driver_memory_is_at_most_half_the_host(spark):
    """``get_spark`` sizes ``spark.driver.memory`` to half the host's
    physical memory by default, so the test session's driver JVM leaves
    the other half to the Python workers and the rest of the host."""
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    value = spark.conf.get("spark.driver.memory").strip().lower().rstrip("b")
    if value[-1] in units:
        size = int(value[:-1]) * units[value[-1]]
    else:  # a bare number is MiB
        size = int(value) * units["m"]
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < size <= host // 2, (value, host)
