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


def test_kernels_run_when_workers_start_outside_the_repo(tmp_path):
    """The package is on the driver's ``sys.path`` only and the process
    runs in a directory outside the repo, so a Python worker cannot find
    the package next to its working directory. ``get_spark`` ships the
    package, and an Arrow kernel still runs; a second ``get_spark`` on
    the same context ships nothing more."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
import numpy as np
from iot_big_data_engineering_spark.operators.similarity import assign_cells
from iot_big_data_engineering_spark.session import get_spark

spark = get_spark(app_name="cwd-test", master="local[1]", shuffle_partitions=1)
get_spark(app_name="cwd-test", master="local[1]", shuffle_partitions=1)
print("shipped", sum(f.endswith(".zip") for f in spark.sparkContext.listFiles))
e = spark.createDataFrame(
    [(0, [1.0, 0.0]), (1, [0.0, 2.0])], "vec_id long, v array<double>"
)
print("cells", sorted((r.vec_id, r.cell) for r in assign_cells(e, np.eye(2)).collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "shipped 1" in res.stdout, res.stdout
    assert "cells [(0, 0), (1, 1)]" in res.stdout, res.stdout
