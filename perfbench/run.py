"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,dashboard} \
        --seed N --seconds S --trace {0,1}

Run it from the repo root. It starts the closed-loop client
(``perfbench/client.py``) in its own process group with the repo root as
working directory, as the tier-1 tests run: the engine's ``mapInPandas``
kernels need Python workers that can import the package from there.
Every file the run writes stays inside the repo root (``.perfbench_work/``
for scratch, removed at the end; ``.perfbench_out/`` for traced-run
spans). When the client ends, every process left in its group is killed
and waited for.

The last stdout line is the result JSON:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see ``BENCHMARK.json``). The exit code is not 0, and
no result is printed, when the engine package is missing, the client
fails or the run takes longer than 160 s.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

TIMEOUT_S = 160
PACKAGE = "iot_big_data_engineering_spark"


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getpgid(int(d)) == pgid:
                    return True
            except OSError:
                pass
    return False


def _stop_group(pgid: int) -> None:
    """Kill what is left of the client's process group and wait until
    every member has ended."""
    deadline = time.monotonic() + 10
    while _group_alive(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "dashboard"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found under {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every JVM (the spark-submit launcher too) keeps its temp files and
    # perf data out of /tmp
    env = dict(
        os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, TZ="UTC", PYTHONHASHSEED="0",
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    cmd = [
        sys.executable, "-m", "perfbench.client", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
    ]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _stop_group(proc.pid)
        proc.wait()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        _stop_group(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    lines = out.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: client exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
