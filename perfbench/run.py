"""Benchmark launcher: pins the environment, runs one workload in a
worker process, and relays its result line.

Usage, from the repository root:

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 15 --trace 0

The environment is pinned here, not in the package:

- ``SPARK_GRAFT_CPUS`` from ``nproc`` (the session sizes ``local[N]`` and
  the shuffle partitions from it);
- ``SPARK_DRIVER_MEMORY`` well below the host's memory (the session
  default is sized for a much larger host);
- ``PYTHONPATH`` to the repository root, so Python UDF workers can
  import the package from any working directory;
- the console progress bar off;
- Spark's local dirs, the JVM's and Python's temp dirs inside a
  per-run directory under ``.perfbench_work/``, so a run writes nothing
  outside the working directory and removes what it wrote.

Exits non-zero without printing a result when the package is not there
(a directory holding only the benchmark), when the worker fails, or
when it runs past ``TIMEOUT_S``.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

DRIVER_MEMORY = "1g"
TIMEOUT_S = 170


def nproc() -> int:
    """``nproc`` as the repository's test command calls it (it would
    otherwise report OMP_NUM_THREADS)."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    try:
        out = subprocess.run(["nproc"], env=env, capture_output=True, text=True, check=True)
        return int(out.stdout.strip())
    except (OSError, subprocess.CalledProcessError, ValueError):
        return len(os.sched_getaffinity(0))


def pinned_env(root: str, run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONDONTWRITEBYTECODE": "1",
            "PERFBENCH_RUN_DIR": run_dir,
        }
    )
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (the driver
    JVM, Python UDF workers), reap the worker, and wait until nothing in
    the group runs."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_ingestion_lambda_spark", "__init__.py")):
        print(
            "perfbench: data_ingestion_lambda_spark/ not found in the working "
            "directory; run from the repository root",
            file=sys.stderr,
        )
        return 2
    # a terminated launcher still stops the worker and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.bench", *sys.argv[1:]],
        cwd=root,
        env=pinned_env(root, run_dir),
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker passed {TIMEOUT_S}s, stopped", file=sys.stderr)
        return 1
    finally:
        stop_group(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(work)
        except OSError:
            pass  # another run still uses it
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
