#!/usr/bin/env python
"""Sharded parallel pytest runner (the inner-loop fix for a 38-minute
single-process suite; pytest-xdist is not installable in this container,
so this is the check_oracle --jobs recipe applied to pytest itself).

Shards test FILES across N worker subprocesses. Each worker is a fully
isolated Spark deployment — its own JVM, its own working directory (so
spark-warehouse/, metastore_db/, derby.log never collide), its own
TMPDIR, and a fair share of cores and driver heap via the session
factory's SPARK_GRAFT_CPUS / SPARK_DRIVER_MEMORY env knobs. File-level
sharding (not test-level) keeps module-scoped fixtures and intra-file
ordering exactly as in a serial run; the session-scoped `spark` fixture
simply builds once per worker.

Balancing: longest-processing-time-first over per-FILE durations from
the previous run (tools/.test_timings.json, refreshed from each worker's
junit XML); first run falls back to file size. The cache is committed so
a fresh checkout balances well immediately.

Sizing comes from the host: each worker's Spark JVM gets a heap of
(MemTotal - 2 GiB) / jobs - 2 GiB (the 2 GiB per worker covers the
JVM's off-heap memory and its Python workers), and the default job
count is the largest that leaves every worker PER_WORKER_MIN_GIB and two
cores — 2 workers with 4 GiB heaps on a 16 GiB, 4-core host.

Usage:
    python tools/run_tests.py              # default --jobs from the host
    python tools/run_tests.py --jobs 2 -- -k "not integration"
Exit code: nonzero iff any worker failed (pytest exit 5 "no tests
collected" counts as success for a shard).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import tempfile
import time
import xml.etree.ElementTree as ET
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TESTS = REPO / "tests"
TIMINGS = REPO / "tools" / ".test_timings.json"
SUMMARY_RE = re.compile(r"(\d+) (passed|failed|skipped|error|errors|xfailed|xpassed)")
# JVM heap + off-heap (metaspace, code cache, pandas-UDF Python
# workers) per worker, and the memory kept for the OS and the runner
PER_WORKER_MIN_GIB = 6
OFF_HEAP_GIB = 2
RESERVED_GIB = 2


def host_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def host_mem_gib() -> int:
    """MemTotal from /proc/meminfo, in whole GiB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def default_jobs(cpus: int, mem_gib: int) -> int:
    return max(1, min(cpus // 2, (mem_gib - RESERVED_GIB) // PER_WORKER_MIN_GIB))


def load_timings() -> dict[str, float]:
    try:
        return json.loads(TIMINGS.read_text())
    except Exception:
        return {}


def shard(files: list[Path], jobs: int, timings: dict[str, float]) -> list[list[Path]]:
    def cost(f: Path) -> float:
        # previous wall time when known, else size as a rough proxy
        # (1 KiB ~ 1 s keeps the two scales comparable for mixed caches)
        return timings.get(f.name, f.stat().st_size / 1024.0)

    buckets: list[tuple[float, list[Path]]] = [(0.0, []) for _ in range(jobs)]
    for f in sorted(files, key=cost, reverse=True):
        i = min(range(jobs), key=lambda j: buckets[j][0])
        buckets[i] = (buckets[i][0] + cost(f), buckets[i][1] + [f])
    return [b[1] for b in buckets if b[1]]


def parse_junit(path: Path) -> dict[str, float]:
    """Per-FILE wall seconds from one worker's junit XML."""
    out: dict[str, float] = {}
    try:
        for case in ET.parse(path).getroot().iter("testcase"):
            # pytest's junit carries the module in classname
            # ("test_mod" or "test_mod.TestClass"); no `file` attribute
            mod = (case.get("classname") or "").split(".")[0]
            if mod:
                out[f"{mod}.py"] = out.get(f"{mod}.py", 0.0) + float(
                    case.get("time") or 0.0
                )
    except Exception:
        pass
    return out


def main() -> int:
    cpus, mem_gib = host_cpus(), host_mem_gib()
    ap = argparse.ArgumentParser()
    ap.add_argument("--jobs", type=int, default=default_jobs(cpus, mem_gib))
    ap.add_argument(
        "pytest_args",
        nargs="*",
        help="extra pytest args after `--` (e.g. -- -k 'not stream')",
    )
    args = ap.parse_args()

    files = sorted(TESTS.glob("test_*.py"))
    timings = load_timings()
    # Staleness guard (VERDICT r11 #6): a file absent from the committed
    # cache is balanced by SIZE, which silently skews LPT — say so up
    # front instead of letting one worker run minutes longer.
    uncached = [f.name for f in files if f.name not in timings]
    if uncached:
        print(
            f"WARN: {len(uncached)} test file(s) not in {TIMINGS.name} "
            f"(balanced by file size this run): {', '.join(uncached)}",
            flush=True,
        )
    buckets = shard(files, args.jobs, timings)
    n = max(1, len(buckets))
    per_cores = max(1, cpus // n)
    per_mem_g = max(1, (mem_gib - RESERVED_GIB) // n - OFF_HEAP_GIB)
    print(f"{n} worker(s), {per_cores} core(s) and a {per_mem_g} GiB heap each", flush=True)

    t0 = time.time()
    procs = []
    tmp_root = Path(tempfile.mkdtemp(prefix="run_tests_"))
    for i, bucket in enumerate(buckets):
        wd = tmp_root / f"w{i}"
        (wd / "tmp").mkdir(parents=True)
        junit = wd / "junit.xml"
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(per_cores),
            SPARK_DRIVER_MEMORY=f"{per_mem_g}g",
            TMPDIR=str(wd / "tmp"),
            # workers run from an isolated cwd; executor Python workers
            # (UDFs, python datasources, foreachBatch bodies) must still
            # resolve the package — in the serial run cwd==repo covers it
            PYTHONPATH=f"{REPO}:{os.environ.get('PYTHONPATH', '')}".rstrip(":"),
        )
        cmd = [
            sys.executable,
            "-m",
            "pytest",
            "-q",
            "-p",
            "no:cacheprovider",
            f"--junit-xml={junit}",
            *args.pytest_args,
            *[str(f) for f in bucket],
        ]
        log = open(wd / "out.log", "w")
        procs.append(
            (
                i,
                bucket,
                junit,
                wd,
                log,
                subprocess.Popen(cmd, cwd=wd, env=env, stdout=log, stderr=subprocess.STDOUT),
            )
        )
        print(f"worker {i}: {len(bucket)} files", flush=True)

    counts: dict[str, int] = {}
    failed_workers = []
    new_timings = dict(timings)
    for i, bucket, junit, wd, log, p in procs:
        rc = p.wait()
        log.close()
        out = (wd / "out.log").read_text()
        tail = out.strip().splitlines()[-1] if out.strip() else ""
        print(f"worker {i} rc={rc}: {tail}", flush=True)
        for n, kind in SUMMARY_RE.findall(tail):
            counts[kind] = counts.get(kind, 0) + int(n)
        if rc not in (0, 5):
            failed_workers.append(i)
            # surface the worker's failure detail inline
            print(f"----- worker {i} output -----")
            print(out[-8000:])
        new_timings.update(parse_junit(junit))

    # Drift guard: a cached entry >2x off from what this run observed
    # means the balance the NEXT run computes from the refreshed cache
    # differs materially from the one this run used — worth a line.
    drifted = sorted(
        f"{name} cached={timings[name]:.0f}s observed={obs:.0f}s"
        for name, obs in new_timings.items()
        if name in timings
        and obs > 1.0
        and timings[name] > 1.0
        and (obs / timings[name] > 2.0 or timings[name] / obs > 2.0)
    )
    if drifted:
        print(
            f"WARN: {len(drifted)} timing(s) drifted >2x vs cache "
            "(rebalanced next run): " + "; ".join(drifted),
            flush=True,
        )
    if failed_workers:
        # keep the committed cache authoritative: a red run's timings
        # include aborted/failed files and would skew the next balance
        print(f"(timings cache NOT refreshed: worker(s) {failed_workers} failed)")
    else:
        TIMINGS.write_text(json.dumps(new_timings, indent=0, sort_keys=True) + "\n")
    wall = time.time() - t0
    summary = ", ".join(f"{v} {k}" for k, v in sorted(counts.items()))
    print(f"\nTOTAL: {summary} in {wall:.0f}s across {len(buckets)} workers")
    return 1 if failed_workers else 0


if __name__ == "__main__":
    raise SystemExit(main())
