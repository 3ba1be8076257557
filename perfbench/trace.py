"""Tracing from outside the program: spans around calls into the
package's public functions, stream progress from a listener, and a few
JVM-side counters.

Nothing in the package is edited. ``Tracer.install`` replaces a function
under the name its CALLER looks it up by (``streaming.ingest`` imports
``upsert_into_parquet`` into its own namespace, so that is where the
wrapper goes) and ``Tracer.uninstall`` puts every original back.

Spans are kept in memory as (name, start, end, parent, op) and written
out once, when the run ends. A span marked *forced* wraps a lazy
DataFrame the program would only evaluate later inside a bigger job: the
wrapper evaluates it once more into Spark's ``noop`` sink so its cost can
be seen on its own. Forced work is extra work, so it runs only in the
traced half of a traced run and shows up in the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans and counters of one traced run, plus the function wrappers
    that record them."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, fn, *args, op=None, **kwargs):
        """Run ``fn`` inside a span (a plain call while tracing is off)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        st = self._stack()
        rec = {
            "name": name,
            "parent": st[-1]["id"] if st else None,
            "op": op if op is not None else (st[-1]["op"] if st else None),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec)
        rec["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            st.pop()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    # -- patching ------------------------------------------------------------
    def install(self, module, attr: str, wrapper_factory) -> None:
        """Replace ``module.attr`` with ``wrapper_factory(original)``."""
        orig = getattr(module, attr)
        wrapped = functools.wraps(orig)(wrapper_factory(orig))
        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapped)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def spanned(self, module, attr: str, name: str, op_arg: int | None = None) -> None:
        """Plain span around every call of ``module.attr``; ``op_arg``
        names the positional argument that identifies the op."""

        def factory(orig):
            def wrapper(*args, **kwargs):
                op = args[op_arg] if op_arg is not None else None
                return self.span(name, orig, *args, op=op, **kwargs)

            return wrapper

        self.install(module, attr, factory)

    def force(self, name: str, df) -> None:
        """Evaluate ``df`` into the noop sink inside span ``name``."""
        if self.enabled:
            self.span(name, lambda: df.write.format("noop").mode("overwrite").save())

    # -- aggregation ---------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000
            for s in self.spans
            if s["name"] == name and "end" in s
        ]

    def self_ms(self, name: str) -> list[float]:
        """Per-span self time: duration minus the union of its direct
        children's intervals."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["name"] != name or "end" not in s:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out.append((s["end"] - s["start"] - covered) * 1000)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                if "end" not in s:
                    continue
                fh.write(
                    json.dumps(
                        {
                            "id": s["id"],
                            "name": s["name"],
                            "parent": s["parent"],
                            "op": s["op"],
                            "start_ms": round((s["start"] - t0) * 1000, 3),
                            "end_ms": round((s["end"] - t0) * 1000, 3),
                        }
                    )
                    + "\n"
                )


class ProgressLog(StreamingQueryListener):
    """Collects every stream's start, per-trigger progress and end. The
    listener bus delivers asynchronously, so ``wait_terminated`` blocks
    until a query's end event has arrived (its progress events precede
    it on the same bus)."""

    def __init__(self):
        self.progress: list[dict] = []
        self.run_ids: list[str] = []
        self._ended: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._ended.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, n_runs: int, timeout: float = 30.0) -> None:
        """Wait until the first ``n_runs`` started queries have ended."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while not (
                len(self.run_ids) >= n_runs
                and all(r in self._ended for r in self.run_ids[:n_runs])
            ):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("stream end events did not arrive")
                self._cv.wait(left)

    def batches(self, run_ids) -> list[dict]:
        """Progress of the micro-batches that read input, for these runs."""
        want = set(run_ids)
        with self._cv:
            return [p for p in self.progress if p["run_id"] in want and p["rows"] > 0]


def gc_ms(spark) -> float:
    """Total collection time of the driver JVM's collectors so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()))


def jobs_in_groups(spark, groups) -> int:
    st = spark.sparkContext.statusTracker()
    return sum(len(st.getJobIdsForGroup(g)) for g in groups)
