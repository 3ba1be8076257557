"""Benchmark worker: one workload, one seed, one run.

Started by ``perfbench/run.py``, which pins the environment first; run
that, not this file. Flow of a run:

1. Build the session once (this launches the JVM).
2. Set-up, ``SETUP_REPS`` times: write the seeded inputs into a fresh
   directory and run one warm-up invocation. ``setup_s`` is the session
   build plus the median rep.
3. Warm, untimed, for the workload's ``warm_seconds``.
4. Measure, closed loop with one client, for ``--seconds``. With
   ``--trace 1`` the first half runs untraced and the second traced; see
   ``per_layer`` for which metric comes from which half.
5. Check every output against the generator's expectation.
6. Print one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end (``--trace 0``) or per-layer (``--trace 1``) metrics.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import ProgressLog, Tracer, gc_ms, jobs_in_groups

SETUP_REPS = 3


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def p90(values: list[float]) -> float:
    """90th percentile, linear interpolation between order statistics."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def parquet_files(root: str) -> list[str]:
    """Visible parquet files of a table directory (hidden staging and
    ``_``-prefixed side files excluded, as readers see them)."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        out += [
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    return out


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(root))


def parquet_rows(files) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def read_table(root: str, columns: list[str], ignore_prefixes=(".", "_")):
    return pads.dataset(
        root, format="parquet", partitioning="hive", ignore_prefixes=list(ignore_prefixes)
    ).to_table(columns=columns)


def peak_rss_mb() -> float:
    """Peak resident set (``VmHWM``) summed over this process and every
    process under it: the driver JVM and the Python workers the JVM forks
    for pandas UDFs. Spark keeps its Python workers for reuse, so they
    are still alive when this is read after the measured phase."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue  # ended since the listing
    return total_kb / 1024


def declared_metrics(root: str) -> tuple[dict, dict]:
    """``{name: unit}`` of the end-to-end and the per-layer metrics, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


@dataclass
class Measured:
    """What one measure phase produced."""

    latencies_ms: list[float] = field(default_factory=list)
    items: int = 0
    input_bytes: int = 0
    busy_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    invocations: int = 0
    run_ids: list[str] = field(default_factory=list)
    gc_ms: float = 0.0


class IngestTrickle:
    """Back-to-back scheduled invocations, each draining one small drop
    of new-date files landed (untimed) just before it. Op = invocation."""

    name = "ingest_trickle"
    ops_are_triggers = False
    state_metrics = ("operators.upsert.files_per_partition",)
    # per-invocation driver work keeps getting faster for ~10 invocations
    warm_seconds = 6
    FILES_PER_DROP = 4
    ROWS_PER_FILE = 2000
    KEY_POOL = 3000

    def __init__(self, seed: int):
        self.seed = seed

    def set_up(self, spark, work: str) -> None:
        """Fresh directories, the first drop, one warm-up invocation."""
        from data_ingestion_lambda_spark.streaming.ingest import (
            IngestPaths,
            run_ingest_available_now,
        )

        self.rng = random.Random(f"{self.name}:{self.seed}")
        self.landing = gen.Landing(os.path.join(work, "src"))
        self.paths = IngestPaths(
            source_dir=os.path.join(work, "src"),
            target_dir=os.path.join(work, "table"),
            checkpoint_dir=os.path.join(work, "checkpoint"),
            quarantine_dir=os.path.join(work, "quarantine"),
        )
        self.n_drops = 0
        self._land_drop()
        run_ingest_available_now(spark, self.paths)

    def _land_drop(self) -> tuple[str, list[dict]]:
        d = gen.BASE_DATE + dt.timedelta(days=self.n_drops)
        self.n_drops += 1
        files = [
            self.landing.write_csv(
                f"{d:%Y_%m_%d}/part-{k}.csv",
                gen.consumption_rows(
                    self.rng, d, self.ROWS_PER_FILE, self.KEY_POOL, f"{d}-{k}"
                ),
            )
            for k in range(self.FILES_PER_DROP)
        ]
        return d.isoformat(), files

    def check(self, spark) -> list[str]:
        problems = []
        got = read_table(
            self.paths.target_dir, ["date", "client_id", "total_consumed_tokens"]
        ).to_pydict()
        got_digest = gen.table_digest(
            zip(
                (str(d) for d in got["date"]),
                got["client_id"],
                got["total_consumed_tokens"],
            )
        )
        want = gen.expected_table(self.landing.files)
        want_digest = gen.table_digest((d, c, t) for (d, c), t in want.items())
        if got_digest != want_digest:
            problems.append(f"table (rows, hash) {got_digest} != expected {want_digest}")
        # partitions are named _batch_id=<n>: only dot files are hidden here
        q = read_table(
            self.paths.quarantine_dir,
            ["_reason", "client_name"],
            ignore_prefixes=(".", "_SUCCESS"),
        ).to_pydict()
        got_q = sorted(zip(q["_reason"], q["client_name"]))
        want_q = gen.expected_quarantine(self.landing.files)
        if got_q != want_q:
            problems.append(
                f"quarantine has {len(got_q)} rows, {len(want_q)} planted bad rows"
            )
        self.table_rows = got_digest[0]
        return problems

    def stored_bytes_per_item(self) -> float:
        return dir_bytes(self.paths.target_dir) / max(1, self.table_rows)

    def layer_state(self) -> dict:
        parts = [
            d
            for d in os.listdir(self.paths.target_dir)
            if d.startswith("date=")
        ]
        files = parquet_files(self.paths.target_dir)
        return {"operators.upsert.files_per_partition": len(files) / max(1, len(parts))}

    def measure(self, spark, seconds: float) -> Measured:
        from data_ingestion_lambda_spark.streaming.ingest import run_ingest_available_now

        m = Measured()
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            date, files = self._land_drop()
            t0 = time.perf_counter()
            try:
                written = run_ingest_available_now(spark, self.paths)
            except Exception as e:  # noqa: BLE001 - an op failure is a result
                print(f"op failed: {e!r}", file=sys.stderr)
                written = None
            lat = time.perf_counter() - t0
            if written != [date]:
                m.failed += 1
            m.latencies_ms.append(lat * 1000)
            m.attempted += 1
            m.invocations += 1
            m.busy_s += lat
            m.items += sum(f["items"] for f in files)
            m.input_bytes += sum(f["bytes"] for f in files)
        return m


class DedupGateStream:
    """The streaming near-duplicate gate (minhash mode, flag table on)
    draining seeded document drops against a growing index, one drop per
    micro-batch. A measure phase runs back-to-back invocations, each
    draining ``DROPS_PER_INVOCATION`` drops landed (untimed) just before
    it. Op = micro-batch."""

    name = "dedup_gate_stream"
    ops_are_triggers = True
    state_metrics = ("operators.dedup_gate.index_rows", "operators.dedup_gate.index_files")
    # one untimed invocation: without it the first measured micro-batches
    # run up to 50% slower than the later ones
    warm_seconds = 1
    DOCS_PER_DROP = 1000
    DROPS_PER_INVOCATION = 2

    def __init__(self, seed: int):
        self.seed = seed

    def _land(self, n_drops: int) -> list[dict]:
        files = []
        for _ in range(n_drops):
            files.append(
                self.landing.write_docs(
                    f"drop-{self.n_drops:05d}.parquet",
                    self.corpus.next_drop(self.DOCS_PER_DROP),
                )
            )
            self.n_drops += 1
        return files

    def _drain(self, spark, files) -> bool:
        from data_ingestion_lambda_spark.streaming.dedup_stream import (
            run_dedup_gate_available_now,
        )

        reports = run_dedup_gate_available_now(
            spark,
            self.source_dir,
            self.index_dir,
            self.checkpoint_dir,
            matches_dir=self.matches_dir,
            mode="minhash",
            max_files_per_trigger=1,
        )
        return [r["batch_docs"] for r in reports] == [f["items"] for f in files]

    def set_up(self, spark, work: str) -> None:
        """Fresh directories and corpus, one drop gated into an empty
        index (the warm-up)."""
        self.rng = random.Random(f"{self.name}:{self.seed}")
        self.corpus = gen.Corpus(self.rng)
        self.work = work
        self.source_dir = os.path.join(work, "drops")
        self.index_dir = os.path.join(work, "index")
        self.checkpoint_dir = os.path.join(work, "checkpoint")
        self.matches_dir = os.path.join(work, "matches")
        self.landing = gen.Landing(self.source_dir)
        self.n_drops = 0
        self._drain(spark, self._land(1))

    def measure(self, spark, seconds: float) -> Measured:
        m = Measured()
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            files = self._land(self.DROPS_PER_INVOCATION)
            t0 = time.perf_counter()
            try:
                ok = self._drain(spark, files)
            except Exception as e:  # noqa: BLE001 - an op failure is a result
                print(f"invocation failed: {e!r}", file=sys.stderr)
                ok = False
            m.busy_s += time.perf_counter() - t0
            m.invocations += 1
            m.attempted += len(files)
            m.failed += 0 if ok else len(files)
            m.items += sum(f["items"] for f in files)
            m.input_bytes += sum(f["bytes"] for f in files)
        return m

    def check(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        from data_ingestion_lambda_spark.plans.llm_ops import dedup_minhash_lsh

        problems = []
        flags = read_table(self.matches_dir, ["new_doc", "dup_of", "est_jaccard"]).to_pydict()
        got = sorted(
            (min(a, b), max(a, b), round(j, 9))
            for a, b, j in zip(flags["new_doc"], flags["dup_of"], flags["est_jaccard"])
        )
        oracle_dir = os.path.join(self.work, "oneshot")
        self.corpus.write_documents(os.path.join(oracle_dir, "documents.parquet"))
        want = sorted(
            (r["a"], r["b"], round(r["j"], 9))
            for r in dedup_minhash_lsh(spark, oracle_dir)
            .select(
                F.col("doc_a").alias("a"),
                F.col("doc_b").alias("b"),
                F.col("est_jaccard").alias("j"),
            )
            .collect()
        )
        if got != want:
            problems.append(
                f"gate flagged {len(got)} pairs, one-shot dedup_minhash_lsh {len(want)}"
            )
        missing = set(self.corpus.exact_pairs) - {(a, b) for a, b, _ in got}
        if missing:
            problems.append(f"{len(missing)} planted exact duplicates not flagged")
        self.n_docs = len(self.corpus.docs)
        return problems

    def stored_bytes_per_item(self) -> float:
        stored = dir_bytes(self.index_dir) + dir_bytes(self.matches_dir)
        return stored / max(1, self.n_docs)

    def layer_state(self) -> dict:
        files = parquet_files(self.index_dir)
        return {
            "operators.dedup_gate.index_rows": parquet_rows(files),
            "operators.dedup_gate.index_files": len(files),
        }


WORKLOADS = {w.name: w for w in (IngestTrickle, DedupGateStream)}


# ---------------------------------------------------------------------------
# per-op latencies
# ---------------------------------------------------------------------------


def finish_measure(wl, m: Measured, log: ProgressLog, n_runs_before: int) -> None:
    """Attach the stream runs this phase started (one per invocation); for
    micro-batch workloads take the op latencies from their triggers."""
    n_runs = n_runs_before + m.invocations
    log.wait_terminated(n_runs)
    m.run_ids = log.run_ids[n_runs_before:n_runs]
    if wl.ops_are_triggers:
        batches = log.batches(m.run_ids)
        m.latencies_ms = [float(b["ms"]["triggerExecution"]) for b in batches]
        if len(batches) != m.attempted:
            m.failed = m.attempted


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


def install_tracing(tracer: Tracer, wl) -> dict:
    """Wrap the package's functions where their callers look them up.
    Returns the accumulator the wrappers fill."""
    import data_ingestion_lambda_spark.operators.dedup_gate as dedup_gate
    import data_ingestion_lambda_spark.operators.upsert as upsert
    import data_ingestion_lambda_spark.streaming.dedup_stream as dedup_stream
    import data_ingestion_lambda_spark.streaming.ingest as ingest

    acc = {"rows_written": 0, "bytes_written": 0, "partitions": 0}
    table_dir = getattr(getattr(wl, "paths", None), "target_dir", None)

    # streaming.ingest → functions / operators.upsert
    tracer.spanned(ingest, "_process_batch", "streaming.ingest.process_batch", op_arg=3)
    tracer.spanned(ingest, "upsert_into_parquet", "operators.upsert.upsert_into_parquet")
    tracer.spanned(ingest, "replace_partitions", "streaming.ingest.quarantine_write")

    def normalize(orig):
        def wrapper(raw, *a, **kw):
            good, quarantined = tracer.span(
                "functions.normalize_consumption", orig, raw, *a, **kw
            )
            tracer.force("functions.normalize_consumption.forced", good)
            if tracer.enabled:
                tracer.count("functions.rows_good", good.count())
                tracer.count("functions.rows_quarantined", quarantined.count())
            return good, quarantined

        return wrapper

    tracer.install(ingest, "normalize_consumption", normalize)

    def merge(orig):
        def wrapper(*a, **kw):
            merged = orig(*a, **kw)
            tracer.force("operators.upsert.merge_last_writer_wins", merged)
            return merged

        return wrapper

    tracer.install(upsert, "merge_last_writer_wins", merge)

    def replace(orig):
        def wrapper(spark_, target_dir, df, dates, *a, **kw):
            out = tracer.span(
                "operators.upsert.replace_partitions",
                orig, spark_, target_dir, df, dates, *a, **kw,
            )
            if tracer.enabled and target_dir == table_dir:
                files = []
                for d in dates:
                    files += parquet_files(os.path.join(target_dir, f"date={d}"))
                acc["partitions"] += len(dates)
                acc["rows_written"] += parquet_rows(files)
                acc["bytes_written"] += sum(os.path.getsize(f) for f in files)
            return out

        return wrapper

    tracer.install(upsert, "replace_partitions", replace)

    # streaming.dedup_stream → operators.dedup_gate → plans.llm_ops
    tracer.spanned(dedup_gate, "read_index", "operators.dedup_gate.read_index")
    tracer.spanned(dedup_gate, "replace_partitions", "operators.dedup_gate.replace_partitions")

    cands: list = []

    def rescore(orig):
        def wrapper(cand, *a, **kw):
            cands.append(cand)
            return orig(cand, *a, **kw)

        return wrapper

    tracer.install(dedup_gate, "_rescore", rescore)

    def probe(orig):
        def wrapper(*a, **kw):
            def run():
                res = orig(*a, **kw)
                tracer.force("operators.dedup_gate.probe_batch.forced", res)
                return res

            cands.clear()
            res = tracer.span("operators.dedup_gate.probe_batch", run)
            if tracer.enabled:
                n = tracer.span(
                    "operators.dedup_gate.candidate_count",
                    lambda: sum(c.count() for c in cands),
                )
                tracer.count("operators.dedup_gate.candidate_pairs", n)
            return res

        return wrapper

    tracer.install(dedup_gate, "probe_batch", probe)

    def sig_table(orig):
        def wrapper(docs, *a, **kw):
            sig = orig(docs, *a, **kw)
            tracer.force("plans.llm_ops.minhash_sig_table", sig)
            return sig

        return wrapper

    tracer.install(dedup_gate, "minhash_sig_table", sig_table)

    def apply(orig):
        def wrapper(*a, **kw):
            rep = tracer.span("operators.dedup_gate.apply_batch", orig, *a, op=a[3], **kw)
            tracer.count("operators.dedup_gate.dup_pairs", rep["dup_pairs"])
            return rep

        return wrapper

    tracer.install(dedup_stream, "apply_batch", apply)
    return acc


def per_layer(
    tracer, acc, wl, plain: Measured, traced: Measured, log, spark, setup
) -> dict:
    """Span metrics come from the traced half. Stream progress, GC time
    and job counts come from the untraced half, where the forced
    evaluations do not inflate them."""
    n_ops = max(1, len(traced.latencies_ms))
    n_plain = max(1, len(plain.latencies_ms))
    batches = log.batches(plain.run_ids)
    ms = [b["ms"] for b in batches]
    c = tracer.counts
    out = {
        "streaming.trigger_ms": mean(d.get("triggerExecution", 0) for d in ms),
        "streaming.add_batch_ms": mean(d.get("addBatch", 0) for d in ms),
        "streaming.overhead_ms": mean(
            d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in ms
        ),
        "streaming.latest_offset_ms": mean(d.get("latestOffset", 0) for d in ms),
        "streaming.commit_ms": mean(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in ms
        ),
        "streaming.batches": len(batches) / n_plain,
        "streaming.input_rows": sum(b["rows"] for b in batches) / n_plain,
        "functions.normalize_consumption_ms": mean(
            tracer.durations("functions.normalize_consumption.forced")
        ),
        "functions.rows_good": c["functions.rows_good"] / n_ops,
        "functions.rows_quarantined": c["functions.rows_quarantined"] / n_ops,
        "operators.upsert.upsert_into_parquet_ms": mean(
            tracer.durations("operators.upsert.upsert_into_parquet")
        ),
        "operators.upsert.upsert_into_parquet_self_ms": mean(
            tracer.self_ms("operators.upsert.upsert_into_parquet")
        ),
        "operators.upsert.replace_partitions_ms": mean(
            tracer.durations("operators.upsert.replace_partitions")
        ),
        "operators.upsert.merge_last_writer_wins_ms": mean(
            tracer.durations("operators.upsert.merge_last_writer_wins")
        ),
        "operators.upsert.partitions_rewritten": acc["partitions"] / n_ops,
        "operators.upsert.bytes_written_per_input_byte": acc["bytes_written"]
        / max(1, traced.input_bytes),
        "operators.upsert.rows_written_per_input_row": acc["rows_written"]
        / max(1, traced.items),
        "operators.dedup_gate.apply_batch_ms": mean(
            tracer.durations("operators.dedup_gate.apply_batch")
        ),
        "operators.dedup_gate.apply_batch_self_ms": mean(
            tracer.self_ms("operators.dedup_gate.apply_batch")
        ),
        "operators.dedup_gate.probe_batch_ms": mean(
            tracer.durations("operators.dedup_gate.probe_batch")
        ),
        "operators.dedup_gate.read_index_ms": mean(
            tracer.durations("operators.dedup_gate.read_index")
        ),
        "operators.dedup_gate.candidate_pairs": c["operators.dedup_gate.candidate_pairs"]
        / n_ops,
        "operators.dedup_gate.dup_pairs": c["operators.dedup_gate.dup_pairs"] / n_ops,
        "operators.dedup_gate.accepted_per_candidate": c["operators.dedup_gate.dup_pairs"]
        / max(1, c["operators.dedup_gate.candidate_pairs"]),
        "plans.llm_ops.minhash_sig_table_ms": mean(
            tracer.durations("plans.llm_ops.minhash_sig_table")
        ),
        "session.get_spark_s": setup["get_spark_s"],
        "session.cold_setup_s": setup["cold_setup_s"],
        "jvm.gc_ms": plain.gc_ms / n_plain,
        "spark.jobs_per_op": jobs_in_groups(spark, plain.run_ids) / n_plain,
        "trace.spans": len(tracer.spans),
        "trace.overhead_ms": 0.0,
        "trace.overhead_share": 0.0,
    }
    # the share of a micro-batch that signatures + band join + rescore
    # take, evaluated on their own (forced) against the untraced trigger
    out["operators.dedup_gate.probe_share"] = out["operators.dedup_gate.probe_batch_ms"] / (
        out["streaming.trigger_ms"] or 1.0
    )
    if plain.latencies_ms and traced.latencies_ms:
        p_plain = statistics.median(plain.latencies_ms)
        p_traced = statistics.median(traced.latencies_ms)
        out["trace.overhead_ms"] = p_traced - p_plain
        out["trace.overhead_share"] = (p_traced - p_plain) / p_plain
    for w in WORKLOADS.values():  # a layer the workload does not run reads 0
        out.update(dict.fromkeys(w.state_metrics, 0.0))
    out.update(wl.layer_state())
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def run(args) -> dict:
    from data_ingestion_lambda_spark.session import get_spark

    root = os.getcwd()
    end_to_end_units, per_layer_units = declared_metrics(root)
    work_root = os.path.join(os.environ["PERFBENCH_RUN_DIR"], "work")
    wl = WORKLOADS[args.workload](args.seed)
    setup_s = []
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    try:
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.set_up(spark, os.path.join(work_root, f"rep{rep}"))
            setup_s.append(time.perf_counter() - t0)
        setup = {
            "setup_s": get_spark_s + statistics.median(setup_s),
            "get_spark_s": get_spark_s,
            "cold_setup_s": get_spark_s + setup_s[0],
        }

        if wl.warm_seconds:
            wl.measure(spark, wl.warm_seconds)  # untimed: let the JIT settle
        log = ProgressLog()
        spark.streams.addListener(log)
        tracer = Tracer()
        phases = []
        if args.trace:
            acc = install_tracing(tracer, wl)
            halves = [(False, args.seconds / 2), (True, args.seconds / 2)]
        else:
            halves = [(False, args.seconds)]
        for traced, seconds in halves:
            tracer.enabled = traced
            gc0 = gc_ms(spark)
            n_runs_before = len(log.run_ids)
            m = wl.measure(spark, seconds)
            finish_measure(wl, m, log, n_runs_before)
            m.gc_ms = gc_ms(spark) - gc0
            phases.append(m)
        tracer.enabled = False
        tracer.uninstall()
        # read before the checks, whose one-shot runs and table reads are
        # the benchmark's memory, not the program's
        rss_mb = peak_rss_mb()

        problems = wl.check(spark)
        attempted = sum(m.attempted for m in phases)
        failed = sum(m.failed for m in phases)
        if problems:
            for p in problems:
                print(f"check failed: {p}", file=sys.stderr)
            failed = attempted
        correct = not problems and failed == 0

        if args.trace:
            plain, traced_m = phases
            units = per_layer_units
            metrics = per_layer(tracer, acc, wl, plain, traced_m, log, spark, setup)
            span_path = os.path.join(
                root, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.jsonl"
            )
            tracer.write(span_path)
            print(f"spans written to {span_path}", file=sys.stderr)
        else:
            (m,) = phases
            # a run whose ops all failed still reports, from its wall time
            lat = m.latencies_ms or [m.busy_s * 1000]
            metrics = {
                "setup_s": setup["setup_s"],
                "items_per_s": m.items / m.busy_s,
                "latency_p50_ms": statistics.median(lat),
                "latency_tail_ms": p90(lat),
                "stored_bytes_per_item": wl.stored_bytes_per_item(),
                "peak_rss_mb": rss_mb,
            }
            units = end_to_end_units
            print(
                f"{args.workload}: {len(lat)} ops, {m.items} items in "
                f"{m.busy_s:.2f}s; session {get_spark_s:.2f}s, set-up reps "
                f"{[round(s, 2) for s in setup_s]}; op ms {[round(x) for x in lat]}",
                file=sys.stderr,
            )
        if metrics.keys() != units.keys():
            raise RuntimeError(
                f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(units)}"
            )
        return {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        spark.stop()
        shutil.rmtree(work_root, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
