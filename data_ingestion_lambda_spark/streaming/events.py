"""Event-time streaming operators over the `events` stream (SURVEY §2.9 EXT).

The reference's only 'streaming' is scheduled file ingestion (covered by
streaming/ingest.py). The north star needs real event-time semantics:
watermarked window aggregation, streaming dedup, session windows, and a
custom stateful operator. Each builder takes an unbounded DataFrame (from
``readStream``) and returns the transformed unbounded DataFrame — callers
attach sinks/triggers, so the same code serves availableNow micro-batch
runs and continuous jobs.

The batch twins in plans/events_queries.py share these window/session
semantics and are what the DuckDB oracle checks; here the same logic runs
with state + watermark eviction, which tests/test_streaming_events.py
exercises through multi-batch file feeds.

Scale notes:
- watermarks bound ALL state below; without one, windowed state grows
  monotonically — every function here requires a watermark argument
  rather than defaulting to unbounded.
- state lives in the state store, partitioned by grouping key: sizing is
  keys × window-lifetime, independent of total stream length.
- applyInPandasWithState state is per-key opaque bytes; keep it O(1) per
  key (running aggregates), never a buffer of events.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from data_ingestion_lambda_spark.streaming import drain_available_now, file_stream


def stream_tumbling_counts(
    events: DataFrame, window_size: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the canonical
    late-data-tolerant aggregation. Events later than the watermark are
    dropped; windows finalize (append mode) once the watermark passes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each key wins; dedup
    state for a key is evicted once the watermark passes its event time
    (`dropDuplicatesWithinWatermark`), so state is bounded by the
    watermark horizon — the streaming half of SURVEY §2.11 exact dedup."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: events within `gap` of each other merge
    into one session (dynamic, data-driven window end). State per live
    session; closed by watermark passage."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream INTERVAL join: right events matching a
    left event's user within ``[left.ts, left.ts + within]`` (the
    impression→conversion attribution shape).

    State bounds (the part that matters at scale): BOTH sides are
    watermarked and the join condition is an event-time range, so each
    side's buffered rows are evicted once the other side's watermark
    passes ``ts + within`` — state is keys × (watermark + within), never
    the whole stream. An un-watermarked or unconstrained stream-stream
    join would buffer forever; this function makes both bounds
    mandatory."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.user_id = r.user_id AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL {within}"
        ),
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("left_event_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.event_id").alias("right_event_id"),
        F.col("r.ts").alias("right_ts"),
        F.col("r.value").alias("right_value"),
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str | list[str] = "event_type",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: each micro-batch joins against a (small)
    static dimension, broadcast to every executor — the lookup-table
    pattern (event_type → category, user → account tier, ...).

    Scale properties: stateless (no watermark, no join state — the static
    side is not a stream, so nothing buffers) and shuffle-free on the
    stream side (broadcast hash join; the stream partitioning is
    untouched). Spark re-resolves the static side's files each
    micro-batch, so a dimension table updated in place is picked up on
    the next trigger without restarting the query."""
    return events.join(F.broadcast(dim), on=on, how=how)


# -- custom stateful operator: per-user running profile -----------------------

RUNNING_PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
        StructField("last_event_type", StringType()),
        StructField("last_ts", TimestampType()),
    ]
)

# state tuple: (n_events, total_value, max_value, last_event_type, last_ts_us)
_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("mx", DoubleType()),
        StructField("last_type", StringType()),
        StructField("last_ts_us", LongType()),
    ]
)


def _update_profile(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this trigger's events for one user into O(1) running state and
    emit the updated profile. Event order within the batch: by ts then
    event_id (deterministic across retries)."""
    (user_id,) = key
    n, total, mx, last_type, last_ts_us = (
        state.get if state.exists else (0, 0.0, float("-inf"), None, None)
    )
    # Track the (ts, event_id)-max candidate ACROSS chunks, then overwrite
    # the stored last_* only when the candidate is at least as new as what
    # state already holds — a group split over several chunks, or a
    # late-but-within-watermark event in a later micro-batch, must never
    # move the profile's last-event fields backwards in event time.
    best = None  # (ts_us, event_id, event_type)
    for pdf in pdfs:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        n += len(pdf)
        total += float(pdf["value"].sum())
        mx = max(mx, float(pdf["value"].max()))
        tail = pdf.iloc[-1]
        cand = (int(tail["ts"].value // 1_000), tail["event_id"], str(tail["event_type"]))
        if best is None or cand[:2] > best[:2]:
            best = cand
    if best is not None and (last_ts_us is None or best[0] >= last_ts_us):
        last_ts_us, last_type = best[0], best[2]
    state.update((n, total, mx, last_type, last_ts_us))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_events": n,
                "total_value": total,
                "max_value": mx,
                "last_event_type": last_type,
                "last_ts": pd.Timestamp(last_ts_us * 1_000),
            }
        ]
    )


def stream_user_profile(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running profile (count / total / max / last event), updated every
    trigger — the arbitrary-state shape Spark's built-in aggregations
    can't express (e.g. 'last event type' with per-batch ordering)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=RUNNING_PROFILE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_rollup_to_table(
    events: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    window_size: str = "1 hour",
    watermark: str = "2 hours",
):
    """Continuous aggregate: the watermarked tumbling rollup MERGEd into a
    queryable date-partitioned parquet table as windows update — the
    hypertable/materialized-rollup pattern (readers always see the current
    per-window truth, not an append log of revisions).

    Update-mode emissions re-state a window's full aggregate, so the sink
    is the keyed LWW upsert on (window_start, event_type) ordered by
    n_events — counts for a window are non-decreasing across emissions,
    making the merge idempotent under micro-batch replay (exactly-once
    table state from at-least-once emissions).

    Scale: state is bounded by the watermark (stream side) and the merge
    rewrites only the date partitions present in the batch (sink side) —
    both independent of total stream length. Returns the DataStreamWriter
    (caller starts it)."""
    from data_ingestion_lambda_spark.operators.upsert import upsert_into_parquet

    agg = stream_tumbling_counts(events, window_size, watermark)

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        b = batch_df.withColumn("date", F.to_date("window_start")).withColumn(
            "updated_at", F.col("window_end")
        )
        upsert_into_parquet(
            batch_df.sparkSession,
            target_dir,
            b,
            keys=["window_start", "event_type"],
            order_cols=["n_events"],
        )

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


# -- custom stateful operator: incremental funnel progression -----------------

FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("first_view", TimestampType()),
        StructField("first_click", TimestampType()),
        StructField("first_purchase", TimestampType()),
        StructField("stage", IntegerType()),
    ]
)

# state tuple: stage timestamps as epoch-µs (None while stage unreached)
_FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t1_us", LongType()),
        StructField("t2_us", LongType()),
        StructField("t3_us", LongType()),
    ]
)


def _fold_funnel(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one user's events (in ts, event_id order) into the strictly-
    after funnel state: first view, first click with ts > first_view,
    first purchase with ts > first_click. Within one trigger this is
    EXACTLY events_funnel_users' batch semantics (processing in ts order
    means every candidate sees the final min of the prior stage among
    earlier events — pinned by a stream-vs-batch test). Across triggers it
    is the standard monotone refinement: a stage timestamp only ever
    moves earlier, and a late-but-within-watermark event can refine its
    own stage without invalidating later ones (later stages satisfy
    'strictly after' a fortiori when an earlier stage moves earlier)."""
    (user_id,) = key
    t1, t2, t3 = state.get if state.exists else (None, None, None)
    # Materialize the whole group before sorting (the _fold_gaps fix):
    # chunks of one group arrive in NO guaranteed order, and the strictly-
    # after chain is order-sensitive — a view in a later chunk cannot
    # resurrect a click already rejected while processing an earlier
    # chunk. Concat + one sort makes a single-trigger run chunking-
    # independent; only the genuine cross-TRIGGER refinement tradeoff
    # (documented above) remains.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts_val, etype in zip(pdf["ts"], pdf["event_type"]):
            us = int(ts_val.value // 1_000)
            if etype == "view":
                if t1 is None or us < t1:
                    t1 = us
            elif etype == "click":
                if t1 is not None and us > t1 and (t2 is None or us < t2):
                    t2 = us
            elif etype == "purchase":
                if t2 is not None and us > t2 and (t3 is None or us < t3):
                    t3 = us
    state.update((t1, t2, t3))
    ts_of = lambda us: pd.Timestamp(us * 1_000) if us is not None else pd.NaT
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "first_view": ts_of(t1),
                "first_click": ts_of(t2),
                "first_purchase": ts_of(t3),
                "stage": 3 if t3 is not None else 2 if t2 is not None else 1 if t1 is not None else 0,
            }
        ]
    )


def stream_funnel_progress(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming funnel (view -> click -> purchase) via
    ``applyInPandasWithState``: per-user stage timestamps updated every
    trigger — the incremental twin of the batch events_funnel_users query.
    State is three longs per user (O(1), never an event buffer); sizing is
    active users × state-store overhead, independent of stream length."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold_funnel,
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


GAP_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("gap_us", LongType()),
    ]
)

# state: the user's last-seen event timestamp (epoch-µs) — one long
_GAP_STATE_SCHEMA = StructType([StructField("last_us", LongType())])


def _fold_gaps(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit one inter-arrival gap per event after a user's first: events
    fold in (ts, event_id) order against the stored last-timestamp, so a
    single-trigger run reproduces the batch lag derivation exactly
    (pinned vs events_interarrival_stats' deltas) and a multi-trigger
    run continues seamlessly across the boundary. In-order feed across
    triggers assumed, same as sessionize — buffer upstream if the
    transport can reorder beyond the watermark."""
    (user_id,) = key
    (last,) = state.get if state.exists else (None,)
    gaps: list[int] = []
    # Materialize the whole group before sorting: applyInPandasWithState
    # gives NO ordering guarantee across the Arrow chunks of one group
    # within a micro-batch, so a per-chunk sort would mis-order (and emit
    # wrong, possibly negative, gaps for) any user whose batch rows span
    # multiple chunks (> arrow.maxRecordsPerBatch). State stays O(1) —
    # only the transient per-batch group is buffered, same as the window
    # the batch twin shuffles.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts_val in pdf["ts"]:
            us = int(ts_val.value // 1_000)
            if last is not None:
                gaps.append(us - last)
            last = us
    state.update((last,))
    yield pd.DataFrame(
        {
            "user_id": pd.Series([user_id] * len(gaps), dtype="int64"),
            "gap_us": pd.Series(gaps, dtype="int64"),
        }
    )


def stream_interarrival_gaps(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the interarrival lane's gap derivation
    (events_interarrival_stats / events_interarrival_hist compute the
    same deltas with a batch lag window): per-user gap extraction via
    ``applyInPandasWithState`` with ONE long of state per user — never
    an event buffer. Each gap is emitted exactly once (append mode:
    gaps are immutable facts once both endpoints are seen), so the
    second-resolution histogram rollup composes downstream — per
    micro-batch through the foreachBatch MERGE idiom
    (stream_rollup_to_table), with bucket counts merging monotonically."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold_gaps,
            outputStructType=GAP_SCHEMA,
            stateStructType=_GAP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_gap_histogram_to_table(
    events: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
):
    """The full streaming-percentile story, composed end to end: per-user
    gap extraction (stream_interarrival_gaps, one long of state per
    user) rolled up per micro-batch into second-resolution bucket counts
    and landed as an ADDITIVE LEDGER partitioned by micro-batch id.

    Exactly-once arithmetic from at-least-once foreachBatch: a batch's
    bucket counts are a DELTA (not a restatement), so the LWW merge
    idiom doesn't apply — instead each batch overwrites ITS OWN
    ``ingest_batch=<id>`` partition, making a replayed batch idempotent
    by construction (the standard batch-id-keyed sink from the
    Structured Streaming guide). ``read_gap_histogram`` sums the ledger
    into the same (gap_s, cnt) table the batch percentile query
    (events_interarrival_hist) builds from a lag window — pinned equal
    by test. At scale the ledger compacts like any date-partitioned
    table (operators/compact.py); counts are associative, so compaction
    is a plain re-aggregation. Returns the DataStreamWriter."""
    from data_ingestion_lambda_spark.plans.events_queries import _HIST_BUCKET_US

    gaps = stream_interarrival_gaps(events, watermark)

    def _land(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                F.expr(f"gap_us div {_HIST_BUCKET_US}").alias("gap_s")
            )
            .agg(F.count("*").alias("cnt"))
            .write.mode("overwrite")
            .parquet(f"{target_dir}/ingest_batch={batch_id}")
        )

    return (
        gaps.writeStream.outputMode("append")
        .foreachBatch(_land)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_gap_histogram(spark, target_dir: str) -> DataFrame:
    """Sum the batch-id ledger into the current (gap_s, cnt) histogram —
    the input shape of the distributed percentile computation."""
    return (
        spark.read.option("basePath", target_dir)
        .parquet(f"{target_dir}/ingest_batch=*")
        .groupBy("gap_s")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def gap_quantiles_from_ledger(spark, target_dir: str) -> DataFrame:
    """Percentiles read straight from the gap ledger: the summed ledger
    histogram through the SAME factored quantile stage the registered
    ``events_interarrival_hist`` row uses (plans/events_queries.py::
    gap_hist_quantiles) — so the full stream → ledger → compact →
    quantile path yields the batch operator's exact rows (pinned in
    tests/test_streaming_events.py). Works identically before and after
    compaction (the sum over batch partitions is associative)."""
    from data_ingestion_lambda_spark.plans.events_queries import gap_hist_quantiles

    return gap_hist_quantiles(read_gap_histogram(spark, target_dir))


def _committed_front(spark, checkpoint_dir: str) -> int | None:
    """Highest batch id the streaming checkpoint has COMMITTED (the
    ``commits/`` metadata log — a commit file lands only after the
    batch's foreachBatch body returned, so ids at or below this front
    are never replayed). None when the checkpoint has no commits yet."""
    from data_ingestion_lambda_spark.operators.upsert import _hadoop_fs

    fs, path_cls = _hadoop_fs(spark, checkpoint_dir)
    commits = path_cls(f"{checkpoint_dir}/commits")
    if not fs.exists(commits):
        return None
    ids = [
        int(st.getPath().getName())
        for st in fs.listStatus(commits)
        if st.isFile() and st.getPath().getName().isdigit()
    ]
    return max(ids) if ids else None


def _compact_batch_ledger(
    spark, target_dir: str, fold_df, op_name: str, checkpoint_dir: str | None = None
) -> int:
    """Fold committed batch partitions of an ``ingest_batch=<id>``
    ledger into the single base partition ``ingest_batch=-1``;
    ``fold_df(paths)`` returns the fold of exactly those partition
    paths IN THE LEDGER'S OWN ROW SCHEMA (so post-compaction reads see
    the identical shape). Returns the number of partitions folded.

    Folding is safe ONLY for batch ids the streaming checkpoint has
    committed — the engine never replays those, so their idempotence
    keys are spent; a batch that LANDED but whose offsets were not yet
    committed (crash between the sink write and the commit) WILL be
    replayed, and folding it first would double-count it as a fresh
    partition (ADVICE r11). Two guards:

    - ``checkpoint_dir`` given: fold exactly the ids at or below the
      checkpoint's committed front (``commits/`` log) — the precise rule.
    - no checkpoint: exclude the MAXIMUM landed batch id — only the
      newest land can be in the landed-but-uncommitted crash window
      (earlier commits gate later batch starts), so all-fold-minus-max
      is the conservative equivalent.

    -1 is reserved (never a real batch id), so future batches stay
    idempotent. Why this form instead of base_fold's keep_from horizon:
    these ledgers key by RAW integer batch ids ("10" < "9"
    lexicographically), so there is no orderable partial horizon — the
    offline fold between triggers is the correct maintenance op,
    exactly like operators/compact.py. Read equality before/after is
    pinned by test. The full fold lands in a dot-prefixed staging dir
    FIRST, so every moment has a complete copy on disk; a crash between
    the part-drop and the final rename leaves staging as that copy, and
    the next entry REFUSES loudly with the recovery path instead of
    recompacting a partial table (the scd2/replace_partitions
    stranded-dir discipline). FS-AGNOSTIC: all directory ops go through
    the Hadoop FS API (operators/upsert.py's _hadoop_fs), so the same
    code runs on file://, hdfs://, s3a://, abfss:// targets; Hadoop's
    returns-false failure contract raises on every path with the
    data-preserving directory named."""
    from data_ingestion_lambda_spark.operators.upsert import _hadoop_fs

    fs, path_cls = _hadoop_fs(spark, target_dir)
    staging = f"{target_dir}/.compact-staging"
    if fs.exists(path_cls(staging)):
        raise RuntimeError(
            f"{op_name}: stranded {staging} from a crashed "
            "compaction — it holds the full pre-crash fold; remove "
            "any leftover ingest_batch=* dirs and rename it to "
            "ingest_batch=-1 before re-running"
        )
    ids = sorted(
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(path_cls(target_dir))
        if st.isDirectory()
        and st.getPath().getName().startswith("ingest_batch=")
        and st.getPath().getName() != "ingest_batch=-1"
    )
    if checkpoint_dir is not None:
        front = _committed_front(spark, checkpoint_dir)
        fold_ids = [] if front is None else [i for i in ids if i <= front]
    else:
        fold_ids = ids[:-1]  # newest land may be uncommitted — keep it
    if not fold_ids:
        return 0
    parts = [f"ingest_batch={i}" for i in fold_ids]
    has_base = fs.exists(path_cls(f"{target_dir}/ingest_batch=-1"))
    fold_paths = [f"{target_dir}/{p}" for p in parts] + (
        [f"{target_dir}/ingest_batch=-1"] if has_base else []
    )
    fold_df(fold_paths).write.mode("overwrite").parquet(staging)
    for p in parts + ["ingest_batch=-1"]:
        full = path_cls(f"{target_dir}/{p}")
        if fs.exists(full) and not fs.delete(full, True):
            raise IOError(
                f"{op_name}: delete of {full} returned false; "
                f"full compacted fold preserved at {staging} — "
                "finish by removing remaining ingest_batch=* dirs and "
                "renaming it to ingest_batch=-1"
            )
    if not fs.rename(path_cls(staging), path_cls(f"{target_dir}/ingest_batch=-1")):
        raise IOError(
            f"{op_name}: rename {staging} -> ingest_batch=-1 "
            f"returned false; the full fold is intact at {staging} — "
            "rename it manually to complete the compaction"
        )
    return len(parts)


def batch_ledger_fold_due(spark, target_dir: str, max_dirs: int) -> bool:
    """The WHEN half of the ingest_batch ledgers' compaction story (the
    dir-count policy of ``base_fold.auto_keep_from``, specialized to the
    all-fold form where the only decision IS when): True when the live
    ``ingest_batch=`` partitions (base excluded) exceed ``max_dirs``.
    Callers run their ledger's compact_* with the stream's checkpoint:

        if batch_ledger_fold_due(spark, target, 30):
            compact_gap_ledger(spark, target, ckpt)

    No fold-to-half hysteresis is needed here: the all-fold collapses
    every committed partition, so after one fold at most one live
    partition remains and the next ~max_dirs triggers run fold-free."""
    if max_dirs < 1:
        raise ValueError(
            f"batch_ledger_fold_due: max_dirs must be >= 1, got {max_dirs}"
        )
    from data_ingestion_lambda_spark.operators.upsert import _hadoop_fs

    fs, path_cls = _hadoop_fs(spark, target_dir)
    if not fs.exists(path_cls(target_dir)):
        return False
    live = sum(
        1
        for st in fs.listStatus(path_cls(target_dir))
        if st.isDirectory()
        and st.getPath().getName().startswith("ingest_batch=")
        and st.getPath().getName() != "ingest_batch=-1"
    )
    return live > max_dirs


def compact_gap_ledger(
    spark, target_dir: str, checkpoint_dir: str | None = None
) -> int:
    """Fold committed batch partitions into ``ingest_batch=-1`` (counts
    are associative, so compaction is a plain re-aggregation); see
    _compact_batch_ledger for the crash discipline and the
    committed-front rule (pass the stream's ``checkpoint_dir`` to fold
    exactly the committed ids; without it the newest land is excluded
    as possibly uncommitted)."""

    def _fold(paths):
        return (
            spark.read.option("basePath", target_dir)
            .parquet(*paths)
            .groupBy("gap_s")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    return _compact_batch_ledger(
        spark, target_dir, _fold, "compact_gap_ledger", checkpoint_dir
    )


# --- transformWithState (the Spark 4 arbitrary-state API) --------------------

USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_purchases", LongType()),
        StructField("value_cents", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)


def _make_user_stats_processor():
    """Factory so the StatefulProcessor import stays local: the class only
    exists on Spark >= 4, and building it lazily keeps module import safe
    on older runtimes (same availability-gating idiom as operators/media)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _UserStatsProcessor(StatefulProcessor):
        """Per-user running stats in a typed ValueState — four longs per
        user. Monetary values accumulate as integer cents via
        floor(x*100 + 0.5) (the repo's quantization idiom), so the
        incremental fold is associative in exact integer arithmetic and a
        single-trigger run reproduces the batch aggregate bit-for-bit —
        a float running sum would drift in the last ulps depending on
        batch boundaries."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats",
                "n_events bigint, n_purchases bigint, value_cents bigint, last_ts_us bigint",
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            if self._stats.exists():
                n, n_purch, cents, last_us = self._stats.get()
            else:
                n, n_purch, cents, last_us = 0, 0, 0, None
            for pdf in rows:
                if not len(pdf):
                    continue
                n += int(len(pdf))
                n_purch += int((pdf["event_type"] == "purchase").sum())
                cents += int(
                    (pdf["value"] * 100.0 + 0.5).apply(math.floor).astype("int64").sum()
                )
                mx = int(pdf["ts"].max().value // 1_000)
                if last_us is None or mx > last_us:
                    last_us = mx
            self._stats.update((n, n_purch, cents, last_us))
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "n_events": n,
                        "n_purchases": n_purch,
                        "value_cents": cents,
                        "last_ts": pd.Timestamp(last_us * 1_000),
                    }
                ]
            )

        def close(self) -> None:
            pass

    return _UserStatsProcessor()


def tws_runtime_available() -> bool:
    """transformWithStateInPandas speaks protobuf between the JVM state
    server and the Python workers; without ``google.protobuf`` installed
    the query crashes at start with an opaque worker-init failure. Gate
    loudly instead (same idiom as the media codec gates — the API code is
    real, the missing piece is an environment dependency)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_user_stats(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user running stats via ``transformWithStateInPandas`` — the
    Spark 4 successor to ``applyInPandasWithState`` (typed named state
    slots on a handle instead of one opaque tuple; here one ValueState of
    four longs, with ListState/MapState/timers available for richer
    operators). The incremental twin of the batch ``events_user_stats``
    query: the integer-cent fold is associative, so a single availableNow
    trigger reproduces its rows exactly (the equivalence test in
    tests/test_streaming_events.py runs wherever the protobuf runtime
    exists). State is O(1) per user; sizing is active users x four longs,
    independent of stream length. Requires ``google.protobuf`` at runtime
    (``tws_runtime_available``); the applyInPandasWithState operators
    above run without it."""
    if not tws_runtime_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs the google.protobuf package "
            "(absent in this environment); use stream_user_profile / "
            "stream_funnel_progress (applyInPandasWithState) instead"
        )
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_user_stats_processor(),
            outputStructType=USER_STATS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


# ---------------------------------------------------------------------------
# Streaming Markov-transition extraction (events_markov_transitions' twin)
# ---------------------------------------------------------------------------

TRANSITION_SCHEMA = StructType(
    [
        StructField("from_type", StringType()),
        StructField("to_type", StringType()),
    ]
)

# state: the user's last-seen event type — one string
_TRANSITION_STATE_SCHEMA = StructType([StructField("last_type", StringType())])


def _fold_transitions(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit one (from_type, to_type) adjacency per event after a user's
    first: events fold in (ts, event_id) order against the stored last
    type, so a single-trigger run reproduces the batch lag derivation
    exactly and a multi-trigger run continues across the boundary (the
    first event of trigger 2 pairs with trigger 1's last event). Same
    materialize-then-sort discipline as _fold_gaps: chunk order within a
    group is not guaranteed, so the transient group is concatenated
    before sorting; state stays one string."""
    (last,) = state.get if state.exists else (None,)
    frm: list[str] = []
    to: list[str] = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["ts", "event_id"])
        for et in pdf["event_type"]:
            if last is not None:
                frm.append(last)
                to.append(et)
            last = et
    state.update((last,))
    yield pd.DataFrame(
        {
            "from_type": pd.Series(frm, dtype="object"),
            "to_type": pd.Series(to, dtype="object"),
        }
    )


def stream_markov_transitions(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of events_markov_transitions' adjacency extraction:
    per-user transition emission via ``applyInPandasWithState`` with ONE
    string of state per user. Each adjacency is an immutable fact once
    both endpoints are seen (append mode, emitted exactly once), so the
    |types|^2 transition-count rollup composes downstream per micro-batch
    through the additive-ledger idiom (counts are deltas keyed by batch
    id, same as the gap histogram), and P(to|from) is a read-side
    division over the summed ledger."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold_transitions,
            outputStructType=TRANSITION_SCHEMA,
            stateStructType=_TRANSITION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming value-histogram ledger (the drift monitor's streaming front)
# ---------------------------------------------------------------------------


def stream_value_histogram_to_table(
    events: DataFrame, target_dir: str, checkpoint_dir: str
):
    """Stream events into the drift monitor's input: each micro-batch's
    (event_type, day, bucket) value-histogram DELTA lands in its own
    ``ingest_batch=<id>`` partition — the additive-ledger idiom shared
    with the gap histogram, which is what makes a day arriving across
    MANY micro-batches correct (the maintained daily form
    operators/drift_monitor.py assumes day-complete batches; the ledger
    sums partial days read-side). At-least-once foreachBatch replays
    overwrite their own partition — idempotent by construction. Counts
    are associative, so the ledger compacts like the gap ledger.
    Stateless: histogram deltas need no watermark or state store.
    Returns the DataStreamWriter."""

    from data_ingestion_lambda_spark.plans.events_queries import value_bucket

    def _land(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select("event_type", F.to_date("ts").alias("day"), value_bucket())
            .groupBy("event_type", "day", "bucket")
            .agg(F.count("*").alias("cnt"))
            .write.mode("overwrite")
            .parquet(f"{target_dir}/ingest_batch={batch_id}")
        )

    return (
        events.writeStream.outputMode("append")
        .foreachBatch(_land)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_value_histogram(spark, target_dir: str) -> DataFrame:
    """Sum the batch-id ledger into the current (event_type, day, bucket,
    cnt) histogram — the drift computation's input shape."""
    return (
        spark.read.option("basePath", target_dir)
        .parquet(f"{target_dir}/ingest_batch=*")
        .groupBy("event_type", "day", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def compact_value_histogram_ledger(
    spark, target_dir: str, checkpoint_dir: str | None = None
) -> int:
    """Fold the streamed drift ledger's batch partitions into
    ``ingest_batch=-1`` — the fold is read_value_histogram's own
    (event_type, day, bucket) sum, which IS the ledger row schema, so
    drift reads are row-equal before/after (pinned). Same committed-front
    discipline and caveats as compact_gap_ledger."""

    def _fold(paths):
        return (
            spark.read.option("basePath", target_dir)
            .parquet(*paths)
            .groupBy("event_type", "day", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    return _compact_batch_ledger(
        spark, target_dir, _fold, "compact_value_histogram_ledger", checkpoint_dir
    )


def drift_from_value_ledger(spark, target_dir: str) -> DataFrame:
    """Day-over-day L1 drift read straight from the streamed ledger,
    through the SAME drift_from_histograms expression the registered
    operator and the maintained daily index use — so stream → ledger →
    drift yields events_distribution_drift's exact rows (pinned in
    tests/test_drift_monitor.py)."""
    from data_ingestion_lambda_spark.plans.events_queries import drift_from_histograms

    return drift_from_histograms(read_value_histogram(spark, target_dir))


# ---------------------------------------------------------------------------
# Streaming per-user moment ledger (the feature store's streaming front)
# ---------------------------------------------------------------------------


def _land_moment_delta(batch_df: DataFrame, batch_id: int, target_dir: str) -> None:
    """Land one micro-batch's per-user moment DELTA in its own
    ``ingest_batch=<id>`` partition (shared by the raw writer and the
    CLI's availableNow runner)."""
    from data_ingestion_lambda_spark.operators.feature_store import user_moments

    (
        user_moments(batch_df)
        .write.mode("overwrite")
        .parquet(f"{target_dir}/ingest_batch={batch_id}")
    )


def stream_user_moments_to_table(
    events: DataFrame, target_dir: str, checkpoint_dir: str
):
    """Stream events into the feature store's input: each micro-batch's
    per-user moment DELTA (operators/feature_store.py::user_moments —
    the same expression the daily form and the registered one-shot lane
    use) lands in its own ``ingest_batch=<id>`` partition. Every moment
    column is a semigroup element, so this is the additive-ledger idiom
    at its cleanest: a user active across MANY micro-batches merges
    exactly read-side, with no day-completeness assumption at all (the
    property the date-keyed daily form gets from additivity, the stream
    gets per trigger). At-least-once foreachBatch replays overwrite
    their own partition — idempotent by construction. Stateless: moment
    deltas need no watermark or state store; the state lives in the
    ledger, not the engine. Returns the DataStreamWriter."""
    return (
        events.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: _land_moment_delta(b, i, target_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_moment_ledger(
    spark, target_dir: str, *, missing_columns: str = "refuse"
) -> DataFrame:
    """Merge the batch-id moment ledger to one row per user — the same
    shape operators/feature_store.py::read_moments yields from the
    date-keyed daily index (the two ledgers differ only in their replay
    key)."""
    from data_ingestion_lambda_spark.operators.feature_store import merge_moments

    return merge_moments(
        spark.read.option("basePath", target_dir)
        .option("mergeSchema", "true")
        .parquet(f"{target_dir}/ingest_batch=*")
        .drop("ingest_batch"),
        missing_columns=missing_columns,
    )


def features_from_moment_ledger(
    spark, target_dir: str, *, missing_columns: str = "refuse"
) -> DataFrame:
    """Feature vectors read straight from the streamed ledger, through
    the SAME derive_user_vector expression the registered
    feature_user_vectors lane and the maintained daily store share — so
    stream → ledger → merge → derive yields the one-shot lane's exact
    rows for any trigger split (pinned in tests/test_feature_store.py)."""
    from data_ingestion_lambda_spark.operators.feature_store import derive_user_vector

    return derive_user_vector(
        read_moment_ledger(spark, target_dir, missing_columns=missing_columns)
    )


def compact_moment_ledger(
    spark, target_dir: str, checkpoint_dir: str | None = None
) -> int:
    """Fold the streamed feature-store ledger's batch partitions into
    ``ingest_batch=-1`` — the fold is merge_moments' per-user semigroup
    merge, whose output IS the moment row schema, so ledger reads and
    derived vectors are row-equal before/after (pinned). A
    schema-evolved ledger REFUSES to fold (merge_moments'
    missing_columns='refuse' — folding would bake silent
    from-introduction semantics into the base; backfill first, exactly
    like the daily store's compaction). Same committed-front discipline
    and caveats as compact_gap_ledger."""
    from data_ingestion_lambda_spark.operators.feature_store import merge_moments

    def _fold(paths):
        return merge_moments(
            spark.read.option("basePath", target_dir)
            .option("mergeSchema", "true")
            .parquet(*paths)
            .drop("ingest_batch"),
            missing_columns="refuse",
        )

    return _compact_batch_ledger(
        spark, target_dir, _fold, "compact_moment_ledger", checkpoint_dir
    )


def compact_hh_stream_ledger(
    spark, target_dir: str, checkpoint_dir: str | None = None
) -> int:
    """Fold the streamed heavy-hitter ledger's batch partitions into
    ``ingest_batch=-1`` — the fold is the per-item counter SUM
    (``__n__`` total rows sum alongside), the hh store's own exact
    pre-aggregation, so read_heavy_hitters over the ledger is row-equal
    before/after (pinned) and the merged-sketch guarantee is untouched.
    Same committed-front discipline and caveats as compact_gap_ledger."""
    def _fold(paths):
        return (
            spark.read.option("basePath", target_dir)
            .parquet(*paths)
            .groupBy("item")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    return _compact_batch_ledger(
        spark, target_dir, _fold, "compact_hh_stream_ledger", checkpoint_dir
    )


_FEATURE_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def run_feature_store_available_now(
    spark,
    source_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> int:
    """One scheduled feature-store 'invocation' (the dedup-gate streaming
    front's shape, run_dedup_gate_available_now): drain every events
    file the offset log hasn't seen into the batch-id-keyed moment
    ledger, then stop. Returns the number of micro-batches landed; a
    no-op run returns 0. The ledger converges to the one-shot vectors
    for ANY file grouping (moment additivity — pinned in
    tests/test_feature_store.py), and a replayed batch overwrites only
    its own partition."""

    def _land(batch_df: DataFrame, batch_id: int) -> int | None:
        if batch_df.isEmpty():
            return None
        _land_moment_delta(batch_df, batch_id, ledger_dir)
        return batch_id

    events = file_stream(
        spark, "parquet", source_dir, _FEATURE_EVENTS_SCHEMA, max_files_per_trigger
    )
    return len(drain_available_now(events, checkpoint_dir, _land))


def stream_heavy_hitters_to_table(
    items: DataFrame, target_dir: str, checkpoint_dir: str
):
    """Streaming front for the maintained heavy-hitter store: each
    micro-batch's Misra-Gries summary (+ its ``__n__`` total row) lands
    in its own ``ingest_batch=<id>`` partition — the additive-ledger
    idiom carrying a SKETCH: mergeability (operators/hh_store.py) is
    what makes per-trigger summaries exactly as good as one sketch over
    the whole stream, so the read-side guarantee is trigger-split-free
    (pinned in tests/test_hh_store.py). At-least-once replays overwrite
    their own partition. Stateless — the sketch state lives in the
    ledger, not the engine. Returns the DataStreamWriter."""
    from data_ingestion_lambda_spark.operators.hh_store import N_ROW
    from data_ingestion_lambda_spark.plans.profiling import mg_sketch

    def _land(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Same reserved-name refusal as apply_hh_batch: a real item named
        # __n__ would silently inflate n_total and the undercount bound
        # read_heavy_hitters reports. Raising inside foreachBatch fails
        # the trigger loudly; the checkpoint replays the batch after the
        # poisoned item is fixed upstream.
        if batch_df.filter(F.col("item") == N_ROW).limit(1).count() > 0:
            raise ValueError(
                f"stream_heavy_hitters_to_table: item name {N_ROW!r} is reserved"
            )
        sketch = mg_sketch(batch_df).select("item", F.col("g").alias("cnt"))
        total = batch_df.agg(
            F.lit(N_ROW).alias("item"), F.count("*").cast("long").alias("cnt")
        )
        (
            sketch.unionByName(total)
            .write.mode("overwrite")
            .parquet(f"{target_dir}/ingest_batch={batch_id}")
        )

    return (
        items.writeStream.outputMode("append")
        .foreachBatch(_land)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


# --- streaming last-touch attribution ----------------------------------------

ATTRIBUTION_SCHEMA = StructType(
    [
        StructField("purchase_id", LongType()),
        StructField("user_id", LongType()),
        StructField("purchase_cents", LongType()),
        StructField("click_id", LongType()),
        StructField("gap_us", LongType()),
        StructField("attributed", BooleanType()),
    ]
)

# state: the user's latest click as (epoch-µs, event_id) — two longs
_ATTR_STATE_SCHEMA = StructType(
    [StructField("cts", LongType()), StructField("cid", LongType())]
)

_ATTR_WINDOW_US_STREAM = 7 * 86400 * 1_000_000


def _fold_attribution(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user last-touch attribution fold: events arrive in (ts,
    event_id) order within the materialized group (whole-group sort, the
    _fold_gaps chunk discipline); a click updates the two-long state, a
    purchase reads it and emits its attribution row exactly once (append
    mode — credit is an immutable fact once the purchase is seen). A
    single-trigger run reproduces the batch
    events_attribution_last_touch rows bit-for-bit (pinned); state is
    O(1) per user, never an event buffer."""
    (user_id,) = key
    cts, cid = state.get if state.exists else (None, None)
    out: list[tuple] = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts_val, eid, etype, val in zip(
            pdf["ts"], pdf["event_id"], pdf["event_type"], pdf["value"]
        ):
            us = int(ts_val.value // 1_000)
            if etype == "click":
                # (ts, event_id) order makes each click the running max
                cts, cid = us, int(eid)
            elif etype == "purchase":
                # NULL purchase value (the events schema allows it —
                # profile_null_drift_daily monitors exactly that) arrives
                # as NaN here; the batch lane's F.floor(NULL) emits NULL
                # cents, so mirror it instead of letting math.floor(NaN)
                # kill the streaming query
                cents = (
                    None
                    if pd.isna(val)
                    else int(math.floor(float(val) * 100.0 + 0.5))
                )
                hit = cts is not None and us - cts <= _ATTR_WINDOW_US_STREAM
                out.append(
                    (
                        int(eid),
                        user_id,
                        cents,
                        int(cid) if hit else None,
                        us - cts if hit else None,
                        bool(hit),
                    )
                )
    state.update((cts, cid))
    yield pd.DataFrame(
        out,
        columns=[
            "purchase_id",
            "user_id",
            "purchase_cents",
            "click_id",
            "gap_us",
            "attributed",
        ],
    )


def stream_attribution_last_touch(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of events_attribution_last_touch via
    ``applyInPandasWithState``: per-user latest-click state (two longs),
    purchases emit their credit row the trigger they arrive — the
    real-time form of the maintained attribution store's daily loop.
    In-order feed across triggers assumed (the sessionize/gaps
    contract); buffer upstream if the transport reorders beyond the
    watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold_attribution,
            outputStructType=ATTRIBUTION_SCHEMA,
            stateStructType=_ATTR_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
