"""Incremental ingestion: the shared availableNow file-stream loop
(``streaming.file_stream`` + ``streaming.drain_available_now``) with a
foreachBatch MERGE body — the Spark-native replacement for the
reference's entire control plane (SURVEY §2.1 S1/S3-S6/S8).

What each reference mechanism becomes:
- checkpoint date file (src/s3_processor.py:113-158,192-210)
    → the stream's ``checkpointLocation`` offset/commit log (atomic,
      transactional — fixes the lost-file bug of SURVEY §1.4.2)
- missing-dates backfill ledger (src/s3_processor.py:162-189)
    → the file source re-lists the tree every trigger and picks up
      late-landing files regardless of their date directory; no ledger
- per-file loop + per-file commit (src/db_operations.py:8-54)
    → micro-batches with idempotent MERGE ⇒ end-to-end exactly-once
- scheduled Lambda invocation (src/lambda_handler.py:38)
    → one ``drain_available_now`` call: drain everything new then stop
- JSON audit twin (src/s3_processor.py:147-154)
    → an append-only parquet ingestion log written per batch

Two sinks share one CSV front (``_consumption_stream``) and one
last-writer-wins order (``LWW_ORDER``): the partitioned parquet table
(``run_ingest_available_now``) and an RDBMS via JDBC staging + MERGE
(``run_ingest_to_jdbc_available_now``).

Scale notes: ``maxFilesPerTrigger`` bounds batch size (the pacing the
reference accidentally got from MaxKeys=10, SURVEY §1.4.5, minus the data
loss); the upsert itself is partition-pruned (operators/upsert.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.functions.normalize import normalize_consumption
from data_ingestion_lambda_spark.operators.upsert import (
    replace_partitions,
    upsert_into_parquet,
    upsert_into_parquet_with_cdc,
)
from data_ingestion_lambda_spark.schemas import CONSUMPTION_RAW_SCHEMA, CORRUPT_COL
from data_ingestion_lambda_spark.streaming import (
    batch_key,
    drain_available_now,
    file_stream,
)

QUARANTINE_PART_COL = "_batch_id"

# Last-writer-wins order, shared by both sinks. The reference processes
# files sequentially in date order (src/s3_processor.py:78), and
# date-partitioned drop paths sort lexicographically by date, so ranking
# by path reproduces "later file wins". Within one file, Spark packs
# splits largest-first, so monotonically_increasing_id alone does NOT
# follow file offset when a file spans several splits — the split's byte
# offset (_metadata.file_block_start) restores cross-split order, and
# _ingest_seq (monotonic within a split) breaks ties inside one split.
LWW_ORDER = ("_source_file", "_block_start", "_ingest_seq")


def _consumption_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None,
    path_glob: str,
) -> DataFrame:
    """The CSV drop front both sinks drain: permissive parse against the
    raw schema (bad rows keep their text in the corrupt column for the
    quarantine) plus the ``_source_file`` / ``_block_start`` provenance
    columns ``LWW_ORDER`` ranks by."""
    return (
        file_stream(
            spark,
            "csv",
            source_dir,
            CONSUMPTION_RAW_SCHEMA,
            max_files_per_trigger,
            header=True,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=CORRUPT_COL,
            pathGlobFilter=path_glob,
        )
        .withColumn("_source_file", F.input_file_name())
        .withColumn("_block_start", F.col("_metadata.file_block_start"))
    )


def _write_quarantine(
    spark: SparkSession, quarantine_dir: str, quarantined: DataFrame, batch_id: int
) -> None:
    """Persist the batch's bad rows under their own ``_batch_id=<id>``
    partition via the staged swap, so an at-least-once REPLAY of an
    uncommitted micro-batch overwrites its own evidence instead of
    appending a duplicate copy (ADVICE r13 — the old ``mode('append')``
    write duplicated quarantine rows on every replay). The underscore
    partition name stays reader-visible: Spark's file index exempts
    ``_name=value`` partition dirs from its hidden-path filter."""
    replace_partitions(
        spark,
        quarantine_dir,
        quarantined.withColumn(QUARANTINE_PART_COL, F.lit(batch_id)),
        [batch_id],
        part_col=QUARANTINE_PART_COL,
    )


@dataclass
class IngestPaths:
    source_dir: str  # root of date-partitioned CSV drops
    target_dir: str  # parquet consumptions table (partitioned by date)
    checkpoint_dir: str  # streaming offset/commit log
    quarantine_dir: str | None = None  # bad rows, append-only
    log_dir: str | None = None  # ingestion log (audit twin)
    # change feed (upsert_into_parquet_with_cdc): each micro-batch's
    # insert/update rows land in their own batch-id partition here —
    # what downstream incrementals subscribe to instead of diffing the
    # table. None = plain merge, no feed.
    changes_dir: str | None = None


def _process_batch(
    spark: SparkSession,
    paths: IngestPaths,
    batch: DataFrame,
    batch_id: int,
    processed_dates: set | None = None,
) -> None:
    batch = batch.withColumn("_ingest_seq", F.monotonically_increasing_id())
    if "_block_start" not in batch.columns:
        # Batch handed in without file-source metadata (tests, ad-hoc
        # frames): single-split semantics, offset 0.
        batch = batch.withColumn("_block_start", F.lit(0).cast("long"))
    good, quarantined = normalize_consumption(batch)
    # Audit counts ride the upsert's own jobs via the Observation API —
    # metrics accumulate while the MERGE materializes `good`, so the log
    # costs zero extra passes (the previous good.agg() re-ran the whole
    # normalize pipeline per batch: its plan differed from the upsert's
    # cached one, so the cache never hit).
    obs = Observation(f"ingest_batch_{batch_id}")
    if paths.log_dir is not None:
        good = good.observe(
            obs,
            F.count(F.lit(1)).alias("rows_upserted"),
            F.max("date").alias("max_date"),
        )
    if paths.changes_dir is not None:
        rep = upsert_into_parquet_with_cdc(
            spark,
            paths.target_dir,
            good,
            change_key=batch_key(batch_id),
            changes_dir=paths.changes_dir,
            order_cols=list(LWW_ORDER),
            # audit timestamps refresh on every winning re-send; the feed
            # should capture PAYLOAD changes, not ingest-time churn
            ignore_cols=("updated_at", "created_at"),
        )
        written = rep["dates"]
    else:
        written = upsert_into_parquet(
            spark,
            paths.target_dir,
            good,
            order_cols=list(LWW_ORDER),
        )
    if processed_dates is not None:
        processed_dates.update(written)

    if paths.quarantine_dir is not None:
        _write_quarantine(spark, paths.quarantine_dir, quarantined, batch_id)
    if paths.log_dir is not None:
        # The audit twin (src/s3_processor.py:147-154) as an append-only
        # table, from the observed metrics. An empty batch short-circuits
        # the upsert before any job touches the observed plan (metrics
        # never materialize — obs.get would raise), and `written` is empty
        # exactly in that case: log the explicit zero row instead.
        m = obs.get if written else {"rows_upserted": 0, "max_date": None}
        log = spark.range(1).select(
            F.lit(batch_id).alias("batch_id"),
            F.lit(m["rows_upserted"]).cast("long").alias("rows_upserted"),
            F.lit(m["max_date"]).cast("date").alias("max_date"),
            F.current_timestamp().alias("logged_at"),
        )
        log.write.mode("append").parquet(paths.log_dir)


def run_ingest_to_jdbc_available_now(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    jdbc_url: str,
    target_table: str,
    staging_table: str = "consumptions_staging",
    max_files_per_trigger: int | None = None,
    path_glob: str = "*.csv",
    ident_quote: str | None = None,
    staging_column_types: str | None = None,
    properties: dict[str, str] | None = None,
    quarantine_dir: str | None = None,
) -> int:
    """The reference's ACTUAL deployment shape, end-to-end (VERDICT r12
    #6): scheduled invocation → drain new CSV drops → normalize → MERGE
    into an RDBMS (src/lambda_handler.py:38-102 + db_operations.py:52-106),
    composed from the two halves this repo already proves separately —
    the streaming file-source front (exactly-once via the checkpoint's
    offset/commit log) and the set-based JDBC staging+MERGE sink
    (operators/jdbc_upsert.py — one statement per batch, not one
    round-trip per row).

    Exactly-once argument: a replayed micro-batch (crash between the
    MERGE and the checkpoint commit) re-stages the same rows and the
    MERGE converges — idempotent on (date, client_id) — so restart
    semantics are effectively-once end-to-end (pinned against embedded
    Derby in tests/test_jdbc_merge_derby.py). Within one batch the
    last-writer-wins reduction happens BEFORE staging: ANSI MERGE
    refuses a source that matches one target row twice (Derby 10.16
    raises 21000), so the batch is reduced to one winning row per key
    with the parquet sink's own (file, block, seq) order.

    Returns the number of micro-batches applied."""
    from data_ingestion_lambda_spark.operators.jdbc_upsert import (
        upsert_via_jdbc,
    )
    from data_ingestion_lambda_spark.schemas import UPSERT_KEYS

    def _apply(batch: DataFrame, batch_id: int) -> int | None:
        if batch.isEmpty():
            return None
        batch = batch.withColumn("_ingest_seq", F.monotonically_increasing_id())
        good, quarantined = normalize_consumption(batch)
        # Quarantined rows must not vanish: persist them keyed by batch
        # (the parquet lane's discipline) BEFORE the MERGE, so a crash
        # after the checkpoint commit can never lose the evidence.
        if quarantine_dir is not None:
            _write_quarantine(spark, quarantine_dir, quarantined, batch_id)
        # one winning row per MERGE key, same order as the parquet sink
        order = F.struct(*LWW_ORDER)
        payload = [c for c in good.columns if not c.startswith("_")]
        winners = (
            good.withColumn("_o", order)
            .groupBy(*UPSERT_KEYS)
            .agg(
                *[
                    F.max_by(c, F.col("_o")).alias(c)
                    for c in payload
                    if c not in UPSERT_KEYS
                ]
            )
        )
        value_cols = [c for c in payload if c not in UPSERT_KEYS]
        # The reference stamps NOW() as created_at on insert and keeps it
        # on update (src/db_operations.py) — stage the batch's ingest
        # timestamp as created_at and list it in the INSERT set only, so
        # new rows are born with it and existing rows never have theirs
        # touched.
        winners = winners.withColumn("created_at", F.col("updated_at"))
        upsert_via_jdbc(
            winners,
            jdbc_url,
            target_table,
            staging_table=staging_table,
            update_cols=[c for c in value_cols if c != "is_active"],
            insert_cols=list(UPSERT_KEYS) + value_cols + ["created_at"],
            ident_quote=ident_quote,
            staging_column_types=staging_column_types,
            properties=properties,
        )
        return batch_id

    raw = _consumption_stream(spark, source_dir, max_files_per_trigger, path_glob)
    return len(drain_available_now(raw, checkpoint_dir, _apply))


def run_ingest_available_now(
    spark: SparkSession,
    paths: IngestPaths,
    max_files_per_trigger: int | None = None,
    path_glob: str = "*.csv",
) -> list[str]:
    """One scheduled 'invocation': drain all new files, then stop.
    Returns the sorted date values THIS invocation wrote (the reference
    handler's ``processed_dates`` response field, lambda_handler.py:96-102
    — a no-op run returns []).

    Re-running later picks up files that landed since — including files for
    OLD dates (late backfill) — because discovery is by file, not by a
    monotonic date checkpoint. This is the semantic fix for SURVEY §1.4.2/6.
    """
    processed_dates: set = set()
    drain_available_now(
        _consumption_stream(spark, paths.source_dir, max_files_per_trigger, path_glob),
        paths.checkpoint_dir,
        lambda batch, batch_id: _process_batch(
            spark, paths, batch, batch_id, processed_dates
        ),
    )
    return sorted(str(d) for d in processed_dates)
