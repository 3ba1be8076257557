"""The one availableNow loop every streaming front runs.

The reference's control plane is a single scheduled loop: discover new
drops, process each one, record progress (src/lambda_handler.py:38-102).
Here that loop is a Structured Streaming file source (discovery — every
trigger re-lists the directory, so late files are found wherever they
land) drained by ``trigger(availableNow=True)`` into a ``foreachBatch``
body (processing), with the checkpoint's offset/commit log as the
progress record. ``file_stream`` builds the source and
``drain_available_now`` runs the loop; each front (ingest, dedup gate,
index stores, feature store, corpus build) supplies only its schema and
its per-batch body.

The loop runs the body on EVERY micro-batch, empty ones included: an
``isEmpty()`` probe is a Spark job of its own per batch, so a front that
must skip empty batches checks inside its body.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


def file_stream(
    spark: SparkSession,
    fmt: str,
    source_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
    **options,
) -> DataFrame:
    """Streaming file source over every ``fmt`` file under ``source_dir``
    (recursively, so date-partitioned drop layouts need no glob);
    ``max_files_per_trigger`` bounds one micro-batch. Extra ``options``
    pass to the reader as-is."""
    reader = spark.readStream.format(fmt).schema(schema)
    reader = reader.option("recursiveFileLookup", True).options(**options)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(source_dir)


def batch_key(batch_id: int) -> str:
    """The partition key micro-batch ``batch_id`` owns in a
    batch-id-keyed store (``b<id>``). Zero-padded, so keys sort in batch
    order — compaction horizons compare them as strings."""
    return f"b{batch_id:09d}"


def drain_available_now(
    stream: DataFrame,
    checkpoint_dir: str,
    body: Callable[[DataFrame, int], Any],
) -> list:
    """One scheduled invocation: run ``body(batch, batch_id)`` on every
    micro-batch of files the offset log in ``checkpoint_dir`` has not
    committed, then stop. Returns the non-None results of ``body`` in
    processing order; a run with nothing new returns []."""
    results: list = []

    def _run(batch: DataFrame, batch_id: int) -> None:
        out = body(batch, batch_id)
        if out is not None:
            results.append(out)

    query = (
        stream.writeStream.foreachBatch(_run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return results
