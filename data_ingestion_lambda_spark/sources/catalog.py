"""Test-data catalog: the TPC-H-ish star schema the driver generates.

At 100 TB these would be partitioned/bucketed external tables; here they are
single parquet files per table. All reads go through ``spark.read.parquet``
so Catalyst gets pushdown + pruning; no schema inference happens (parquet
footers carry the schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region/nation are fixed-size; supplier/part/customer grow with SF but stay
# orders of magnitude under the fact tables).
ALWAYS_BROADCAST = ("region", "nation")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Timestamp-derived columns (to_date / date_trunc / window) follow the
    # session timezone, and the DuckDB oracles compute them TZ-naively
    # (== UTC). Our factory pins UTC at build; pin it at runtime too so a
    # foreign session (the correctness driver) on a non-UTC host cannot
    # shift day/window boundaries. The pin must OUTLIVE this call — the
    # returned frame is lazy, and its TZ-sensitive expressions resolve
    # against the session conf at execution time — so a save/restore
    # here would silently undo the fix; instead the override is applied
    # only when needed and logged so a foreign session that also runs
    # local-time workloads can see its boundaries moved.
    try:
        prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
        if prev_tz not in (None, "UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            import warnings

            warnings.warn(
                f"load_table: overriding session timeZone {prev_tz!r} -> 'UTC' "
                "for the lifetime of this session (catalog frames are lazy; "
                "TZ-sensitive results require UTC at execution time)",
                stacklevel=2,
            )
        if prev_tz != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), unreadable by a vanilla
        # session (PARQUET_TYPE_ILLEGAL). Our own factory (session.py) sets
        # nanosAsLong at build time, but callers may hand us a foreign
        # session (e.g. the correctness driver), so set the runtime SQL conf
        # defensively here — the read below plans against the current value.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # read-only conf in some deployments; the read may still work
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return ts_as_timestamp(df) if name == "events" else df


def ts_as_timestamp(df: DataFrame) -> DataFrame:
    """Normalize an event frame's ``ts`` to a regular (UTC) TIMESTAMP
    whatever the generator wrote — what the stores' unix_micros /
    day-boundary expressions require:
    - parquet TIMESTAMP(NANOS) + nanosAsLong arrives as epoch-nanos;
      truncate to µs with integer division (ns values exceed 2^53, so
      double arithmetic would corrupt them);
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as
      TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ; cast to LTZ — an
      identity relabel under the UTC session pin, and what time
      functions like unix_micros() require.
    Any other ``ts`` (or none) passes through unchanged."""
    field = {f.name: f.dataType for f in df.schema.fields}.get("ts")
    if isinstance(field, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(field, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = False) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return out
