"""Kafka-equivalent operators over topic-shaped DataFrames.

A *topic-shaped* DataFrame carries the reference's wire-record envelope
(FIXTURES.md "Envelope"; reference nisshi-sans-io/src/record/inflated.rs:66-109):

    partition INT, offset BIGINT, timestamp TIMESTAMP,
    key <any>, value <any>  [, headers ARRAY<STRUCT<key,value>>]

Every operator here is a pure DataFrame→DataFrame function, so the same
code path serves batch fetch, the broker's topic store, and the driver's
oracle-checked queries.

Scale notes (100 TB): all of these are per-partition or per-(partition,key)
computations — windows are partitioned, never global, so nothing here
induces a single-reducer stage. Offset-range and key predicates are plain
column comparisons Catalyst pushes into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fetch(
    df: DataFrame,
    partition: int | None = None,
    offset_lo: int | None = None,
    offset_hi: int | None = None,
    key: Column | str | bytes | None = None,
) -> DataFrame:
    """Offset-range scan of a topition — the Fetch path.

    Mirrors the reference's record_fetch SQL predicate
    ``offset_id >= $4 AND offset_id < $6`` (sql/record_fetch.sql:41-43)
    plus the keyed variant's server-side key filter
    (sql/record_fetch_keyed.sql:44 — "virtual topic" pushdown).
    """
    out = df
    if partition is not None:
        out = out.filter(F.col("partition") == partition)
    if offset_lo is not None:
        out = out.filter(F.col("offset") >= offset_lo)
    if offset_hi is not None:
        out = out.filter(F.col("offset") < offset_hi)
    if key is not None:
        out = out.filter(F.col("key") == (key if isinstance(key, Column) else F.lit(key)))
    return out


def _record_bytes() -> Column:
    # len(key) + len(value); the reference counts payload bytes
    # (sql/record_fetch.sql:25). Works for string or binary columns.
    return F.coalesce(F.length("key"), F.lit(0)) + F.coalesce(F.length("value"), F.lit(0))


def fetch_max_bytes(
    df: DataFrame,
    partition: int | None,
    offset_lo: int | None,
    max_bytes: int,
) -> DataFrame:
    """Fetch with a running byte budget: include records, in offset order,
    while the cumulative (key+value) size stays under ``max_bytes``.

    Mirrors sql/record_fetch.sql:25,44 —
    ``sum(len(k)+len(v)) OVER (ORDER BY offset_id)`` then
    ``WHERE bytes < max_bytes``. The window is per-partition (a topition is
    the ordering unit), so this never sorts globally. ``None`` for
    ``partition`` or ``offset_lo`` skips that filter, for input that is
    already one topition's offset range.
    """
    w = (
        Window.partitionBy("partition")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        fetch(df, partition=partition, offset_lo=offset_lo)
        .withColumn("cum_bytes", F.sum(_record_bytes()).over(w))
        .filter(F.col("cum_bytes") < max_bytes)
        .drop("cum_bytes")
    )


def list_offsets(df: DataFrame) -> DataFrame:
    """Per-partition earliest offset, high watermark (latest+1) and count.

    Mirrors sql/list_earliest_offset.sql (ORDER BY offset ASC LIMIT 1) and
    the uncommitted-latest lookup (watermark high) as one aggregation.
    """
    return df.groupBy("partition").agg(
        F.min("offset").alias("earliest"),
        (F.max("offset") + F.lit(1)).alias("high_watermark"),
        F.count(F.lit(1)).alias("n_records"),
    )


def offsets_for_timestamp(df: DataFrame, ts) -> DataFrame:
    """First offset whose timestamp >= ts, per partition.

    Mirrors sql/list_latest_offset_timestamp.sql
    (``timestamp >= $4 ORDER BY offset LIMIT 1``). ``ts`` may be a
    timestamp/date string, a datetime, or Kafka's wire form — EPOCH
    MILLISECONDS as an integer (ListOffsets request); a bare int literal
    would otherwise fail analysis against the TIMESTAMP column (r10
    hostile control-plane find)."""
    if isinstance(ts, (int, float)) and not isinstance(ts, bool):
        ts_lit = F.timestamp_millis(F.lit(int(ts)))
    else:
        ts_lit = F.lit(ts)
    return (
        df.filter(F.col("timestamp") >= ts_lit)
        .groupBy("partition")
        .agg(F.min("offset").alias("offset"))
    )


def compact(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Log compaction: per (partition, key) keep only the record with the
    greatest offset.

    Mirrors sql/policy_compact.sql:18-43 (group by topition+key, keep
    max(offset_id), anti-delete the rest). Expressed as a partitioned
    window row_number — one shuffle on (partition, key), no global sort.
    On skewed keys AQE's skew handling applies; for the lake-table form of
    compaction see tansu_spark.lake.maintain.
    """
    key_cols = key_cols or ["key"]
    w = Window.partitionBy("partition", *key_cols).orderBy(F.desc("offset"))
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def retain(df: DataFrame, min_timestamp) -> DataFrame:
    """Retention sweep: keep records newer than the cutoff.

    Mirrors sql/policy_delete.sql:18-52 (delete records older than
    retention.ms, default 7 days — pg.rs:1288). As a transformation this
    returns the surviving records; the lake layer applies it as a
    partition-pruned overwrite.
    """
    return df.filter(F.col("timestamp") >= F.lit(min_timestamp))


def with_meta(df: DataFrame, partition_col: str = "partition") -> DataFrame:
    """Inject the broker's lake ``meta`` struct:
    {partition, timestamp, year, month, day} per record.

    Mirrors nisshi-schema/src/meta.avsc, populated at avro/arrow.rs:1129-1183
    from the record timestamp.
    """
    return df.withColumn(
        "meta",
        F.struct(
            F.col(partition_col).cast("int").alias("partition"),
            F.col("timestamp").alias("timestamp"),
            F.year("timestamp").alias("year"),
            F.month("timestamp").alias("month"),
            F.dayofmonth("timestamp").alias("day"),
        ),
    )


def offsets_for_max_timestamp(df: DataFrame) -> DataFrame:
    """ListOffsets with timestamp = -3 (MAX_TIMESTAMP, KIP-734): per
    partition, the offset and timestamp of the record carrying the
    LARGEST timestamp (which need not be the last offset when producers
    set their own timestamps). Ties break to the highest offset, as
    Kafka's shallow-iteration scan does. One max-struct aggregation —
    partial map-side, no window."""
    best = F.max(F.struct(F.col("timestamp"), F.col("offset"))).alias("b")
    return (
        df.groupBy("partition")
        .agg(best)
        .select(
            "partition",
            F.col("b.offset").alias("offset"),
            F.col("b.timestamp").alias("max_timestamp"),
        )
    )
