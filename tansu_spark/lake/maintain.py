"""Lake + topic maintenance: small-file compaction, Z-order clustering,
retention deletes, vacuum — the reference's 10-minute sweep
(broker.rs:242-258; Storage::maintain lib.rs:1519; lake maintain()
delta.rs:722-741) as explicit jobs.

Decisions are set-based. Retention and log compaction each decide with
ONE grouped aggregate over the topic (per partition: expired rows and the
first surviving offset, or duplicate keys), as the reference's
policy_delete is one ``DELETE … WHERE`` (pg.rs:1287-1302); table
compaction and Z-order decide from file sizes alone. Only the
directories that need it are rewritten.

Rewrites stay per hive-partition directory (never a global shuffle) and
atomic per directory, all through `_rewrite_dirs`: every directory's
rewrite is staged into its own `_rewrite-*` temp dir, the stages run
concurrently, and once all of them are complete the staged directories
are swapped in one at a time. A failed stage changes no live file.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _partition_dirs(table_dir: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(table_dir):
        if any(f.endswith(".parquet") for f in files):
            out.append(root)
        dirs[:] = [d for d in dirs if not d.startswith("_")]
    return sorted(out)


def _data_files(d: str) -> list[str]:
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def _files_wanted(d: str, files: list[str], target_bytes: int) -> int:
    total = sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return max(1, math.ceil(total / target_bytes))


Transform = Callable[[DataFrame], DataFrame]


def _rewrite_dirs(
    spark: SparkSession,
    plans: dict[str, tuple[Transform | None, int]],
    table_root: str | None = None,
) -> None:
    """Replace each directory's parquet files with its transformed
    contents in ``n_files`` files (``plans``: dir -> (transform, n_files)).

    Stage: each directory is read and written to its own `_rewrite-*`
    temp dir; stages run concurrently, one driver thread each, up to
    defaultParallelism at once. Swap: only when every stage is complete,
    directory by directory, the staged files move in and the replaced
    ones leave. When `table_root` has a snapshot manifest they move to
    its `_history/` (older versions stay readable); that relocation edits
    the manifest, so swaps never run concurrently. If any stage fails,
    all staged output is dropped and no live file changes."""
    from pyspark import inheritable_thread_target

    from tansu_spark.broker.state import read_json
    from tansu_spark.lake import snapshots as snap
    from tansu_spark.lake.field_ids import apply_field_ids

    if not plans:
        return
    # Spark's parquet READ schema drops PARQUET:field_id metadata: re-attach
    # the table's persisted Iceberg field ids, or a rewrite would strip the
    # footer ids the sink wrote (lake/field_ids.py).
    ids = read_json(os.path.join(table_root, "_field_ids.json"), None) if table_root else None

    @inheritable_thread_target(spark)
    def stage(d: str) -> str:
        transform, n_files = plans[d]
        tmp = os.path.join(d, f"_rewrite-{uuid.uuid4().hex}")
        try:
            df = spark.read.parquet(d)
            out = transform(df) if transform else df
            if ids:
                out = apply_field_ids(out, ids)
            out.coalesce(max(n_files, 1)).write.mode("overwrite").parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return tmp

    workers = min(len(plans), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = {d: pool.submit(stage, d) for d in plans}
    staged = {d: f.result() for d, f in futures.items() if f.exception() is None}
    failed = [f.exception() for f in futures.values() if f.exception() is not None]
    if failed:
        for tmp in staged.values():
            shutil.rmtree(tmp, ignore_errors=True)
        raise failed[0]

    relocate = table_root is not None and snap.load_manifest(table_root) is not None
    for d, tmp in staged.items():
        old = _data_files(d)
        for f in _data_files(tmp):
            os.replace(os.path.join(tmp, f), os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))
        if relocate:
            snap.relocate_for_rewrite(table_root, [os.path.join(d, f) for f in old])
        else:
            for f in old:
                os.unlink(os.path.join(d, f))
        shutil.rmtree(tmp, ignore_errors=True)


def _commit_if_versioned(table_dir: str, operation: str) -> None:
    from tansu_spark.lake import snapshots as snap

    if snap.load_manifest(table_dir) is not None:
        snap.commit_snapshot(table_dir, operation)


def compact_table(
    spark: SparkSession, table_dir: str, target_bytes: int = 128 * 1024 * 1024
) -> dict[str, int]:
    """OPTIMIZE compact (OptimizeType::Compact, delta.rs:588-622): within
    each partition directory, merge small files into ~target_bytes files.
    Returns {partition_dir: files_removed}."""
    before: dict[str, int] = {}
    plans: dict[str, tuple[Transform | None, int]] = {}
    for d in _partition_dirs(table_dir):
        files = _data_files(d)
        want = _files_wanted(d, files, target_bytes)
        if len(files) > want:
            before[d] = len(files)
            plans[d] = (None, want)
    _rewrite_dirs(spark, plans, table_root=table_dir)
    stats = {d: n - len(_data_files(d)) for d, n in before.items()}
    if stats:
        _commit_if_versioned(table_dir, "optimize-compact")
    return stats


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Z-order (Morton) key over `cols`: each column is bucketed to
    2^bits quantile ranks, then the rank bits are interleaved.

    Quantile cuts come from approxQuantile — computed once, driver-side,
    then applied as a when-chain: no global sort, no window, scales as a
    single scan. (Delta's OPTIMIZE ZORDER BY does the same range-bucket +
    interleave internally.)"""
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    rank_cols = []
    for c in cols:
        cuts = df.approxQuantile(c, qs, 0.001)
        rank = F.lit(0)
        for i, cut in enumerate(cuts):
            rank = F.when(F.col(c) > cut, F.lit(i + 1)).otherwise(rank)
        rank_cols.append(rank)
    z = F.lit(0)
    k = len(cols)
    for b in range(bits):
        for j, rank in enumerate(rank_cols):
            bit = F.shiftright(rank, b).bitwiseAND(F.lit(1))
            z = z + (bit * F.lit(1 << (b * k + j)))
    return z.cast("long")


def _zorder_by(cols: list[str], bits: int, n_files: int) -> Transform:
    """Order rows by the interleaved key; over several files, range-
    partition on it first so file-level min/max ranges don't overlap.
    Binds ``n_files`` now: transforms run later, all staged together."""

    def order(df: DataFrame) -> DataFrame:
        df = df.withColumn("_z", zorder_key(df, cols, bits))
        if n_files > 1:
            df = df.repartitionByRange(n_files, "_z")
        return df.sortWithinPartitions("_z").drop("_z")

    return order


def zorder_table(
    spark: SparkSession,
    table_dir: str,
    cols: list[str],
    bits: int = 8,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """OPTIMIZE ZORDER BY (delta.rs:577-586): rewrite each partition
    directory ordered by the interleaved key so multi-column range
    predicates prune row groups. Returns partitions rewritten."""
    plans: dict[str, tuple[Transform | None, int]] = {}
    for d in _partition_dirs(table_dir):
        want = _files_wanted(d, _data_files(d), target_bytes)
        plans[d] = (_zorder_by(cols, bits, want), want)
    _rewrite_dirs(spark, plans, table_root=table_dir)
    if plans:
        _commit_if_versioned(table_dir, "optimize-zorder")
    return len(plans)


def retention_sweep(broker, topic: str, now_ms: int | None = None) -> int:
    """policy_delete (pg.rs:1287-1302): drop records older than
    retention.ms (default 7d; negative means no time limit, as in Kafka)
    and advance each partition's low watermark to its first surviving
    offset, never below a low that DeleteRecords already advanced.

    One grouped aggregate decides: per partition, the expired-row count
    and the first surviving offset. Only partitions with expired rows are
    rewritten; a fully-expired directory just loses all rows. Returns
    rows deleted."""
    import datetime

    from tansu_spark.broker.state import file_lock, read_json, write_json_atomic

    cfg = broker.describe_topic(topic)
    if cfg.retention_ms < 0:
        return 0
    now_ms = now_ms or int(time.time() * 1000)
    cutoff = datetime.datetime.utcfromtimestamp((now_ms - cfg.retention_ms) / 1000.0)
    expired = F.coalesce(F.col("timestamp") < F.lit(cutoff), F.lit(False))

    def keep(df: DataFrame) -> DataFrame:
        return df.filter(~expired)

    with file_lock(broker._state(topic, ".lock")):
        data = broker._data_dir(topic)
        by_partition = {
            int(r["partition"]): r
            for r in broker.records(topic)
            .groupBy("partition")
            .agg(
                F.sum(expired.cast("long")).alias("expired"),
                F.min(F.when(~expired, F.col("offset"))).alias("lo"),
            )
            .collect()
        }
        plans = {}
        for p, r in by_partition.items():
            if r["expired"]:
                d = os.path.join(data, f"partition={p}")
                plans[d] = (keep, max(1, len(_data_files(d)) // 2))
        _rewrite_dirs(broker.spark, plans)
        marks = read_json(broker._state(topic, "watermarks.json"), {})
        for p, m in marks.items():
            r = by_partition.get(int(p))
            lo = m["high"] if r is None or r["lo"] is None else r["lo"]
            m["low"] = max(int(m["low"]), min(int(lo), int(m["high"])))
        write_json_atomic(broker._state(topic, "watermarks.json"), marks)
        broker._refresh_segment_stats(topic)
    return sum(r["expired"] for r in by_partition.values())


def compact_topic(broker, topic: str) -> int:
    """cleanup.policy=compact (policy_compact.sql): keep only the
    max-offset record per (partition, key). One grouped aggregate counts
    each partition's duplicates (a NULL key is one distinct value); only
    partitions with duplicates are rewritten, per directory, with no
    cross-partition shuffle. Returns rows removed."""
    from pyspark.sql import Window

    from tansu_spark.broker.state import file_lock

    def keep_latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("key").orderBy(F.desc("offset"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    with file_lock(broker._state(topic, ".lock")):
        data = broker._data_dir(topic)
        dupes = {
            int(r["partition"]): r["dupes"]
            for r in broker.records(topic)
            .groupBy("partition")
            .agg(
                (
                    F.count(F.lit(1))
                    - F.count_distinct("key")
                    - F.max(F.col("key").isNull().cast("long"))
                ).alias("dupes")
            )
            .filter(F.col("dupes") > 0)
            .collect()
        }
        _rewrite_dirs(
            broker.spark,
            {os.path.join(data, f"partition={p}"): (keep_latest, 1) for p in dupes},
        )
        broker._refresh_segment_stats(topic)
    return sum(dupes.values())


def vacuum(table_dir: str, max_age_seconds: float = 3600.0) -> int:
    """Remove leftover temp/rewrite artifacts older than max_age
    (Delta VACUUM analog for our layout). Returns paths removed."""
    n = 0
    now = time.time()
    for root, dirs, _files in os.walk(table_dir):
        for d in list(dirs):
            if d.startswith("_rewrite-"):
                p = os.path.join(root, d)
                if now - os.path.getmtime(p) > max_age_seconds:
                    shutil.rmtree(p, ignore_errors=True)
                    n += 1
                dirs.remove(d)
    return n


class Maintainer:
    """Overlap-protected maintenance scheduler (broker.rs:242-258: skip the
    tick if a sweep is in flight)."""

    def __init__(self, broker, sink=None):
        self.broker = broker
        self.sink = sink
        self._running = False

    def tick(self) -> dict[str, dict]:
        """One sweep; instrumented as `lakehouse_maintenance_duration`
        (the reference's histogram, nisshi-schema/src/lake.rs:154-176)."""
        if self._running:
            return {}  # skip — previous sweep still in flight
        from tansu_spark import metrics as M

        self._running = True
        with M.timed("lakehouse_maintenance_duration"):
            return self._tick_impl()

    def _tick_impl(self) -> dict[str, dict]:
        try:
            report: dict[str, dict] = {}
            # Txn sweep first (reference: every 10 s vs the 10 min storage
            # sweep — one tick here covers both cadences).
            expired = self.broker.maintain_transactions()
            if expired:
                report["_txns_expired"] = {"aborted": expired}
            for topic in self.broker.topics():
                cfg = self.broker.describe_topic(topic)
                r: dict = {}
                if cfg.cleanup_policy == "compact":
                    r["compacted"] = compact_topic(self.broker, topic)
                else:
                    r["deleted"] = retention_sweep(self.broker, topic)
                if self.sink is not None:
                    lake_cfg = self.sink._lake_config(topic)
                    if lake_cfg["sink"]:
                        table = self.sink.table_dir(topic)
                        if os.path.exists(table):
                            r["compact_files"] = sum(
                                compact_table(self.broker.spark, table).values()
                            )
                            if lake_cfg["z_order"]:
                                r["zordered"] = zorder_table(
                                    self.broker.spark, table, lake_cfg["z_order"]
                                )
                            vacuum(table)
                            # Refresh the data-skipping manifest if this
                            # table keeps one: the rewrites above changed
                            # file boundaries.
                            from tansu_spark.lake.stats import (
                                collect_stats,
                                load_stats,
                            )

                            stats = load_stats(table)
                            if stats is not None:
                                collect_stats(
                                    self.broker.spark, table, stats["columns"]
                                )
                                r["stats_files"] = len(stats["files"])
                report[topic] = r
            return report
        finally:
            self._running = False
