"""The broker: schema-enforced partitioned topics with Kafka-equivalent
semantics, backed by immutable parquet segments + small JSON state.

Reference parity map (SURVEY.md §2.1, §2.9):
- create/delete/describe topic   ← Storage::create_topic (lib.rs:1349)
- produce: contiguous per-partition offsets, watermark bump, idempotence
                                  ← pg.rs:760-991 produce_in_tx
- fetch: offset-range scan, keyed "virtual topic" filter, byte budget,
  read_committed isolation        ← pg.rs:1799-2059, record_fetch*.sql
- list_offsets earliest/latest/timestamp ← pg.rs:2274-2330
- consumer-group offset commit/fetch ← pg.rs:2104-2186
- transactions: begin/commit/abort with last-stable-offset gating and
  aborted-range exclusion         ← pg.rs:3187-3647, watermark_select_stable.sql

Storage layout (one directory per topic):
    <root>/topics/<name>/topic.json          config + partitions
    <root>/topics/<name>/watermarks.json     {partition: {low, high}}
    <root>/topics/<name>/producers.json      idempotence fences
    <root>/topics/<name>/data/partition=N/*.parquet   immutable segments
    <root>/txns.json                         open/committed/aborted txns
                                             (store-global: one txn spans
                                             topics, like the reference's
                                             txn_topition tables)
    <root>/groups/<group>.json               committed consumer offsets

Scale design:
- The data plane is pure parquet: fetch reads the watermark and txn
  documents once and applies ONE predicate of integer literals (per
  partition: [max(low, offset), frontier) minus that partition's aborted
  ranges), the record_fetch*.sql shape, pushed into the scan. It lists
  only the requested `partition=N` directories and passes only segments
  whose footer offset range reaches the start; nothing to read returns a
  zero-partition frame that schedules no task.
- Offsets are assigned per partition from the watermark document — no
  global coordination, no shuffle; a 1000-partition topic takes 1000
  independent produce streams.
- Visibility = the watermark document, not directory listing: a reader
  never sees offsets above `high`, so half-written batches are invisible
  (files land before the watermark bump — same ordering the reference
  uses: COPY rows, then watermark_update, pg.rs:971-985).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tansu_spark import metrics as M
from tansu_spark.broker.state import file_lock, read_json, write_json_atomic
from tansu_spark.operators import kafka as K

# Wire-record envelope (FIXTURES.md; inflated.rs:66-109).
RECORD_SCHEMA = StructType(
    [
        StructField("partition", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("key", BinaryType(), True),
        StructField("value", BinaryType(), True),
        StructField(
            "headers",
            ArrayType(
                StructType(
                    [
                        StructField("key", StringType(), False),
                        StructField("value", BinaryType(), True),
                    ]
                )
            ),
            True,
        ),
        StructField("txn_id", StringType(), True),
        StructField("control", IntegerType(), False),
    ]
)


# Kafka `compression.type` → parquet codec for the segment files this
# produce writes. "producer" (the Kafka default: keep the producer's
# choice) maps to the session default, zstd — matching the reference's
# pass-through of the batch's own attribute.
_PARQUET_CODECS = {
    "none": "uncompressed",
    "uncompressed": "uncompressed",
    "gzip": "gzip",
    "snappy": "snappy",
    "lz4": "lz4",
    "zstd": "zstd",
    "producer": "zstd",
}


class InvalidTxnState(ValueError):
    """Raised on an illegal transaction state transition — the reference
    models explicit TxnState transitions (lib.rs:1288-1341): only
    open→committed / open→aborted are legal; re-ending a terminal txn or
    producing into one is INVALID_TXN_STATE, never a silent flip (a
    commit=True on a sweep-aborted txn would resurrect ranges documented
    as excluded forever)."""


@dataclass
class TopicConfig:
    """Topic configuration — the `tansu.*` config surface (FIXTURES.md §10)."""

    partitions: int = 1
    config: dict[str, str] = field(default_factory=dict)

    @property
    def cleanup_policy(self) -> str:
        return self.config.get("cleanup.policy", "delete")

    @property
    def retention_ms(self) -> int:
        # 7-day default, mirroring pg.rs:1288.
        return int(self.config.get("retention.ms", 7 * 24 * 3600 * 1000))

    @property
    def virtual(self) -> bool:
        return self.config.get("tansu.virtual", "false") == "true"


class Broker:
    """A stateless-broker-equivalent: all state lives in the store root."""

    def __init__(self, spark: SparkSession, root: str, registry=None):
        """``registry``: optional SchemaRegistry; when set, produced batches
        to schema-backed topics are validated (reject-whole-batch) unless
        the topic sets tansu.schema.validation=false."""
        self.spark = spark
        self.root = root
        self.registry = registry
        os.makedirs(os.path.join(root, "topics"), exist_ok=True)
        os.makedirs(os.path.join(root, "groups"), exist_ok=True)
        self._migrate_legacy_txns()
        self._replay_pending_txn_offsets()

    def _migrate_legacy_txns(self) -> None:
        """One-time fold of legacy per-topic ``topics/<name>/txns.json``
        (pre-store-global layout: {txn_id: {state, ranges}}) into the
        global registry — without this, old open txns stop holding the
        LSO down and previously-aborted ranges silently become visible
        to read_committed on an upgraded store. Conflicting terminal
        states for the same txn_id across topics fail loudly."""
        import glob as _glob

        legacy = sorted(_glob.glob(os.path.join(self.root, "topics", "*", "txns.json")))
        if not legacy:
            return
        with file_lock(self._txn_lock_path()):
            txns = read_json(self._txns_path(), {})
            for path in legacy:
                topic = os.path.basename(os.path.dirname(path))
                doc = read_json(path, {})
                for txn_id, t in doc.items():
                    g = txns.setdefault(
                        txn_id,
                        {"state": t.get("state", "open"), "topics": {}, "started_at": time.time()},
                    )
                    old, new = g["state"], t.get("state", "open")
                    if old != new and "open" not in (old, new):
                        raise InvalidTxnState(
                            f"legacy txn {txn_id!r} has conflicting terminal states "
                            f"{old!r} (global) vs {new!r} ({path}) — refusing to migrate"
                        )
                    if new != "open":
                        g["state"] = new  # terminal wins over open
                    g["topics"].setdefault(topic, {}).update(t.get("ranges", {}))
                os.replace(path, path + ".migrated")
            write_json_atomic(self._txns_path(), txns)

    # ------------------------------------------------------------------ paths
    def _topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, "topics", topic)

    def _data_dir(self, topic: str) -> str:
        return os.path.join(self._topic_dir(topic), "data")

    def _state(self, topic: str, name: str) -> str:
        return os.path.join(self._topic_dir(topic), name)

    # ------------------------------------------------------------ topic admin
    def create_topic(
        self, topic: str, partitions: int = 1, config: dict[str, str] | None = None
    ) -> None:
        tdir = self._topic_dir(topic)
        if os.path.exists(tdir):
            raise ValueError(f"topic {topic!r} already exists")
        os.makedirs(self._data_dir(topic))
        write_json_atomic(
            self._state(topic, "topic.json"),
            {
                "name": topic,
                "uuid": str(uuid.uuid4()),
                "partitions": partitions,
                "config": config or {},
            },
        )
        write_json_atomic(
            self._state(topic, "watermarks.json"),
            {str(p): {"low": 0, "high": 0} for p in range(partitions)},
        )

    def delete_topic(self, topic: str) -> None:
        import shutil

        shutil.rmtree(self._topic_dir(topic))

    def topics(self) -> list[str]:
        return sorted(os.listdir(os.path.join(self.root, "topics")))

    def describe_topic(self, topic: str) -> TopicConfig:
        doc = read_json(self._state(topic, "topic.json"), None)
        if doc is None:
            raise KeyError(f"no such topic {topic!r}")
        return TopicConfig(partitions=doc["partitions"], config=doc.get("config", {}))

    #: DescribeConfigs default surface: every config the broker consults,
    #: with its default — the value that applies when the topic document
    #: doesn't set it (FIXTURES.md §10).
    CONFIG_DEFAULTS = {
        "cleanup.policy": "delete",
        "retention.ms": str(7 * 24 * 3600 * 1000),
        "compression.type": "producer",
        "tansu.virtual": "false",
        "tansu.schema.validation": "true",
        "tansu.schema.wire": "json",
        "tansu.lake.sink": "true",
        "tansu.lake.partition": "",
        "tansu.lake.normalize": "false",
        "tansu.lake.normalize.separator": ".",
        "tansu.lake.z_order": "",
    }

    def describe_configs(self, topic: str) -> list[dict[str, str]]:
        """DescribeConfigs: the EFFECTIVE config — every known key with
        its applied value and provenance (DYNAMIC_TOPIC_CONFIG when the
        topic document sets it, DEFAULT_CONFIG otherwise), plus any
        topic-set keys outside the known surface. Sorted by name, the
        Kafka response shape."""
        cfg = self.describe_topic(topic).config
        names = sorted(set(self.CONFIG_DEFAULTS) | set(cfg))
        return [
            {
                "name": name,
                "value": cfg.get(name, self.CONFIG_DEFAULTS.get(name, "")),
                "source": (
                    "DYNAMIC_TOPIC_CONFIG" if name in cfg else "DEFAULT_CONFIG"
                ),
            }
            for name in names
        ]

    def alter_topic(self, topic: str, updates: dict[str, str | None]) -> TopicConfig:
        """IncrementalAlterConfigs: merge config updates into the topic
        document (a value of None DELETEs the key, Kafka's DELETE op);
        takes effect for every subsequent produce/maintenance decision —
        config is read per operation, never cached. Partition count is
        immutable here, as in the reference's alter path (partitions
        change via CreatePartitions, not config)."""
        self.describe_topic(topic)  # KeyError before touching the lock file
        with file_lock(self._state(topic, ".lock")):
            doc = read_json(self._state(topic, "topic.json"), None)
            if doc is None:
                raise KeyError(f"no such topic {topic!r}")
            cfg = doc.setdefault("config", {})
            for k, v in updates.items():
                if v is None:
                    cfg.pop(k, None)
                else:
                    cfg[k] = v
            write_json_atomic(self._state(topic, "topic.json"), doc)
        return TopicConfig(partitions=doc["partitions"], config=cfg)

    def create_partitions(self, topic: str, new_total: int) -> TopicConfig:
        """CreatePartitions: grow a topic's partition count (never
        shrink — Kafka's contract; existing records keep their
        partitions and offsets). New partitions start with empty
        watermarks; produces routed by key hash immediately spread over
        the wider space, which — exactly as in Kafka — changes the
        key→partition mapping for FUTURE records only (consumers that
        need per-key ordering across the resize must drain first)."""
        self.describe_topic(topic)  # KeyError before touching the lock file
        with file_lock(self._state(topic, ".lock")):
            doc = read_json(self._state(topic, "topic.json"), None)
            if doc is None:
                raise KeyError(f"no such topic {topic!r}")
            if new_total <= doc["partitions"]:
                raise ValueError(
                    f"partition count can only grow: {doc['partitions']} -> {new_total}"
                )
            marks = read_json(self._state(topic, "watermarks.json"), {})
            for p in range(doc["partitions"], new_total):
                marks[str(p)] = {"low": 0, "high": 0}
            doc["partitions"] = new_total
            write_json_atomic(self._state(topic, "watermarks.json"), marks)
            write_json_atomic(self._state(topic, "topic.json"), doc)
        return TopicConfig(partitions=new_total, config=doc.get("config", {}))

    # --------------------------------------------------------------- producing
    def produce(
        self,
        topic: str,
        df: DataFrame,
        producer_id: int | None = None,
        producer_epoch: int = 0,
        base_sequence: int | None = None,
        txn_id: str | None = None,
    ) -> dict[int, int]:
        """Append a batch. Input columns: key, value (+optional headers,
        timestamp, partition). Missing partition → hash(key) % partitions
        (null keys land on partition 0, deterministically).

        Returns {partition: base_offset} for the appended rows.

        Exactly-once: (producer_id, epoch, base_sequence) duplicates are
        rejected against the producer fence (idempotent_message_check,
        pg.rs:257-338). Offsets are contiguous per partition; the watermark
        bump is the commit point.

        Instrumented as `produce_duration` / `registry_validation_duration`
        (tansu_spark.metrics — the reference's OTel histogram names,
        nisshi-schema/src/lib.rs:462-475).
        """
        with M.timed("produce_duration"):
            return self._produce_impl(
                topic, df, producer_id, producer_epoch, base_sequence, txn_id
            )

    def _produce_impl(
        self,
        topic: str,
        df: DataFrame,
        producer_id: int | None,
        producer_epoch: int,
        base_sequence: int | None,
        txn_id: str | None,
    ) -> dict[int, int]:
        cfg = self.describe_topic(topic)
        if txn_id is not None:
            # Fail fast BEFORE writing segments: producing into a txn the
            # sweep already aborted (or one that committed) is
            # INVALID_TXN_STATE — registering fresh ranges into a terminal
            # txn would either orphan them (aborted) or make them flip
            # visibility retroactively (committed).
            state = read_json(self._txns_path(), {}).get(txn_id, {}).get("state", "open")
            if state != "open":
                raise InvalidTxnState(f"produce into {state} txn {txn_id!r}")
        cols = set(df.columns)
        out = df
        if "timestamp" not in cols:
            out = out.withColumn("timestamp", F.current_timestamp())
        if "headers" not in cols:
            out = out.withColumn("headers", F.lit(None).cast(RECORD_SCHEMA["headers"].dataType))
        hash_partition = F.coalesce(
            F.pmod(F.hash(F.col("key")), F.lit(cfg.partitions)), F.lit(0)
        ).cast("int")
        if "partition" not in cols:
            out = out.withColumn("partition", hash_partition)
        else:
            # Explicit partitions: rows without one fall back to the hash
            # default (r10 hostile control-plane find: produce_rows
            # silently DROPPED the row dicts' partition field and
            # re-hashed by key). Out-of-range partitions stay covered by
            # the post-write observe validation below — the watermark is
            # the commit point, so nothing invalid becomes visible.
            out = out.withColumn(
                "partition",
                F.coalesce(F.col("partition").cast("int"), hash_partition),
            )
        out = out.withColumn("key", F.col("key").cast("binary")).withColumn(
            "value", F.col("value").cast("binary")
        )

        # Kafka contract: a compacted topic cannot accept a record without
        # a key (InvalidRecordException — the cleaner has nothing to
        # compact on). Enforced as a raise_error column inside the write
        # job itself: zero extra jobs on the produce hot path, and the
        # whole batch fails before the commit point (r10 hostile
        # control-plane find — null-key records were silently accepted
        # and then survived every compaction forever).
        if "compact" in cfg.cleanup_policy:
            out = out.withColumn(
                "key",
                F.when(
                    F.col("key").isNull(),
                    F.raise_error(
                        F.lit(
                            f"INVALID_RECORD: compacted topic {topic!r} "
                            "requires a non-null key"
                        )
                    ).cast("binary"),
                ).otherwise(F.col("key")),
            )

        # Binary-wire topics: stamp each record with the WRITER schema's
        # fingerprint header and snapshot that schema version into topic
        # state — after an add-only migration, typed_records resolves old
        # segments under their writer schema (registry.decode +
        # avro_wire.decode_resolved; Delta::migrate_schema parity). The
        # snapshot write is idempotent; the header is how real schema-
        # registry clients carry schema ids on the Kafka wire.
        wire_cfg = cfg.config.get("tansu.schema.wire", "json")
        if self.registry is not None and wire_cfg in ("avro", "proto"):
            ts = self.registry.schema_for(topic)
            if ts is not None and ts.dialect == wire_cfg:
                fp = ts.fingerprint()
                snap = self._state(topic, f"schema-{fp}.json")
                if not os.path.exists(snap):
                    write_json_atomic(snap, {"dialect": ts.dialect, "raw": ts.raw}
                                      if ts.dialect == "avro"
                                      else {"dialect": ts.dialect})
                out = out.withColumn(
                    "headers",
                    F.concat(
                        F.coalesce(
                            F.col("headers"),
                            F.array().cast(RECORD_SCHEMA["headers"].dataType),
                        ),
                        F.array(
                            F.struct(
                                F.lit("tansu.schema.fp").alias("key"),
                                F.lit(fp.encode()).alias("value"),
                            )
                        ),
                    ),
                )

        # Schema validation before taking the write lock (pg.rs:801-823;
        # bypass via tansu.schema.validation=false, FIXTURES.md §10).
        if (
            self.registry is not None
            and cfg.config.get("tansu.schema.validation", "true") != "false"
        ):
            with M.timed("registry_validation_duration"):
                self.registry.validate(
                    topic, out, wire=cfg.config.get("tansu.schema.wire", "json")
                )

        with file_lock(self._state(topic, ".lock")):
            # Idempotence fence — CHECKED here, but the advanced fence is
            # persisted only after the produce fully succeeds (with the
            # watermark bump below): advancing it eagerly meant a produce
            # that failed mid-flight (e.g. raced-terminal txn scrub) burned
            # the sequence, so the client's retry of the same batch was
            # silently dropped as a duplicate even though its records never
            # landed — retry-after-error lost data.
            fences: dict | None = None
            if producer_id is not None and base_sequence is not None:
                fences = read_json(self._state(topic, "producers.json"), {})
                fence = fences.get(str(producer_id), {"epoch": -1, "last_sequence": -1})
                if producer_epoch < fence["epoch"]:
                    raise ValueError(
                        f"fenced: producer epoch {producer_epoch} < {fence['epoch']}"
                    )
                if (
                    producer_epoch == fence["epoch"]
                    and base_sequence <= fence["last_sequence"]
                ):
                    return {}  # duplicate batch — dropped, like the reference
                fences[str(producer_id)] = {
                    "epoch": producer_epoch,
                    "last_sequence": base_sequence,
                }

            marks = read_json(self._state(topic, "watermarks.json"), {})

            # Contiguous offset assignment: row_number within partition
            # (input order within a partition preserved via a monotonic id),
            # based at the current high watermark.
            base = F.create_map(
                *[
                    x
                    for p, m in marks.items()
                    for x in (F.lit(int(p)), F.lit(int(m["high"])))
                ]
            )
            from pyspark.sql import Window

            w = Window.partitionBy("partition").orderBy("_seq")
            staged = (
                out.withColumn("_seq", F.monotonically_increasing_id())
                .withColumn(
                    "offset",
                    (base[F.col("partition")] + F.row_number().over(w) - 1).cast("long"),
                )
                .withColumn("txn_id", F.lit(txn_id).cast("string"))
                .withColumn("control", F.lit(0))
                .select([f.name for f in RECORD_SCHEMA.fields])
            )

            # Per-partition row counts ride the write job as observation
            # metrics (bounded: one conditional count per partition) — a
            # separate count action would execute the whole input twice.
            from pyspark.sql import Observation

            obs = Observation()
            observed = staged.observe(
                obs,
                F.count(F.lit(1)).alias("total"),
                *[
                    F.count(F.when(F.col("partition") == p, 1)).alias(f"p{p}")
                    for p in range(cfg.partitions)
                ],
            )

            # Land files first, bump watermarks second (visibility order).
            # Per-BATCH codec choice (deflated.rs:341-380: each record
            # batch carries its own Gzip/Snappy/Lz4/Zstd attribute):
            # Kafka's `compression.type` topic config maps to the parquet
            # codec of the segments THIS produce writes — topics can mix
            # codecs across batches, readers are oblivious (parquet
            # footers carry the codec per column chunk, the exact
            # mechanism the reference's record-batch attribute plays).
            codec = _PARQUET_CODECS[cfg.config.get("compression.type", "producer")]
            pre_files: set[str] = set()
            if txn_id is not None:
                # Snapshot segments BEFORE the write so a terminal-txn
                # race can scrub exactly the files this produce landed
                # (we hold the topic lock — no concurrent writer).
                pre_files = self._segment_files(topic)
            # One write task per Kafka partition: without this, AQE
            # coalesces the offset-window's 8 small shuffle partitions
            # into ONE post-shuffle task (batch bytes < the 64 MB
            # advisory size), serializing parquet encoding — measured
            # 25k rec/s single-task vs ~2x with per-partition tasks at
            # batch 50k. The explicit repartition pins parallelism to
            # the topic's partition count AND yields exactly one segment
            # file per (produce, partition) — fewer files for fetch and
            # the segment-stats manifest.
            observed.repartition(cfg.partitions, F.col("partition")).write.mode(
                "append"
            ).option(
                "compression", codec
            ).partitionBy("partition").parquet(self._data_dir(topic))
            got = obs.get
            counts = {
                p: int(got[f"p{p}"])
                for p in range(cfg.partitions)
                if int(got[f"p{p}"]) > 0
            }
            if sum(counts.values()) != int(got["total"]):
                raise ValueError(
                    f"produce to {topic!r}: rows target partitions outside "
                    f"[0, {cfg.partitions}) — unknown partition, like the "
                    "reference's UNKNOWN_TOPIC_OR_PARTITION"
                )
            result: dict[int, int] = {}
            for p, n in counts.items():
                m = marks.setdefault(str(p), {"low": 0, "high": 0})
                result[p] = int(m["high"])
                m["high"] = int(m["high"]) + int(n)

            if txn_id is not None:
                # AddPartitionsToTxn (lib.rs:1480-1517): register this
                # topic's produced ranges under the STORE-GLOBAL txn —
                # one transaction spans topics, like the reference's
                # txn_topition/txn_produce_offset tables. The terminal-txn
                # re-check, range registration AND the watermark bump all
                # happen under the txn lock: if EndTxn/the sweep flipped
                # the txn terminal while the segment write ran, we scrub
                # the just-landed files and raise WITHOUT bumping the
                # watermark — unregistered transactional records can never
                # enter the visible offset space, and the next produce
                # reuses these offsets against a clean directory.
                with file_lock(self._txn_lock_path()):
                    txns = read_json(self._txns_path(), {})
                    t = txns.setdefault(
                        txn_id,
                        {"state": "open", "topics": {}, "started_at": time.time()},
                    )
                    if t["state"] != "open":
                        self._scrub_segments(
                            topic, self._segment_files(topic) - pre_files
                        )
                        raise InvalidTxnState(
                            f"produce into {t['state']} txn {txn_id!r}"
                        )
                    ranges = t["topics"].setdefault(topic, {})
                    for p, n in counts.items():
                        lo, _ = ranges.get(str(p), [result[p], result[p]])
                        ranges[str(p)] = [min(lo, result[p]), result[p] + n]
                    write_json_atomic(self._txns_path(), txns)
                    self._commit_marks_and_fences(topic, marks, fences)
            else:
                self._commit_marks_and_fences(topic, marks, fences)
            self._refresh_segment_stats(topic)
        return result

    def _commit_marks_and_fences(
        self, topic: str, marks: dict, fences: dict | None
    ) -> None:
        """One grouped state commit for watermarks + producer fences
        (prepare both temps, rename back-to-back — state.py
        write_json_atomic_group). Ordering is deliberate: watermarks
        rename FIRST, fences second, so a crash in the residual window
        between the two renames leaves committed, visible records with a
        stale fence — the client retry re-lands the batch as DUPLICATES
        (at-least-once, Kafka's contract without idempotence). The
        reverse order would burn the sequence before the records are
        visible and silently DROP the retry (data loss — the r3 bug).
        The fence still advances only once records are committed to the
        visible offset space; a failure before this point leaves the
        sequence unburned."""
        from tansu_spark.broker.state import write_json_atomic_group

        writes: list[tuple[str, Any]] = [
            (self._state(topic, "watermarks.json"), marks)
        ]
        if fences is not None:
            writes.append((self._state(topic, "producers.json"), fences))
        write_json_atomic_group(writes)

    def produce_rows(self, topic: str, rows: list[dict[str, Any]], **kw) -> dict[int, int]:
        """Convenience: produce a small batch of {key, value, ...} dicts
        (the `cat produce` path, nisshi-cat/src/produce.rs).

        The batch ships to the JVM as ONE Arrow-encoded pandas frame —
        a plain list-of-tuples createDataFrame pickles row-at-a-time and
        measured ~14x slower at batch 50k (r7 verdict ask #6); the Arrow
        path moves three contiguous column buffers instead."""
        return self.produce(topic, self.rows_to_frame(rows), **kw)

    def produce_rows_pipelined(
        self,
        topic: str,
        rows: list[dict[str, Any]],
        batch_size: int = 10_000,
        **kw,
    ) -> list[dict[int, int]]:
        """Double-buffered multi-batch produce (r8 verdict ask #4): a
        single helper thread builds and ships batch N+1's Arrow frame
        (the driver→JVM transfer) while this thread runs batch N's
        parquet commit. bench_broker.py measures 1.57x over sequential
        produce_rows at 100k x 1 KiB — Python-rows throughput then
        matches the JVM-generated DataFrame path, i.e. the transfer is
        fully hidden behind the (disk-bound) commit. Commits stay on the
        caller's thread in order, so the broker's single-producer lock
        and offset-contiguity invariants are untouched. Returns one
        base-offsets dict per committed batch, in order."""
        if len(rows) <= batch_size:
            return [self.produce_rows(topic, rows, **kw)]
        from concurrent.futures import ThreadPoolExecutor

        out: list[dict[int, int]] = []
        bounds = list(range(0, len(rows), batch_size))
        with ThreadPoolExecutor(max_workers=1) as ex:
            fut = ex.submit(self.rows_to_frame, rows[: batch_size])
            for k, _start in enumerate(bounds):
                df = fut.result()
                if k + 1 < len(bounds):
                    s2 = bounds[k + 1]
                    fut = ex.submit(
                        self.rows_to_frame, rows[s2 : s2 + batch_size]
                    )
                out.append(self.produce(topic, df, **kw))
        return out

    def rows_to_frame(self, rows: list[dict[str, Any]]) -> DataFrame:
        """The driver→JVM half of produce_rows: encode the dict batch as
        ONE Arrow pandas frame and ship it (createDataFrame over the
        pinned parallelize path transfers eagerly). Split out so a
        pipelined producer (bench_broker.py --pipelined, r8 verdict ask
        #4) can overlap batch N+1's transfer with batch N's parquet
        commit from a second thread."""
        import datetime

        import pandas as pd

        def enc(v):
            return v.encode() if isinstance(v, str) else v

        schema = StructType(
            [
                StructField("key", BinaryType(), True),
                StructField("value", BinaryType(), True),
                StructField("timestamp", TimestampType(), True),
            ]
        )
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        cols = {
            "key": pd.Series([enc(r.get("key")) for r in rows], dtype=object),
            "value": pd.Series([enc(r.get("value")) for r in rows], dtype=object),
            # datetime64, not object: an object-dtype timestamp column
            # kicks createDataFrame off the Arrow fast path (measured
            # 2.35s vs 0.17s at 50k rows).
            "timestamp": pd.to_datetime([r.get("timestamp", now) for r in rows]),
        }
        if any("partition" in r for r in rows):
            # Explicit routing (r10 hostile find: this column was silently
            # dropped). Nullable Int32 — rows without a partition keep the
            # hash default downstream.
            cols["partition"] = pd.array(
                [r.get("partition") for r in rows], dtype="Int32"
            )
            schema.add(StructField("partition", IntegerType(), True))
        pdf = pd.DataFrame(cols)
        # Big CLI batches straddle the 48 MB arrow localRelationThreshold,
        # flipping between an embedded LocalRelation (worst case ~3.4s at
        # 50k x 1 KiB — the whole batch rides the logical plan) and the
        # parallelized-RDD path (~2.1s worst, ~0.1s warm). Pin the RDD
        # path for THIS conversion only; small query-side literal frames
        # elsewhere keep the default (LocalRelation enables folding).
        key = "spark.sql.execution.arrow.localRelationThreshold"
        old = self.spark.conf.get(key, None)
        self.spark.conf.set(key, "0")
        try:
            df = self.spark.createDataFrame(pdf, schema)
        finally:
            if old is None:
                self.spark.conf.unset(key)
            else:
                self.spark.conf.set(key, old)
        return df

    # ---------------------------------------------------------------- fetching
    def _parse_topic_key(self, topic: str) -> tuple[str, bytes | None]:
        """`orders/KEY-1` → keyed fetch on virtual topics (pg.rs:1304-1332)."""
        if "/" in topic:
            name, key = topic.split("/", 1)
            if not self.describe_topic(name).virtual:
                raise ValueError(f"topic {name!r} is not virtual (tansu.virtual=true)")
            return name, key.encode()
        return topic, None

    def virtual_topic_id(self, topic: str, key: str) -> str:
        """Deterministic virtual-topic identity: UUIDv5 over the URL
        namespace with the reference's tag URI
        (pg.rs:1340-1360 / lite.rs:1372 — Uuid::new_v5(NAMESPACE_URL,
        "tag:nisshi.io,2026-04:virtual:{topic}:{key}")), upserted into the
        base topic's document so every broker derives the SAME id for the
        same (topic, key) with no coordination — the property the
        reference relies on for virtual-topic addressing."""
        if not self.describe_topic(topic).virtual:
            raise ValueError(f"topic {topic!r} is not virtual (tansu.virtual=true)")
        vid = str(
            uuid.uuid5(
                uuid.NAMESPACE_URL, f"tag:nisshi.io,2026-04:virtual:{topic}:{key}"
            )
        )
        with file_lock(self._state(topic, ".lock")):
            doc = read_json(self._state(topic, "topic.json"), None)
            ids = doc.setdefault("virtual_ids", {})
            if ids.get(key) != vid:
                ids[key] = vid
                write_json_atomic(self._state(topic, "topic.json"), doc)
        return vid

    def records(self, topic: str) -> DataFrame:
        """The raw topic DataFrame (all partitions, uncommitted included)."""
        self.describe_topic(topic)  # clean KeyError for unknown topics
        data = self._data_dir(topic)
        if not any(e.startswith("partition=") for e in os.listdir(data)):
            return self._empty_records()
        return self._scan(data, [data])

    def _empty_records(self) -> DataFrame:
        """A zero-partition records frame: it schedules no task, where
        ``createDataFrame([])`` runs defaultParallelism Python tasks."""
        return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), RECORD_SCHEMA)

    def _scan(self, data: str, paths: list[str]) -> DataFrame:
        """Parquet scan of ``paths`` (basePath keeps partition=N discovery
        over explicit files). ignoreMissingFiles: fetch takes no topic
        lock, and a raced-txn scrub or a maintenance rewrite may remove a
        listed segment before a task opens it; its records were never
        visible (the watermark only bumps on success), so skipping the
        file never drops a committed record."""
        return (
            self.spark.read.schema(RECORD_SCHEMA)
            .option("basePath", data)
            .option("ignoreMissingFiles", "true")
            .parquet(*paths)
        )

    # ----------------------------------------------------- segment offset stats
    # Per-segment offset ranges, harvested from parquet FOOTERS (driver-side
    # metadata read — no Spark job, no data IO) after every produce. The
    # manifest is the broker's equivalent of Kafka's segment index / the
    # reference's watermark-bounded fetch SQL (record_fetch*.sql): a fetch
    # from offset N opens only segments whose [min,max] range reaches N,
    # instead of listing-and-footer-reading every segment in the topition.
    # Advisory only — segments missing from the manifest are always read,
    # and the offset predicate is still applied to survivors.

    def _segment_stats_path(self, topic: str) -> str:
        return os.path.join(self._data_dir(topic), "_segment_stats.json")

    def _segment_files(self, topic: str) -> set[str]:
        """Absolute paths of every parquet segment in the topic's data dir
        (driver-side listing; used to scrub the exact files a raced
        transactional produce landed)."""
        out: set[str] = set()
        for root, _dirs, names in os.walk(self._data_dir(topic)):
            out.update(
                os.path.join(root, n) for n in names if n.endswith(".parquet")
            )
        return out

    def _scrub_segments(self, topic: str, files: set[str]) -> None:
        """Remove the segments a raced transactional produce landed, plus
        the write's leftovers: the _SUCCESS marker Spark drops at the data
        root and any partition=N directory the scrub emptied. Readers that
        already listed these files tolerate the removal via
        ignoreMissingFiles on every broker scan."""
        data = self._data_dir(topic)
        for f in files:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
        marker = os.path.join(data, "_SUCCESS")
        if files and os.path.exists(marker):
            os.remove(marker)
        for entry in os.listdir(data):
            sub = os.path.join(data, entry)
            if entry.startswith("partition=") and os.path.isdir(sub) and not os.listdir(sub):
                os.rmdir(sub)

    def _refresh_segment_stats(self, topic: str) -> None:
        """Footer-read segments that appeared since the last refresh; drop
        entries for segments that vanished (compaction/retention rewrites).
        Called under the topic lock from produce; the maintenance
        rewrites (``retention_sweep``, ``compact_topic``) call it too,
        under the same lock. Cost: one ~KB metadata read per NEW file
        only."""
        import pyarrow.parquet as pq

        data = self._data_dir(topic)
        manifest = read_json(self._segment_stats_path(topic), {"files": {}})
        seen = {}
        for root, _dirs, names in os.walk(data):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(root, n), data)
                if rel in manifest["files"]:
                    seen[rel] = manifest["files"][rel]
                    continue
                md = pq.ParquetFile(os.path.join(data, rel)).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                lo = hi = None
                if "offset" in idx:
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(idx["offset"]).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                seen[rel] = {"offset": [lo, hi]}
        manifest["files"] = seen
        write_json_atomic(self._segment_stats_path(topic), manifest)

    def _pruned_records(self, topic: str, starts: dict[int, int]) -> DataFrame | None:
        """Records over only the segments of the partitions in ``starts``
        whose offset range reaches that partition's start offset, or None
        when no segment survives. Only those partition=N directories are
        listed. Segments unknown to the manifest are kept; correctness
        never depends on the manifest (fetch re-applies the offset
        predicate)."""
        from pyspark.errors import AnalysisException

        data = self._data_dir(topic)
        for attempt in range(3):
            stats = read_json(self._segment_stats_path(topic), {"files": {}})["files"]
            keep = []
            for p, start in starts.items():
                sub = f"partition={p}"
                try:
                    names = os.listdir(os.path.join(data, sub))
                except FileNotFoundError:  # nothing written to p yet
                    continue
                for n in names:
                    hi = stats.get(f"{sub}/{n}", {}).get("offset", [None, None])[1]
                    if n.endswith(".parquet") and (hi is None or hi >= start):
                        keep.append(os.path.join(data, sub, n))
            if not keep:
                return None
            # Over 32 paths (parallelPartitionDiscovery.threshold) Spark
            # lists them in a job: scan the survivors' directories instead,
            # where the pushed offset predicate still skips row groups.
            if len(keep) > 32:
                keep = {os.path.dirname(f) for f in keep}
            try:
                return self._scan(data, sorted(keep) if len(keep) <= 32 else [data])
            except AnalysisException as e:
                # A scrub or rewrite removed a listed segment before Spark
                # resolved the path: list again.
                if e.getCondition() != "PATH_NOT_FOUND" or attempt == 2:
                    raise

    def typed_records(self, topic: str) -> DataFrame:
        """Schema-decoded topic view with the broker `meta` struct — the
        DataFrame the lake sink materializes (Registry::as_arrow + meta
        injection, avro/arrow.rs:1104-1199)."""
        df = self.records(topic)
        if self.registry is not None:
            wire = self.describe_topic(topic).config.get("tansu.schema.wire", "json")
            df = self.registry.decode(
                topic, df, wire=wire,
                writer_schemas=self._writer_schemas(topic) if wire == "avro" else None,
            )
        return K.with_meta(df)

    def _writer_schemas(self, topic: str) -> dict[str, object]:
        """{fingerprint: raw avsc} of every schema version that produced
        into this topic (snapshots written by produce) — the lookup table
        reader-schema resolution needs to decode pre-migration segments."""
        import glob

        out: dict[str, object] = {}
        for p in glob.glob(self._state(topic, "schema-*.json")):
            fp = os.path.basename(p)[len("schema-"):-len(".json")]
            snap = read_json(p, {})
            if snap.get("dialect") == "avro":
                out[fp] = snap["raw"]
        return out

    def _txns_path(self) -> str:
        return os.path.join(self.root, "txns.json")

    def _txn_lock_path(self) -> str:
        return os.path.join(self.root, ".txns.lock")

    def _visibility(
        self, topic: str, isolation: str
    ) -> tuple[dict[int, tuple[int, int]], dict[int, list[tuple[int, int]]]]:
        """What a reader at ``isolation`` may see, from one read each of
        the watermark and transaction documents: per partition the
        ``[low, frontier)`` offset window, and the aborted ``[lo, hi)``
        ranges to skip inside it. The frontier is the high watermark for
        read_uncommitted and the last stable offset for read_committed:
        min(open txn start) else high (watermark_select_stable.sql;
        pg.rs:1821-1827). Transactions are store-global, but only their
        ranges on THIS topic count, so an open txn elsewhere never holds
        this topic's LSO down."""
        marks = read_json(self._state(topic, "watermarks.json"), {})
        window = {int(p): (int(m.get("low", 0)), int(m["high"])) for p, m in marks.items()}
        aborted: dict[int, list[tuple[int, int]]] = {}
        if isolation == "read_committed":
            for t in read_json(self._txns_path(), {}).values():
                for p, (lo, hi) in t["topics"].get(topic, {}).items():
                    p = int(p)
                    if t["state"] == "open":
                        window[p] = (window[p][0], min(window[p][1], int(lo)))
                    elif t["state"] == "aborted":
                        aborted.setdefault(p, []).append((int(lo), int(hi)))
        return window, aborted

    def last_stable_offsets(self, topic: str) -> dict[int, int]:
        """LSO per partition (see ``_visibility``)."""
        window, _ = self._visibility(topic, "read_committed")
        return {p: frontier for p, (_low, frontier) in window.items()}

    def fetch(
        self,
        topic: str,
        partition: int | None = None,
        offset: int = 0,
        max_bytes: int | None = None,
        isolation: str = "read_uncommitted",
    ) -> DataFrame:
        """Offset-range scan bounded by the isolation frontier; supports
        `topic/KEY` virtual-topic syntax and the max_bytes running budget.

        One predicate of integer literals, like record_fetch*.sql: per
        partition, offsets from max(low, offset) up to the frontier,
        minus its aborted ranges (read_committed; fetch surfaces aborted
        txns, lib.rs:1527). Records below the low watermark are deleted
        as far as readers are concerned, whether or not a maintenance
        sweep has rewritten the segments yet (Kafka log_start_offset
        semantics; delete_records advances it)."""
        name, key = self._parse_topic_key(topic)
        self.describe_topic(name)  # clean KeyError for unknown topics
        if max_bytes is not None and partition is None:
            raise ValueError("max_bytes fetch requires a partition")
        window, aborted = self._visibility(name, isolation)
        starts, clauses = {}, []
        for p, (low, frontier) in sorted(window.items()):
            start = max(low, offset)
            if partition not in (None, p) or start >= frontier:
                continue
            starts[p] = start
            skip = "".join(
                f" AND NOT (offset >= {lo} AND offset < {hi})"
                for lo, hi in aborted.get(p, ())
                if lo < frontier and hi > start
            )
            clauses.append(f"(partition = {p} AND offset >= {start} AND offset < {frontier}{skip})")
        df = self._pruned_records(name, starts)
        if df is None:
            return self._empty_records()
        pred = f"({' OR '.join(clauses)}) AND control = 0"
        if key is not None:
            pred += f" AND key = X'{key.hex()}'"
        df = df.filter(F.expr(pred))
        if max_bytes is None:
            return df
        return K.fetch_max_bytes(df, partition=None, offset_lo=None, max_bytes=max_bytes)

    def fetch_poll(
        self,
        topic: str,
        partition: int | None = None,
        offset: int = 0,
        min_records: int = 1,
        max_wait_s: float = 5.0,
        poll_interval_s: float = 0.05,
        isolation: str = "read_uncommitted",
        **fetch_kw: Any,
    ) -> DataFrame:
        """Long-poll fetch (Kafka ``fetch.max.wait.ms`` / ``min.bytes``;
        reference nisshi-storage/src/service/fetch.rs:127-192 blocks each
        partition until min_bytes arrive or max_wait elapses).

        The wait is pure control-plane: we poll the watermark/txn state
        JSON on the driver — ZERO Spark jobs while idle — and launch the
        data-plane scan exactly once, only after at least ``min_records``
        records are visible past ``offset`` under the requested isolation
        (or the deadline passes, returning whatever is there — possibly
        empty, Kafka's timeout contract). Like Kafka's min_bytes, the
        threshold counts log records, not post-filter (keyed virtual
        topic) survivors."""
        name, _key = self._parse_topic_key(topic)
        deadline = time.monotonic() + max_wait_s
        while True:
            window, _ = self._visibility(name, isolation)
            visible = sum(
                max(0, frontier - offset)
                for p, (_low, frontier) in window.items()
                if partition in (None, p)
            )
            if visible >= min_records or time.monotonic() >= deadline:
                return self.fetch(
                    topic,
                    partition=partition,
                    offset=offset,
                    isolation=isolation,
                    **fetch_kw,
                )
            time.sleep(min(poll_interval_s, max(0.0, deadline - time.monotonic())))

    def delete_records(self, topic: str, before: dict[int, int]) -> dict[int, int]:
        """Kafka DeleteRecords: advance each partition's low watermark
        (log_start_offset) to ``before[partition]`` — records below it
        become invisible to fetch IMMEDIATELY (the visibility gate is the
        watermark document, not the files); a retention sweep never moves
        the low back, and the bytes go when retention expires those
        records. Clamped to [current low, high]; returns
        the new low per partition. Mirrors the reference's watermark.low
        column (010-schema.sql:82-90) the same way retention_sweep does."""
        self.describe_topic(topic)
        with file_lock(self._state(topic, ".lock")):
            marks = read_json(self._state(topic, "watermarks.json"), {})
            out: dict[int, int] = {}
            for p, off in before.items():
                m = marks.get(str(p))
                if m is None:
                    raise KeyError(f"unknown partition {p} of topic {topic!r}")
                m["low"] = max(int(m["low"]), min(int(off), int(m["high"])))
                out[int(p)] = int(m["low"])
            write_json_atomic(self._state(topic, "watermarks.json"), marks)
        return out

    # ----------------------------------------------------------- offset lookup
    def list_offsets(self, topic: str, spec: str | Any = "latest") -> dict[int, int]:
        """'earliest' | 'latest' | a timestamp → {partition: offset}."""
        marks = read_json(self._state(topic, "watermarks.json"), {})
        if spec == "earliest":
            return {int(p): int(m["low"]) for p, m in marks.items()}
        if spec == "latest":
            return {int(p): int(m["high"]) for p, m in marks.items()}
        rows = K.offsets_for_timestamp(self.records(topic), spec).collect()
        return {int(r["partition"]): int(r["offset"]) for r in rows}

    # ---------------------------------------------------------- consumer groups
    def commit_offsets(self, group: str, offsets: dict[tuple[str, int], int]) -> None:
        """Persist a group cursor (offset_commit, pg.rs:2104-2186). Spark's
    own streaming checkpoints supersede this; kept for API parity."""
        path = os.path.join(self.root, "groups", f"{group}.json")
        with file_lock(path + ".lock"):
            doc = read_json(path, {})
            for (topic, partition), off in offsets.items():
                doc.setdefault(topic, {})[str(partition)] = int(off)
            write_json_atomic(path, doc)

    def fetch_offsets(self, group: str, topic: str) -> dict[int, int]:
        doc = read_json(os.path.join(self.root, "groups", f"{group}.json"), {})
        return {int(p): int(o) for p, o in doc.get(topic, {}).items()}

    def consumer_lag(self, group: str, topic: str) -> dict[int, dict[str, int | None]]:
        """Per-partition consumer lag: high watermark vs the group's
        committed offset (the kafka-consumer-groups.sh describe view).
        A partition with NO committed offset reports committed/lag as
        None — the describe tool prints "-" there, not 0 (a 0 would claim
        lag = high_watermark for a group that never consumed). Pure
        control-plane — watermark document + group cursor file, no
        Spark job."""
        marks = read_json(self._state(topic, "watermarks.json"), {})
        committed = self.fetch_offsets(group, topic)
        out: dict[int, dict[str, int | None]] = {}
        for p, m in marks.items():
            hi = int(m["high"])
            cur = committed.get(int(p))
            out[int(p)] = {
                "high_watermark": hi,
                "committed": None if cur is None else int(cur),
                "lag": None if cur is None else max(0, hi - int(cur)),
            }
        return out

    # ------------------------------------------------------------- transactions
    def init_producer_id(self, transactional_id: str | None = None) -> tuple[int, int]:
        """InitProducerId: allocate a (producer_id, epoch) pair.

        Idempotent-only producers (no transactional id) get a fresh id at
        epoch 0. A TRANSACTIONAL producer re-initializing under the same
        transactional_id keeps its producer_id but gets a BUMPED epoch —
        and any transaction still open under that id is aborted, fencing
        the zombie instance (Kafka's InitProducerId contract; the
        reference allocates via init_producer SQL and epoch-fences in
        pg.rs' produce path). State lives in the store-global
        producer-ids document."""
        path = os.path.join(self.root, "producer_ids.json")
        with file_lock(os.path.join(self.root, ".producer_ids.lock")):
            doc = read_json(path, {"next_id": 1000, "transactional": {}})
            if transactional_id is None:
                pid = doc["next_id"]
                doc["next_id"] += 1
                write_json_atomic(path, doc)
                return pid, 0
            entry = doc["transactional"].get(transactional_id)
            if entry is None:
                entry = {"producer_id": doc["next_id"], "epoch": 0}
                doc["next_id"] += 1
            else:
                entry = {"producer_id": entry["producer_id"], "epoch": entry["epoch"] + 1}
            doc["transactional"][transactional_id] = entry
            write_json_atomic(path, doc)
        if entry["epoch"] > 0:
            # fence the zombie: its in-flight transaction dies here
            with file_lock(self._txn_lock_path()):
                txns = read_json(self._txns_path(), {})
                t = txns.get(transactional_id)
                if t is not None and t["state"] == "open":
                    t["state"] = "aborted"
                    write_json_atomic(self._txns_path(), txns)
        return entry["producer_id"], entry["epoch"]

    def txn_offset_commit(
        self, txn_id: str, group: str, offsets: dict[tuple[str, int], int]
    ) -> None:
        """TxnOffsetCommit / AddOffsetsToTxn: stage consumer offsets
        INSIDE a transaction — they become the group's committed cursor
        only when the txn commits, and vanish on abort. This is the
        consume-transform-produce exactly-once loop: offsets move
        atomically with the produced records (the reference's
        txn_offset_commit tables, pg.rs:3407+)."""
        with file_lock(self._txn_lock_path()):
            txns = read_json(self._txns_path(), {})
            t = txns.setdefault(
                txn_id, {"state": "open", "topics": {}, "started_at": time.time()}
            )
            if t["state"] != "open":
                raise InvalidTxnState(
                    f"txn offset commit into {t['state']} txn {txn_id!r}"
                )
            staged = t.setdefault("offsets", [])
            for (topic, p), off in offsets.items():
                staged.append([group, topic, int(p), int(off)])
            write_json_atomic(self._txns_path(), txns)

    def end_transaction(self, txn_id: str, commit: bool) -> None:
        """EndTxn (pg.rs:3187-3647 simplified; txn state machine
        lib.rs:1288-1341): flip the STORE-GLOBAL txn state in one atomic
        JSON swap. Every topic's ranges registered under the txn become
        visible to read_committed together (commit) or excluded forever
        (abort) — exactly-once across topics, the reference's EOS scope.

        The visibility mechanism mirrors list_latest_offset_committed.sql:
        readers derive each topition's stable frontier from the union of
        watermark-high and open-txn starts at fetch time, so the single
        state flip is the only coordination point — no per-topic commit
        markers to fan out, no 2PC window where topic A shows and topic
        B doesn't."""
        with file_lock(self._txn_lock_path()):
            txns = read_json(self._txns_path(), {})
            if txn_id not in txns:
                raise KeyError(f"unknown txn {txn_id!r}")
            state = txns[txn_id]["state"]
            if state != "open":
                # Only open→committed/aborted is legal (TxnState machine,
                # lib.rs:1288-1341): commit on a sweep-aborted txn must not
                # resurrect excluded ranges, and abort on a committed txn
                # must not retroactively hide visible records.
                raise InvalidTxnState(
                    f"txn {txn_id!r} is already {state}; cannot "
                    f"{'commit' if commit else 'abort'}"
                )
            txns[txn_id]["state"] = "committed" if commit else "aborted"
            staged = txns[txn_id].get("offsets", [])
            if commit and staged:
                # The state flip and the staged offsets persist in ONE
                # atomic swap, with an offsets_pending marker: a crash
                # after the flip but before the offsets land is replayed
                # idempotently on the next broker startup instead of
                # silently dropping the consume half of the EOS loop.
                txns[txn_id]["offsets_pending"] = True
            else:
                txns[txn_id].pop("offsets", None)  # aborted: staged vanish
            write_json_atomic(self._txns_path(), txns)
        if commit and staged:
            self._apply_staged_offsets(staged)
            self._clear_pending_offsets(txn_id)

    def _apply_staged_offsets(self, staged: list) -> None:
        """Apply transactionally-staged consumer offsets (last staged
        value per (group, topition) wins) — visible only at commit, the
        TxnOffsetCommit contract. Idempotent: re-applying sets the same
        committed cursor values."""
        by_group: dict[str, dict[tuple[str, int], int]] = {}
        for group, topic, p, off in staged:
            by_group.setdefault(group, {})[(topic, int(p))] = int(off)
        for group, offs in by_group.items():
            self.commit_offsets(group, offs)

    def _clear_pending_offsets(self, txn_id: str) -> None:
        with file_lock(self._txn_lock_path()):
            txns = read_json(self._txns_path(), {})
            t = txns.get(txn_id)
            if t is not None and (t.get("offsets_pending") or t.get("offsets")):
                t.pop("offsets", None)
                t.pop("offsets_pending", None)
                write_json_atomic(self._txns_path(), txns)

    def _replay_pending_txn_offsets(self) -> None:
        """Startup recovery for the commit/offset-apply crash window:
        any COMMITTED txn still carrying offsets_pending had its staged
        consumer offsets interrupted mid-apply — replay them (idempotent
        overwrite) and clear the marker."""
        with file_lock(self._txn_lock_path()):
            txns = read_json(self._txns_path(), {})
            pending = {
                tid: t.get("offsets", [])
                for tid, t in txns.items()
                if t.get("state") == "committed" and t.get("offsets_pending")
            }
        for tid, staged in pending.items():
            if staged:
                self._apply_staged_offsets(staged)
            self._clear_pending_offsets(tid)

    def end_txn(self, topic: str, txn_id: str, commit: bool) -> None:
        """Single-topic-signature EndTxn kept for API symmetry with the
        Kafka request (which names the txn coordinator, not a topic);
        delegates to the store-global flip."""
        self.describe_topic(topic)  # same unknown-topic contract
        self.end_transaction(txn_id, commit)

    def transactions(self) -> dict[str, dict]:
        """Snapshot of the store-global txn registry (introspection —
        the describe side of the coordinator)."""
        return read_json(self._txns_path(), {})

    def describe_cluster(self) -> dict[str, Any]:
        """DescribeCluster: stable cluster identity (UUIDv5 over the
        store root path — every broker on this store derives the same id
        with no coordination) plus topic/partition totals."""
        topics = self.topics()
        return {
            "cluster_id": str(
                uuid.uuid5(uuid.NAMESPACE_URL, f"tag:nisshi.io,2026-04:cluster:{os.path.abspath(self.root)}")
            ),
            "n_topics": len(topics),
            "n_partitions": sum(self.describe_topic(t).partitions for t in topics),
        }

    # ------------------------------------------------------------ broker config
    def _config_path(self) -> str:
        return os.path.join(self.root, "config.json")

    def broker_config(self) -> dict[str, str]:
        """Store-level (broker) config — e.g. ``transaction.timeout.ms``
        (Kafka's producer/broker transaction timeout contract)."""
        return read_json(self._config_path(), {})

    def alter_broker_config(self, updates: dict[str, str | None]) -> dict[str, str]:
        """IncrementalAlterConfigs for the BROKER resource: merge updates
        (None deletes the key), same contract as alter_topic."""
        with file_lock(os.path.join(self.root, ".config.lock")):
            cfg = read_json(self._config_path(), {})
            for k, v in updates.items():
                if v is None:
                    cfg.pop(k, None)
                else:
                    cfg[k] = v
            write_json_atomic(self._config_path(), cfg)
        return cfg

    def txn_timeout_s(self) -> float:
        """Effective transaction timeout: broker-config
        ``transaction.timeout.ms`` (default 60000) — configurable so a
        legitimate txn spanning several slow Spark produce jobs is not
        auto-aborted mid-flight by the maintenance sweep."""
        return int(self.broker_config().get("transaction.timeout.ms", 60_000)) / 1000.0

    def maintain_transactions(
        self, now: float | None = None, timeout_s: float | None = None
    ) -> list[str]:
        """Abort open transactions older than ``timeout_s`` — the txn
        sweep the reference's broker loop runs every 10 s
        (nisshi-broker/src/broker.rs:242-258; `Storage::
        maintain_transactions` lib.rs:1522 with per-txn `started_at`,
        sql/txn_detail_update_started_at.sql — engine impls are stubs
        upstream, so the timeout semantics here follow Kafka's
        transaction.timeout.ms contract: a producer that vanishes
        mid-transaction cannot hold the LSO down forever). Returns the
        aborted txn ids; their ranges become permanently invisible to
        read_committed, exactly like an explicit abort. ``timeout_s``
        defaults to broker-config ``transaction.timeout.ms``."""
        now = time.time() if now is None else now
        timeout_s = self.txn_timeout_s() if timeout_s is None else timeout_s
        aborted: list[str] = []
        with file_lock(self._txn_lock_path()):
            txns = read_json(self._txns_path(), {})
            for txn_id, t in txns.items():
                if (
                    t["state"] == "open"
                    and now - t.get("started_at", now) > timeout_s
                ):
                    t["state"] = "aborted"
                    aborted.append(txn_id)
            if aborted:
                write_json_atomic(self._txns_path(), txns)
        return aborted
