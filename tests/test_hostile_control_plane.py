"""Hostile-input gate for the CONTROL PLANE (r9 verdict ask #4): the
broker/lake/streaming state machines driven through their public API on
degenerate inputs — empty topics, single records, one-partition skew,
1 MB keys, NULL keys, an all-aborted-transaction topic, compaction with
nothing to compact, and an interval join with an empty side. The data
plane's hostile gate (tools/gate_hostile.py) covers content-dependent
queries; this is the state-machine half the r9 exclusion argued but
never tested.

Real defects this suite surfaced on first run (all fixed):
* list_offsets(topic, <epoch-ms int>) threw a raw AnalysisException
  (TIMESTAMP >= INT) instead of honoring Kafka's ListOffsets wire form;
* a compacted topic silently ACCEPTED null-key records (Kafka rejects
  them with InvalidRecordException — the cleaner has nothing to key on),
  and they then survived every compaction forever;
* produce_rows silently DROPPED an explicit `partition` field in the
  row dicts and re-hashed by key;
* coordinator describe/heartbeat/leave on an UNKNOWN group materialized
  a phantom group as a side effect (Kafka answers Dead /
  UNKNOWN_MEMBER_ID without creating state).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from tansu_spark.broker import Broker
from tansu_spark.lake.maintain import compact_topic, retention_sweep

BASE = datetime.datetime(2026, 1, 1, 12, 0, 0)


@pytest.fixture()
def broker(spark, tmp_path):
    return Broker(spark, str(tmp_path / "store"))


# ---------------------------------------------------------------- empty topic
def test_empty_topic_fetch_and_offsets(broker):
    broker.create_topic("e", partitions=3)
    df = broker.fetch("e")
    assert df.rdd.getNumPartitions() == 0  # no tasks, no Python workers
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "partition", "offset", "timestamp", "key", "value",
        "headers", "txn_id", "control",
    ]
    assert broker.list_offsets("e", "latest") == {0: 0, 1: 0, 2: 0}
    assert broker.list_offsets("e", "earliest") == {0: 0, 1: 0, 2: 0}
    # timestamp lookup on an empty topic: no partition has a record past
    # any ts — empty dict, not an error
    assert broker.list_offsets("e", 1_700_000_000_000) == {}
    assert broker.fetch("e", isolation="read_committed").count() == 0


def test_empty_topic_maintenance_is_noop(broker):
    broker.create_topic("e2", partitions=2, config={"cleanup.policy": "compact"})
    assert compact_topic(broker, "e2") == 0
    broker.alter_topic("e2", {"cleanup.policy": "delete"})
    assert retention_sweep(broker, "e2") == 0
    assert broker.list_offsets("e2", "latest") == {0: 0, 1: 0}


# --------------------------------------------------------- epoch-ms timestamp
def test_list_offsets_accepts_epoch_millis(broker):
    broker.create_topic("ts", partitions=1)
    broker.produce_rows(
        "ts",
        [
            {"key": "a", "value": "v0", "timestamp": BASE},
            {"key": "b", "value": "v1",
             "timestamp": BASE + datetime.timedelta(minutes=5)},
        ],
    )
    ms = int((BASE + datetime.timedelta(minutes=1)).timestamp() * 1000)
    # Kafka ListOffsets wire form: epoch milliseconds
    assert broker.list_offsets("ts", ms) == {0: 1}
    assert broker.list_offsets("ts", 0) == {0: 0}
    # a string timestamp still works
    assert broker.list_offsets("ts", "2026-01-01 12:01:00") == {0: 1}


# -------------------------------------------------------------- single record
def test_single_record_topic(broker):
    broker.create_topic("one", partitions=1)
    broker.produce_rows("one", [{"key": "k", "value": "v"}])
    assert broker.list_offsets("one", "latest") == {0: 1}
    assert broker.list_offsets("one", "earliest") == {0: 0}
    assert broker.fetch("one").count() == 1
    # fetch from beyond the high watermark: empty, not an error
    assert broker.fetch("one", partition=0, offset=99).count() == 0


# --------------------------------------------------------- one-partition skew
def test_all_records_one_partition(broker):
    broker.create_topic("skew", partitions=4)
    broker.produce_rows(
        "skew",
        [{"key": f"k{i}", "value": f"v{i}", "partition": 0} for i in range(20)],
    )
    marks = broker.list_offsets("skew", "latest")
    assert marks == {0: 20, 1: 0, 2: 0, 3: 0}
    offs = sorted(
        r["offset"]
        for r in broker.fetch("skew", partition=0).select("offset").collect()
    )
    assert offs == list(range(20))
    assert broker.fetch("skew", partition=3).count() == 0


# ------------------------------------------------------------------ 1 MB keys
def test_megabyte_keys_roundtrip_and_compact(broker):
    broker.create_topic("bigk", partitions=2, config={"cleanup.policy": "compact"})
    k1, k2 = "A" * (1 << 20), "B" * (1 << 20)
    broker.produce_rows(
        "bigk",
        [{"key": k1, "value": "v1"}, {"key": k2, "value": "v2"},
         {"key": k1, "value": "v1-new"}],
    )
    rows = broker.fetch("bigk").select("key", "value").collect()
    assert {bytes(r["key"])[:1].decode() for r in rows} == {"A", "B"}
    assert all(len(bytes(r["key"])) == (1 << 20) for r in rows)
    compact_topic(broker, "bigk")
    kept = {
        bytes(r["key"])[:1].decode(): bytes(r["value"]).decode()
        for r in broker.fetch("bigk").collect()
    }
    assert kept == {"A": "v1-new", "B": "v2"}


# ------------------------------------------------------------------ NULL keys
def test_null_keys_land_on_partition_zero(broker):
    broker.create_topic("nk", partitions=3)
    broker.produce_rows(
        "nk", [{"key": None, "value": "a"}, {"key": None, "value": "b"}]
    )
    rows = broker.fetch("nk").select("partition", "offset").collect()
    assert sorted((r["partition"], r["offset"]) for r in rows) == [(0, 0), (0, 1)]


def test_null_key_rejected_on_compacted_topic(broker):
    broker.create_topic("ck", partitions=1, config={"cleanup.policy": "compact"})
    with pytest.raises(Exception, match="INVALID_RECORD"):
        broker.produce_rows("ck", [{"key": None, "value": "x"}])
    # the failed batch must not have committed anything
    assert broker.list_offsets("ck", "latest") == {0: 0}
    assert broker.fetch("ck").count() == 0
    # non-null keys still produce fine afterwards
    broker.produce_rows("ck", [{"key": "k", "value": "v"}])
    assert broker.fetch("ck").count() == 1


# ------------------------------------------------------- all-aborted-txn topic
def test_all_aborted_txn_topic(broker):
    """The closest analog of 'every batch is a control batch': every
    record belongs to an aborted transaction. read_committed must see an
    EMPTY topic while read_uncommitted sees the raw log, and the LSO
    advances past the aborted ranges (Kafka LSO semantics: aborted data
    is filtered by range, not by holding the frontier back)."""
    broker.create_topic("ab", partitions=1)
    pid, ep = broker.init_producer_id("tx-a")
    broker.produce_rows(
        "ab", [{"key": "k1", "value": "v1"}],
        producer_id=pid, producer_epoch=ep, base_sequence=0, txn_id="tx-a",
    )
    broker.end_transaction("tx-a", commit=False)
    pid2, ep2 = broker.init_producer_id("tx-b")
    broker.produce_rows(
        "ab", [{"key": "k2", "value": "v2"}],
        producer_id=pid2, producer_epoch=ep2, base_sequence=0, txn_id="tx-b",
    )
    broker.end_transaction("tx-b", commit=False)
    assert broker.fetch("ab", isolation="read_committed").count() == 0
    assert broker.fetch("ab", isolation="read_uncommitted").count() == 2
    assert broker.last_stable_offsets("ab") == {0: 2}
    # compaction over an all-aborted log must not resurrect anything
    broker.alter_topic("ab", {"cleanup.policy": "compact"})
    compact_topic(broker, "ab")
    assert broker.fetch("ab", isolation="read_committed").count() == 0


# ------------------------------------------------- compaction with nothing to do
def test_compaction_all_unique_keys_removes_nothing(broker):
    broker.create_topic("uq", partitions=2, config={"cleanup.policy": "compact"})
    broker.produce_rows(
        "uq", [{"key": f"k{i}", "value": f"v{i}"} for i in range(10)]
    )
    assert compact_topic(broker, "uq") == 0
    rows = broker.fetch("uq").select("key", "value").collect()
    assert len(rows) == 10
    assert {bytes(r["key"]).decode() for r in rows} == {f"k{i}" for i in range(10)}


# ------------------------------------------------ interval join, one side empty
def _view(df):
    return df.select(
        F.col("key").cast("string").alias("user"),
        F.col("timestamp").alias("ts"),
        F.col("value").cast("string").alias("tag"),
    )


def test_interval_join_empty_side(spark, broker, tmp_path):
    from tansu_spark.streaming.join import interval_join, stream_interval_join
    from tansu_spark.streaming.source import topic_stream

    broker.create_topic("clicks", partitions=1)
    broker.create_topic("buys", partitions=1)
    broker.produce_rows(
        "clicks",
        [{"key": "u1", "value": "c0", "timestamp": BASE},
         {"key": "u2", "value": "c1",
          "timestamp": BASE + datetime.timedelta(minutes=1)}],
    )
    # batch twin: inner join with an empty right side is empty; left_outer
    # pads every left row with NULLs
    left, right = _view(broker.records("clicks")), _view(broker.records("buys"))
    assert interval_join(left, right, key="user", l_ts="ts", r_ts="ts").count() == 0

    # streaming: empty right side (topic exists, zero segments) — the
    # availableNow replay terminates with zero output rows, no hang/error
    joined = stream_interval_join(
        _view(topic_stream(broker, "clicks")),
        _view(topic_stream(broker, "buys")),
        key="user", l_ts="ts", r_ts="ts",
        lower="0 seconds", upper="5 minutes", watermark="10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("hostile_sjoin")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT * FROM hostile_sjoin").count() == 0


# ----------------------------------------------------- lake snapshot edges
def test_lake_snapshot_edges(spark, tmp_path):
    from tansu_spark.lake.maintain import compact_table
    from tansu_spark.lake.snapshots import (
        clone_shallow,
        commit_snapshot,
        expire_snapshots,
        read_snapshot,
        restore_version,
    )

    d = str(tmp_path / "t")
    # never-committed table: read and clone both fail descriptively
    with pytest.raises(FileNotFoundError, match="no snapshots"):
        read_snapshot(spark, d)
    with pytest.raises(FileNotFoundError, match="no snapshots"):
        clone_shallow(d, str(tmp_path / "c"))
    # compact of an empty directory table: no-op, no error
    import os

    d2 = str(tmp_path / "e")
    os.makedirs(d2)
    assert compact_table(spark, d2, target_bytes=1 << 30) == {}

    spark.range(5).write.mode("append").parquet(d)
    commit_snapshot(d)
    # expire keeping more versions than exist: deletes nothing
    assert expire_snapshots(d, keep_last=10) == 0
    assert read_snapshot(spark, d).count() == 5
    # restore TO the live version: commits a new identical version
    assert restore_version(d, 0) == 1
    assert read_snapshot(spark, d).count() == 5
    assert sorted(r["id"] for r in read_snapshot(spark, d, 0).collect()) == \
        sorted(r["id"] for r in read_snapshot(spark, d, 1).collect())
    # restore to an unknown version: names the available ones
    with pytest.raises(KeyError, match="have \\[0, 1\\]"):
        restore_version(d, 99)


# ----------------------------------------------- coordinator unknown entities
def test_coordinator_unknown_entities_do_not_materialize(broker):
    """Kafka contract: describe/heartbeat/leave against an UNKNOWN group
    answer Dead/UNKNOWN_MEMBER_ID and must NOT create the group (r10
    find: read-only probes were materializing phantom groups — a
    monitoring tool describing groups would create them)."""
    from tansu_spark.broker.coordinator import ErrorCode, GroupCoordinator

    c = GroupCoordinator(broker)
    assert c.describe("ghost")["state"] == "Dead"
    assert c.heartbeat("ghost", 0, "nobody") == ErrorCode.UNKNOWN_MEMBER_ID
    assert c.leave("ghost", member_id="nobody") == [
        ("nobody", ErrorCode.UNKNOWN_MEMBER_ID)
    ]
    assert c.delete_groups(["ghost"]) == [
        ("ghost", ErrorCode.GROUP_ID_NOT_FOUND)
    ]
    # none of the probes created state
    assert [g["group_id"] for g in c.list_groups()] == []
    # unknown-group offset fetch through the broker: empty, not an error
    assert broker.fetch_offsets("ghost", "any-topic") == {}

    # a real group still forms normally afterwards
    r = c.join("real", protocols=[("range", b"")])
    assert r["error"] == ErrorCode.MEMBER_ID_REQUIRED or r.get("member_id")
