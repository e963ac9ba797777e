"""Lake sink + maintenance tests: config-driven materialization, schema
migration, incremental store, compaction, Z-order, retention, vacuum."""

from __future__ import annotations

import contextlib
import json
import os
import uuid

import duckdb
import pytest

from pyspark.sql import functions as F

from tansu_spark.broker import Broker
from tansu_spark.lake import LakeSink, compact_table, vacuum, zorder_table
from tansu_spark.lake import maintain
from tansu_spark.lake.maintain import Maintainer, compact_topic, retention_sweep
from tansu_spark.registry import SchemaRegistry

SCHEMA_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "schemas")


@pytest.fixture()
def stack(spark, tmp_path):
    broker = Broker(spark, str(tmp_path / "store"), registry=SchemaRegistry(SCHEMA_DIR))
    sink = LakeSink(broker, str(tmp_path / "lake"))
    return broker, sink


def _produce_people(broker, n, start=0):
    broker.produce_rows(
        "person",
        [
            {
                "key": f"{i % 50:03d}-45-6789",
                "value": f'{{"firstName":"f{i}","lastName":"l{i}","age":{i % 90}}}',
            }
            for i in range(start, start + n)
        ],
    )


def test_store_partitioned_generated_normalized(stack, tmp_path):
    broker, sink = stack
    broker.create_topic(
        "person",
        partitions=2,
        config={
            "tansu.lake.partition": "meta.year",
            "tansu.lake.generate.age_band": "cast(floor(value.age / 10) * 10 as int)",
            "tansu.lake.normalize": "true",
            "tansu.lake.normalize.separator": "_",
        },
    )
    _produce_people(broker, 20)
    assert sink.store("person") == 20
    lake = sink.read("person")
    # normalized names, generated column, hive partition col
    assert "value_firstName" in lake.columns
    assert "age_band" in lake.columns
    assert "meta_year" in lake.columns
    assert lake.count() == 20
    # partition directory layout on disk
    tdir = sink.table_dir("person")
    assert any(e.startswith("meta_year=") for e in os.listdir(tdir))
    # DuckDB reads the lake (reference e2e oracle, README.md:163)
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{tdir}/meta_year=*/*.parquet')"
    ).fetchone()[0]
    assert n == 20


def test_incremental_store_and_sink_toggle(stack):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 5)
    assert sink.store("person") == 5
    assert sink.store("person") == 0  # nothing new
    _produce_people(broker, 3, start=5)
    assert sink.store("person") == 3
    assert sink.read("person").count() == 8
    # tansu.lake.sink=false → no materialization
    broker.create_topic("quiet", partitions=1, config={"tansu.lake.sink": "false"})
    broker.produce_rows("quiet", [{"key": "a", "value": "b"}])
    assert sink.store("quiet") == 0


def test_schema_migration_add_only(stack, spark):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 2)
    sink.store("person")
    # add-only: a new column in later files is fine via mergeSchema
    sink._migrate_schema("person", spark.range(1).select(F.lit(1).alias("extra")).schema)
    # type change is rejected
    with pytest.raises(ValueError, match="add-only"):
        sink._migrate_schema(
            "person", spark.range(1).select(F.lit("s").alias("extra")).schema
        )


def test_compact_table_merges_small_files(stack, spark):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    for i in range(4):  # 4 produce calls → ≥4 files
        _produce_people(broker, 3, start=3 * i)
        sink.store("person")
    tdir = sink.table_dir("person")
    before = sum(f.endswith(".parquet") for f in os.listdir(tdir))
    assert before >= 4
    stats = compact_table(spark, tdir)
    after = sum(f.endswith(".parquet") for f in os.listdir(tdir))
    assert after == 1 and sum(stats.values()) == before - 1
    assert sink.read("person").count() == 12  # no rows lost


def test_zorder_rewrite_preserves_rows(stack, spark, sf_dir):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 40)
    sink.store("person")
    tdir = sink.table_dir("person")
    before = sink.read("person").count()
    zorder_table(spark, tdir, ["offset", "partition"], bits=4)
    after = sink.read("person")
    assert after.count() == before
    # rewrite kept every (partition, offset) pair exactly once
    assert after.select("partition", "offset").distinct().count() == before


def test_retention_and_log_compaction(stack, spark):
    import datetime, time

    broker, _ = stack
    old = datetime.datetime(2024, 1, 1)
    new = datetime.datetime.utcnow()
    broker.create_topic("t", partitions=1, config={"retention.ms": "86400000"})
    broker.produce_rows(
        "t",
        [{"key": "a", "value": "old1", "timestamp": old},
         {"key": "b", "value": "old2", "timestamp": old},
         {"key": "a", "value": "new1", "timestamp": new}],
    )
    assert retention_sweep(broker, "t") == 2
    assert broker.fetch("t").count() == 1
    assert broker.list_offsets("t", "earliest") == {0: 2}

    broker.create_topic("c", partitions=1, config={"cleanup.policy": "compact"})
    broker.produce_rows(
        "c", [{"key": "k1", "value": "v1"}, {"key": "k1", "value": "v2"},
              {"key": "k2", "value": "v3"}]
    )
    assert compact_topic(broker, "c") == 1
    rows = {r.key: r.value for r in broker.fetch("c").collect()}
    assert rows == {b"k1": b"v2", b"k2": b"v3"}  # latest-per-key survives


@contextlib.contextmanager
def _job_ids(spark):
    """Collects the ids of the Spark jobs started inside the block (and
    by threads that inherit its local properties)."""
    sc, group, ids = spark.sparkContext, f"jobs-{uuid.uuid4().hex}", []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_retention_sweep_keeps_delete_records_low(stack):
    """A sweep with nothing expired must not move the low watermark back
    below a DeleteRecords cut to the first physical offset."""
    broker, _ = stack
    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", [{"key": f"k{i}", "value": "v"} for i in range(10)])
    assert broker.delete_records("t", {0: 5}) == {0: 5}
    assert retention_sweep(broker, "t") == 0
    assert broker.list_offsets("t", "earliest") == {0: 5}
    assert sorted(r["offset"] for r in broker.fetch("t").collect()) == list(range(5, 10))


def test_negative_retention_is_unlimited(stack, spark):
    """retention.ms=-1 is Kafka's "no time limit": the sweep deletes
    nothing and starts no Spark job."""
    broker, _ = stack
    broker.create_topic("t", partitions=1, config={"retention.ms": "-1"})
    broker.produce_rows("t", [{"key": f"k{i}", "value": "v"} for i in range(10)])
    with _job_ids(spark) as jobs:
        assert retention_sweep(broker, "t") == 0
    assert jobs == []
    assert broker.list_offsets("t", "earliest") == {0: 0}
    assert broker.fetch("t").count() == 10


def test_maintainer_tick_decides_retention_in_one_aggregate(stack, spark, monkeypatch):
    """Retention over an 8-partition topic with nothing expired is one
    grouped aggregate (at most 2 jobs), not a job chain per partition
    directory; the lake table's 4 bucket directories are compacted in
    the same tick."""
    broker, sink = stack
    broker.create_topic("person", partitions=8, config={"tansu.lake.partition": "bucket(4, key)"})
    for i in range(3):
        _produce_people(broker, 40, start=40 * i)
        sink.store("person")
    table = sink.table_dir("person")
    assert len([d for d in os.listdir(table) if d.startswith("key_bucket=")]) == 4
    jobs: list[int] = []

    def traced_sweep(*a, **kw):
        with _job_ids(spark) as ids:
            out = retention_sweep(*a, **kw)
        jobs.extend(ids)
        return out

    monkeypatch.setattr(maintain, "retention_sweep", traced_sweep)
    report = Maintainer(broker, sink).tick()
    assert report["person"]["deleted"] == 0
    assert report["person"]["compact_files"] > 0
    assert 1 <= len(jobs) <= 2, jobs
    assert sink.read("person").count() == 120


def test_multi_directory_compaction_keeps_every_version(stack, spark):
    """Compaction of a 4-directory table with a snapshot manifest: every
    earlier version reads back unchanged, one optimize-compact version is
    committed, field ids survive and no staging directory is left."""
    from tansu_spark.lake.snapshots import load_manifest, read_snapshot

    broker, sink = stack
    broker.create_topic("person", partitions=2, config={"tansu.lake.partition": "bucket(4, key)"})
    table = sink.table_dir("person")

    def rows(v=None):
        return sorted(read_snapshot(spark, table, v).toJSON().collect())

    versions = {}
    for i in range(3):
        _produce_people(broker, 40, start=40 * i)
        sink.store("person")
        v = load_manifest(table)["versions"][-1]["v"]
        versions[v] = rows(v)
    n_versions = len(load_manifest(table)["versions"])

    stats = compact_table(spark, table)
    assert len(stats) == 4, stats
    for d in stats:
        assert sum(f.endswith(".parquet") for f in os.listdir(d)) == 1, d
    doc = load_manifest(table)
    assert len(doc["versions"]) == n_versions + 1
    assert doc["versions"][-1]["operation"] == "optimize-compact"
    for v, want in versions.items():
        assert rows(v) == want, v
    assert rows() == versions[max(versions)]
    ids = json.load(open(os.path.join(table, "_field_ids.json")))
    for footer in _footer_field_ids(table):
        assert footer and all(ids[name] == fid for name, fid in footer.items()), footer
    assert not [
        d for _root, dirs, _files in os.walk(table) for d in dirs if d.startswith("_rewrite-")
    ]


def test_zorder_binds_each_directory_file_count(spark, tmp_path):
    """Two directories needing different file counts each get their own:
    the staged transforms must not share one late-bound count."""
    table = str(tmp_path / "z")
    spark.range(0, 4000).selectExpr(
        "0 AS k", "id AS a", "id * 7 % 1000 AS b", "uuid() AS pad"
    ).unionByName(
        spark.range(0, 20).selectExpr("1 AS k", "id AS a", "id AS b", "uuid() AS pad")
    ).coalesce(1).write.partitionBy("k").parquet(table)
    big, small = (os.path.join(table, f"k={k}") for k in (0, 1))

    def size(d):
        return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet"))

    target = size(big) // 2 + 1
    assert size(small) <= target
    assert zorder_table(spark, table, ["a", "b"], bits=4, target_bytes=target) == 2

    def files(d):
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert (len(files(big)), len(files(small))) == (2, 1)
    assert spark.read.parquet(table).groupBy("k").count().orderBy("k").collect() == [
        (0, 4000), (1, 20),
    ]


def test_failed_stage_changes_no_live_file(spark, tmp_path):
    """A rewrite whose stage fails in a Spark task leaves every directory
    as it was, staged output of the others included."""
    table = str(tmp_path / "f")
    for _ in range(2):
        spark.range(0, 10).selectExpr("id % 2 AS k", "id").write.mode("append").partitionBy(
            "k"
        ).parquet(table)
    dirs = maintain._partition_dirs(table)
    before = {d: sorted(os.listdir(d)) for d in dirs}

    def boom(df):
        return df.select(F.raise_error(F.lit("stage failed")).alias("id"))

    with pytest.raises(Exception, match="stage failed"):
        maintain._rewrite_dirs(spark, {dirs[0]: (None, 1), dirs[1]: (boom, 1)})
    assert {d: sorted(os.listdir(d)) for d in dirs} == before


def test_maintainer_tick_overlap_protected(stack):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 4)
    sink.store("person")
    m = Maintainer(broker, sink)
    report = m.tick()
    assert "person" in report
    m._running = True  # simulate in-flight sweep
    assert m.tick() == {}  # skipped, per broker.rs:242-258


def test_vacuum_removes_stale_rewrite_dirs(stack, tmp_path):
    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 2)
    sink.store("person")
    tdir = sink.table_dir("person")
    stale = os.path.join(tdir, "_rewrite-deadbeef")
    os.makedirs(stale)
    os.utime(stale, (0, 0))
    assert vacuum(tdir) == 1
    assert not os.path.exists(stale)


def test_stats_pruned_read_skips_files(spark, tmp_path):
    """Range-sorted writes + stats manifest: a narrow predicate must scan
    strictly fewer files than the table holds, with results identical to
    the full-scan filter."""
    from tansu_spark.lake.stats import collect_stats, pruned_read, prune_files

    table = str(tmp_path / "tbl")
    # 4 range-disjoint files on `k` (what zorder/compaction produces).
    for lo in (0, 100, 200, 300):
        spark.range(lo, lo + 100).selectExpr(
            "id AS k", "id * 2 AS v"
        ).coalesce(1).write.mode("append").parquet(table)
    collect_stats(spark, table, ["k"])

    files, skipped = prune_files(table, {"k": (120, 180)})
    assert skipped == 3 and len(files) == 1

    got = pruned_read(spark, table, {"k": (120, 180)})
    assert len(got.inputFiles()) == 1
    expect = spark.read.parquet(table).filter("k between 120 and 180")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in expect.collect()
    )

    # Disjoint predicate: zero files, schema-preserving empty frame.
    empty = pruned_read(spark, table, {"k": (1000, 2000)})
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_stats_pruning_is_advisory_not_correctness(spark, tmp_path):
    """A file missing from the manifest is always scanned — a stale
    manifest can cost speed, never rows."""
    from tansu_spark.lake.stats import collect_stats, pruned_read

    table = str(tmp_path / "tbl2")
    spark.range(0, 50).selectExpr("id AS k").coalesce(1).write.mode(
        "append"
    ).parquet(table)
    collect_stats(spark, table, ["k"])
    # New data lands AFTER stats collection.
    spark.range(50, 100).selectExpr("id AS k").coalesce(1).write.mode(
        "append"
    ).parquet(table)
    got = pruned_read(spark, table, {"k": (60, 70)})
    assert sorted(r["k"] for r in got.collect()) == list(range(60, 71))


def test_maintainer_refreshes_stats_manifest(stack):
    from tansu_spark.lake.stats import collect_stats, load_stats

    broker, sink = stack
    broker.create_topic("person", partitions=1)
    _produce_people(broker, 10)
    sink.store("person")
    table = sink.table_dir("person")
    collect_stats(broker.spark, table, ["offset"])
    before = load_stats(table)["created_at"]
    Maintainer(broker, sink).tick()
    after = load_stats(table)["created_at"]
    assert after > before  # manifest rebuilt over the rewritten files


def test_partition_transforms_route_files(spark, tmp_path):
    """Hidden partitioning: bucket/day transforms in tansu.lake.partition
    route files into derived directories; readers reconstruct the routing
    from the data alone (transform is deterministic)."""
    import os

    from tansu_spark.broker import Broker
    from tansu_spark.lake.sink import LakeSink, _split_specs

    assert _split_specs("bucket(8, key), day(ts), region") == [
        "bucket(8, key)", "day(ts)", "region",
    ]

    broker = Broker(spark, str(tmp_path / "store"))
    broker.create_topic(
        "b",
        partitions=1,
        config={"tansu.lake.partition": "bucket(4, key)"},
    )
    broker.produce_rows("b", [{"key": f"k{i}", "value": f"v{i}"} for i in range(20)])
    sink = LakeSink(broker, str(tmp_path / "lake"))
    assert sink.store("b") == 20

    table = sink.table_dir("b")
    dirs = sorted(d for d in os.listdir(table) if d.startswith("key_bucket="))
    assert 1 < len(dirs) <= 4, dirs
    back = spark.read.parquet(table)
    assert back.count() == 20
    # the routing is reproducible from the data: recompute and compare
    got = {(bytes(r["key"]).decode(), r["key_bucket"]) for r in back.collect()}
    from tansu_spark.functions.sampling import hash_bucket
    from pyspark.sql import functions as F

    expect_df = spark.createDataFrame([(f"k{i}",) for i in range(20)], "key string")
    nib8 = F.substring(hash_bucket("key", 0), 1, 8)
    expect = {
        (r["key"], r["b"])
        for r in expect_df.select(
            "key", (F.conv(nib8, 16, 10).cast("long") % 4).cast("int").alias("b")
        ).collect()
    }
    assert got == expect


def test_truncate_transform_negative_numbers(spark):
    """Iceberg truncate floors toward -inf for negatives: -7 at width 10
    lands in band -10, not 0."""
    from tansu_spark.lake.sink import LakeSink

    df = spark.createDataFrame([(-7,), (-10,), (3,), (19,)], "v long")
    col, alias = LakeSink.partition_transform("truncate(10, v)", df)
    got = {r["v"]: r["t"] for r in df.select("v", col.alias("t")).collect()}
    assert got == {-7: -10, -10: -10, 3: 0, 19: 10}
    assert alias == "v_trunc"


def test_lake_runtime_gate_skip_report(stack):
    """VERDICT r2 #6: the Delta/Iceberg 'partial' status (SURVEY §2.1
    S4/S5) as a machine check — in THIS container the gate must raise
    cleanly and name every missing piece; with the runtimes installed
    the same test self-reports the gate as open (skip) and the sink
    writes natively."""
    from tansu_spark.lake.sink import (
        LakeRuntimeUnavailable,
        lake_runtime_status,
        require_lake_runtime,
    )

    broker, sink = stack
    spark = sink.spark

    ok, missing = lake_runtime_status(spark, "parquet")
    assert ok and missing == []  # parquet is Spark-native, never gated

    for fmt, expect_words in (
        ("delta", ["delta-spark", "DeltaSparkSessionExtension"]),
        ("iceberg", ["iceberg-spark-runtime", "SparkCatalog"]),
    ):
        ok, missing = lake_runtime_status(spark, fmt)
        if ok:
            pytest.skip(f"{fmt} runtime present in this environment — "
                        "gate open, native write path active")
        assert missing, fmt
        with pytest.raises(LakeRuntimeUnavailable) as ei:
            require_lake_runtime(spark, fmt)
        for word in expect_words:
            assert word in str(ei.value), (fmt, word, str(ei.value))

    # a topic configured for a gated format fails at store(), by name,
    # BEFORE writing anything
    broker.create_topic(
        "gated", config={"tansu.schema.validation": "false",
                          "tansu.lake.format": "delta"}
    )
    broker.produce_rows("gated", [{"key": "k", "value": "v"}])
    with pytest.raises(LakeRuntimeUnavailable):
        sink.store("gated")
    assert not os.path.exists(sink.table_dir("gated"))

    # unknown format names are rejected too
    ok, missing = lake_runtime_status(spark, "hudi")
    assert not ok and "unknown lake format" in missing[0]


def test_full_lifecycle_produce_validate_store_travel_maintain(stack, spark, tmp_path):
    """The reference's ONE composed lifecycle — produce → schema-validate
    → lake store → time travel → maintenance (pg.rs:760-991 +
    delta.rs:670-747) — exercised end-to-end through the public API in a
    single flow, with the DuckDB read-back oracle at the end. The stage
    queries each have their own tests; this catches cross-stage contract
    drift (e.g. a store() that breaks snapshots, a compaction that
    breaks time travel)."""
    broker, sink = stack
    from tansu_spark.lake.snapshots import load_manifest, read_snapshot

    # 1. schema-backed topic with generated columns + partitioning
    broker.create_topic(
        "person",
        partitions=1,
        config={
            "tansu.lake.partition": "meta.year",
            "tansu.lake.generate.age_band": "cast(floor(value.age / 10) * 10 as int)",
        },
    )

    # 2. validated produce (registry accepts), invalid batch rejected
    _produce_people(broker, 20)
    with pytest.raises(Exception):
        broker.produce_rows("person", [{"key": "bad", "value": "{notjson"}])
    assert broker.list_offsets("person", "latest") == {0: 20}  # reject left no gap

    # 3. first store -> snapshot v1
    n1 = sink.store("person")
    assert n1 == 20
    table = sink.table_dir("person")
    v_first = load_manifest(table)["versions"][-1]["v"]

    # 4. second batch, incremental store -> snapshot v2 with both batches
    _produce_people(broker, 15, start=20)
    assert sink.store("person") == 15
    assert sink.store("person") == 0  # exactly-once frontier
    assert sink.read("person").count() == 35

    # 5. time travel: the first snapshot still reads exactly batch one
    assert read_snapshot(spark, table, v_first).count() == 20

    # 6. maintenance: compaction rewrite preserves rows AND history
    compact_table(spark, table)
    assert sink.read("person").count() == 35
    assert read_snapshot(spark, table, v_first).count() == 20

    # 7. vacuum the relocated pre-compaction files past retention; the
    #    LIVE table is untouched
    vacuum(table, max_age_seconds=0.0)
    assert sink.read("person").count() == 35

    # 8. the end-to-end oracle: DuckDB reads the LIVE table directly
    #    (partition dirs only — the _history subtree holds the relocated
    #    pre-compaction files time travel still needs)
    glob = f"{table}/meta_year=*/*.parquet"
    n = duckdb.sql(
        f"SELECT count(*) FROM parquet_scan('{glob}', hive_partitioning=1)"
    ).fetchone()[0]
    assert n == 35
    bands = duckdb.sql(
        f"SELECT DISTINCT age_band FROM parquet_scan('{glob}', "
        "hive_partitioning=1) ORDER BY 1"
    ).fetchall()
    assert [b[0] for b in bands] == [0, 10, 20, 30]


def test_field_ids_assignment_mirrors_reference(spark):
    """Level-order per record, then depth-first descent; arrays reserve
    an id for the list element, maps for entries/keys/values
    (avro.rs:260-327 field_ids)."""
    from pyspark.sql.types import StructType

    from tansu_spark.lake.field_ids import assign_field_ids

    schema = StructType.fromDDL(
        "offset long, key string, meta struct<x: double>, "
        "headers array<struct<k:string,v:binary>>, counts map<string,long>"
    )
    assert assign_field_ids(schema) == {
        "offset": 1, "key": 2, "meta": 3, "headers": 4, "counts": 5,
        "meta.x": 6,
        "headers.item": 7, "headers.item.k": 8, "headers.item.v": 9,
        "counts.entries": 10, "counts.entries.keys": 11,
        "counts.entries.values": 12,
    }
    # stability: existing paths keep their ids, new paths continue
    evolved = StructType.fromDDL(
        "offset long, key string, meta struct<x: double, y: long>, "
        "headers array<struct<k:string,v:binary>>, counts map<string,long>, "
        "extra string"
    )
    ids2 = assign_field_ids(evolved, assign_field_ids(schema))
    assert ids2["offset"] == 1 and ids2["meta.x"] == 6  # unchanged
    assert ids2["extra"] == 13 and ids2["meta.y"] == 14  # fresh, appended


def _footer_field_ids(tdir):
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True))
    assert files, tdir
    out = []
    for f in files:
        sch = pq.read_schema(f)
        out.append(
            {
                fld.name: int(fld.metadata[b"PARQUET:field_id"])
                for fld in sch
                if fld.metadata and b"PARQUET:field_id" in fld.metadata
            }
        )
    return out


def test_field_ids_on_lake_writes_and_rewrites(stack, spark):
    """VERDICT r5 ask #5: PARQUET:field_id footer metadata on every lake
    write (json/arrow.rs:70-78), stable through add-only migration and
    compaction rewrites (the Iceberg id-matching invariant)."""
    import json

    broker, sink = stack
    broker.create_topic("person", partitions=1)
    for i in range(3):
        _produce_people(broker, 3, start=3 * i)
        sink.store("person")
    tdir = sink.table_dir("person")
    footers = _footer_field_ids(tdir)
    ids = json.load(open(os.path.join(tdir, "_field_ids.json")))
    assert ids["offset"] >= 1
    for footer in footers:
        for name, fid in footer.items():
            assert ids[name] == fid, name
        # every top-level column carries its id
        assert set(footer) == {k for k in ids if "." not in k}, footer
    # add-only evolution: a new generated column gets a FRESH id; all
    # prior assignments survive verbatim
    broker.alter_topic("person", {"tansu.lake.generate.age2": "value.age * 2"})
    _produce_people(broker, 3, start=9)
    sink.store("person")
    ids2 = json.load(open(os.path.join(tdir, "_field_ids.json")))
    assert all(ids2[k] == v for k, v in ids.items())
    assert "age2" in ids2 and ids2["age2"] == max(ids.values()) + 1
    # compaction rewrite re-attaches ids (Spark's parquet read schema
    # drops them, so the rewrite path must re-apply from the table map)
    stats = compact_table(spark, tdir)
    assert stats, "compaction expected to merge the small files"
    for footer in _footer_field_ids(tdir):
        for name, fid in footer.items():
            assert ids2[name] == fid, name
        assert "offset" in footer and "key" in footer
