"""Broker segment-offset pruning: a tail fetch must open only the
segments whose footer offset range reaches the requested offset, while
returning exactly the rows an unpruned scan would."""

from __future__ import annotations

import json
import os

from tansu_spark.broker.broker import Broker


def _mk_broker(spark, tmp_path) -> Broker:
    b = Broker(spark, str(tmp_path / "store"))
    b.create_topic("t", partitions=1)
    return b


def _produce_batches(b: Broker, n_batches: int, rows_per: int) -> None:
    for i in range(n_batches):
        b.produce_rows(
            "t",
            [
                {"key": f"k{i}-{j}", "value": f"v{i}-{j}"}
                for j in range(rows_per)
            ],
        )


def test_tail_fetch_scans_fewer_files(spark, tmp_path):
    b = _mk_broker(spark, tmp_path)
    _produce_batches(b, 5, 10)  # offsets 0..49 across >= 5 segment files

    manifest = json.load(open(b._segment_stats_path("t")))
    assert len(manifest["files"]) >= 5
    for st in manifest["files"].values():
        lo, hi = st["offset"]
        assert lo is not None and 0 <= lo <= hi <= 49

    tail = b.fetch("t", partition=0, offset=40)
    rows = tail.collect()
    assert sorted(r["offset"] for r in rows) == list(range(40, 50))
    # The pruned scan must open only the tail segment(s), not all five.
    n_scanned = len(tail.inputFiles())
    assert 0 < n_scanned < 5

    # offset=0 goes through the same pruning (every segment reaches 0).
    assert b.fetch("t", partition=0, offset=0).count() == 50


def test_pruning_is_advisory_after_rewrite(spark, tmp_path):
    """Files unknown to the manifest are always scanned: nuke the manifest
    entries, fetch must still see everything."""
    b = _mk_broker(spark, tmp_path)
    _produce_batches(b, 3, 10)
    p = b._segment_stats_path("t")
    json.dump({"files": {}}, open(p, "w"))
    rows = b.fetch("t", partition=0, offset=25).collect()
    assert sorted(r["offset"] for r in rows) == list(range(25, 30))


def test_compaction_refreshes_manifest(spark, tmp_path):
    from tansu_spark.lake.maintain import compact_topic

    b = Broker(spark, str(tmp_path / "store"))
    b.create_topic("t", partitions=1, config={"cleanup.policy": "compact"})
    # Same keys twice: compaction keeps the max-offset copy of each.
    for _ in range(2):
        b.produce_rows("t", [{"key": f"k{j}", "value": "x"} for j in range(8)])
    removed = compact_topic(b, "t")
    assert removed == 8
    manifest = json.load(open(b._segment_stats_path("t")))
    files_on_disk = {
        os.path.relpath(os.path.join(r, n), b._data_dir("t"))
        for r, _d, ns in os.walk(b._data_dir("t"))
        for n in ns
        if n.endswith(".parquet")
    }
    assert set(manifest["files"]) == files_on_disk
    rows = b.fetch("t", partition=0, offset=8).collect()
    assert sorted(r["offset"] for r in rows) == list(range(8, 16))


def test_wide_fetch_starts_no_listing_job(spark, tmp_path):
    """Over 32 surviving segments, fetch scans their partition
    directories: Spark would list more than 32 explicit paths in a job."""
    b = Broker(spark, str(tmp_path / "store"))
    b.create_topic("t", partitions=3)
    for i in range(12):  # 36 segments, 12 per partition
        b.produce_rows("t", [{"key": f"k{j}", "value": "v", "partition": j % 3} for j in range(6)])
    sc = spark.sparkContext
    sc.setJobGroup("fetch-plan", "fetch planning")
    try:
        whole, tail = b.fetch("t"), b.fetch("t", offset=1)
        assert sc.statusTracker().getJobIdsForGroup("fetch-plan") == []
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert whole.count() == 72
    assert tail.count() == 69


def test_fetch_relists_when_a_listed_segment_vanishes(spark, tmp_path):
    """A segment removed between the listing and Spark resolving the
    path (a raced scrub or rewrite) makes fetch list again, not fail."""
    b = _mk_broker(spark, tmp_path)
    _produce_batches(b, 3, 10)
    scan, calls = b._scan, []

    def racing_scan(data, paths):
        calls.append(paths)
        if len(calls) == 1:
            paths = [*paths, os.path.join(data, "partition=0", "gone.parquet")]
        return scan(data, paths)

    b._scan = racing_scan
    rows = b.fetch("t", partition=0, offset=5).collect()
    assert sorted(r["offset"] for r in rows) == list(range(5, 30))
    assert len(calls) == 2
