"""``ingest_replay``: the broker and lake write path, then the read path
over what was written.

Write phase. A schema-backed topic (JSON schema, 8 partitions, a lake
config with a bucket transform, a generated column, normalize and a
Delta log) takes seeded batches in blocks of ``BLOCK`` produce calls:
two small (~500 records) transactional batches, one committed and one
aborted, then one large (~10k); block 0 and every 12th block also start
with a batch that carries one invalid record and must be rejected whole.
Keys are Zipf-skewed and values are 100 B to 2 KiB of JSON. Each produce
is followed by a lake store and a ``read_committed`` tail consumer's
fetch and commit; each block ends with a MERGE of a seeded upsert batch
and one maintenance tick. Whole blocks run until two thirds of
``--seconds`` have passed.

Read phase. One transaction is left open and the log start of two
partitions is advanced. Then whole rounds of ``READ_ROUND`` run until
``--seconds`` have passed: fixed fetches of one partition (tail, middle
or earliest offset; either isolation; some with ``max_bytes``), a
consumer-group rebalance with a fetch and commit per member
partition, and lake reads (``read_snapshot`` of a middle version,
``read_via_delta_log``, and ``LakeSink.read`` with a seeded bucket
predicate).

The structure of both phases is fixed and the seed draws the records,
sizes, upserts and the predicate's bucket, so every seed does the same
work.

Every output is checked against in-process models: offsets, visibility
(last stable offset, aborted ranges, low watermark, byte budget), the
lake's versions and the merged table.

Broker produce, registry validation and the lake sink do most of their
work here and almost none in ``analytics``; batch size exposes per-call
overhead, the topic grows for the whole run, and the read phase shows
what a write-side change costs readers.
"""

from __future__ import annotations

import json
import os
import random
import struct
import time

from perfbench import gen, stats
from perfbench.core import col, dir_stats, layer_calls, spark_totals

TOPIC = "events"
PARTITIONS = 8
TOPIC_CONFIG = {**gen.LAKE_CONFIG, "tansu.lake.delta_log": "true"}
BLOCK = 3
GROUP = "tail"
MERGE_ROWS = 1_000
MERGE_KEYS = 20_000
MAX_BYTES = 32 * 1024
MEMBERS = 3
# One read round, in this order. The fetches are fixed (partition,
# offset, isolation, byte budget) tuples and the order is fixed, so every
# seed does the same work: a fetch's cost depends on how much of a
# partition it reads, on the aborted-range filter and on which paths ran
# before it, and seeded choices of these moved the round's median latency
# by 25-60% from seed to seed.
RC, RU = "read_committed", "read_uncommitted"
READ_FETCHES = [
    (0, "earliest", RC, None),
    (1, "tail", RU, None),
    (2, "middle", RC, MAX_BYTES),
    (3, "earliest", RU, MAX_BYTES),
    (4, "tail", RC, None),
    (5, "middle", RU, None),
    (6, "earliest", RC, None),
    (7, "tail", RU, MAX_BYTES),
    (0, "middle", RC, None),
]
READ_ROUND = [
    "fetch", "fetch", "fetch", "snapshot",
    "fetch", "fetch", "fetch", "rebalance", "delta_log",
    "fetch", "fetch", "fetch", "predicate",
]
LAKE_COLS = ["partition", "offset", "value_id"]
WRITE_SHARE = 2 / 3


def iceberg_bucket_long(v: int, n: int) -> int:
    """Iceberg's bucket transform of a long: murmur3_x86_32 (seed 0) of
    its 8-byte little-endian form, masked to non-negative, modulo n."""
    data = struct.pack("<q", v)
    h = 0
    for i in (0, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * 0xCC9E2D51) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * 0x1B873593) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 8
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return (h & 0x7FFFFFFF) % n


class IngestReplay:
    def __init__(self, run) -> None:
        from tansu_spark.broker import Broker
        from tansu_spark.broker.coordinator import GroupCoordinator
        from tansu_spark.lake import LakeSink
        from tansu_spark.lake.maintain import Maintainer
        from tansu_spark.lake.merge import MergeTable
        from tansu_spark.registry import SchemaRegistry

        self.run = run
        d = run.workdir
        os.makedirs(os.path.join(d, "schemas"))
        for topic in (TOPIC, "warmup"):
            with open(os.path.join(d, "schemas", f"{topic}.json"), "w") as fh:
                json.dump(gen.EVENT_SCHEMA, fh)
        self.broker = Broker(run.spark, os.path.join(d, "store"),
                             registry=SchemaRegistry(os.path.join(d, "schemas")))
        self.sink = LakeSink(self.broker, os.path.join(d, "lake"))
        self.maintainer = Maintainer(self.broker, self.sink)
        self.coordinator = GroupCoordinator(self.broker)
        self.table = MergeTable(run.spark, os.path.join(d, "merge"), ["id"], n_buckets=8)
        self.events = gen.Events(run.rng)
        # partition -> [(offset, key bytes, value bytes, txn id or None)]
        self.records: dict[int, list[tuple]] = {p: [] for p in range(PARTITIONS)}
        self.txns: dict[str, str] = {}  # txn id -> open | committed | aborted
        self.low = {p: 0 for p in range(PARTITIONS)}
        self.versions: dict[int, dict[int, int]] = {}  # lake version -> highs
        self.position = {p: 0 for p in range(PARTITIONS)}
        self.consumed: list[tuple[int, int]] = []
        self.model: dict[int, tuple] = {}
        self.files_rewritten = 0
        self.committed = 0  # records accepted by produce
        self.fetch_records = 0  # records returned by timed fetches
        self.groups = 0

    # ---------------------------------------------------------------- setup
    def setup(self) -> None:
        """Warm every path once on a throwaway topic, untimed by the ops;
        the table's first merge is its initial load, so measured merges
        all take the steady-state path."""
        from tansu_spark.registry import ValidationError

        b = self.broker
        b.create_topic("warmup", partitions=PARTITIONS, config=TOPIC_CONFIG)
        warm = gen.Events(random.Random(self.run.seed ^ 0x5EED), first_id=10**9)
        b.produce("warmup", b.rows_to_frame(warm.batch(50)), txn_id="warm")
        b.end_transaction("warm", commit=True)
        self.sink.store("warmup")
        b.fetch("warmup", partition=0, offset=0, isolation="read_committed").collect()
        b.commit_offsets("warm", {("warmup", 0): 1})
        try:
            b.produce("warmup", b.rows_to_frame(warm.batch(50, invalid_at=3)))
        except ValidationError:
            pass
        self.coordinator.run_rebalance("warm", {"c0": ["warmup"]})
        b.fetch("warmup", partition=0, offset=10, max_bytes=MAX_BYTES).collect()
        from tansu_spark.lake.delta_log import read_via_delta_log
        from tansu_spark.lake.snapshots import read_snapshot

        table = self.sink.table_dir("warmup")
        read_snapshot(self.run.spark, table, 0).select(*LAKE_COLS).collect()
        read_via_delta_log(self.run.spark, table).select(*LAKE_COLS).collect()
        self.sink.read("warmup").where("value_id_bucket = 0").select(*LAKE_COLS).collect()
        self._merge_changes()
        self.table.merge(self._changes_df)
        self._apply_model()
        b.delete_topic("warmup")
        b.create_topic(TOPIC, partitions=PARTITIONS, config=TOPIC_CONFIG)

    # ---------------------------------------------------------------- model
    def _state(self, txn: str | None) -> str:
        return "plain" if txn is None else self.txns[txn]

    def visible(self, p: int, offset: int, isolation: str, max_bytes: int | None) -> list[tuple]:
        """(offset, value) pairs a fetch must return."""
        recs = self.records[p]
        committed_only = isolation == "read_committed"
        bound = len(recs)
        if committed_only:
            opens = [r[0] for r in recs if self._state(r[3]) == "open"]
            bound = min(opens, default=bound)
        out = [
            r for r in recs
            if max(offset, self.low[p]) <= r[0] < bound
            and not (committed_only and self._state(r[3]) == "aborted")
        ]
        if max_bytes is not None:
            total, keep = 0, []
            for r in out:
                total += len(r[1]) + len(r[2])
                if total >= max_bytes:
                    break
                keep.append(r)
            out = keep
        return [(r[0], r[2]) for r in out]

    def lake_model(self, version: int, bucket: int | None = None) -> list[tuple]:
        """(partition, offset, id) rows of a lake version: every accepted
        record below the high watermark of the store that made it."""
        highs = self.versions[version]
        out = []
        for p, recs in self.records.items():
            for off, _k, val, _t in recs[: highs.get(p, 0)]:
                vid = json.loads(val)["id"]
                if bucket is None or iceberg_bucket_long(vid, 4) == bucket:
                    out.append((p, off, vid))
        return sorted(out)

    def _record_version(self) -> None:
        from tansu_spark.lake.snapshots import load_manifest

        doc = load_manifest(self.sink.table_dir(TOPIC))
        if doc and doc["versions"]:
            self.versions.setdefault(
                doc["versions"][-1]["v"], {p: len(r) for p, r in self.records.items()}
            )

    # ---------------------------------------------------------- write phase
    def _produce(self, rows: list[dict], kind: str, txn: str | None) -> bool:
        """One produce call of an accepted batch, checked against the
        model's offsets; returns whether it succeeded."""
        run, b = self.run, self.broker
        before = b.list_offsets(TOPIC, "latest")
        bases = None
        with run.op("produce"):
            with run.span("broker.rows_to_frame"):
                df = b.rows_to_frame(rows)
            with run.span("broker.produce") as s:
                v0 = _validate_ms() if run.traced else 0.0
                bases = b.produce(TOPIC, df, txn_id=txn)
                if s is not None:
                    s.attrs["validate_ms"] = _validate_ms() - v0
            if kind in ("commit", "abort"):
                with run.span("broker.end_transaction"):
                    b.end_transaction(txn, commit=kind == "commit")
        if bases is None:
            return False
        if txn is not None:
            self.txns[txn] = {"commit": "committed", "abort": "aborted"}.get(kind, "open")
        nxt = dict(before)
        for r in rows:
            p = r["partition"]
            self.records[p].append((nxt[p], r["key"].encode(), r["value"].encode(), txn))
            nxt[p] += 1
        run.check(
            all(bases[p] == before[p] for p in bases)
            and b.list_offsets(TOPIC, "latest") == nxt,
            "ingest: produce offsets not contiguous per partition",
        )
        self.committed += len(rows)
        return True

    def _reject(self, rows: list[dict]) -> None:
        """An invalid batch must be rejected whole: no segment, no
        watermark bump."""
        from tansu_spark.registry import ValidationError

        run, b = self.run, self.broker
        before = b.list_offsets(TOPIC, "latest")
        segments = dir_stats(b._data_dir(TOPIC))[0]
        run.attempted += 1
        try:
            with run.span("broker.produce_rejected"):
                b.produce(TOPIC, b.rows_to_frame(rows))
        except ValidationError:
            run.check(
                b.list_offsets(TOPIC, "latest") == before
                and dir_stats(b._data_dir(TOPIC))[0] == segments,
                "ingest: rejected batch left a segment or moved a watermark",
            )
        else:
            run.fail("ingest: batch with an invalid record was accepted")

    def _iteration(self, rows: list[dict], kind: str, n: int) -> None:
        run = self.run
        if kind == "invalid":
            self._reject(rows)
        else:
            t0 = time.perf_counter()
            txn = f"txn-{n}" if kind in ("commit", "abort") else None
            if self._produce(rows, kind, txn):
                self._store(t0)
        self._tail_fetch()

    def _store(self, t0: float | None = None) -> None:
        run = self.run
        with run.op("store"):
            with run.span("lake.store"):
                self.sink.store(TOPIC)
            if t0 is not None:
                run.latency.setdefault("freshness", []).append(time.perf_counter() - t0)
        self._record_version()

    def _tail_fetch(self) -> None:
        """The tail consumer polls the partition with the largest lag
        from its position, up to the last stable offset, and commits."""
        run, b = self.run, self.broker
        lso = b.last_stable_offsets(TOPIC)
        p = max(sorted(lso), key=lambda q: lso[q] - self.position[q])
        with run.op("fetch"):
            got = self._fetch(p, self.position[p], "read_committed", None)
            with run.span("broker.commit_offsets"):
                b.commit_offsets(GROUP, {(TOPIC, p): lso[p]})
            self.consumed.extend((p, off) for off, _v in got)
            self.position[p] = lso[p]

    def _fetch(self, p: int, offset: int, isolation: str, max_bytes: int | None) -> list:
        run = self.run
        with run.span("broker.fetch") as s:
            rows = self.broker.fetch(TOPIC, partition=p, offset=offset,
                                     isolation=isolation, max_bytes=max_bytes).collect()
            if s is not None:
                s.attrs["records"] = len(rows)
        got = sorted((r["offset"], bytes(r["value"])) for r in rows)
        run.check(
            got == self.visible(p, offset, isolation, max_bytes),
            f"fetch p{p}@{offset} {isolation} max_bytes={max_bytes} differs from the model",
        )
        return got

    def _merge_changes(self) -> None:
        import pandas as pd

        self._changes = gen.upserts(self.run.rng, MERGE_ROWS, MERGE_KEYS)
        self._changes_df = self.run.spark.createDataFrame(pd.DataFrame(self._changes))

    def _apply_model(self) -> None:
        for r in self._changes:
            if r["_op"] == "U":
                self.model[r["id"]] = (r["name"], r["score"])
            else:
                self.model.pop(r["id"], None)

    def _maintain(self) -> None:
        run = self.run
        with run.op("merge"):
            with run.span("lake.merge"):
                self.table.merge(self._changes_df)
        self._apply_model()
        with run.op("maintain"):
            with run.span("lake.maintain"):
                report = self.maintainer.tick()
        self.files_rewritten += sum(r.get("compact_files", 0) for r in report.values())
        self._record_version()

    def _write_phase(self, until: float) -> float:
        run = self.run
        wall, block, n = 0.0, 0, 0
        while block == 0 or time.perf_counter() < until:
            batches = []
            for size, kind in gen.ingest_block(run.rng, block, BLOCK):
                rows = self.events.batch(size, invalid_at=size // 2 if kind == "invalid" else None)
                for r in rows:
                    r["partition"] = gen.partition_of(r["key"], PARTITIONS)
                batches.append((rows, kind))
            self._merge_changes()
            t0 = time.perf_counter()
            with run.span("block", block=block):
                for rows, kind in batches:
                    with run.span("iteration"):
                        self._iteration(rows, kind, n)
                    n += 1
                self._maintain()
            wall += time.perf_counter() - t0
            got = {r["id"]: (r["name"], r["score"]) for r in self.table.read().collect()}
            run.check(got == self.model, "ingest: merge result differs from the dict model")
            block += 1
        self.blocks = block
        return wall

    # ----------------------------------------------------------- read phase
    def _prepare_reads(self) -> None:
        """Untimed: drain the tail consumer and check it saw every
        committed record exactly once and the lake holds every accepted
        record; then leave one transaction open and advance the log
        start of two partitions."""
        b, run = self.broker, self.run
        lso = b.last_stable_offsets(TOPIC)
        rest = b.fetch(TOPIC, isolation="read_committed").select("partition", "offset").collect()
        self.consumed.extend(
            (r["partition"], r["offset"]) for r in rest
            if r["offset"] >= self.position[r["partition"]]
        )
        b.commit_offsets(GROUP, {(TOPIC, p): lso[p] for p in lso if lso[p] > self.position[p]})
        self.position = dict(lso)
        want = sorted(
            (p, r[0]) for p, recs in self.records.items() for r in recs
            if self._state(r[3]) != "aborted"
        )
        run.verify("ingest: committed records fetched exactly once",
                   lambda: sorted(self.consumed) == want
                   and b.fetch_offsets(GROUP, TOPIC) == {p: lso[p] for p in lso if lso[p]})
        run.verify("ingest: lake rows equal the accepted records",
                   lambda: sorted(tuple(r) for r in self.sink.read(TOPIC).select(*LAKE_COLS).collect())
                   == self.lake_model(max(self.versions)))
        rows = self.events.batch(gen.SMALL_BATCH)
        for r in rows:
            r["partition"] = gen.partition_of(r["key"], PARTITIONS)
        self._produce(rows, "open", "txn-open")
        self._store()
        for p in (0, 1):
            self.low[p] = len(self.records[p]) // 5
        b.delete_records(TOPIC, {p: self.low[p] for p in (0, 1)})

    def _read(self, kind: str, fetch: tuple | None = None) -> None:
        """One read op of ``kind``; ``fetch`` is ``(partition, offset
        kind, isolation, max_bytes)`` for a fetch; the predicate read
        draws its bucket from the seeded RNG."""
        run, rng, b = self.run, self.run.rng, self.broker
        table = self.sink.table_dir(TOPIC)
        if kind == "fetch":
            p, where, isolation, max_bytes = fetch
            high = len(self.records[p])
            offset = {"tail": max(0, high - 50), "middle": high // 2, "earliest": 0}[where]
            with run.op("fetch"):
                self.fetch_records += len(self._fetch(p, offset, isolation, max_bytes))
        elif kind == "rebalance":
            self.groups += 1
            group = f"readers-{self.groups}"
            with run.op("rebalance"):
                with run.span("broker.rebalance"):
                    assignment = self.coordinator.run_rebalance(
                        group, {f"c{i}": [TOPIC] for i in range(MEMBERS)}
                    )
                for client in sorted(assignment):
                    for p in assignment[client].get(TOPIC, []):
                        got = self._fetch(p, 0, "read_committed", MAX_BYTES)
                        with run.span("broker.commit_offsets"):
                            b.commit_offsets(group, {(TOPIC, p): got[-1][0] + 1 if got else 0})
                run.check(
                    sorted(p for a in assignment.values() for p in a.get(TOPIC, []))
                    == list(range(PARTITIONS)),
                    "replay: rebalance left a partition unassigned or assigned twice",
                )
        else:
            from tansu_spark.lake.delta_log import read_via_delta_log
            from tansu_spark.lake.snapshots import read_snapshot

            # Delta-log readers see only the latest version: maintenance
            # relocates replaced files, which only read_snapshot resolves.
            version, bucket, rows = max(self.versions), None, None
            with run.op("lake_read"):
                if kind == "snapshot":
                    # a middle version: old enough to resolve relocated files
                    version = sorted(self.versions)[len(self.versions) // 2]
                    with run.span("lake.snapshot_read"):
                        rows = read_snapshot(run.spark, table, version).select(*LAKE_COLS).collect()
                elif kind == "delta_log":
                    with run.span("lake.delta_log_read"):
                        rows = read_via_delta_log(run.spark, table).select(*LAKE_COLS).collect()
                else:
                    bucket = rng.randrange(4)
                    with run.span("lake.predicate_read"):
                        rows = (
                            self.sink.read(TOPIC).where(f"value_id_bucket = {bucket}")
                            .select(*LAKE_COLS).collect()
                        )
            if rows is not None:
                run.check(
                    sorted(tuple(r) for r in rows) == self.lake_model(version, bucket),
                    f"replay: lake {kind} read of version {version} differs from the model",
                )

    def _read_phase(self, until: float) -> float:
        run = self.run
        wall, rounds = 0.0, 0
        while rounds == 0 or time.perf_counter() < until:
            fetches = iter(READ_FETCHES)
            t0 = time.perf_counter()
            with run.span("round", round=rounds):
                for kind in READ_ROUND:
                    self._read(kind, next(fetches) if kind == "fetch" else None)
            wall += time.perf_counter() - t0
            rounds += 1
        self.rounds = rounds
        return wall

    # -------------------------------------------------------------- measure
    def measure(self) -> None:
        run = self.run
        start = time.perf_counter()
        self.t_lo = time.time()
        self.write_s = self._write_phase(start + run.seconds * WRITE_SHARE)
        self._prepare_reads()
        self.read_s = self._read_phase(start + run.seconds)
        self.t_hi = time.time()

    def check(self) -> None:
        run = self.run
        run.verify("ingest: broker high watermarks equal the model",
                   lambda: self.broker.list_offsets(TOPIC, "latest")
                   == {p: len(r) for p, r in self.records.items()})

    # -------------------------------------------------------------- metrics
    def end_to_end(self) -> dict:
        run = self.run
        lat = run.latency
        fetch = lat.get("fetch", [])
        run.figures.update(
            produce_p50_ms=stats.median(lat.get("produce", [])) * 1e3,
            produce_tail_ms=stats.tail(lat.get("produce", []))[1] * 1e3,
            ingest_records_per_s=self.committed / self.write_s,
            lake_freshness_p50_ms=stats.median(lat.get("freshness", [])) * 1e3,
            lake_freshness_tail_ms=stats.tail(lat.get("freshness", []))[1] * 1e3,
            fetch_p50_ms=stats.median(fetch) * 1e3,
            fetch_tail_ms=stats.tail(fetch)[1] * 1e3,
            fetch_records_per_s=self.fetch_records / sum(fetch) if fetch else 0.0,
            lake_read_p50_ms=stats.median(lat.get("lake_read", [])) * 1e3,
        )
        run.detail.update(
            blocks=self.blocks, rounds=self.rounds, write_s=self.write_s, read_s=self.read_s,
            ops={k: len(v) for k, v in lat.items()},
        )
        # Latency is that of the most frequent client call, a fetch: over
        # all calls the median fell between the fetch, lake-read and
        # produce clusters and moved 25% from run to run, against 10% for
        # fetches alone. Throughput counts every call a producer or reader
        # waits on, over walls that include the sink and maintenance ops.
        calls = ["produce", "fetch", "rebalance", "lake_read"]
        return run.end_to_end(["fetch"], calls, self.write_s + self.read_s, self.committed)

    def per_layer(self, spans: list[dict], jobs: list[dict]) -> dict:
        calls = layer_calls(spans, jobs)
        ms = lambda name: stats.median(col(calls, name, "duration_s")) * 1e3  # noqa: E731
        produce = col(calls, "broker.produce", "duration_s")
        validate = col(calls, "broker.produce", "validate_ms")
        fetch_in = sum(col(calls, "broker.fetch", "input_records"))
        fetch_out = sum(col(calls, "broker.fetch", "records"))
        lake = self.sink.table_dir(TOPIC)
        user = sum(len(k) + len(v) for recs in self.records.values() for _o, k, v, _t in recs)
        return {
            "broker.rows_to_frame_ms": ms("broker.rows_to_frame"),
            "broker.produce_ms": stats.median([d * 1e3 - v for d, v in zip(produce, validate)]),
            "broker.produce_jobs": stats.median(col(calls, "broker.produce", "jobs")),
            "registry.validate_ms": stats.median(validate),
            "registry.validate_share": sum(validate) / (sum(produce) * 1e3) if produce else 0.0,
            "broker.segments": dir_stats(self.broker._data_dir(TOPIC))[0],
            "lake.store_ms": ms("lake.store"),
            "lake.store_jobs": stats.median(col(calls, "lake.store", "jobs")),
            "lake.maintain_ms": ms("lake.maintain"),
            "lake.files_rewritten": self.files_rewritten,
            "lake.merge_ms": ms("lake.merge"),
            "lake.merge_jobs": stats.median(col(calls, "lake.merge", "jobs")),
            "lake.files": dir_stats(lake)[0],
            "lake.bytes_per_user_byte": dir_stats(lake, skip_meta=False)[1] / user,
            "broker.fetch_ms": ms("broker.fetch"),
            "broker.fetch_jobs": stats.median(col(calls, "broker.fetch", "jobs")),
            "spark.input_bytes": stats.median(col(calls, "broker.fetch", "input_bytes")),
            "broker.fetch_useful_ratio": fetch_out / fetch_in if fetch_in else 0.0,
            "broker.rebalance_ms": ms("broker.rebalance"),
            "broker.commit_offsets_ms": ms("broker.commit_offsets"),
            "lake.snapshot_read_ms": ms("lake.snapshot_read"),
            "lake.delta_log_read_ms": ms("lake.delta_log_read"),
            **spark_totals(jobs, self.t_lo, self.t_hi),
        }


def _validate_ms() -> float:
    from tansu_spark import metrics as M

    return M.snapshot().get("registry_validation_duration", {}).get("total_ms", 0.0)


def workload(run) -> IngestReplay:
    return IngestReplay(run)
