"""Property-based tests (hypothesis) for the engine's pure-Python
surfaces — the analog of the reference's proptest suites
(nisshi-sans-io/tests/proptest.rs: randomized roundtrips and invariant
checks). All but the last need no SparkSession and run in milliseconds;
the broker fetch differential shares the test session's Spark."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tansu_spark import metrics as M
from tansu_spark.broker.assignor import range_assign
from tansu_spark.registry.types import avro_to_spark, json_schema_to_spark

# --------------------------------------------------------------- assignor

_members = st.dictionaries(
    st.text(st.characters(categories=["Ll"]), min_size=1, max_size=8),
    st.lists(st.sampled_from(["t1", "t2", "t3"]), max_size=3, unique=True),
    min_size=1,
    max_size=8,
)
_partitions = st.dictionaries(
    st.sampled_from(["t1", "t2", "t3"]), st.integers(0, 32), min_size=1, max_size=3
)


@given(_members, _partitions)
@settings(max_examples=200, deadline=None)
def test_range_assign_partition_conservation(subs, parts):
    """Every partition of a subscribed topic is assigned to exactly one
    member; no member receives a partition outside [0, n); per-topic
    member loads differ by at most 1 (the range contract)."""
    out = range_assign(subs, parts)
    assert set(out) == set(subs)
    for topic, n in parts.items():
        subscribed = [m for m in subs if topic in subs[m]]
        got = [p for m in out for p in out[m].get(topic, [])]
        if not subscribed:
            assert got == []
            continue
        assert sorted(got) == list(range(n))  # conservation, no dups
        loads = [len(out[m].get(topic, [])) for m in subscribed]
        assert max(loads) - min(loads) <= 1
        # contiguity: each member's range is an interval
        for m in subscribed:
            ps = out[m].get(topic, [])
            assert ps == list(range(ps[0], ps[0] + len(ps))) if ps else True


@given(_members, _partitions)
@settings(max_examples=50, deadline=None)
def test_range_assign_deterministic(subs, parts):
    assert range_assign(subs, parts) == range_assign(subs, parts)


# ---------------------------------------------------------------- metrics


@given(st.lists(st.floats(0.0, 1e6), min_size=1, max_size=50))
@settings(max_examples=100, deadline=None)
def test_metrics_histogram_invariants(durations):
    M.reset()
    for d in durations:
        M.observe("op", d)
    h = M.snapshot()["op"]
    assert h["count"] == len(durations)
    assert h["min_ms"] == min(durations)
    assert h["max_ms"] == max(durations)
    assert abs(h["total_ms"] - sum(durations)) < 1e-6 * max(1.0, sum(durations))
    # mean is derived from the accumulated total, so it may sit a few ulps
    # outside [min, max] (e.g. mean([1.9]*3) == 1.8999999999999997 < 1.9)
    eps = 1e-9 * max(1.0, h["max_ms"])
    assert h["min_ms"] - eps <= h["mean_ms"] <= h["max_ms"] + eps
    M.reset()


# --------------------------------------------------- schema converters

_avro_primitive = st.sampled_from(
    ["boolean", "int", "long", "float", "double", "bytes", "string"]
)


def _avro_schema(depth: int):
    if depth <= 0:
        return _avro_primitive
    sub = _avro_schema(depth - 1)
    return st.one_of(
        _avro_primitive,
        st.fixed_dictionaries({"type": st.just("array"), "items": sub}),
        st.fixed_dictionaries({"type": st.just("map"), "values": sub}),
        st.builds(
            lambda names, types: {
                "type": "record",
                "name": "R",
                "fields": [
                    {"name": n, "type": t} for n, t in zip(names, types)
                ],
            },
            st.lists(
                st.text(st.characters(categories=["Ll"]), min_size=1, max_size=6),
                min_size=1,
                max_size=4,
                unique=True,
            ),
            st.lists(sub, min_size=4, max_size=4),
        ),
        st.tuples(sub).map(lambda t: ["null", t[0]]),  # nullable union
    )


@given(_avro_schema(3))
@settings(max_examples=150, deadline=None)
def test_avro_to_spark_total_and_structural(schema):
    """The converter is total over generated schemas and structural:
    arrays map to ArrayType of the item conversion, records preserve
    field names/order, [null, T] unions collapse to T with nullability
    carried by the enclosing field (§1.3)."""
    from pyspark.sql.types import ArrayType, DataType, MapType, StringType, StructType

    t = avro_to_spark(schema)
    assert isinstance(t, DataType)
    if isinstance(schema, dict) and schema.get("type") == "array":
        assert isinstance(t, ArrayType)
        assert t.elementType == avro_to_spark(schema["items"])
    if isinstance(schema, dict) and schema.get("type") == "map":
        assert isinstance(t, MapType) and t.keyType == StringType()
    if isinstance(schema, dict) and schema.get("type") == "record":
        assert isinstance(t, StructType)
        assert [f.name for f in t.fields] == [
            f["name"] for f in schema["fields"]
        ]
    if isinstance(schema, list):  # [null, T]
        inner = [s for s in schema if s != "null"][0]
        assert t == avro_to_spark(inner)


@given(
    st.dictionaries(
        st.text(st.characters(categories=["Ll"]), min_size=1, max_size=6),
        st.sampled_from(
            [{"type": "string"}, {"type": "integer"}, {"type": "number"},
             {"type": "boolean"}, {"type": "array", "items": {"type": "string"}}]
        ),
        min_size=1,
        max_size=6,
    ),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_json_schema_required_drives_nullability(props, data):
    """Fields listed in `required` become non-nullable, all others
    nullable — the validation semantics the registry enforces."""
    req = data.draw(st.lists(st.sampled_from(sorted(props)), unique=True))
    t = json_schema_to_spark(
        {"type": "object", "properties": props, "required": req}
    )
    for f in t.fields:
        assert f.nullable == (f.name not in req)


# ---------------------------------------------------------------- EWMA fold
# Pure-Python replay of the two-stage EWMA decomposition used by
# events_ewma_anomaly (queries/analytics.py): per-day folds + affine
# day-carries for the boundary seeds + seeded re-folds. The property:
# for ANY value sequence and ANY day partitioning, the two-stage final
# EWMA and max deviation agree with the one-stage fold at the query's
# rounded grain (real-arithmetic equality; FP divergence is bounded by
# ulp-level seed differences, far under the 1e-6 rounding).


def _ewma_one_stage(vals):
    e, m = vals[0], 0.0
    for x in vals[1:]:
        m = max(m, abs(x - e))
        e = e + 0.25 * (x - e)
    return e, m


def _ewma_two_stage(days):
    # stage A: per-day affine carry (beta, c) + first-day fold e1
    summ = []
    for v in days:
        c, b = 0.0, 1.0
        for x in v:
            c = c + 0.25 * (x - c)
            b = b * 0.75
        e1 = v[0]
        for x in v[1:]:
            e1 = e1 + 0.25 * (x - e1)
        summ.append((b, c, e1))
    # stage B: boundary seeds via the affine recurrence
    seeds, s = [], None
    for i, (b, c, e1) in enumerate(summ):
        seeds.append(None if i == 0 else s)
        s = e1 if i == 0 else b * s + c
    # stage C: seeded re-folds; final = last day's fold, m = max over days
    m_all, e_last = 0.0, None
    for v, seed in zip(days, seeds):
        if seed is None:
            e, m = v[0], 0.0
            it = v[1:]
        else:
            e, m = seed, 0.0
            it = v
        for x in it:
            m = max(m, abs(x - e))
            e = e + 0.25 * (x - e)
        m_all = max(m_all, m)
        e_last = e
    return e_last, m_all


@given(
    st.lists(
        st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(max_examples=300, deadline=None)
def test_ewma_two_stage_composition_matches_one_stage(days):
    flat = [x for d in days for x in d]
    e1, m1 = _ewma_one_stage(flat)
    e2, m2 = _ewma_two_stage(days)
    assert abs(e1 - e2) <= 1e-6 * max(1.0, abs(e1))
    assert abs(m1 - m2) <= 1e-6 * max(1.0, abs(m1))


# ------------------------------------------------------ broker fetch model

_RC, _RU = "read_committed", "read_uncommitted"


@pytest.fixture(scope="module")
def fetch_store(spark, tmp_path_factory):
    """A virtual 3-partition topic fed a seeded mix of plain, committed,
    aborted and open transactional batches (the open one in the middle,
    so later records sit above its LSO), then a delete_records; returns
    the broker and the pure-Python visibility model's inputs."""
    from tansu_spark.broker import Broker

    b = Broker(spark, str(tmp_path_factory.mktemp("fetch_model")))
    b.create_topic("d", partitions=3, config={"tansu.virtual": "true"})
    rng = random.Random(20261017)
    recs = {p: [] for p in range(3)}  # (offset, key, value, txn state)
    kinds = ["plain", "committed", "aborted", "plain", "open", "aborted",
             "plain", "committed", "plain"]
    for i, kind in enumerate(kinds):
        rows = [
            {"partition": rng.randrange(3), "key": f"k{rng.randrange(3)}",
             "value": "v" * rng.randrange(1, 40)}
            for _ in range(rng.randrange(4, 10))
        ]
        txn = None if kind == "plain" else f"tx{i}"
        b.produce_rows("d", rows, txn_id=txn)
        if kind in ("committed", "aborted"):
            b.end_transaction(txn, commit=kind == "committed")
        for r in rows:
            p = r["partition"]
            recs[p].append((len(recs[p]), r["key"].encode(), r["value"].encode(), kind))
    low = {p: 0 for p in range(3)}
    low.update(b.delete_records("d", {1: len(recs[1]) // 2}))
    stored = sorted((r["partition"], r["offset"]) for r in b.records("d").collect())
    assert stored == sorted((p, r[0]) for p, rs in recs.items() for r in rs)
    return b, recs, low


def _visible(recs, low, partition, offset, isolation, max_bytes, key):
    out = []
    for p, rs in recs.items():
        if partition not in (None, p):
            continue
        frontier = len(rs)
        if isolation == _RC:
            frontier = min([r[0] for r in rs if r[3] == "open"], default=frontier)
        got = [
            r for r in rs
            if max(low[p], offset) <= r[0] < frontier
            and not (isolation == _RC and r[3] == "aborted")
            and key in (None, r[1])
        ]
        if max_bytes is not None:
            total, keep = 0, []
            for r in got:
                total += len(r[1]) + len(r[2])
                if total >= max_bytes:
                    break
                keep.append(r)
            got = keep
        out += [(p, r[0], r[1], r[2]) for r in got]
    return sorted(out)


@given(
    st.sampled_from([None, 0, 1, 2, 3]),
    st.integers(0, 30),
    st.sampled_from([_RC, _RU]),
    st.none() | st.integers(1, 300),
    st.sampled_from([None, b"k0", b"k2"]),
)
@settings(max_examples=10, deadline=None)
def test_fetch_matches_visibility_model(fetch_store, partition, offset, isolation, max_bytes, key):
    """Broker.fetch returns exactly the records a pure-Python model of
    the visibility rules allows: low watermark, isolation frontier
    (high watermark or last stable offset), aborted ranges, the
    virtual-topic key and the running byte budget."""
    b, recs, low = fetch_store
    topic = "d" if key is None else f"d/{key.decode()}"
    kw = dict(partition=partition, offset=offset, isolation=isolation, max_bytes=max_bytes)
    if partition is None and max_bytes is not None:
        with pytest.raises(ValueError, match="requires a partition"):
            b.fetch(topic, **kw)
        return
    rows = b.fetch(topic, **kw).collect()
    got = sorted((r["partition"], r["offset"], bytes(r["key"]), bytes(r["value"])) for r in rows)
    assert got == _visible(recs, low, partition, offset, isolation, max_bytes, key)
