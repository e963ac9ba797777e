"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q

The last test runs one short workload end to end (about a minute).
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

from perfbench import gen, stats
from perfbench.analytics import canonical
from perfbench.core import layer_calls
from perfbench.ingest_replay import iceberg_bucket_long
from perfbench.trace import Tracer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


# ------------------------------------------------------------ tail percentile
def test_tail_falls_back_to_the_median_below_21_samples():
    for n in (1, 5, 10, 20):
        values = [float(i) for i in range(1, n + 1)]
        pct, value, count = stats.tail(values)
        assert (pct, value, count) == (50, stats.median(values), n)


@pytest.mark.parametrize("n, pct, value", [(21, 52, 11.0), (100, 90, 90.0), (1000, 99, 990.0)])
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, pct, value):
    values = [float(i) for i in range(1, n + 1)]
    random.Random(n).shuffle(values)
    assert stats.tail(values) == (pct, value, n)


def test_tail_rule_holds_for_every_sample_count():
    for n in range(21, 400):
        values = [float(i) for i in range(1, n + 1)]
        pct, value, _ = stats.tail(values)
        assert sum(v > value for v in values) >= 10
        # one percentile higher would leave fewer than ten beyond
        higher = stats.percentile(values, pct + 1)
        assert sum(v > higher for v in values) < 10


def test_quartile_spread_is_iqr_over_median():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx(
        (11.5 - 8.5) / 10.0
    )


# ---------------------------------------------------------- span self time
def _span(i, parent, start, end, name=None):
    return {"id": i, "name": name or f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(3, 1, 2.0, 3.0),
    ]
    assert self_times(spans) == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, None, 0.0, 2.0), _span(1, 0, 1.0, 5.0)]
    assert self_times(spans)[0] == 1.0


def test_layer_calls_sum_self_time_per_call():
    spans = [
        _span(0, None, 0.0, 10.0, "root"),
        _span(1, 0, 0.0, 2.0, "layer"),
        _span(2, 0, 5.0, 8.0, "layer"),
    ]
    calls = layer_calls(spans, [])
    assert [r["self_s"] for r in calls["layer"]] == [2.0, 3.0]
    assert calls["root"][0]["self_s"] == 5.0


def test_tracer_nests_spans_and_jobs_attach_to_the_innermost():
    tr = Tracer()
    with tr.span("op"):
        with tr.span("layer", k=1):
            pass
    spans = tr.to_json()
    assert [(s["name"], s["parent"]) for s in spans] == [("op", None), ("layer", 0)]
    assert spans[1]["attrs"] == {"k": 1}
    spans = [_span(0, None, 0.0, 10.0, "op"), _span(1, 0, 2.0, 4.0, "layer")]
    job = {"submitted": 3.0, "tasks": 4, "input_bytes": 10, "input_records": 2,
           "shuffle_bytes": 0, "executor_run_s": 1.0, "executor_cpu_s": 0.5}
    calls = layer_calls(spans, [job, {**job, "submitted": 5.0}])
    assert calls["layer"][0]["jobs"] == 1 and calls["layer"][0]["tasks"] == 4
    assert calls["op"][0]["jobs"] == 1


# ------------------------------------------------------- seeded generators
def test_generators_are_deterministic_per_seed():
    def draw(seed):
        rng = random.Random(seed)
        ev = gen.Events(rng)
        return (
            ev.batch(200, invalid_at=7),
            [gen.ingest_block(rng, b, 3) for b in range(13)],
            gen.upserts(rng, 50, 1000),
        )

    assert draw(5) == draw(5)
    assert draw(5) != draw(6)


def test_generated_values_match_the_schema_and_size_range():
    import jsonschema

    schema = gen.EVENT_SCHEMA["properties"]["value"]
    rows = gen.Events(random.Random(1)).batch(300, invalid_at=10)
    for i, r in enumerate(rows):
        assert gen.MIN_VALUE - 40 <= len(r["value"]) <= gen.MAX_VALUE + 40
        errors = list(jsonschema.Draft7Validator(schema).iter_errors(json.loads(r["value"])))
        assert bool(errors) == (i == 10)
    ids = [json.loads(r["value"])["id"] for r in rows]
    assert ids == list(range(300))


def test_ingest_block_mix():
    rng = random.Random(3)
    for block in range(30):
        plan = gen.ingest_block(rng, block, 3)
        kinds = [k for _s, k in plan]
        assert kinds == ["invalid"] * (block % 12 == 0) + ["commit", "abort", "plain"]
        assert plan[-1][0] >= gen.LARGE_BATCH * 0.98
        assert all(s <= gen.SMALL_BATCH * 1.02 for s, _k in plan[:-1])


def test_iceberg_bucket_matches_the_spec_vector():
    # Iceberg spec, Appendix B: murmur3 hash of long 34 is 2017239379.
    assert iceberg_bucket_long(34, 2**31) == 2017239379
    assert iceberg_bucket_long(34, 16) == 2017239379 % 16


# -------------------------------------------------- oracle result compare
def test_canonical_ignores_row_and_column_order_and_engine_types():
    ts = datetime.datetime(2024, 5, 1, 12, 0)
    spark = canonical(["b", "a"], [(decimal.Decimal("1.50"), ts), (None, ts)])
    duck = canonical(["a", "b"], [(ts, None), (ts, 1.5)])
    assert spark == duck
    assert canonical(["a"], [(1,)]) != canonical(["a"], [(2,)])


# ------------------------------------------------------------ whole runs
def test_run_without_the_program_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def _tree(root: str) -> dict[str, tuple[int, int]]:
    skip = {".git", "__pycache__", ".pytest_cache", ".hypothesis"}
    out = {}
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        if os.path.abspath(d).startswith(os.path.join(BENCH, "out")):
            dirs[:] = []
            continue
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_mtime_ns, st.st_size)
    return out


def test_a_run_writes_only_under_the_output_directory():
    before = _tree(ROOT)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_replay", "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert _tree(ROOT) == before  # BENCH_DETAIL.json included
