"""Run context shared by the workloads: the Spark session, the seeded RNG,
the tracer, op accounting and the metric tables."""

from __future__ import annotations

import os
import random
import time
import traceback
from contextlib import contextmanager

from perfbench import stats
from perfbench.trace import NullTracer, Tracer

# Every workload reports these end-to-end metrics on its own ops, so one
# metric set (bounds in BENCHMARK.json) covers every workload.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
    "records_per_s": "1/s",
}

# The figures each workload is built around, reported by name on the
# untraced run's detail line and as per-layer metrics of the traced run.
FIGURES = {
    "produce_p50_ms": "ms",
    "produce_tail_ms": "ms",
    "ingest_records_per_s": "1/s",
    "lake_freshness_p50_ms": "ms",
    "lake_freshness_tail_ms": "ms",
    "fetch_p50_ms": "ms",
    "fetch_tail_ms": "ms",
    "fetch_records_per_s": "1/s",
    "lake_read_p50_ms": "ms",
    "query_total_s": "s",
    "chain_total_s": "s",
    "streaming_total_s": "s",
    "short_query_p50_s": "s",
}

# Per-layer metrics of the traced run. A layer a workload never calls
# reads 0 there.
LAYERS = {
    "broker.rows_to_frame_ms": "ms",
    "broker.produce_ms": "ms",
    "broker.produce_jobs": "count",
    "registry.validate_ms": "ms",
    "registry.validate_share": "ratio",
    "broker.segments": "count",
    "lake.store_ms": "ms",
    "lake.store_jobs": "count",
    "lake.maintain_ms": "ms",
    "lake.files_rewritten": "count",
    "lake.merge_ms": "ms",
    "lake.merge_jobs": "count",
    "lake.files": "count",
    "lake.bytes_per_user_byte": "ratio",
    "broker.fetch_ms": "ms",
    "broker.fetch_jobs": "count",
    "spark.input_bytes": "bytes",
    "broker.fetch_useful_ratio": "ratio",
    "broker.rebalance_ms": "ms",
    "broker.commit_offsets_ms": "ms",
    "lake.snapshot_read_ms": "ms",
    "lake.delta_log_read_ms": "ms",
    "queries.build_s": "s",
    "queries.jobs": "count",
    "session_cache.builds": "count",
    "spark.plan_s": "s",
    "spark.residual_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.tasks": "count",
    "streaming.trigger_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.batches": "count",
}
PER_LAYER = {**LAYERS, **FIGURES}


class Run:
    """One benchmark run: inputs, timers, op accounting and outputs."""

    def __init__(self, spark, seed: int, seconds: float, traced: bool, workdir: str):
        self.spark = spark
        self.seed = seed
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.tracer = Tracer() if traced else NullTracer()
        self.workdir = workdir
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # op kind -> latencies in seconds, for the end-to-end metrics
        self.latency: dict[str, list[float]] = {}
        self.figures: dict[str, float] = {}
        self.detail: dict = {}
        self.listener = None  # streaming progress, traced runs only

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    @contextmanager
    def op(self, kind: str):
        """One timed op in a span named ``kind`` (yielded; None when
        untraced). An exception fails the op and the run goes on; a clean
        return records its latency under ``kind``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(kind) as s:
                yield s
        except Exception as e:  # a failed op is counted, not fatal
            self.fail(f"{kind}: {type(e).__name__}: {e}".splitlines()[0])
            traceback.print_exc()
        else:
            self.latency.setdefault(kind, []).append(time.perf_counter() - t0)

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(why)

    def check(self, ok: bool, why: str) -> bool:
        """A correctness check: a false ``ok`` counts one failed op."""
        if not ok:
            self.fail(why)
        return ok

    def verify(self, name: str, fn) -> None:
        """Run one end-of-run correctness check as its own attempted op."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception as e:
            traceback.print_exc()
            self.fail(f"{name}: {type(e).__name__}: {e}".splitlines()[0])
            return
        if not ok:
            self.fail(f"{name}: mismatch")

    def end_to_end(self, latency_kinds: list[str], op_kinds: list[str],
                   wall_s: float, records: int) -> dict:
        """The end-to-end metrics: latency over the ops of
        ``latency_kinds``, throughput of the ops of ``op_kinds`` and of
        ``records`` over ``wall_s``."""
        lat = [x for k in latency_kinds for x in self.latency.get(k, [])]
        ops = sum(len(self.latency.get(k, [])) for k in op_kinds)
        pct, tail_s, n = stats.tail(lat)
        self.detail["tail"] = {"percentile": pct, "samples": n}
        return {
            "setup_s": self.setup_s,
            "op_p50_ms": stats.median(lat) * 1e3,
            "op_tail_ms": tail_s * 1e3,
            "ops_per_s": ops / wall_s if wall_s else 0.0,
            "records_per_s": records / wall_s if wall_s else 0.0,
        }


def dir_stats(path: str, suffix: str = ".parquet", skip_meta: bool = True) -> tuple[int, int]:
    """(files, bytes) of ``suffix`` files under ``path``; with
    ``skip_meta``, directories starting with ``_`` or ``.`` are skipped
    the way Spark skips them."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        if skip_meta:
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def layer_calls(spans: list[dict], jobs: list[dict]) -> dict[str, list[dict]]:
    """Span name -> one row per span: its duration, self time, attrs and
    the Spark work of the jobs attached to it. A job attaches to the
    innermost span open when it was submitted."""
    from perfbench.trace import innermost, self_times

    own = self_times(spans)
    by_id = {
        s["id"]: {
            "duration_s": s["end"] - s["start"],
            "self_s": own[s["id"]],
            "jobs": 0,
            "tasks": 0,
            "input_bytes": 0,
            "input_records": 0,
            "shuffle_bytes": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            **s.get("attrs", {}),
        }
        for s in spans
    }
    for j in jobs:
        s = innermost(spans, j["submitted"]) if j["submitted"] else None
        if s is None:
            continue
        row = by_id[s["id"]]
        row["jobs"] += 1
        for k in ("tasks", "input_bytes", "input_records", "shuffle_bytes",
                  "executor_run_s", "executor_cpu_s"):
            row[k] += j[k]
    out: dict[str, list[dict]] = {}
    for s in spans:
        out.setdefault(s["name"], []).append(by_id[s["id"]])
    return out


def col(calls: dict[str, list[dict]], name: str, key: str) -> list[float]:
    return [r[key] for r in calls.get(name, [])]


def spark_totals(jobs: list[dict], lo: float, hi: float) -> dict[str, float]:
    """Executor-side totals of the jobs submitted in ``[lo, hi]``."""
    from perfbench.sparkwatch import jobs_in

    sel = jobs_in(jobs, lo, hi)
    return {
        "spark.executor_run_s": sum(j["executor_run_s"] for j in sel),
        "spark.executor_cpu_s": sum(j["executor_cpu_s"] for j in sel),
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in sel),
        "spark.tasks": sum(j["tasks"] for j in sel),
    }
