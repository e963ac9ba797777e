"""What Spark itself reports about a run, read from outside the program.

- Jobs and stages come from the application status store (the data the
  Spark UI's listener keeps), read once at the end of a run over the
  local UI's REST endpoint. Jobs are attributed to benchmark ops by
  submission time: ops are serial, so the op open at submission is the
  one that caused the job, whichever thread submitted it (stream
  execution and broadcast threads do not inherit a job group, which is
  why job-group counts are only a floor).
- Micro-batch progress phases come from a ``StreamingQueryListener``.
- Catalyst phase times come from the ``QueryExecution`` tracker of the
  DataFrame a query returns.
"""

from __future__ import annotations

import datetime
import json
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

# Micro-batch progress phase (``durationMs`` key) -> per-layer metric.
STREAM_PHASES = {
    "triggerExecution": "streaming.trigger_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


def _epoch(ts: str | None) -> float | None:
    # '2026-10-17T02:57:16.699GMT'
    if not ts:
        return None
    dt = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def drain(spark) -> None:
    """Wait until every posted listener event has been processed."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def jobs_and_stages(spark) -> list[dict]:
    """Every retained job with its stages' summed task metrics."""
    drain(spark)
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(base + "/jobs") as r:
        jobs = json.load(r)
    with urllib.request.urlopen(base + "/stages") as r:
        stages = {(s["stageId"], s["attemptId"]): s for s in json.load(r)}
    by_stage: dict[int, list[dict]] = {}
    for (sid, _a), s in stages.items():
        by_stage.setdefault(sid, []).append(s)
    out = []
    for j in jobs:
        row = {
            "job_id": j["jobId"],
            "submitted": _epoch(j.get("submissionTime")),
            "completed": _epoch(j.get("completionTime")),
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "input_bytes": 0,
            "input_records": 0,
            "shuffle_bytes": 0,
        }
        for sid in j.get("stageIds", []):
            for s in by_stage.get(sid, []):
                if s["status"] == "SKIPPED":
                    continue
                row["stages"] += 1
                row["tasks"] += s["numCompleteTasks"]
                row["executor_run_s"] += s["executorRunTime"] / 1e3
                row["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                row["input_bytes"] += s["inputBytes"]
                row["input_records"] += s["inputRecords"]
                row["shuffle_bytes"] += s["shuffleReadBytes"] + s["shuffleWriteBytes"]
        out.append(row)
    return sorted(out, key=lambda r: r["job_id"])


def jobs_in(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    """Jobs submitted inside the window ``[lo, hi]`` (epoch seconds)."""
    return [j for j in jobs if j["submitted"] is not None and lo <= j["submitted"] <= hi]


def busy_s(jobs: list[dict], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` during which at least one job was running."""
    from perfbench.trace import covered

    return covered(
        [(j["submitted"], j["completed"] or hi) for j in jobs if j["submitted"]],
        lo,
        hi,
    )


def catalyst_s(df) -> float:
    """Analysis + optimization + planning seconds of ``df``'s execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs() / 1e3
    return total


class ProgressListener(StreamingQueryListener):
    """Collects each micro-batch's ``durationMs`` phases."""

    def __init__(self) -> None:
        self.batches: list[dict[str, int]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.batches.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
