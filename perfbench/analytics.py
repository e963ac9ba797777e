"""``analytics``: ``QUERIES[name](spark, SF_DIR).collect()`` on three
frozen, named query classes at sf0.1.

- ``chain``: serial job chains of 16+ jobs: tpch_q8_market_share,
  kmv_supplier_overlap_by_brand and text_rouge_candidates, which pays
  for the shared ``dedup_chain`` and ``shingles`` session caches;
- ``streaming``: availableNow ``streaming_*`` entries; the dedup replay's
  jobs run on stream-execution threads that no job group sees;
- ``short``: a family-stratified sample of queries that ran at most 5
  jobs in BENCH_DETAIL.json (one from each of the 8 largest families,
  drawn once with ``random.Random(0)``; 3 kept), plus two consumers of
  the covered caches.

The ``knn_graph``, ``bpe_train`` and ``winnow_fps`` caches are not
covered: their payers cost 7-24 s a run at 4 cores, more than a
one-minute run affords.

Classes run in that order; chain and streaming each in a fixed order,
short in a seeded order. Persistent RDDs are released between queries except the
session caches' protected ones, as ``bench.py`` does. Each result is
compared with its DuckDB ``ORACLE`` entry after the query's wall is
taken; a mismatch is a failed op, never a dropped query.

The query, operator and function layers and the streaming micro-batch
path run only here; ``chain`` against ``short`` separates job-chain cost
from per-query overhead.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import time

from perfbench import stats
from perfbench.core import layer_calls, spark_totals
from perfbench.sparkwatch import STREAM_PHASES, busy_s, catalyst_s
from tansu_spark.tables import DEFAULT_SF_DIR as SF_DIR  # the sf0.1 tables

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_sf0.1.json")
CLASSES = {
    "chain": [
        "tpch_q8_market_share",
        "kmv_supplier_overlap_by_brand",
        "text_rouge_candidates",
    ],
    "streaming": [
        "streaming_dedup_replay",
        "streaming_tumbling_counts",
    ],
    "short": [
        "kafka_meta_columns",
        "lake_generated_columns",
        "multimodal_feature_digest",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
    ],
}
# The first query of a class still pays for code paths it is first to
# use (3-10 s for a chain query, ~1.7 s for a streaming one at 4 cores),
# so these classes run in a fixed order: shuffling them moved
# chain_total_s by 20% and each streaming query by 40% from seed to seed.
FIXED_ORDER = {"chain", "streaming"}
WARMUP = "tpch_q6_forecast_revenue"


def normalize(v):
    """A result value in the form both engines' Python values compare
    equal in: decimals as floats, dates and timestamps as ISO text,
    binary as UTF-8 text, arrays and structs as tuples."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).decode("utf-8", "replace")
    if isinstance(v, dict):
        return tuple(sorted((normalize(k), normalize(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    return v


def _order_key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, (bool, int, float)):
        return (1, v)
    if isinstance(v, str):
        return (2, v)
    return (3, repr(v))


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, so results compare as
    multisets regardless of column or row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(normalize(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_order_key(x) for x in r))
    return [columns[i] for i in order], out


def summarize(columns: list[str], rows: list[tuple]) -> dict:
    """Column names, row count and a digest of the canonical rows."""
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"columns": columns, "rows": len(rows), "digest": digest}


def _fingerprint(name: str) -> dict:
    """What an oracle result depends on: its SQL and the input tables."""
    from tansu_spark.queries import ORACLE
    from tansu_spark.tables import TABLES

    return {
        "sql": hashlib.sha256(ORACLE[name].encode()).hexdigest(),
        "tables": {t: os.path.getsize(f"{SF_DIR}/{t}.parquet") for t in TABLES},
    }


def oracle_result(name: str) -> dict:
    """Run the DuckDB oracle of ``name`` over the sf0.1 tables."""
    import duckdb

    from tansu_spark.queries import ORACLE
    from tansu_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    cur = con.execute(ORACLE[name])
    return summarize(*canonical([d[0] for d in cur.description], cur.fetchall()))


def load_expected() -> dict:
    """Stored oracle results whose SQL and input tables are unchanged; a
    query without one runs its DuckDB oracle live. The oracles of the
    chain queries take seconds each, which would otherwise come out of
    the run's time budget."""
    try:
        with open(EXPECTED) as fh:
            stored = json.load(fh)
    except FileNotFoundError:
        return {}
    return {
        name: e["result"]
        for name, e in stored.items()
        if e["fingerprint"] == _fingerprint(name)
    }


def write_expected() -> None:
    out = {
        name: {"fingerprint": _fingerprint(name), "result": oracle_result(name)}
        for names in CLASSES.values()
        for name in names
    }
    with open(EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


class Analytics:
    def __init__(self, run) -> None:
        self.run = run
        self.results: list[dict] = []

    def setup(self) -> None:
        from tansu_spark.queries import ORACLE, QUERIES

        if not os.path.isdir(SF_DIR):
            raise FileNotFoundError(f"analytics needs the sf0.1 tables at {SF_DIR}")
        self.queries, self.oracle = QUERIES, ORACLE
        self.expected = load_expected()
        # A cold JVM adds ~15 s to whichever query runs first; one cheap
        # query takes most of it.
        QUERIES[WARMUP](self.run.spark, SF_DIR).collect()
        self._release(keep_protected=False)

    def _release(self, keep_protected: bool = True) -> None:
        """Drop persistent RDDs a query left behind (not the live session
        caches' blocks unless ``keep_protected`` is off)."""
        from tansu_spark.queries._session_cache import all_protected_ids

        spark = self.run.spark
        keep = all_protected_ids() if keep_protected else set()
        spark.catalog.clearCache()
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            e = it.next()
            if int(e._1()) not in keep:
                e._2().unpersist(False)

    @staticmethod
    def _cache_state() -> dict:
        from tansu_spark.queries._session_cache import SessionCheckpointCache

        return {
            (inst.name, key): id(val)
            for inst in SessionCheckpointCache._instances
            for key, val in inst.cache.items()
        }

    def _query(self, cls: str, name: str) -> None:
        run = self.run
        spark = run.spark
        before = self._cache_state()
        t_lo = time.time()
        rows = df = None
        with run.op(cls) as s:
            t0 = time.perf_counter()
            with run.span("queries.build"):
                df = self.queries[name](spark, SF_DIR)
            build_s = time.perf_counter() - t0
            with run.span("spark.collect"):
                rows = df.collect()
            wall = time.perf_counter() - t0
        t_hi = time.time()
        after = self._cache_state()
        built = sorted({k[0] for k, v in after.items() if before.get(k) != v})
        rec = {"name": name, "cls": cls, "t_lo": t_lo, "t_hi": t_hi, "built": built}
        if rows is not None:
            rec.update(wall_s=wall, build_s=build_s, rows=len(rows))
            if run.traced:
                rec["plan_s"] = catalyst_s(df)
            if s is not None:
                s.attrs.update(rec)
            self._compare(name, df.columns, rows)
        self.results.append(rec)
        self._release()

    def _compare(self, name: str, columns: list[str], rows: list) -> None:
        run = self.run
        try:
            want = self.expected.get(name) or oracle_result(name)
        except Exception as e:
            run.fail(f"{name}: oracle failed: {type(e).__name__}: {e}".splitlines()[0])
            return
        got = summarize(*canonical(list(columns), rows))
        if got["columns"] != want["columns"]:
            run.fail(f"{name}: columns {got['columns']} != oracle {want['columns']}")
        elif got["rows"] != want["rows"]:
            run.fail(f"{name}: {got['rows']} rows != oracle {want['rows']}")
        elif got["digest"] != want["digest"]:
            run.fail(f"{name}: values differ from the oracle")

    def measure(self) -> None:
        run = self.run
        self.t_lo = time.time()
        start = time.perf_counter()
        self.passes = 0
        while self.passes == 0 or time.perf_counter() < start + run.seconds:
            if self.passes:
                self._release(keep_protected=False)
            for cls, names in CLASSES.items():
                order = list(names)
                if cls not in FIXED_ORDER:
                    run.rng.shuffle(order)
                for name in order:
                    self._query(cls, name)
            self.passes += 1
        self.t_hi = time.time()

    def check(self) -> None:
        pass  # every result was compared with its oracle as it arrived

    def end_to_end(self) -> dict:
        run = self.run
        done = [r for r in self.results if "wall_s" in r]
        by = {c: [r["wall_s"] for r in done if r["cls"] == c] for c in CLASSES}
        total = sum(r["wall_s"] for r in done)
        run.figures.update(
            query_total_s=total / self.passes,
            chain_total_s=sum(by["chain"]) / self.passes,
            streaming_total_s=sum(by["streaming"]) / self.passes,
            short_query_p50_s=stats.median(by["short"]),
        )
        run.detail.update(
            passes=self.passes,
            payers={c: r["name"] for r in self.results for c in r["built"]},
            queries={r["name"]: round(r.get("wall_s", -1), 4) for r in self.results},
        )
        return run.end_to_end(list(CLASSES), list(CLASSES), total,
                              sum(r.get("rows", 0) for r in done))

    def per_layer(self, spans: list[dict], jobs: list[dict]) -> dict:
        calls = layer_calls(spans, jobs)
        done = [r for r in self.results if "wall_s" in r]
        query_jobs = sum(
            r["jobs"] for name in (*CLASSES, "queries.build", "spark.collect")
            for r in calls.get(name, [])
        )
        batches = self.run.listener.batches
        return {
            "queries.build_s": sum(r["build_s"] for r in done),
            "queries.jobs": query_jobs,
            "session_cache.builds": sum(len(r["built"]) for r in self.results),
            "spark.plan_s": sum(r.get("plan_s", 0.0) for r in done),
            "spark.residual_s": sum(
                (r["t_hi"] - r["t_lo"]) - busy_s(jobs, r["t_lo"], r["t_hi"]) for r in done
            ),
            **{
                metric: float(sum(b.get(phase, 0) for b in batches))
                for phase, metric in STREAM_PHASES.items()
            },
            "streaming.batches": len(batches),
            **spark_totals(jobs, self.t_lo, self.t_hi),
        }


def workload(run) -> Analytics:
    return Analytics(run)


if __name__ == "__main__":
    # Refresh the stored oracle results: python3 -m perfbench.analytics
    write_expected()
