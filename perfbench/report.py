"""Per-layer self-time table and tracing overhead from run records.

    python3 perfbench/report.py [DIR]

Reads the ``trace-<workload>-<seed>.json`` and ``e2e-<workload>-<seed>.json``
records that ``perfbench/run.py`` writes (default DIR: ``perfbench/out``)
and prints the run-to-run spread of each end-to-end metric over a
workload's untraced records (three or more), then, for the traced run
of each workload with the lowest seed, each span name's calls, total
time, self time (its time minus its children's) and the Spark jobs
attached to it, each query's breakdown and the per-layer metrics, and
the tracing overhead: the median of each end-to-end metric over the
traced runs against the untraced runs with the same seeds.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def layer_table(record: dict) -> list[dict]:
    from perfbench.core import layer_calls

    calls = layer_calls(record["spans"], record["jobs"])
    root = next(s for s in record["spans"] if s["parent"] is None)
    root_s = root["end"] - root["start"]
    rows = [
        {
            "span": name,
            "calls": len(rs),
            "total_s": sum(r["duration_s"] for r in rs),
            "self_s": sum(r["self_s"] for r in rs),
            "jobs": sum(r["jobs"] for r in rs),
            "tasks": sum(r["tasks"] for r in rs),
        }
        for name, rs in calls.items()
    ]
    for r in rows:
        r["self_share"] = r["self_s"] / root_s if root_s else 0.0
    return sorted(rows, key=lambda r: -r["self_s"])


def jobs_under(record: dict) -> dict[int, int]:
    """Span id -> jobs attached to it or to any span below it."""
    from perfbench.trace import innermost

    spans = {s["id"]: s for s in record["spans"]}
    jobs = {i: 0 for i in spans}
    for j in record["jobs"]:
        s = innermost(record["spans"], j["submitted"])
        while s is not None:
            jobs[s["id"]] += 1
            s = spans.get(s["parent"])
    return jobs


def _load(out_dir: str, kind: str) -> dict[str, dict[int, dict]]:
    """workload -> seed -> record, for ``kind`` "e2e" or "trace"."""
    by: dict[str, dict[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(out_dir, f"{kind}-*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        by.setdefault(rec["workload"], {})[rec["seed"]] = rec
    return by


def spreads(untraced: dict[str, dict[int, dict]]) -> list[str]:
    """Run-to-run spread of each end-to-end metric over the untraced
    records of each workload (inter-quartile range over median)."""
    from perfbench.stats import median, quartile_spread

    lines: list[str] = []
    for wl, by_seed in sorted(untraced.items()):
        recs = [by_seed[s] for s in sorted(by_seed)]
        if len(recs) < 3:
            continue
        lines += [
            f"## {wl}: {len(recs)} untraced runs (seeds {sorted(by_seed)})",
            "",
            f"ops failed per run: {[r['failed'] for r in recs]}",
            "",
            "| metric | median | spread (IQR / median) |",
            "|---|---:|---:|",
        ]
        for k in recs[0]["end_to_end"]:
            v = [r["end_to_end"][k] for r in recs]
            lines.append(f"| {k} | {median(v):.6g} | {quartile_spread(v):.3f} |")
        lines.append("")
    return lines


def overhead(traced: dict[int, dict], untraced: dict[int, dict]) -> list[str]:
    """Median of each end-to-end metric over the traced runs against the
    untraced runs with the same seeds."""
    from perfbench.stats import median

    seeds = sorted(set(traced) & set(untraced))
    if not seeds:
        return ["No untraced run with a traced run's seed: run one to see the overhead.", ""]
    lines = [
        f"Tracing overhead, traced against untraced runs with the same seeds {seeds}:",
        "",
        "| metric | untraced median | traced median | traced / untraced - 1 |",
        "|---|---:|---:|---:|",
    ]
    for k in untraced[seeds[0]]["end_to_end"]:
        u = median([untraced[s]["end_to_end"][k] for s in seeds])
        t = median([traced[s]["end_to_end"][k] for s in seeds])
        lines.append(f"| {k} | {u:.6g} | {t:.6g} | {t / u - 1 if u else 0.0:+.1%} |")
    return lines + [""]


def render(out_dir: str) -> str:
    untraced, traced = _load(out_dir, "e2e"), _load(out_dir, "trace")
    lines = spreads(untraced)
    for wl, by_seed in sorted(traced.items()):
        seed = min(by_seed)
        tr = by_seed[seed]
        lines += [
            f"## {wl} traced (seed {seed}, {tr['master']}, --seconds {tr['seconds']})",
            "",
            f"ops attempted {tr['attempted']}, failed {tr['failed']}",
            "",
            "| span | calls | total s | self s | self share | jobs | tasks |",
            "|---|---:|---:|---:|---:|---:|---:|",
        ]
        for r in layer_table(tr):
            lines.append(
                f"| {r['span']} | {r['calls']} | {r['total_s']:.3f} | {r['self_s']:.3f}"
                f" | {r['self_share']:.1%} | {r['jobs']} | {r['tasks']} |"
            )
        queries = [s for s in tr["spans"] if "wall_s" in s.get("attrs", {})]
        if queries:
            lines += [
                "",
                "| query | class | wall s | build s | plan s | jobs | pays for |",
                "|---|---|---:|---:|---:|---:|---|",
            ]
            calls = jobs_under(tr)
            for s in queries:
                a = s["attrs"]
                lines.append(
                    f"| {a['name']} | {a['cls']} | {a['wall_s']:.3f} | {a['build_s']:.3f}"
                    f" | {a.get('plan_s', 0.0):.3f} | {calls[s['id']]} | {', '.join(a['built'])} |"
                )
        zero = [k for k, v in tr["per_layer"].items() if not v]
        lines += ["", "| per-layer metric | value |", "|---|---:|"]
        lines += [f"| {k} | {v:.6g} |" for k, v in tr["per_layer"].items() if v]
        if zero:
            lines += ["", f"0 (layer not called here): {', '.join(zero)}"]
        lines.append("")
        lines += overhead(by_seed, untraced.get(wl, {}))
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    out_dir = argv[0] if argv else os.path.join(HERE, "out")
    text = render(out_dir)
    if not text:
        print(f"no run records in {out_dir}", file=sys.stderr)
        return 1
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
