"""Summarize the run records in ``.perfbench/results`` as markdown tables.

Usage, from the repository root, after some runs::

    python3 perfbench/summarize.py

Untraced records give, per workload, each end-to-end metric's median over
seeds and its spread (quartile distance / median, the statistic the bounds
in BENCHMARK.json apply to).  Traced records give the per-layer table,
including the workload's dominant stage and the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".perfbench", "results")
E2E = [
    "setup_s", "cpu_ms_per_doc", "queries.cpu_s", "docs_per_s", "queries.total_s",
    "op_p50_s", "peak_rss_mb",
]


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def load(trace: int) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(RESULTS, f"*-trace{trace}.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        out.setdefault(rec["workload"], []).append(rec)
    return out


def main() -> int:
    e2e = load(0)
    print("| workload | seeds | metric | median | spread | min | max |")
    print("|---|---|---|---|---|---|---|")
    for wl, recs in sorted(e2e.items()):
        for m in E2E:
            vals = [r["e2e"][m] for r in recs if m in r["e2e"]]
            if not vals:
                continue
            print(f"| {wl} | {len(vals)} | {m} | {statistics.median(vals):.4g} | "
                  f"{spread(vals):.3f} | {min(vals):.4g} | {max(vals):.4g} |")
        fails = sum(r["failed"] for r in recs)
        tries = sum(r["attempted"] for r in recs)
        canary = statistics.median(r["micro"]["kernel.decode_us_per_page"] for r in recs)
        loads = [r["load_start"][0] for r in recs] + [r["load_end"][0] for r in recs]
        print(f"| {wl} | {len(recs)} | failed/attempted | {fails}/{tries} | | | |")
        print(f"| {wl} | {len(recs)} | canary decode us/page | {canary:.2f} | | | |")
        print(f"| {wl} | {len(recs)} | load average (start, end) | "
              f"{statistics.median(loads):.2f} | | {min(loads):.2f} | {max(loads):.2f} |")
        steal = [r["steal_s"] for r in recs]
        print(f"| {wl} | {len(recs)} | cpu steal s per run | {statistics.median(steal):.1f} | "
              f"| {min(steal):.1f} | {max(steal):.1f} |")
    traced = load(1)
    for wl, recs in sorted(traced.items()):
        print(f"\n### {wl} (traced, seed {', '.join(str(r['seed']) for r in recs)})\n")
        print("| per-layer metric | value |")
        print("|---|---|")
        for k in sorted(recs[0]["layers"]):
            v = recs[0]["layers"][k]
            print(f"| {k} | {v:.4g} |" if isinstance(v, (int, float)) else f"| {k} | {v} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
