"""Benchmark front end: one JSON line from perfbench's workloads.

Usage, from any directory::

    python bench.py

1. ``perfbench/run.py --workload all`` runs every perfbench workload (route,
   stream_curate, curate, queries) at ``local[nproc]``, each in its own
   process that checks its own outputs; each leaves a record in
   ``.perfbench/results/``.
2. N -> 4N scaling: perfbench's ``route`` workload in fresh processes pinned
   with ``sched_setaffinity`` to N = max(1, nproc // 4) CPUs and to 4N CPUs.
   perfbench sizes its session from the affinity mask, so the legs run at
   ``local[N]`` and ``local[4N]`` over the same 12k-page input, whose fixed
   per-operation cost is part of what is measured.  ROUNDS rounds alternate
   which leg runs first.  A round's efficiency is
   ``docs_per_s(4N) / (4 * docs_per_s(N))``; every round is reported with
   each run's single-thread decode canary and CPU steal, because the host's
   speed moves between runs.  With fewer than 4 CPUs there is no 4N.

The last line of standard output is one JSON object: ``metric``, ``value``
(route pages/s at ``local[nproc]``), ``unit``, ``queries`` (median seconds
per query), ``workloads``, ``scaling`` and ``correct``.  The exit status is
1 when any run failed its own check.  On 4 vCPU it takes about 10 minutes.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(REPO, ".perfbench", "results")
SEED = 1
ARGS = ["--seed", str(SEED), "--seconds", "10", "--trace", "0"]
ROUNDS = 3


def perfbench(workload: str, cpus: list[int] | None = None) -> dict[str, dict]:
    """One perfbench run (pinned to ``cpus`` when given); returns the record
    of each workload it ran, by name."""
    pin = None if cpus is None else (lambda: os.sched_setaffinity(0, cpus))
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "perfbench", "run.py"),
         "--workload", workload, *ARGS],
        cwd=REPO, stdout=subprocess.PIPE, text=True, preexec_fn=pin,
    )
    lines = res.stdout.strip().splitlines()
    for line in lines[:-1]:
        if line.startswith("[perfbench]"):
            print(line, flush=True)
    if res.returncode != 0 or not lines:
        sys.exit(f"bench: perfbench --workload {workload} exited {res.returncode}")
    # a run that exits 0 has written the record of every workload it ran
    names = json.loads(lines[-1]).get("workloads", [workload])
    records = {}
    for name in names:
        with open(os.path.join(RESULTS, f"{name}-seed{SEED}-trace0.json")) as fh:
            records[name] = json.load(fh)
    return records


def _leg(record: dict) -> dict:
    return {
        "cpus": record["nproc"],
        "docs_per_s": record["e2e"]["docs_per_s"],
        "decode_us_per_page": record["micro"]["kernel.decode_us_per_page"],
        "steal_s": record["steal_s"],
    }


def summarize(records: dict[str, dict], rounds: list[dict], nproc: int) -> dict:
    """The JSON line.  ``records``: workload name -> perfbench record of the
    ``all`` run; ``rounds``: one ``{"first": "N" or "4N", "N": record,
    "4N": record}`` per scaling round (none when ``nproc < 4``)."""
    out = {
        "metric": f"route pages decoded+routed per s at local[{nproc}] "
                  f"(perfbench route, seed {SEED})",
        "value": records["route"]["e2e"]["docs_per_s"],
        "unit": "pages/s",
        "queries": records["queries"]["per_query_s"],
        "workloads": {
            name: {
                **{k: v for k, v in r["e2e"].items() if not isinstance(v, list)},
                **r["micro"],
                "steal_s": r["steal_s"],
                "attempted": r["attempted"],
                "failed": r["failed"],
            }
            for name, r in records.items()
        },
    }
    if nproc < 4:
        out["scaling"] = None
        out["scaling_reason"] = f"nproc = {nproc}: N -> 4N needs at least 4 CPUs"
    else:
        rows = []
        for r in rounds:
            n, big = _leg(r["N"]), _leg(r["4N"])
            eff = big["docs_per_s"] / (4 * n["docs_per_s"])
            rows.append({"first": r["first"], "N": n, "4N": big, "efficiency": eff})
        effs = [row["efficiency"] for row in rows]
        out["scaling"] = {
            "protocol": "perfbench route, one fresh process per leg pinned to "
                        "N and 4N CPUs, leg order alternating by round; "
                        "efficiency = docs_per_s(4N) / (4 * docs_per_s(N))",
            "rounds": rows,
            "median": statistics.median(effs),
            "min": min(effs),
            "max": max(effs),
        }
    runs = [*records.values(), *(r[leg] for r in rounds for leg in ("N", "4N"))]
    out["correct"] = all(r["failed"] == 0 for r in runs)
    return out


def main() -> int:
    cpus = sorted(os.sched_getaffinity(0))
    records = perfbench("all")
    rounds = []
    if len(cpus) >= 4:
        n = max(1, len(cpus) // 4)
        for i in range(ROUNDS):
            order = ("N", "4N") if i % 2 == 0 else ("4N", "N")
            legs = {
                leg: perfbench("route", cpus[: n if leg == "N" else 4 * n])["route"]
                for leg in order
            }
            rounds.append({"first": order[0], **legs})
    line = summarize(records, rounds, len(cpus))
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
