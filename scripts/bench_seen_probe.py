"""Per-batch probe cost: flat vs bucketed seen-state layout.

The streaming-curation probe joins each micro-batch's banded rows against
the CUMULATIVE seen-bucket state — the one input that grows with corpus
history, so its per-batch cost is the streaming pipeline's scale ceiling.
Flat layout pays a full re-aggregation of the state every batch (scan +
shuffle + groupBy); the bucketed compacted layout is consumed as stored
(pre-aggregated, pre-hashed: scan only, zero state-side exchange — pinned
by tests/test_plan_quality.py::test_seen_probe_bucketed_state_no_exchange).

This measures exactly that delta: one identical micro-batch probed against
the same synthetic state stored both ways, min-of-3, at growing state
sizes.  The batch is fixed, so the flat-vs-bucketed gap at growing S is
the per-batch cost OF HISTORY — the curve that decides whether an online
curation stream survives months of accumulated state.

Usage: python scripts/bench_seen_probe.py [state_sizes_csv] [batch_docs]
Defaults: 4000000,16000000 and 100000.  Prints one JSON line; numbers go
to BENCH/SOAK.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SIZES = [
    int(s) for s in (sys.argv[1] if len(sys.argv) > 1 else "4000000,16000000").split(",")
]
BATCH_DOCS = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
BANDS = 16
WORK = "/tmp/spark_graft_seen_probe"


def main() -> None:
    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.session import build_session
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        compact_seen_buckets,
        seen_positions,
    )

    spark = build_session(
        "seen-probe-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "metric": "seen_probe_flat_vs_bucketed",
        "batch_docs": BATCH_DOCS,
        "bands": BANDS,
        "n_buckets": spark.sparkContext.defaultParallelism,
        "host_load_at_start": [round(x, 2) for x in os.getloadavg()],
        "sizes": {},
    }

    for S in SIZES:
        shutil.rmtree(WORK, ignore_errors=True)
        # synthetic cumulative state: S distinct (band_id, bucket) rows;
        # state row v lives in band v % BANDS with bucket md5(v)
        state = spark.range(S).selectExpr(
            "cast(id % {b} as int) as band_id".format(b=BANDS),
            "md5(cast(id as string)) as bucket",
            "cast(1 + id % 7 as long) as n_members",
            "cast(0 as int) as batch_id",
        )
        # one micro-batch's banded rows: each doc gets exactly ONE row per
        # band, and its bucket is constructed to EXIST in the state with a
        # matching band (v ≡ band (mod BANDS), v < S) — match density is
        # 1.0 and constant across S, the probe's worst case, so the
        # flat-vs-bucketed curve measures history cost, not join
        # selectivity drift
        batch = spark.range(BATCH_DOCS * BANDS).selectExpr(
            "cast(id div {B} as long) as doc_id".format(B=BANDS),
            "cast(id % {B} as int) as band_id".format(B=BANDS),
            "md5(cast(((id div {B}) * 2654435761 % {SB}) * {B} + id % {B} "
            "as string)) as bucket".format(B=BANDS, SB=S // BANDS),
        )
        res: dict = {}
        for layout in ("flat", "bucketed"):
            cat = SinkCatalog(spark, os.path.join(WORK, layout))
            cat.append(state, "dedup_seen_buckets")
            cat.write_manifest("stream_curate", {"last_batch_id": 0})
            if layout == "bucketed":
                t0 = time.monotonic()
                compact_seen_buckets(cat)
                res["bucketed_compact_sec"] = round(time.monotonic() - t0, 3)
            times = []
            for _ in range(3):
                t0 = time.monotonic()
                n_drops = DD.keep_first_drops(
                    seen_positions(batch, cat, 0), "p + r", None
                ).count()
                times.append(time.monotonic() - t0)
            res[f"{layout}_sec"] = round(min(times), 3)
            res[f"{layout}_drops"] = n_drops
            if layout == "bucketed":
                m = cat.read_manifest("seen_compact")
                spark.sql(f"DROP TABLE IF EXISTS {m['table']}")
        res["speedup"] = round(res["flat_sec"] / res["bucketed_sec"], 2)
        assert res["flat_drops"] == res["bucketed_drops"], "layouts must agree"
        out["sizes"][str(S)] = res
    out["host_load_at_end"] = [round(x, 2) for x in os.getloadavg()]
    shutil.rmtree(WORK, ignore_errors=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
