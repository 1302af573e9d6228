"""Streaming-curation soak: 1.6M pages through start_curation_stream.

Protocol (VERDICT r4 ask #4):
  1. generate the deterministic 1.6M-page corpus as 16 doc_id-ordered
     chunk files (ids [i*100k, (i+1)*100k) in file i — ordered feed is the
     regime in which the stream reproduces batch curate() exactly);
  2. phase A: drain chunks 0-7 with availableNow (maxFilesPerTrigger=1 ->
     one micro-batch per chunk);
  3. run compact_seen_buckets MID-RUN (between stream runs, the documented
     contract) and record state-table rows/bytes before and after;
  4. phase B: drain chunks 8-15 across the restart (state read back from
     the compacted table);
  5. compare the full survivor set against batch curate() over all 1.6M.

Usage: python scripts/soak_stream_curation.py [n_total] [n_chunks]
Prints one JSON line; paste the numbers into BENCH/SOAK.md.
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

N_TOTAL = int(sys.argv[1]) if len(sys.argv) > 1 else 1_600_000
N_CHUNKS = int(sys.argv[2]) if len(sys.argv) > 2 else 16
CHUNK = N_TOTAL // N_CHUNKS
WORK = f"/tmp/spark_graft_stream_soak_{N_TOTAL}"
# SOAK_COMPACT_EVERY=<k> turns on IN-STREAM compaction cadence (compact
# the seen state every k micro-batches inside the drain) — the fleet
# regime; the mid-run compaction step then just picks up the remainder
COMPACT_EVERY = (
    int(os.environ["SOAK_COMPACT_EVERY"])
    if "SOAK_COMPACT_EVERY" in os.environ
    else None
)


def chunk_df(spark, start: int, end: int, seed: int = 42):
    """pages_df over an id SLICE (the generator is pure in (seed, id))."""
    import pandas as pd

    from mysql_cdc_rs_spark.sources.pages import PAGES_SCHEMA, make_record

    def gen(batches):
        for pdf in batches:
            rows = [make_record(seed, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return spark.range(start, end, numPartitions=16).mapInPandas(
        gen, schema=PAGES_SCHEMA
    )


def du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return round(total / 1e6, 1)


def main() -> None:
    from mysql_cdc_rs_spark.session import build_session
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        _gen_tables,
        compact_seen_buckets,
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    spark = build_session(
        "stream-soak", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_total": N_TOTAL, "n_chunks": N_CHUNKS}
    out["host_load_at_start"] = [round(x, 2) for x in os.getloadavg()]

    src = f"{WORK}/pages"
    cur = f"{WORK}/cur"
    ckpt = f"{WORK}/ckpt"
    # SOAK_RESUME=1 keeps the sink + checkpoint from a crashed run: the
    # drain then replays committed batches as manifest no-ops and picks up
    # at the first uncommitted one — the mid-phase crash-recovery path,
    # exercised for real when a run dies (phase timings then cover only
    # the remaining work; survivor equality is still over the full corpus)
    if os.environ.get("SOAK_RESUME") != "1":
        for d in (cur, ckpt):
            shutil.rmtree(d, ignore_errors=True)
    out["resumed"] = os.environ.get("SOAK_RESUME") == "1"

    # --- 1. chunked, doc_id-ordered input (UNTIMED prep) -------------------
    # Deterministic per-chunk filenames (chunk_0000.parquet ...) make the
    # prep RESUMABLE: an interrupted run leaves complete chunks behind and
    # only the missing ones are generated.  Legacy randomly-named part
    # files (from the pre-resumable prep) are adopted by reading one row's
    # url tail (https://host/p/seed/<i>) to recover which chunk they hold.
    os.makedirs(src, exist_ok=True)
    for f in list(os.listdir(src)):
        if f.endswith(".parquet") and not f.startswith("chunk_"):
            row = (
                spark.read.parquet(os.path.join(src, f)).select("url").head()
            )
            i = int(row["url"].rsplit("/", 1)[1]) // CHUNK
            os.rename(
                os.path.join(src, f), os.path.join(src, f"chunk_{i:04d}.parquet")
            )
        elif not f.endswith(".parquet"):
            os.remove(os.path.join(src, f))
    base_ts = 1_700_000_000  # fixed: mtimes survive resumed preps
    stage = f"{WORK}/stage"
    for i in range(N_CHUNKS):
        target = os.path.join(src, f"chunk_{i:04d}.parquet")
        if not os.path.exists(target):
            shutil.rmtree(stage, ignore_errors=True)
            chunk_df(spark, i * CHUNK, (i + 1) * CHUNK).repartition(1).write.parquet(
                stage
            )
            part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
            os.rename(os.path.join(stage, part), target)
        # pin a strictly increasing mtime per chunk: FileStreamSource
        # orders by (modification time, path), and doc_id-ordered feed
        # is what makes the stream reproduce batch curate() exactly
        os.utime(target, (base_ts + i, base_ts + i))
    shutil.rmtree(stage, ignore_errors=True)
    cat = SinkCatalog(spark, cur)

    out["compact_every"] = COMPACT_EVERY

    def drain() -> float:
        t0 = time.monotonic()
        q = start_curation_stream(
            stream_pages(spark, src, max_files_per_trigger=1),
            cat,
            ckpt,
            compact_every=COMPACT_EVERY,
        )
        q.awaitTermination()
        return time.monotonic() - t0

    # --- 2. phase A: first half (chunk order == mtime order) ---------------
    # NEVER move source files when resuming over an existing checkpoint: a
    # PENDING batch (offsets committed, batch uncommitted) re-executes
    # against its logged file list, and if that file is gone the batch
    # reads ZERO rows, commits, and the source never re-offers the file —
    # 400k docs silently vanished from a 12.8M run this way (the
    # quality_rows_total manifest tripwire now catches it).  On resume the
    # crash itself was the phase boundary, so drain everything in place.
    half = sorted(
        (f for f in os.listdir(src) if f.endswith(".parquet")),
        key=lambda f: os.path.getmtime(os.path.join(src, f)),
    )
    hold = f"{WORK}/hold"
    shutil.rmtree(hold, ignore_errors=True)
    os.makedirs(hold)
    if os.environ.get("SOAK_RESUME") != "1":
        for f in half[N_CHUNKS // 2 :]:
            shutil.move(os.path.join(src, f), os.path.join(hold, f))
    a_sec = drain()
    out["phase_a"] = {
        "docs": N_TOTAL // 2,
        "sec": round(a_sec, 3),
        "docs_per_sec": round((N_TOTAL / 2) / a_sec, 1),
    }

    # --- 3. mid-run compaction ---------------------------------------------
    # (under a cadence the in-stream compactions may have consumed the
    # whole flat tail already — then this just measures the no-op/remainder)
    if cat.exists("dedup_seen_buckets"):
        seen_before = cat.read("dedup_seen_buckets").count()
        mb_before = du_mb(os.path.join(cur, "dedup_seen_buckets"))
    else:
        seen_before, mb_before = 0, 0.0
    t0 = time.monotonic()
    seen_after = compact_seen_buckets(cat)
    c_sec = time.monotonic() - t0
    m = cat.read_manifest("seen_compact")
    out["compaction"] = {
        "rows_before": seen_before,
        "rows_after": seen_after,
        "mb_before": mb_before,
        "mb_after": sum(du_mb(os.path.join(cur, t)) for t in _gen_tables(m)),
        "sec": round(c_sec, 3),
        "n_buckets": m["n_buckets"] if m else None,
        "generations": len(_gen_tables(m)),
    }

    # --- 4. phase B: second half across the restart ------------------------
    for f in sorted(os.listdir(hold)):
        shutil.move(os.path.join(hold, f), os.path.join(src, f))
    b_sec = drain()
    out["phase_b"] = {
        "docs": N_TOTAL // 2,
        "sec": round(b_sec, 3),
        "docs_per_sec": round((N_TOTAL / 2) / b_sec, 1),
    }
    out["stream_total"] = {
        "sec": round(a_sec + b_sec, 3),
        "docs_per_sec": round(N_TOTAL / (a_sec + b_sec), 1),
    }

    # --- 5. survivor equality vs batch curate ------------------------------
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release

    stream_ids = {
        r["doc_id"] for r in read_curated(cat).select("doc_id").collect()
    }
    pages_all = spark.read.parquet(src)
    t0 = time.monotonic()
    surv = curate(pages_all)
    batch_ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
    batch_sec = time.monotonic() - t0
    release(surv)
    # input-lineage tripwire: the stream's cumulative quality-row count
    # (written per batch into the stream_curate manifest) must equal the
    # batch-mode quality count — catches silent source-layer input loss
    # (an empty re-executed batch) that every sink invariant misses
    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.plans.training_pipeline import quality_corpus

    batch_quality = quality_corpus(decode_pages(pages_all)).count()
    stream_quality = cat.read_manifest("stream_curate").get(
        "quality_rows_total", -1
    )
    out["batch_compare"] = {
        "batch_sec": round(batch_sec, 3),
        "batch_docs_per_sec": round(N_TOTAL / batch_sec, 1),
        "stream_survivors": len(stream_ids),
        "batch_survivors": len(batch_ids),
        "identical": stream_ids == batch_ids,
        "only_stream": len(stream_ids - batch_ids),
        "only_batch": len(batch_ids - stream_ids),
        "stream_quality_rows": stream_quality,
        "batch_quality_rows": batch_quality,
        "quality_rows_match": stream_quality == batch_quality,
    }
    out["host_load_at_end"] = [round(x, 2) for x in os.getloadavg()]
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
