"""Stage-level profile of ONE streaming-curation micro-batch.

The 1.6M soak shows the stream within ~2.2x of batch curate(); the gap is
per-batch fixed cost.  This script splits one representative micro-batch
(default 100k docs against a seeded seen-state) into its stages and times
each with a materializing action, so optimization effort lands on the
biggest bar instead of a guess:

  decode+quality  - decode_pages + token gate, persisted + counted
  banded          - shingle -> minhash -> banded buckets, persisted + counted
  probe           - seen_positions + positional drop rule -> drop set
  write_survivors - anti-join + parquet append
  write_seen      - per-bucket member counts + parquet append
  stream_harness  - everything else a real availableNow drain adds on top
                    (source listing, checkpoint commits, offset log), by
                    differencing a real one-batch drain against the sum

Usage: python scripts/profile_stream_batch.py [n_docs] [n_seen_batches]
Prints one JSON line.
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

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
N_SEEN_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 7
WORK = "/tmp/spark_graft_profile_stream"


def main() -> None:
    from pyspark.sql import functions as F

    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.plans.training_pipeline import quality_corpus
    from mysql_cdc_rs_spark.session import build_session
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        seen_positions,
        seen_rows,
        start_curation_stream,
        stream_pages,
    )

    spark = build_session(
        "profile-stream", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(WORK, ignore_errors=True)
    out: dict = {"n_docs": N_DOCS, "n_seen_batches": N_SEEN_BATCHES}
    out["host_load_at_start"] = [round(x, 2) for x in os.getloadavg()]

    # --- seed state: N_SEEN_BATCHES completed batches, then profile batch
    # N_SEEN_BATCHES as the "current" one (ids follow on contiguously).
    import pandas as pd

    from mysql_cdc_rs_spark.sources.pages import PAGES_SCHEMA, make_record

    def chunk_df(start: int, end: int):
        def gen(batches):
            for pdf in batches:
                rows = [make_record(42, int(i)) for i in pdf["id"]]
                yield pd.DataFrame(
                    rows, columns=["url", "warc_ts", "html", "text", "lang"]
                )

        return spark.range(start, end, numPartitions=4).mapInPandas(
            gen, schema=PAGES_SCHEMA
        )

    src = f"{WORK}/pages"
    os.makedirs(src, exist_ok=True)
    stage_dir = f"{WORK}/stage"

    def write_chunk(i: int) -> str:
        target = os.path.join(src, f"chunk_{i:04d}.parquet")
        shutil.rmtree(stage_dir, ignore_errors=True)
        chunk_df(i * N_DOCS, (i + 1) * N_DOCS).repartition(1).write.parquet(
            stage_dir
        )
        part = [f for f in os.listdir(stage_dir) if f.endswith(".parquet")][0]
        os.rename(os.path.join(stage_dir, part), target)
        os.utime(target, (1_700_000_000 + i, 1_700_000_000 + i))
        return target

    for i in range(N_SEEN_BATCHES):
        write_chunk(i)
    cat = SinkCatalog(spark, f"{WORK}/cur")
    q = start_curation_stream(
        stream_pages(spark, src, max_files_per_trigger=1),
        cat,
        f"{WORK}/ckpt_seed",
    )
    q.awaitTermination()
    last = cat.read_manifest("stream_curate")["last_batch_id"]
    out["seeded_state_rows"] = cat.read("dedup_seen_buckets").count()

    # snapshot the post-seed state for the real-drain leg BEFORE the manual
    # stages append to it, then land the profiled chunk
    shutil.rmtree(f"{WORK}/cur2", ignore_errors=True)
    shutil.copytree(f"{WORK}/cur", f"{WORK}/cur2")
    profiled = write_chunk(N_SEEN_BATCHES)

    # --- the profiled batch, stage by stage (mirrors write_batch) ----------
    batch = spark.read.parquet(profiled)
    n_parts = batch.rdd.getNumPartitions()
    stages: dict = {}

    from mysql_cdc_rs_spark.streaming.stream_pipeline import _fan_out
    from mysql_cdc_rs_spark.operators.decode import decode_pages

    t0 = time.monotonic()
    quality = quality_corpus(decode_pages(_fan_out(batch))).persist()
    n_quality = quality.count()
    stages["decode_quality"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    banded = DD.banded_buckets(quality).persist()
    n_banded = banded.count()
    stages["banded"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    pos = F.col("p") + F.col("r")
    drops = (
        seen_positions(banded, cat, last)
        .where((pos >= 2) & (pos <= DD.MAX_BUCKET))
        .select("doc_id")
        .distinct()
        .persist()
    )
    n_drops = drops.count()
    stages["probe"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    survivors = quality.join(drops, "doc_id", "left_anti")
    cat.append(survivors.withColumn("batch_id", F.lit(last + 1)), "curated")
    stages["write_survivors"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    cat.append(seen_rows(banded, last + 1), "dedup_seen_buckets")
    stages["write_seen"] = round(time.monotonic() - t0, 3)
    for df in (quality, banded, drops):
        df.unpersist()

    stages_sum = round(sum(stages.values()), 3)
    out.update(
        stages=stages,
        stages_sum=stages_sum,
        n_quality=n_quality,
        n_banded=n_banded,
        n_drops=n_drops,
        batch_partitions=n_parts,
    )

    # --- the same batch through the REAL streaming harness -----------------
    # (cur2 = post-seed snapshot, same checkpoint: only the profiled chunk
    # is unconsumed, so the drain is exactly one real micro-batch)
    cat2 = SinkCatalog(spark, f"{WORK}/cur2")
    t0 = time.monotonic()
    q = start_curation_stream(
        stream_pages(spark, src, max_files_per_trigger=1),
        cat2,
        f"{WORK}/ckpt_seed",
    )
    q.awaitTermination()
    drain_sec = round(time.monotonic() - t0, 3)
    out["real_drain_sec"] = drain_sec
    out["stream_harness_overhead_sec"] = round(drain_sec - stages_sum, 3)
    out["docs_per_sec_profiled"] = round(N_DOCS / drain_sec, 1)
    out["host_load_at_end"] = [round(x, 2) for x in os.getloadavg()]
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
