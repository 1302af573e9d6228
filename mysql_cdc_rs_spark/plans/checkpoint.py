"""Checkpoint-resumable stages with input lineage (SURVEY §4 item 3).

The reference records its position (binlog file, log_pos, GTID set) while
it reads (binlog/src/metadata/gtid_manager.rs:8-138), so a
restarted reader resumes instead of replaying.  Batch restatement: each
stage writes its output plus a manifest

    {status, stage, input_lineage: {rows, min_bucket, max_bucket, fingerprint}}

where the lineage is ``lineage_record``'s aggregates over deterministic
url-hash buckets: stable across runs and parallelism levels, and cheap
enough for a write to observe on its own input.  A rerun computes the
input's lineage only when a complete manifest and its table exist; when
the two agree it SKIPS the stage and reuses the persisted output.  The
status reads ``running`` from before a write until its manifest commits, so
a crash in between never leaves the previous input's ``complete`` manifest
beside the new rows.
"""

from __future__ import annotations

from functools import cache
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.sources.catalog import SinkCatalog


def lineage_record() -> list[Column]:
    """A lineage's aggregate columns over ``url_bucket``: ``rows``,
    ``min_bucket``, ``max_bucket`` and ``fingerprint``, an order-independent
    hash of the bucket histogram, ``sum(pmod(xxhash64(bucket), 2^20))``.
    Each term is below 2^20, so the sum stays a valid ``bigint`` under ANSI
    up to 2^43 (~8.8 * 10^12) rows."""
    b = F.col("url_bucket")
    return [
        F.count("*").alias("rows"),
        F.min(b).alias("min_bucket"),
        F.max(b).alias("max_bucket"),
        F.sum(F.pmod(F.xxhash64(b), F.lit(1 << 20))).alias("fingerprint"),
    ]


def lineage_summary(df: DataFrame) -> dict:
    """``df``'s lineage (W3/A8): one global aggregate of ``lineage_record``."""
    return df.agg(*lineage_record()).first().asDict()


class CheckpointedStage:
    """Run-or-resume wrapper around a stage function."""

    def __init__(self, catalog: SinkCatalog, stage_name: str):
        self.catalog = catalog
        self.name = stage_name

    def completed_with(self, input_lineage: Callable[[], dict]) -> bool:
        """True when the stage completed over the input whose lineage
        ``input_lineage()`` computes; it is called only when a complete
        manifest and its table exist."""
        m = self.catalog.read_manifest(self.name)
        return (
            m is not None
            and m.get("status") == "complete"
            and self.catalog.exists(self.name)
            and m.get("input_lineage") == input_lineage()
        )

    def run(self, input_df: DataFrame, fn) -> DataFrame:
        """fn(input_df) -> output_df; skipped when already complete.  The
        input's lineage is computed once, for the check or the manifest."""
        input_lineage = cache(lambda: lineage_summary(input_df))
        if not self.completed_with(input_lineage):
            lineage = input_lineage()
            self.mark_incomplete()
            self.catalog.overwrite(fn(input_df), self.name)
            self.mark_complete(lineage)
        return self.catalog.read(self.name)

    def mark_incomplete(self) -> None:
        """Record that the stage's table is being rewritten.  Called before
        the write, so a crash between the write and ``mark_complete`` leaves
        no complete manifest of the previous input beside the new rows."""
        self.catalog.write_manifest(self.name, {"status": "running", "stage": self.name})

    def mark_complete(self, input_lineage: dict) -> None:
        """Record the stage's output as complete over ``input_lineage``."""
        self.catalog.write_manifest(
            self.name,
            {"status": "complete", "stage": self.name, "input_lineage": input_lineage},
        )
