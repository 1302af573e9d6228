"""End-to-end pipeline: pages -> decode -> enrich -> route -> aggregate.

Mirrors the reference lifecycle (SURVEY §3.1) as four declarative stages.
The hot path is exactly one vectorized UDF projection + two broadcast joins
+ one partitioned write, which also computes the run record — no per-row
Python, no driver loops, no collect() of fact data.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.functions.columns import url_bucket
from mysql_cdc_rs_spark.operators.decode import decode_pages
from mysql_cdc_rs_spark.operators.enrich import enrich
from mysql_cdc_rs_spark.operators.route import write_routes
from mysql_cdc_rs_spark.plans.checkpoint import CheckpointedStage, lineage_summary
from mysql_cdc_rs_spark.sources.catalog import SinkCatalog


@dataclass
class PipelineResult:
    route_counts: dict[str, int]
    metrics: dict[str, object] = field(default_factory=dict)
    elapsed_s: float = 0.0


def build_enriched(pages: DataFrame) -> DataFrame:
    """Lazy plan for decode+enrich (no action)."""
    return enrich(decode_pages(pages))


def run_pipeline(pages: DataFrame, catalog: SinkCatalog) -> PipelineResult:
    """Decode, enrich and route ``pages`` into ``catalog``.  ``metrics`` is
    the run record that the routed write observed (``stats.run_record``),
    read from the ``routes`` manifest; a resumed run returns the stored
    record without recomputing it."""
    t0 = time.monotonic()

    # decode+enrich+route is one checkpointable unit; its input lineage is
    # the pages table's deterministic url-bucket histogram.
    stage = CheckpointedStage(catalog, "routed")
    input_lineage = lineage_summary(
        pages.select(url_bucket(F.col("url")).alias("url_bucket"))
    )
    if not stage.completed_with(input_lineage):
        counts = write_routes(build_enriched(pages), catalog)
        stage.mark_complete(input_lineage, {"row_count": sum(counts.values())})
    routes = catalog.read_manifest("routes")
    return PipelineResult(
        route_counts=routes["counts"],
        metrics=routes["record"],
        elapsed_s=time.monotonic() - t0,
    )
