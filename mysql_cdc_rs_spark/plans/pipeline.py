"""End-to-end pipeline: pages -> decode -> enrich -> route -> aggregate.

Mirrors the reference lifecycle (SURVEY §3.1) as four declarative stages.
The hot path is exactly one vectorized UDF projection + two map-literal
dimension lookups + one partitioned write, which also observes the run
record and the input lineage: a run over a fresh sink is one Spark job —
no per-row Python, no driver loops, no collect() of fact data.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.functions.columns import url_bucket
from mysql_cdc_rs_spark.operators.decode import decode_pages
from mysql_cdc_rs_spark.operators.enrich import enrich
from mysql_cdc_rs_spark.operators.route import write_routes
from mysql_cdc_rs_spark.plans import checkpoint as C
from mysql_cdc_rs_spark.sources.catalog import SinkCatalog


@dataclass
class PipelineResult:
    route_counts: dict[str, int]
    metrics: dict[str, object] = field(default_factory=dict)
    elapsed_s: float = 0.0


def run_pipeline(pages: DataFrame, catalog: SinkCatalog) -> PipelineResult:
    """Decode, enrich and route ``pages`` into ``catalog``.  ``metrics`` is
    the run record that the routed write observed (``stats.run_record``),
    read from the ``routes`` manifest; a resumed run returns the stored
    record without recomputing it."""
    t0 = time.monotonic()

    # decode+enrich+route is one checkpointable unit.  The pages' lineage
    # is scanned only to check a completed run; otherwise the write observes
    # it (decode and enrich are 1:1, so the rows carry the pages' buckets).
    stage = C.CheckpointedStage(catalog, "routed")
    buckets = pages.select(url_bucket(F.col("url")).alias("url_bucket"))
    if not stage.completed_with(lambda: C.lineage_summary(buckets)):
        obs = Observation()
        enriched = enrich(decode_pages(pages)).observe(obs, *C.lineage_record())
        stage.mark_incomplete()
        write_routes(enriched, catalog)
        stage.mark_complete(obs.get)
    routes = catalog.read_manifest("routes")
    return PipelineResult(
        route_counts=routes["counts"],
        metrics=routes["record"],
        elapsed_s=time.monotonic() - t0,
    )
