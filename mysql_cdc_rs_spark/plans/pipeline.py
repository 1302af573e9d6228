"""End-to-end pipeline: pages -> decode -> enrich -> route -> aggregate.

Mirrors the reference lifecycle (SURVEY §3.1) as four declarative stages.
The hot path is exactly one vectorized UDF projection + two broadcast joins
+ one partitioned write + metric groupBys — no per-row Python, no driver
loops, no collect() of fact data.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.functions.columns import url_bucket
from mysql_cdc_rs_spark.operators.decode import decode_pages
from mysql_cdc_rs_spark.operators.enrich import enrich
from mysql_cdc_rs_spark.operators.route import route_counts, write_routes
from mysql_cdc_rs_spark.operators import stats as S
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


def run_pipeline(
    pages: DataFrame,
    catalog: SinkCatalog,
    with_metrics: bool = True,
    resume: bool = True,
) -> PipelineResult:
    t0 = time.monotonic()
    enriched = build_enriched(pages)

    # decode+enrich+route is one checkpointable unit; its input lineage is
    # the pages table's deterministic url-bucket histogram.
    stage = CheckpointedStage(catalog, "routed")
    input_lineage = (
        lineage_summary(pages.select(url_bucket(F.col("url")).alias("url_bucket")))
        if resume
        else None
    )
    if resume and stage.completed_with(input_lineage):
        routed = catalog.read("routed")
        counts = route_counts(routed)
    else:
        counts = write_routes(enriched, catalog)
        if resume:
            stage.mark_complete(input_lineage, {"row_count": sum(counts.values())})
        routed = catalog.read("routed")

    metrics: dict[str, object] = {}
    if with_metrics:
        # metrics computed from the PERSISTED routed table (attested counts)
        decoded_cols = routed.withColumn(
            "raw_len", F.coalesce(F.col("body_len"), F.lit(0))
        )
        metrics["per_sink"] = [r.asDict() for r in S.per_sink_metrics(routed).collect()]
        metrics["event_type"] = [
            r.asDict(True)
            for r in S.event_type_stats(
                decoded_cols.withColumn("warc_ts", F.col("warc_ts"))
            ).collect()
        ]
        metrics["errors"] = [r.asDict() for r in S.error_stats(decoded_cols).collect()]
        metrics["top_hosts"] = [
            r.asDict()
            for r in S.host_stats_salted(decoded_cols).limit(20).collect()
        ]
        catalog.write_manifest("metrics", _json_safe(metrics))

    return PipelineResult(
        route_counts=counts,
        metrics=metrics,
        elapsed_s=time.monotonic() - t0,
    )


def _json_safe(obj):
    import datetime

    if isinstance(obj, dict):
        return {k: _json_safe(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_json_safe(v) for v in obj]
    if isinstance(obj, (datetime.datetime, datetime.date)):
        return obj.isoformat()
    return obj
