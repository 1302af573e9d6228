"""Routing stage: fan-out to per-route sinks (SURVEY §2.10 R1, §2.1 S7).

The reference dispatches every decoded row to registered handlers by
operation kind (/root/reference/binlog/src/row/event_handler.rs:118-163) and
persists to CRC-checked relay-log segments.  Spark-first restatement: the
route is a COLUMN, and the fan-out is ONE write partitioned by that column —
a single pass over the data, no per-route job, no per-route shuffle.  Each
route directory is then exposed as its own sink table.

Per-sink exact counts (A3) come from the same single pass via a groupBy on
the route column, written to the metrics sink; `routed-row equality` =
union(routes) == decoded input, verified in tests with exceptAll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.sources.catalog import SinkCatalog

ROUTES = ["content_html", "content_plain", "content_binary", "redirect", "errors"]

# Columns persisted to content sinks (the decode-time scratch stays behind).
SINK_COLUMNS = [
    "url",
    "warc_ts",
    "lang",
    "url_bucket",
    "host",
    "tld",
    "region",
    "category",
    "status",
    "mime",
    "charset",
    "event_type",
    "route",
    "text",
    "title",
    "body_len",
    "error",
    "enrich_error",
]


def route_table(enriched: DataFrame) -> DataFrame:
    """Project the sink schema; route column drives the partitioned write."""
    cols = [c for c in SINK_COLUMNS if c in enriched.columns]
    return enriched.select(*cols)


def write_routes(enriched: DataFrame, catalog: SinkCatalog) -> dict[str, int]:
    """Single-pass fan-out write + exact per-sink counts.

    Returns {route: row_count} computed from the written data (read-back),
    so the counts attest what actually landed in the sink — the analog of
    the reference's per-table metrics keyed by db.table
    (/root/reference/binlog/src/row/monitoring.rs:154-180).
    """
    routed = route_table(enriched)
    catalog.overwrite(routed, "routed", partition_by=["route"])
    counts = route_counts(catalog.read("routed"))
    catalog.write_manifest(
        "routes", {"counts": counts, "total": sum(counts.values())}
    )
    return counts


def route_counts(routed: DataFrame) -> dict[str, int]:
    """{route: row_count} of a routed table (one aggregate job)."""
    return {
        r["route"]: r["n"]
        for r in routed.groupBy("route").agg(F.count("*").alias("n")).collect()
    }
