"""Routing stage: fan-out to per-route sinks (SURVEY §2.10 R1, §2.1 S7).

The reference dispatches every decoded row to registered handlers by
operation kind (/root/reference/binlog/src/row/event_handler.rs:118-163) and
persists to CRC-checked relay-log segments.  Spark-first restatement: the
route is a COLUMN, and the fan-out is ONE write partitioned by that column —
a single pass over the data, no per-route job, no per-route shuffle.  Each
route directory is then exposed as its own sink table.

Per-sink exact counts (A3) and the rest of the run record come from that
same pass: an ``Observation`` on the written frame aggregates
``stats.run_record`` while the write runs (``test_run_record_matches_sink``
attests them against the sink).  Routed-row equality = union(routes) ==
decoded input, verified in tests with exceptAll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation

from mysql_cdc_rs_spark.kernel.decode import ROUTES
from mysql_cdc_rs_spark.operators import stats as S
from mysql_cdc_rs_spark.sources.catalog import SinkCatalog

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
    """Single-pass fan-out write; returns {route: row_count}.

    The write itself computes the run record (``stats.run_record``) — the
    analog of the reference's per-table metrics keyed by db.table
    (reference binlog/src/row/monitoring.rs:154-180).  The ``routes``
    manifest keeps it as ``record`` next to ``counts`` and ``total``.
    """
    obs = Observation()
    # observed BEFORE the sink projection, while raw_len is still a column
    catalog.overwrite(
        route_table(enriched.observe(obs, *S.run_record())),
        "routed",
        partition_by=["route"],
    )
    record = obs.get
    counts = {r: record[f"route.{r}"] for r in ROUTES if record[f"route.{r}"]}
    if record["route.other"]:
        # an extension route (registry.register_route): name it from the sink
        counts = {
            r["route"]: r["count"]
            for r in catalog.read("routed").groupBy("route").count().collect()
        }
    catalog.write_manifest(
        "routes", {"counts": counts, "total": record["rows"], "record": record}
    )
    return counts
