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
from pyspark.sql import functions as F

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


def write_routes(
    enriched: DataFrame, catalog: SinkCatalog, batch_id: int | None = None
) -> dict[str, int]:
    """Single-pass fan-out write; returns {route: row_count}.

    The write itself computes the run record (``stats.run_record``) — the
    analog of the reference's per-table metrics keyed by db.table
    (reference binlog/src/row/monitoring.rs:154-180).  The ``routes``
    manifest keeps it as ``record`` next to ``counts`` and ``total``.

    With a ``batch_id`` (one stream micro-batch) the rows carry it as a
    column, the write replaces only that batch's ``batch_id``/``route``
    partitions, and the record goes to manifest ``routes_<batch_id>``: a
    batch replayed after a crash rewrites its rows and record instead of
    adding them again — the relay log's replay-from-the-last-position rule
    (relay_log/src/storage/segment.rs:137-140).
    """
    obs = Observation()
    # observed BEFORE the sink projection, while raw_len is still a column
    routed = route_table(enriched.observe(obs, *S.run_record()))
    if batch_id is None:
        catalog.overwrite(routed, "routed", partition_by=["route"])
        manifest = "routes"
    else:
        catalog.overwrite_partitions(
            routed.withColumn("batch_id", F.lit(batch_id)),
            "routed",
            partition_by=["batch_id", "route"],
        )
        manifest = f"routes_{batch_id}"
    record = obs.get
    counts = {r: record[f"route.{r}"] for r in ROUTES if record[f"route.{r}"]}
    if record["route.other"]:
        # an extension route (registry.register_route): name it from the sink
        sink = catalog.read("routed")
        if batch_id is not None:
            sink = sink.where(F.col("batch_id") == batch_id)
        counts = {
            r["route"]: r["count"] for r in sink.groupBy("route").count().collect()
        }
    catalog.write_manifest(
        manifest, {"counts": counts, "total": record["rows"], "record": record}
    )
    return counts
