"""Aggregation/metrics layer (SURVEY §2.6 A1-A9).

The reference counts each event while it decodes it
(binlog/src/decoder/event_statistics.rs:8-200,
 binlog/src/row/monitoring.rs:9-180).  Here the run record
is the same idea: ``decode_record``/``run_record`` are global aggregates
for ``DataFrame.observe``, so the pass that writes the data counts it, with
no job of their own.  The per-group breakdowns below are one declarative
groupBy job each; Catalyst plans partial (map-side) + final aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.kernel.decode import ERROR_CLASSES, EVENT_TYPES, ROUTES
from mysql_cdc_rs_spark.operators.enrich import LANG_MISS, TLD_MISS


# The record columns are SQL strings: one F.expr per column is one py4j
# call, where the Column API takes about ten per count_if; every pipeline
# run and every stream batch builds them.


def _closed_set(prefix: str, expr: str, values: list[str]) -> list[str]:
    """One ``count_if`` per value, plus ``<prefix>.other`` for any non-null
    value outside the set."""
    listed = ", ".join(f"'{v}'" for v in values)
    return [f"count_if({expr} = '{v}') AS `{prefix}.{v}`" for v in values] + [
        f"count_if({expr} NOT IN ({listed})) AS `{prefix}.other`"
    ]


def decode_record() -> list[Column]:
    """Run-record columns of a ``decode_pages`` frame: ``rows``,
    ``event.<t>`` per ``EVENT_TYPES``, ``error.<class>`` per
    ``ERROR_CLASSES`` (the class is the ``error`` text before the first
    ':') and ``bytes_in`` (html bytes)."""
    return [
        F.expr(e)
        for e in [
            "count(1) AS rows",
            *_closed_set("event", "event_type", EVENT_TYPES),
            *_closed_set("error", "substring_index(error, ':', 1)", ERROR_CLASSES),
            "coalesce(sum(raw_len), 0) AS bytes_in",
        ]
    ]


def run_record() -> list[Column]:
    """``decode_record`` plus the enriched, routed side of a pipeline run:
    ``route.<r>`` rows and ``route_bytes.<r>`` body bytes per ``ROUTES``,
    ``enrich.<missing dim>``, ``bytes_out`` (body bytes) and
    ``first_seen``/``last_seen`` (``warc_ts``, as text)."""
    return decode_record() + [
        F.expr(e)
        for e in [
            *_closed_set("route", "route", ROUTES),
            *[
                f"coalesce(sum(if(route = '{r}', body_len, 0)), 0)"
                f" AS `route_bytes.{r}`"
                for r in ROUTES
            ],
            *[
                f"count_if(enrich_error = '{e}') AS `enrich.{e}`"
                for e in (LANG_MISS, TLD_MISS)
            ],
            "coalesce(sum(body_len), 0) AS bytes_out",
            "string(min(warc_ts)) AS first_seen",
            "string(max(warc_ts)) AS last_seen",
        ]
    ]


def event_type_stats(decoded: DataFrame) -> DataFrame:
    """A1: per-event-type counters (count, bytes, min/max/avg sizes, errors)."""
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("raw_len").alias("total_bytes"),
            F.min("raw_len").alias("min_bytes"),
            F.max("raw_len").alias("max_bytes"),
            F.round(F.avg("raw_len"), 4).alias("avg_bytes"),
            F.count(F.when(F.col("error").isNotNull(), 1)).alias("error_count"),
            F.min("warc_ts").alias("first_seen"),
            F.max("warc_ts").alias("last_seen"),
        )
        .orderBy("event_type")
    )


def global_rollup(decoded: DataFrame) -> DataFrame:
    """A2: global + per-event-type rollup in one pass (GROUPING SETS)."""
    return (
        decoded.rollup("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("raw_len").alias("total_bytes"),
        )
        .orderBy(F.col("event_type").asc_nulls_first())
    )


def size_histogram(decoded: DataFrame, col: str = "raw_len") -> DataFrame:
    """A4: power-of-two size buckets (reference's row-size distribution)."""
    bucket = F.when(F.col(col) <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2(F.col(col)))
    )
    return (
        decoded.withColumn("size_bucket", bucket.cast("int"))
        .groupBy("size_bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("size_bucket")
    )


def charset_stats(decoded: DataFrame) -> DataFrame:
    """A7 analog: charset/source distribution (column-parser type stats)."""
    return (
        decoded.filter(F.col("charset").isNotNull())
        .groupBy("charset", "charset_source")
        .agg(F.count("*").alias("n"))
        .orderBy("charset", "charset_source")
    )


def host_stats_salted(decoded: DataFrame, salt_buckets: int = 8) -> DataFrame:
    """Per-host stats with two-phase salted aggregation (SURVEY §4 item 2).

    host is the pipeline's genuinely skewed high-cardinality key (~30% of
    rows land on hot.<tld> hosts by construction): phase 1 aggregates on
    (host, salt) so a hot host's rows spread over `salt_buckets` reducers,
    phase 2 merges the partials per host.  Exactly equal to the direct
    groupBy (verified by skew_salted_agg's oracle pattern) while bounding
    the largest reduce task at 1/salt_buckets of the hot key.
    """
    from pyspark.sql import functions as F

    salted = decoded.select(
        "host",
        F.pmod(F.xxhash64("url"), F.lit(salt_buckets)).alias("salt"),
        F.coalesce(F.col("raw_len"), F.lit(0)).alias("raw_len"),
        F.when(F.col("error").isNotNull(), 1).otherwise(0).alias("is_err"),
    )
    partial = salted.groupBy("host", "salt").agg(
        F.count("*").alias("pn"),
        F.sum("raw_len").alias("pb"),
        F.sum("is_err").alias("pe"),
    )
    return (
        partial.groupBy("host")
        .agg(
            F.sum("pn").alias("n_pages"),
            F.sum("pb").alias("total_bytes"),
            F.sum("pe").alias("n_errors"),
        )
        .orderBy(F.col("n_pages").desc(), F.col("host"))
    )
