"""Aggregation/metrics layer (SURVEY §2.6 A1-A9).

The reference counts each event while it decodes it
(binlog/src/decoder/event_statistics.rs:8-200,
 binlog/src/row/monitoring.rs:9-180).  Here the run record
is the same idea: ``decode_record``/``run_record``/``cap_record`` are
global aggregates for ``DataFrame.observe``, so the pass that writes the
data counts it, with no job of their own.  ``charset_stats`` and the
salted two-phase aggregate ``salted_sums`` are the A7 and skew oracle
queries' code; ``host_stats_salted`` runs the latter over a finished sink.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Observation
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


NO_CAP = {"lsh.cap_shed": 0, "lsh.cap_buckets": 0}


def cap_record(pos: str, cap: int) -> list[Column]:
    """Curation's LSH cap census (``NO_CAP`` when nothing is capped) on a
    bucket window whose ``pos`` runs 1..size: the rows past ``cap``, and
    the buckets that reach ``cap + 1``."""
    return [
        F.expr(f"count_if({pos} > {cap}) AS `lsh.cap_shed`"),
        F.expr(f"count_if({pos} = {cap + 1}) AS `lsh.cap_buckets`"),
    ]


def observed(obs: Observation) -> dict:
    """``obs.get``, or {} when ``obs`` has no metrics: no action completed
    it within 10 s (actions hand them over through the listener bus, ms
    later; ``obs.get`` waits forever on one no action ran), or its subtree
    was pruned from the plan and Spark completed it with an empty row."""
    done, end = obs._jo.future(), time.monotonic() + 10.0
    while not done.isCompleted():
        if time.monotonic() > end:
            return {}
        time.sleep(0.01)
    return obs.get if obs._jo.getRow().length() else {}


def charset_stats(decoded: DataFrame) -> DataFrame:
    """A7 analog: the charset census of a decode (column-parser type stats),
    ``(event_type, charset, charset_source) -> n``; a page whose charset was
    not found is counted under a NULL charset."""
    return decoded.groupBy("event_type", "charset", "charset_source").agg(
        F.count("*").alias("n")
    )


# Reducers per hot key in phase 1 of ``salted_sums``.
SALT_BUCKETS = 8


def salted_sums(
    df: DataFrame, key: str, salt_source: str, sums: dict[str, Column]
) -> DataFrame:
    """Skew-safe ``groupBy(key)`` of named sums (SURVEY §4 item 2).

    Phase 1 aggregates on (key, salt), salt = ``pmod(xxhash64(salt_source),
    SALT_BUCKETS)``, so a hot key's rows spread over ``SALT_BUCKETS``
    reducers; phase 2 merges the partials per key.  Exactly equal to the
    direct groupBy, while the largest reduce task holds 1/SALT_BUCKETS of
    the hot key.  Pass ``F.lit(1)`` as a sum to count rows."""
    salted = df.select(
        key,
        F.pmod(F.xxhash64(salt_source), F.lit(SALT_BUCKETS)).alias("salt"),
        *[c.alias(name) for name, c in sums.items()],
    )
    partial = salted.groupBy(key, "salt").agg(
        *[F.sum(name).alias(name) for name in sums]
    )
    return partial.groupBy(key).agg(*[F.sum(name).alias(name) for name in sums])


def host_stats_salted(decoded: DataFrame) -> DataFrame:
    """Per-host page count, bytes and errors, salted on the url: host is the
    pipeline's genuinely skewed key (~30% of rows land on hot.<tld> hosts by
    construction)."""
    return salted_sums(
        decoded,
        "host",
        "url",
        {
            "n_pages": F.lit(1),
            "total_bytes": F.coalesce(F.col("raw_len"), F.lit(0)),
            "n_errors": F.col("error").isNotNull().cast("int"),
        },
    )
