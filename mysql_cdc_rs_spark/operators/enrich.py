"""Enrichment stage: dimension lookups as map literals (SURVEY §2.5).

J1/J3 semantics from the reference:
- every row looks its key up in a small dimension (TableMap metadata /
  charset map) — here lang->region and tld->category;
- a MISSING key is an error, not a null: the reference raises
  TABLE_MAP_NOT_FOUND (/root/reference/binlog/src/row/parser.rs:24-26); we
  route unmatched rows to the error sink via the ``enrich_error`` column
  instead of dropping or crashing.

Both dimensions are driver literals of a few rows, so each lookup is
``element_at(<map literal>, key)`` in the fact projection: no join, no
broadcast job, and the fact side never moves.  A null or missing key gives
null, exactly as a left join would.  J1's broadcast-join technique stays
verified by the ``j1_broadcast_part_join`` oracle query.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.sources.dimensions import LANG_REGION, TLD_CATEGORY

#: ``enrich_error`` values: the dimension whose key a row misses
LANG_MISS = "LANG_DIM_NOT_FOUND"
TLD_MISS = "TLD_DIM_NOT_FOUND"


def _lookup(pairs, key: str) -> Column:
    return F.element_at(F.create_map(*map(F.lit, chain(*pairs))), F.col(key))


def enrich(decoded: DataFrame) -> DataFrame:
    out = decoded.select(
        "*",
        _lookup([(k, r) for k, r, _ in LANG_REGION], "lang").alias("region"),
        _lookup([(k, n) for k, _, n in LANG_REGION], "lang").alias("lang_name"),
        _lookup(TLD_CATEGORY, "tld").alias("category"),
    ).withColumn(
        "enrich_error",
        F.when(F.col("region").isNull(), F.lit(LANG_MISS))
        .when(F.col("category").isNull(), F.lit(TLD_MISS)),
    )
    # unmatched dimension keys override the route to the error sink
    return out.withColumn(
        "route",
        F.when(F.col("enrich_error").isNotNull(), F.lit("errors")).otherwise(
            F.col("route")
        ),
    )
