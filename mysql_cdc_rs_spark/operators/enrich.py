"""Enrichment stage: broadcast-hash dimension lookups (SURVEY §2.5).

J1/J3 semantics from the reference:
- every row joins its key against a small dimension (TableMap metadata /
  charset map) — here lang->region and tld->category;
- a MISSING key is an error, not a null: the reference raises
  TABLE_MAP_NOT_FOUND (/root/reference/binlog/src/row/parser.rs:24-26); we
  route unmatched rows to the error sink via the ``enrich_error`` column
  instead of dropping or crashing.

Both joins are explicit ``broadcast()`` — dims are O(100) rows; at 10^12
fact rows these must never shuffle the fact side.  The dims are driver
literals planned as ``LocalTableScan``, so each broadcast is a JVM-only job
over the local rows, with no Python task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from mysql_cdc_rs_spark.sources.dimensions import lang_region_df, tld_category_df

#: ``enrich_error`` values: the dimension whose key a row misses
LANG_MISS = "LANG_DIM_NOT_FOUND"
TLD_MISS = "TLD_DIM_NOT_FOUND"


def enrich(decoded: DataFrame) -> DataFrame:
    spark = decoded.sparkSession
    lang_dim = lang_region_df(spark)
    tld_dim = tld_category_df(spark)

    out = (
        decoded.join(broadcast(lang_dim), "lang", "left")
        .join(broadcast(tld_dim), "tld", "left")
        .withColumn(
            "enrich_error",
            F.when(F.col("region").isNull(), F.lit(LANG_MISS))
            .when(F.col("category").isNull(), F.lit(TLD_MISS))
            .otherwise(F.lit(None).cast("string")),
        )
    )
    # unmatched dimension keys override the route to the error sink
    return out.withColumn(
        "route",
        F.when(F.col("enrich_error").isNotNull(), F.lit("errors")).otherwise(
            F.col("route")
        ),
    )
