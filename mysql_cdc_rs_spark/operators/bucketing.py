"""Bucketed co-located joins (SURVEY §2.5 J5 HASH distribution, §4 O10).

The reference declares HASH distribution for big dimension tables
(/root/reference/common/src/schema/schema.rs:92-97).  Spark's physical
realization is BUCKETED tables: both sides pre-hashed into the same number
of buckets on the join key at WRITE time, so the join runs with ZERO
exchange — the decisive optimization for repeated fact-fact joins at 100 TB
(pay the shuffle once at ingest, never again).

Locally this uses the session's spark_catalog with a warehouse dir; on a
cluster the same code targets the production catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist df as a bucketed (+optionally sorted) table.

    ``path`` makes the table EXTERNAL: files land at ``path`` (which
    outlives the session) instead of the session warehouse, and a later
    session can re-attach a table definition over them with ``CREATE TABLE
    ... CLUSTERED BY ... LOCATION`` — bucket membership is encoded in the
    file names, so the spec survives without any metastore.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Inner-join two same-bucketed tables — planner elides both exchanges.

    The sort-merge hint makes the bucket distribution actually used;
    without it the optimizer may (correctly) broadcast a small side, which
    is fine too but doesn't exercise co-location.
    """
    return spark.table(left_table).hint("merge").join(spark.table(right_table), on)
