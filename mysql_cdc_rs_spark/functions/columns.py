"""Pure-Column decoders — everything Catalyst can whole-stage-codegen.

These are the JVM-side (zero-Python) equivalents of the kernel's fixed-width
scalar decoders (SURVEY §2.4 C6-C9): packed MySQL year/date/time/datetime
words decoded with shifts, masks and integer division as Column
expressions.  Used both by the pipeline and by driver-contract queries (each
has a DuckDB oracle with the same arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def mysql_year(col: Column) -> Column:
    """YEAR byte -> 1900 + v  (kernel C6)."""
    return (F.lit(1900) + col).cast("int")


def mysql_date(col: Column) -> Column:
    """Bit-packed DATE u24 -> DateType: bits 0-4 day, 5-8 month, 9+ year (C7)."""
    return F.make_date(
        F.shiftright(col, 9), F.shiftright(col, 5).bitwiseAND(F.lit(0x0F)),
        col.bitwiseAND(F.lit(0x1F)),
    )


def mysql_datetime(col: Column) -> Column:
    """Legacy DATETIME u64 decimal-packed YYYYMMDDHHMMSS -> timestamp (C9)."""
    d = (col / F.lit(1000000)).cast("long")
    t = (col % F.lit(1000000)).cast("long")
    return F.make_timestamp(
        (d / 10000).cast("int"),
        ((d / 100) % 100).cast("int"),
        (d % 100).cast("int"),
        (t / 10000).cast("int"),
        ((t / 100) % 100).cast("int"),
        (t % 100).cast("decimal(8,6)"),
    )


def tld_of_url(url: Column) -> Column:
    """https://host.tld/path -> tld (enrichment join key)."""
    host = F.parse_url(url, F.lit("HOST"))
    return F.substring_index(host, ".", -1)


def host_of_url(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


# Number of url-hash buckets used for explicit partitioning/lineage. At
# 10^12 docs this is the table's physical partition key (Iceberg bucket
# transform); locally it sizes lineage granularity.
URL_BUCKETS = 256


def url_bucket(url: Column) -> Column:
    """Deterministic url-hash bucket in [0, URL_BUCKETS): the decoded
    table's ``url_bucket`` column and every checkpoint's lineage key."""
    return F.pmod(F.xxhash64(url), F.lit(URL_BUCKETS)).cast("int")


def classify_sql_col(sql: Column) -> Column:
    """Column-expression twin of kernel.ddl.classify_sql (F4) — keeps the
    cheap DDL/DML/TCL prefilter JVM-side so only DDL rows reach the Python
    parser (the reference's cost dodge, query_parser.rs:25-28)."""
    return (
        F.when(
            sql.rlike(r"^\s*(?i)(CREATE|ALTER|DROP|TRUNCATE|RENAME)\s+(?i)(TABLE|DATABASE|INDEX|VIEW)"),
            "ddl",
        )
        .when(sql.rlike(r"^\s*(?i)(INSERT|UPDATE|DELETE|REPLACE)\b"), "dml")
        .when(sql.rlike(r"^\s*(?i)(BEGIN|COMMIT|ROLLBACK|XA)\b"), "tcl")
        .otherwise("other")
    )
