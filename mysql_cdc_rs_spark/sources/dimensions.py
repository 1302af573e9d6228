"""Dimension tables for enrichment (SURVEY §2.5 J1/J3).

The reference's schema catalog declares per-table HASH vs BROADCAST
distribution (/root/reference/common/src/schema/schema.rs:92-97); these dims
are the BROADCAST case — tiny and immutable, so ``operators.enrich`` ships
them in the plan as map literals.  ``lang -> region`` mirrors the charset-id
-> encoding lookup (J3); ``tld -> category`` mirrors the table-id -> TableMap
metadata lookup (J1), including the "missing key -> error route" semantics
(TABLE_MAP_NOT_FOUND, /root/reference/binlog/src/row/parser.rs:24-26).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.types import StructType

LANG_REGION = [
    ("en", "americas", "English"),
    ("de", "emea", "German"),
    ("fr", "emea", "French"),
    ("es", "americas", "Spanish"),
    ("zh", "apac", "Chinese"),
    ("ja", "apac", "Japanese"),
    ("ko", "apac", "Korean"),
    ("ru", "emea", "Russian"),
    ("pt", "americas", "Portuguese"),
    # "it" intentionally ABSENT -> unmatched rows exercise the error route.
]

TLD_CATEGORY = [
    ("com", "commercial"),
    ("org", "nonprofit"),
    ("net", "infrastructure"),
    ("de", "country"),
    ("fr", "country"),
    ("cn", "country"),
    ("jp", "country"),
    ("io", "tech"),
    ("edu", "education"),
    # "gov" intentionally ABSENT -> error-route fodder.
]


def literal_df(spark, rows: list[tuple], ddl: str):
    """Driver-literal ``rows`` as a DataFrame planned as ``LocalTableScan``.

    ``spark.createDataFrame(list)`` plans a list as a Python RDD (``Scan
    ExistingRDD``), so every job over it, a broadcast included, starts
    Python tasks.  An Arrow table becomes a local relation instead: the
    rows travel inside the plan, a ``collect`` runs no Spark job, and a
    broadcast runs a JVM-only one.
    """
    schema = StructType.fromDDL(ddl)
    table = pa.table([list(col) for col in zip(*rows)], names=schema.names)
    return spark.createDataFrame(table, schema)

