"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship decode->enrich->route->aggregate run over a
  pages table derived deterministically from the sf0.001 documents parquet.
- ``queries()``: one entry per implemented operator (SURVEY.md §2 inventory).
- ``oracle_sql()``: exact DuckDB twins; cross-engine determinism rules are
  documented in mysql_cdc_rs_spark/queries.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

_SHIPPED: set[str] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executors (the harness may pass a session built
    without our build_session and from any cwd; verified: without this,
    queries fail with ModuleNotFoundError whenever cwd != repo root), and
    exclude the AQE rule that ``curate`` requires excluded."""
    from mysql_cdc_rs_spark.session import (
        EMPTY_RELATION_RULE,
        EXCLUDED_RULES,
        ship_package,
    )

    ship_package(spark)
    rules = spark.conf.get(EXCLUDED_RULES, "")
    if EMPTY_RELATION_RULE not in rules:
        rules = f"{rules},{EMPTY_RELATION_RULE}" if rules else EMPTY_RELATION_RULE
        spark.conf.set(EXCLUDED_RULES, rules)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline over sf0.001-derived pages -> per-route/region
    counts (exact per-sink totals, the north rule's headline aggregate)."""
    from pyspark.sql import functions as F

    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.operators.enrich import enrich
    from mysql_cdc_rs_spark.sources.pages_from_documents import pages_from_documents

    _ensure_shipped(spark)
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    enriched = enrich(decode_pages(pages))
    return (
        enriched.groupBy("route", "region", "event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce(F.col("body_len"), F.lit(0))).alias("total_body_bytes"),
        )
        .orderBy("route", "region", "event_type")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mysql_cdc_rs_spark.queries import QUERIES

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_shipped(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from mysql_cdc_rs_spark.queries import ORACLES

    return dict(ORACLES)
