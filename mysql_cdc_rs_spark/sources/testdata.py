"""Loaders for the driver-generated parquet testdata (TESTDATA.md)."""

from __future__ import annotations

import os

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark, sf_dir: str, table: str):
    if table not in TABLES:
        raise KeyError(table)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def spread(df):
    """Fan a low-parallelism frame out to the session's cores.

    The driver testdata ships each table as ONE parquet file with ONE row
    group, and one arriving file is one partition of a stream micro-batch,
    so the scan stage gets a single effective task — and every narrow
    operation until the first exchange (regex projections, shingle explode
    + md5, higher-order-function folds, Python decode) inherits it.
    Optimization guide §2.5: one huge unsplittable input — repartition
    immediately after the read.

    The target is the session's ``defaultParallelism``, not a constant, and
    a frame that already has that many partitions passes through untouched
    (never coalesced).  Round-robin repartition keeps retried tasks
    deterministic (sort-before-repartition stays on).  Apply BELOW the
    expensive work, on frames that feed heavy narrow stages; frames whose
    first downstream op is already an exchange gain nothing.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
