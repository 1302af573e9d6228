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
    """Fan a low-parallelism scan out to the session's cores.

    The driver testdata ships each table as ONE parquet file with ONE row
    group, so the scan stage gets a single effective task — and every
    narrow operation until the first exchange (regex projections, shingle
    explode + md5, higher-order-function folds, Python decode) inherits
    that single task on a 32-core session.  Optimization guide §2.5: one
    huge unsplittable input — repartition immediately after the read.

    Scale-adaptive by construction, in both directions: the target is the
    session's defaultParallelism (not a constant) CAPPED by a per-task
    input floor (``floor_bytes``, the openCostInBytes-style rule of guide
    §6 — tasks smaller than ~32 KiB of input pay more in scheduling than
    they recover in parallelism; measured at sf0.1 as a 0.1-0.2 s fixed
    regression on sub-second queries when fanned to all 32 cores), and an
    already-parallel scan (enough splittable row groups, or a many-file
    table at fleet scale) passes through untouched.  Round-robin
    repartition keeps retried tasks deterministic (sort-before-repartition
    stays on).  Apply BELOW the expensive work, on scans that feed heavy
    narrow stages; scans whose first downstream op is already an exchange
    gain nothing.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        total = sum(
            os.path.getsize(f[7:] if f.startswith("file:") else f)
            for f in df.inputFiles()
        )
        if total:
            target = min(target, max(1, total // (32 << 10)))
    except Exception:
        pass  # non-file source: fan to full parallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
