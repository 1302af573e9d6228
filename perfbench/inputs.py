"""Seeded benchmark inputs, generated once per seed and cached as parquet.

Every input is a pure function of ``--seed``: pages come from the engine's
own generator ``sources.pages.make_record(seed, i)``.  Generation belongs to the
benchmark, not to the program, so it runs before the first Spark session and
is excluded from every metric.  Pages are built in a ``spawn`` process pool
(one worker per core); the cache is keyed by seed and by size, and a
``_DONE`` marker makes a half-written directory count as missing.
"""

from __future__ import annotations

import multiprocessing
import os
from multiprocessing import resource_tracker
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# Page index ranges per input, disjoint so doc ids never collide.
ROUTE_BASE = 0
CHUNK_BASE = 1_000_000
WARM_BASE = 2_000_000
# Stream chunk files get ascending mtimes: the file source consumes oldest
# first, so arrival order is doc_id order (the batch/stream parity regime).
MTIME_BASE = 1_700_000_000


def _write_pages(args) -> str:
    seed, start, end, path, mtime = args
    from mysql_cdc_rs_spark.sources.pages import make_record

    rows = [make_record(seed, i) for i in range(start, end)]
    cols = {c: [r[j] for r in rows] for j, c in enumerate(PAGE_COLUMNS)}
    pq.write_table(pa.table(cols, schema=PAGE_SCHEMA), path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return path


def _fresh(path: str) -> bool:
    """True when ``path`` must be (re)built; clears a partial build."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return False
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return True


def _done(path: str) -> None:
    open(os.path.join(path, "_DONE"), "w").close()


def page_files(
    seed: int, path: str, base: int, sizes: list[int], mtimes: bool, procs: int
) -> str:
    """Write ``len(sizes)`` parquet files of consecutive generator pages."""
    if _fresh(path):
        jobs, start = [], base
        for k, n in enumerate(sizes):
            name = f"chunk_{k:04d}.parquet"
            mtime = MTIME_BASE + k if mtimes else None
            jobs.append((seed, start, start + n, os.path.join(path, name), mtime))
            start += n
        ctx = multiprocessing.get_context("spawn")
        pool = ctx.Pool(min(procs, len(jobs)))
        try:
            pool.map(_write_pages, jobs)
        finally:
            pool.close()
            pool.join()
            # the pool's semaphores started a resource-tracker process that
            # would otherwise outlive the pool until this process exits
            resource_tracker._resource_tracker._stop()
        _done(path)
    return path
