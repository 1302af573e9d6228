"""Single-thread micro-legs: the kernel and the Arrow boundary, no Spark.

They run before the first Spark session of every run, so each set of runs
records the host's single-core speed next to its end-to-end numbers (a slow
host shows here first).  All three legs use the workload's own pages, cut
into Arrow batches of the engine's ``maxRecordsPerBatch``.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd
import pyarrow as pa

BATCH = 2000
REPS = 5


def _per_page_us(fn, batches, n: int) -> float:
    """Median over REPS of one pass over all batches, in µs per page."""
    runs = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        for b in batches:
            fn(b)
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs) * 1e6 / n


def micro_legs(raws: list[bytes]) -> dict[str, float]:
    from mysql_cdc_rs_spark.kernel.batchdecode import decode_batch

    n = len(raws)
    arrow_in = [
        pa.table({"html": pa.array(raws[i : i + BATCH], pa.binary())})
        for i in range(0, n, BATCH)
    ]
    series = [t.column("html").to_pandas() for t in arrow_in]
    decoded = [decode_batch(s) for s in series]
    headers_type = pa.map_(pa.string(), pa.string())

    def to_arrow(cols):
        # the UDF's return path: column lists -> pandas -> Arrow; only the
        # header map needs an explicit Arrow type
        df = pd.DataFrame(cols)
        return pa.Table.from_pandas(
            df.drop(columns=["headers"]), preserve_index=False
        ).append_column(
            "headers", pa.array(df["headers"], headers_type)
        )

    return {
        "kernel.decode_us_per_page": _per_page_us(decode_batch, series, n),
        "functions.arrow_in_us_per_page": _per_page_us(
            lambda t: t.column("html").to_pandas(), arrow_in, n
        ),
        "functions.arrow_out_us_per_page": _per_page_us(to_arrow, decoded, n),
    }
