"""Order-dependent operators over the log sequence (SURVEY §2.7 W1-W3).

The reference propagates decoder context (current format/rotate/GTID state)
to every event by mutating LogContext while scanning the stream in order
(/root/reference/binlog/src/decoder/event_decoder.rs:192-307).  The scalable
restatement partitions by the stream key (here user_id / host) and orders
within the partition — a global order would serialize at 10^12 rows, and the
reference itself only ever needs per-file order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stream_window(partition_col: str, order_cols: list[str]) -> Window:
    return Window.partitionBy(partition_col).orderBy(*order_cols)


def propagate_last_context(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    marker: F.Column,
    out_col: str,
) -> DataFrame:
    """W1: every row sees the most recent non-null marker value.

    Analog of "each event sees the last FormatDescription/Rotate/GTID state".
    """
    w = (
        stream_window(partition_col, order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.last(marker, ignorenulls=True).over(w))


def assign_sessions(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    opens_session: F.Column,
) -> DataFrame:
    """W2: transaction/session grouping — a marker row opens a new group.

    Analog of GTID-opens / XID-closes transaction bracketing; ``session_id``
    is the running count of open-markers, so rows before the first marker
    get 0.
    """
    w = (
        stream_window(partition_col, order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "session_id", F.sum(F.when(opens_session, 1).otherwise(0)).over(w)
    )


def next_position(
    df: DataFrame, partition_col: str, order_cols: list[str], pos_col: str
) -> DataFrame:
    """W3: next-position chain — lead(pos) validates stream continuity."""
    w = stream_window(partition_col, order_cols)
    return df.withColumn("next_pos", F.lead(pos_col).over(w))
