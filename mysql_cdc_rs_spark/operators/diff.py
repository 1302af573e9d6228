"""Before/after change detection (SURVEY §2.9 D1-D3).

The reference diffs UPDATE-row images cell-wise into FieldChange lists with
a change percentage and sparse/full classification
(/root/reference/binlog/src/row/row_data.rs:200-219,
 /root/reference/binlog/src/row/update_analyzer.rs:118-175).

Spark-first: before/after live in two struct columns on the SAME row (the
reference pairs them inside one payload too — W4), so the diff is pure
column algebra: no shuffle, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# classification thresholds mirror update_analyzer.rs:21,34
SPARSE_MAX_PCT = 30.0
FULL_MIN_PCT = 75.0


def field_changes(before: Column, after: Column, fields: list[str]) -> Column:
    """D1: array<struct(field,changed)> comparing struct fields null-safely."""
    entries = [
        F.struct(
            F.lit(f).alias("field"),
            (~before.getField(f).eqNullSafe(after.getField(f))).alias("changed"),
        )
        for f in fields
    ]
    return F.array(*entries)


def with_diff(
    df: DataFrame, before_col: str, after_col: str, fields: list[str]
) -> DataFrame:
    """Attach change list, changed-count, change % and update class."""
    changes = field_changes(F.col(before_col), F.col(after_col), fields)
    changed_n = F.size(F.filter(changes, lambda c: c.getField("changed")))
    pct = F.round(changed_n * 100.0 / F.lit(len(fields)), 4)
    klass = (
        F.when(pct < SPARSE_MAX_PCT, "sparse")
        .when(pct > FULL_MIN_PCT, "full")
        .otherwise("partial")
    )
    return (
        df.withColumn("changes", changes)
        .withColumn("changed_fields", changed_n)
        .withColumn("change_pct", pct)
        .withColumn("update_class", klass)
    )


def incremental_update(before: Column, after: Column, fields: list[str]) -> Column:
    """D2: sparse representation — map of only the changed fields (new value)."""
    pairs = [
        (
            F.lit(f),
            F.when(
                ~before.getField(f).eqNullSafe(after.getField(f)),
                after.getField(f).cast("string"),
            ),
        )
        for f in fields
    ]
    m = F.create_map(*[c for p in pairs for c in p])
    return F.map_filter(m, lambda _, v: v.isNotNull())


def partial_update(
    before: Column, after: Column, fields: list[str], included: list[str]
) -> Column:
    """D3: diff restricted to a declared column subset."""
    return incremental_update(before, after, [f for f in fields if f in included])
