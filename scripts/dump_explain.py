"""Commit formatted-explain snapshots for the most expensive queries.

Writes BENCH/explain/<name>.txt so plan regressions are diffable review
artifacts; tests/test_plan_quality.py::test_explain_snapshots_carry_invariants
asserts the committed snapshots still carry the invariants the engine is
designed around (single Python node, dimension lookups that join nothing,
pushed filters).  Re-run after intentional plan changes, naming the
snapshots the change moved (every snapshot embeds expression ids, so
rewriting an unchanged plan only churns its ids):

    python scripts/dump_explain.py [name ...]    # default: all of them
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = f"{REPO}/BENCH/explain"

# the most expensive queries of the last bench round + every plan the
# plan-quality tests pin (BENCH/explain/README.md documents the invariants)
SNAPSHOT_QUERIES = [
    "dedup_lsh_pairs",
    "pipeline_text_md5",
    "p3_row_decode",
    "q5_nation_revenue",
    "q1_pricing_summary",
    "ivf_kmeans_train",
    "training_curate_survivors",
    "ann_brute_force_topk",
    "emb_neardup_pairs",
    "mm_decode_stats",
    "p8_enum_label_join",
    "w2_sessionize",
]


def formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def snapshots() -> dict:
    """Snapshot name -> function of the session building its frame."""
    from pyspark.sql import functions as F

    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.operators.enrich import enrich
    from mysql_cdc_rs_spark.operators.similarity import ivf_assign
    from mysql_cdc_rs_spark.queries import QUERIES
    from mysql_cdc_rs_spark.sources.pages_from_documents import (
        pages_from_documents,
    )
    from mysql_cdc_rs_spark.sources.testdata import load

    def ivf(spark):
        # not a registry query, but THE shape the 100x verdicts hinged on:
        # IVF assignment as a shuffle-free argmax fold over one broadcast
        # codebook row (no Window, no corpus Exchange, corpus norm folded
        # once per row below the join)
        emb = load(spark, SF, "embeddings")
        return ivf_assign(emb, emb.filter(F.col("vec_id") % 50 == 0))

    return {
        "pipeline_decode_enrich": lambda spark: enrich(
            decode_pages(pages_from_documents(spark, SF))
        ),
        **{name: lambda spark, q=QUERIES[name]: q(spark, SF) for name in SNAPSHOT_QUERIES},
        "ivf_assign": ivf,
    }


def main(names: list[str]) -> None:
    from mysql_cdc_rs_spark.session import build_session

    builders = snapshots()
    unknown = sorted(set(names) - set(builders))
    if unknown:
        sys.exit(f"unknown snapshot(s) {unknown}; known: {sorted(builders)}")
    os.makedirs(OUT, exist_ok=True)
    spark = build_session(
        "explain", master="local[8]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names or builders:
        plan = formatted(spark, builders[name](spark))
        with open(f"{OUT}/{name}.txt", "w") as f:
            f.write(plan)
        print(f"wrote BENCH/explain/{name}.txt ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
