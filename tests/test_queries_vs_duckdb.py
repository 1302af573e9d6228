"""Local mirror of the driver's correctness gate: every queries() entry runs
on Spark AND its oracle_sql() twin runs on DuckDB over the same sf0.01
parquet; results must match after order-insensitive normalization."""

from __future__ import annotations

import pytest

from mysql_cdc_rs_spark.oracle_compare import compare_query, duckdb_conn
from mysql_cdc_rs_spark.queries import ORACLES, QUERIES

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF)
    yield c
    c.close()


def test_every_query_has_oracle_or_is_flagged():
    missing = set(QUERIES) - set(ORACLES)
    # non-SQL-expressible ops may be rows-only, but must be a known set
    assert missing <= set(), f"queries without oracle: {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, name):
    r = compare_query(spark, con, name, SF)
    assert r.ok, f"{name}: {r.detail}"
    assert r.spark_rows > 0, f"{name}: empty result weakens the gate"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"route", "region", "event_type", "n_rows"} <= set(df.columns)


def test_oracle_queries_call_their_operators(spark, monkeypatch):
    """The oracle gate verifies the operator COVERAGE names, not a copy of
    it: each query builds its frame through the operator's module attribute
    (the frame is only built, no action runs)."""
    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.operators import stats as S
    from mysql_cdc_rs_spark.operators import textstats as TS
    from mysql_cdc_rs_spark.operators import window_ops as W

    wiring = {
        "w13_context_chain": [(W, "propagate_last_context"), (W, "next_position")],
        "w2_sessionize": [(W, "assign_sessions")],
        "a7_charset_stats": [(S, "charset_stats")],
        "skew_salted_agg": [(S, "salted_sums")],
        "text_doc_stats": [(TS, "fingerprint")],
        "dedup_ngram_jaccard": [(DD, "ngram_jaccard_pairs")],
    }
    for name, ops in wiring.items():
        called = []
        for module, attr in ops:
            op = getattr(module, attr)

            def spy(*args, _op=op, _attr=attr, **kwargs):
                called.append(_attr)
                return _op(*args, **kwargs)

            monkeypatch.setattr(module, attr, spy)
        QUERIES[name](spark, SF)
        monkeypatch.undo()
        assert sorted(called) == sorted(attr for _, attr in ops), name
