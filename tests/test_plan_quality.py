"""Plan-quality regression tests: the physical plans the engine is designed
around must not silently degrade (UDF duplication, lost broadcast, lost
pushdown).  Formatted explain prints each node twice (tree + details)."""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.01"


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def pipeline_plan(spark):
    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.operators.enrich import enrich
    from mysql_cdc_rs_spark.sources.pages_from_documents import pages_from_documents

    return _formatted(spark, enrich(decode_pages(pages_from_documents(spark, SF))))


def test_decode_udf_evaluated_exactly_once(pipeline_plan):
    assert pipeline_plan.count("ArrowEvalPython") == 2  # 1 node x (tree+detail)


#: a node of formatted explain's tree part ("ArrowEvalPython (5)") that runs
#: Python: eval-Python, *InPandas and *InArrow execs
_PYTHON_NODE = re.compile(r"\b(\w*(?:Python|Pandas|InArrow)\w*) \((\d+)\)")
#: the partitioning of each Exchange node in formatted explain's details
_EXCHANGE = re.compile(r"^\(\d+\) Exchange\n(?:Input .*\n)?Arguments: (\w+)", re.M)


def _assert_enrich_shape(plan: str, source_python: set[str], exchanges: list[str]):
    """The shape of an ``enrich(decode_pages(...))`` plan: the dimension
    lookups are map literals (no join, no broadcast, no local relation),
    the decode's ``ArrowEvalPython`` is the only Python node above the
    pages source (whose own are ``source_python``), and the plan's
    exchanges are exactly ``exchanges``."""
    assert "Join" not in plan and "BroadcastExchange" not in plan
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
    assert plan.count("ArrowEvalPython") == 2  # 1 node x (tree+detail)
    python = {n for n, _ in _PYTHON_NODE.findall(plan)}
    assert python == {"ArrowEvalPython"} | source_python
    assert _EXCHANGE.findall(plan) == exchanges
    assert plan.count("Exchange") == 2 * len(exchanges)  # tree + detail


def test_decode_is_the_only_python_in_a_pipeline_plan(spark, tmp_path):
    """Over a parquet pages source, the enrich(decode_pages(...)) plan has
    ONE Python node, the decode, no exchange, and no dimension relation:
    the lookups are map literals in the projection."""
    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.operators.enrich import enrich
    from mysql_cdc_rs_spark.sources.pages import pages_df

    path = str(tmp_path / "pages")
    pages_df(spark, 50).write.parquet(path)
    plan = _formatted(spark, enrich(decode_pages(spark.read.parquet(path))))
    _assert_enrich_shape(plan, set(), [])


def test_dim_lookups_join_nothing_no_shuffle(pipeline_plan):
    """Over generated pages, the one exchange is spread's round-robin
    fan-out below page generation (a ``MapInArrow``); a dimension join, a
    broadcast or a keyed repartition of the fact side would add a node."""
    _assert_enrich_shape(pipeline_plan, {"MapInArrow"}, ["RoundRobinPartitioning"])
    assert "hashpartitioning" not in pipeline_plan


def test_q1_scan_pushdown_and_pruning(spark):
    from mysql_cdc_rs_spark.queries import QUERIES

    plan = _formatted(spark, QUERIES["q1_pricing_summary"](spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan  # PushedFilters
    assert "ReadSchema: struct<l_quantity" in plan  # column pruning


def test_lsh_single_documents_scan(spark):
    from mysql_cdc_rs_spark.queries import QUERIES

    plan = _formatted(spark, QUERIES["dedup_lsh_pairs"](spark, SF))
    assert plan.count("documents.parquet") == 1


def test_spread_fans_out_to_default_parallelism(spark):
    """``spread`` repartitions a narrow frame to ``defaultParallelism`` and
    passes a frame that already has that many partitions through, with no
    exchange."""
    from mysql_cdc_rs_spark.sources.testdata import spread

    n = spark.sparkContext.defaultParallelism
    assert spread(spark.range(0, 100, 1, 1)).rdd.getNumPartitions() == n
    wide = spark.range(0, 100, 1, n)
    assert spread(wide) is wide
    assert "Exchange" not in _formatted(spark, spread(wide))


def test_ann_corpus_not_shuffled(spark):
    from mysql_cdc_rs_spark.queries import QUERIES

    plan = _formatted(spark, QUERIES["ann_brute_force_topk"](spark, SF))
    assert "BroadcastNestedLoop" in plan or "BroadcastHashJoin" in plan


def test_bucketed_join_no_shuffle(spark, tmp_path_factory):
    """J5/O10: same-bucketed tables join with ZERO exchange in the plan."""
    from pyspark.sql import functions as F

    from mysql_cdc_rs_spark.operators.bucketing import (
        colocated_join,
        write_bucketed,
    )
    from mysql_cdc_rs_spark.sources.testdata import load

    import shutil

    li = load(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    for t in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8)
    write_bucketed(orders, "b_orders", ["l_orderkey"], 8)
    joined = colocated_join(spark, "b_lineitem", "b_orders", ["l_orderkey"])
    plan = _formatted(spark, joined)
    assert "Exchange" not in plan, plan[:2000]
    assert "SortMergeJoin" in plan
    # correctness: same count as the plain (shuffling) join
    plain = li.join(orders, "l_orderkey").count()
    assert joined.count() == plain
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_row_decode_queries_single_python_node(spark):
    """p3/p8/c8/c10/mm/p4: exactly one Python (map_rows) node each and
    the event_id prefilter reaches the parquet scan as a pushed filter."""
    from mysql_cdc_rs_spark.queries import QUERIES

    for name, pushed in [
        ("p3_row_decode", "LessThan(event_id,5000)"),
        ("p8_enum_label_join", "LessThan(event_id,3000)"),
        ("c810_temporal_v2_roundtrip", "LessThan(event_id,4000)"),
        ("p4_deflate_roundtrip", "LessThan(doc_id,400)"),
        ("mm_decode_stats", "LessThan(doc_id,300)"),
    ]:
        plan = _formatted(spark, QUERIES[name](spark, SF))
        assert plan.count("MapInArrow") == 2, f"{name}: != 1 python node"
        assert pushed.replace(" ", "") in plan.replace(" ", ""), (
            f"{name}: filter not pushed"
        )


def test_enum_label_dim_is_broadcast(spark):
    from mysql_cdc_rs_spark.queries import QUERIES

    plan = _formatted(spark, QUERIES["p8_enum_label_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_queries_plan_no_range_sort(spark):
    """A query returns a row set (the driver compares it order-insensitively),
    so no registry plan carries a global sort's range exchange; q3's sort is
    read by its limit and plans as ``TakeOrderedAndProject``."""
    from mysql_cdc_rs_spark.queries import QUERIES

    ranged = [
        name
        for name, build in QUERIES.items()
        if "rangepartitioning"
        in build(spark, SF)._jdf.queryExecution().executedPlan().toString()
    ]
    assert ranged == []


def test_neardup_single_embeddings_scan(spark):
    from mysql_cdc_rs_spark.queries import QUERIES

    plan = _formatted(spark, QUERIES["emb_neardup_pairs"](spark, SF))
    assert plan.count("embeddings.parquet") == 1


def test_explain_snapshots_carry_invariants():
    """The committed BENCH/explain snapshots (scripts/dump_explain.py) must
    carry the same invariants the live-plan tests pin — a regenerated
    snapshot that lost one fails here, making plan regressions reviewable
    diffs instead of silent drift."""
    import os

    d = os.path.join(os.path.dirname(__file__), "..", "BENCH", "explain")

    def read(name: str) -> str:
        with open(os.path.join(d, name)) as f:
            return f.read()

    # queries return row sets: no snapshot carries a range sort's exchange
    snaps = sorted(n for n in os.listdir(d) if n.endswith(".txt"))
    assert len(snaps) == 14
    assert [n for n in snaps if "rangepartitioning" in read(n)] == []

    # map-literal dims: no join, no broadcast, one Python node over the
    # generated pages, spread's round-robin the only exchange
    pipeline = read("pipeline_decode_enrich.txt")
    _assert_enrich_shape(pipeline, {"MapInArrow"}, ["RoundRobinPartitioning"])
    assert "hashpartitioning" not in pipeline

    q1 = read("q1_pricing_summary.txt")
    assert "LessThanOrEqual(l_shipdate" in q1  # PushedFilters
    assert "ReadSchema: struct<l_quantity" in q1  # pruned columns

    assert read("dedup_lsh_pairs.txt").count("documents.parquet") == 1
    assert read("emb_neardup_pairs.txt").count("embeddings.parquet") == 1
    assert read("p3_row_decode.txt").count("MapInArrow") == 2
    # curate: the quality corpus is PERSISTED — both consumers (LSH drops +
    # survivors anti-join) read InMemoryTableScan instead of re-running the
    # decode subtree (the text occurrence count of ArrowEvalPython is
    # inflated by the cached plan being printed per scan; the cache nodes
    # are the physical invariant)
    curate = read("training_curate_survivors.txt")
    assert curate.count("InMemoryTableScan") >= 2
    # the survivors anti-join exists and is planner-chosen (the live test
    # test_curate_anti_join_not_forced_broadcast pins hint-freeness)
    assert "LeftAnti" in curate
    # the record's cap census is observed in the plan, not by a job
    assert "CollectMetrics" in curate
    # keep-first drops by bucket position: no member arrays, no pairs
    assert "collect_list" not in curate and "doc_b" not in curate

    # IVF assignment: shuffle-free argmax fold (formatted explain prints
    # the tree + details, so node counts are x2 vs the simple plan)
    ivf = read("ivf_assign.txt")
    assert "Window" not in ivf
    assert ivf.count("BroadcastExchange") == 2  # one node: codebook row
    # the only shuffle is the k-row codebook collapse to one partition
    assert "Arguments: SinglePartition" in ivf
    assert ivf.count("Exchange") == 4  # 2 nodes (shuffle + broadcast) x 2


def test_curate_anti_join_not_forced_broadcast(spark):
    """The survivors anti-join must NOT carry a broadcast hint: the drop set
    scales with the corpus's near-dup mass (20-40%+ on web corpora), so a
    forced broadcast OOMs at 10^12 docs exactly when dedup matters.  The
    strategy is left to the planner — stats/AQE broadcast a genuinely small
    drop set and shuffle-join a large one.  Proven two ways: no ResolvedHint
    in the analyzed plan, and with auto-broadcast disabled (the 100 TB
    stats regime, where the pairs subtree estimate is huge) the planner
    freely picks a shuffled SortMergeJoin for the LeftAnti.  No action
    runs the survivors, so the cached quality corpus is unpersisted
    directly: ``release`` would wait out its bound for a census that never
    comes."""
    from mysql_cdc_rs_spark.plans.training_pipeline import curate
    from mysql_cdc_rs_spark.sources.pages_from_documents import pages_from_documents

    pages = pages_from_documents(spark, SF)
    surv = curate(pages)
    analyzed = surv._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed
    surv._curate_persisted.unpersist()

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        surv2 = curate(pages)
        plan = surv2._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti_lines, "curate lost its anti-join"
        assert all("SortMergeJoin" in ln for ln in anti_lines)
        assert not any("Broadcast" in ln for ln in anti_lines)
        surv2._curate_persisted.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_ivf_assign_no_corpus_shuffle(spark):
    """ivf_assign is a pure projection over ONE corpus scan: the codebook
    collapses to a single broadcast row and the argmax-cosine is a
    transform+fold — no Window, no Exchange over the corpus, no kx row
    expansion (the round-3 formulation crossJoined corpus x k and shuffled
    it through a row_number window)."""
    from pyspark.sql import functions as F

    from mysql_cdc_rs_spark.operators.similarity import ivf_assign
    from mysql_cdc_rs_spark.sources.testdata import load

    emb = load(spark, SF, "embeddings")
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    assigned = ivf_assign(emb, cents)
    plan = assigned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "Window" not in plan
    # only two Exchange nodes exist and BOTH sit on the k-row centroid
    # side: the SinglePartition collect_list shuffle + its broadcast
    assert plan.count("Exchange") == 2
    assert "BroadcastExchange IdentityBroadcastMode" in plan
    assert "Exchange SinglePartition" in plan
    # the corpus-vector norm is folded once per row BELOW the join, not
    # re-folded per centroid inside the argmax lambda
    top_project = next(
        ln for ln in plan.splitlines() if "cent_id" in ln and "Project" in ln
    )
    assert "SQRT" not in top_project


def test_ivf_cell_partition_pruning(spark, tmp_path):
    """The IVF scale claim made physical: the assigned corpus is written
    partitioned by cent_id, and probing one cell reads ONLY that partition
    — the scan carries a cent_id PartitionFilter, which at 10^12 vectors is
    the candidate cut (no full-corpus scan per query)."""
    from pyspark.sql import functions as F

    from mysql_cdc_rs_spark.operators.similarity import ivf_assign
    from mysql_cdc_rs_spark.sources.testdata import load

    emb = load(spark, SF, "embeddings")
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    assigned = ivf_assign(emb, cents)
    path = str(tmp_path / "ivf_cells")
    assigned.write.partitionBy("cent_id").parquet(path)

    cell = assigned.select("cent_id").first()["cent_id"]
    probe = spark.read.parquet(path).filter(F.col("cent_id") == cell)
    plan = _formatted(spark, probe)
    assert "PartitionFilters" in plan
    # the cent_id predicate lands in the PARTITION filters, not a data filter
    assert "cent_id" in plan.split("PartitionFilters", 1)[1][:200]
    # and the pruned read returns exactly the cell's rows
    want = assigned.filter(F.col("cent_id") == cell).count()
    assert probe.count() == want > 0


def test_seen_probe_bucketed_state_no_exchange(spark, tmp_path):
    """Round-5 layout invariant: with the bucketed compacted seen-state,
    the streaming probe consumes the state AS STORED — pre-aggregated (no
    per-batch groupBy over the unbounded side) and pre-hashed on the join
    key (no per-batch Exchange of the state).  The flat layout pays both
    per micro-batch; at 10^12 docs the state-side shuffle is the dominant
    streaming cost, so its absence is pinned here: the bucketed probe plan
    must engage the bucketed scan and carry strictly fewer exchanges than
    the flat probe over the identical state, with ZERO exchanges above the
    compacted-state scan (exactly one hashpartitioning exchange on the
    probe key — the incoming batch side)."""
    from pyspark.sql import functions as F

    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.sources.testdata import load
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        compact_seen_buckets,
        seen_positions,
    )

    docs = load(spark, SF, "documents").selectExpr(
        "doc_id", "lower(coalesce(text, '')) as text"
    )
    # multi-partition batch side: the realistic case where the rank window
    # needs clustering too — bucketed mode pre-partitions ONCE to the
    # state's bucket count and the window + join share that exchange
    banded = DD.banded_buckets(docs.limit(200).repartition(4))
    state = DD.banded_buckets(docs).groupBy("band_id", "bucket").agg(
        F.count("*").alias("n_members")
    ).withColumn("batch_id", F.lit(0))

    plans = {}
    for layout in ("flat", "bucketed"):
        cat = SinkCatalog(spark, str(tmp_path / layout))
        cat.append(state, "dedup_seen_buckets")
        cat.write_manifest("stream_curate", {"last_batch_id": 0})
        if layout == "bucketed":
            compact_seen_buckets(cat)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plans[layout] = _formatted(spark, seen_positions(banded, cat, 0))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    n = spark.sparkContext.defaultParallelism
    assert f"SelectedBucketsCount: {n} out of {n}" in plans["bucketed"]

    def probe_key_exchanges(plan: str) -> int:
        # Exchange details print as "Arguments: hashpartitioning(band_id..."
        return sum(
            1
            for ln in plan.splitlines()
            if "hashpartitioning(band_id" in ln and "Arguments" in ln
        )

    # flat: batch-side exchange + the per-batch state re-aggregation
    # exchange; bucketed: the batch side ONLY — the state side has none
    assert probe_key_exchanges(plans["flat"]) == 2
    assert probe_key_exchanges(plans["bucketed"]) == 1
    # and the state arrives pre-aggregated: no extra HashAggregate pair
    assert plans["bucketed"].count("HashAggregate") < plans["flat"].count(
        "HashAggregate"
    )
    m = SinkCatalog(spark, str(tmp_path / "bucketed")).read_manifest(
        "seen_compact"
    )
    spark.sql(f"DROP TABLE IF EXISTS {m['table']}")


def test_seen_probe_lsm_generations_one_exchange(spark, tmp_path):
    """Minor-compaction LSM state (round 5): the probe left-joins the base
    generation plus each delta generation.  Every generation is bucketed on
    the probe key, so adding deltas adds bucketed SCANS, never shuffles:
    the plan must carry exactly ONE probe-key exchange (the batch side,
    shared by the rank window and every generation SMJ) and engage the
    bucketed scan once per generation — and the positions it computes must
    be identical to the flat layout over the same state rows."""
    from pyspark.sql import functions as F

    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.sources.testdata import load
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        compact_seen_buckets,
        seen_positions,
    )

    docs = load(spark, SF, "documents").selectExpr(
        "doc_id", "lower(coalesce(text, '')) as text"
    )
    banded = DD.banded_buckets(docs.limit(200).repartition(4))

    def state_of(part, batch_id):
        return (
            DD.banded_buckets(part)
            .groupBy("band_id", "bucket")
            .agg(F.count("*").alias("n_members"))
            .withColumn("batch_id", F.lit(batch_id))
        )

    s0 = state_of(docs.filter(F.col("doc_id") % 2 == 0), 0)
    s1 = state_of(docs.filter(F.col("doc_id") % 2 == 1), 1)

    # LSM layout: base generation from batch 0, minor delta from batch 1
    lsm = SinkCatalog(spark, str(tmp_path / "lsm"))
    lsm.append(s0, "dedup_seen_buckets")
    lsm.write_manifest("stream_curate", {"last_batch_id": 0})
    compact_seen_buckets(lsm)
    lsm.append(s1, "dedup_seen_buckets")
    lsm.write_manifest("stream_curate", {"last_batch_id": 1})
    compact_seen_buckets(lsm)  # base + tail, no deltas yet: a minor
    m = lsm.read_manifest("seen_compact")
    assert m["table"].endswith("_g1") and len(m["minors"]) == 1

    # flat layout over the IDENTICAL state rows
    flat = SinkCatalog(spark, str(tmp_path / "flat"))
    flat.append(s0, "dedup_seen_buckets")
    flat.append(s1, "dedup_seen_buckets")
    flat.write_manifest("stream_curate", {"last_batch_id": 1})

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = seen_positions(banded, lsm, 1)
        plan = _formatted(spark, got)
        want = seen_positions(banded, flat, 1)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # one bucketed scan per generation, ONE probe-key exchange in total
    n = spark.sparkContext.defaultParallelism
    assert plan.count(f"SelectedBucketsCount: {n} out of {n}") == 2
    exchanges = sum(
        1
        for ln in plan.splitlines()
        if "hashpartitioning(band_id" in ln and "Arguments" in ln
    )
    assert exchanges == 1

    key = ["doc_id", "band_id", "bucket", "r", "p"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, want.select(*key).collect())
    )
    for t in [m["table"]] + m["minors"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_verify_jaccard_candidates_no_broadcast(spark):
    """Round-5 OOM fix pinned: in candidates mode every ngram-Jaccard join
    input scales with the corpus (pairs with dup mass, shingles with
    text, sizes one-row-per-doc), so the plan must contain NO broadcast
    join — Catalyst mis-estimated the pair×shingle intermediate under the
    threshold at 200k docs and OOM'd the driver building the broadcast.
    The merge hints force spill-safe SMJ regardless of the estimate."""
    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.sources.testdata import load

    docs = load(spark, SF, "documents").selectExpr(
        "doc_id", "lower(text) as text"
    )
    pairs = DD.lsh_candidate_pairs(docs)
    ver = DD.ngram_jaccard_pairs(docs, candidates=pairs)
    plan = _formatted(spark, ver)
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    assert "SortMergeJoin" in plan
