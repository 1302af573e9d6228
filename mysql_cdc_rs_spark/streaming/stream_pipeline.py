"""Streaming pipeline: the live-replication analog (SURVEY §2.1 S5, §2.11).

The reference's live source is a MySQL replication socket feeding the same
decode path as files (/root/reference/connection/src/binlog/
binlog_subscribe.rs:51-96); exactly-once progress is (file, log_pos, GTID)
checkpointing.  Spark restatement:

- source: ``readStream`` over an arriving-files pages directory, an
  unbounded ``rate-micro-batch`` generator or a TCP socket (any streaming
  source with the pages schema swaps in — the transformations are shared
  with the batch pipeline verbatim);
- routing: each micro-batch goes through the batch pipeline's own
  ``decode_pages`` -> ``enrich`` -> ``write_routes``, into its ``batch_id``
  partition of ``routed``; a batch replayed after a crash rewrites that
  partition and its run record, so the sink holds every row once;
- progress: Structured Streaming checkpoint = GTID set (A8);
- heartbeat (A9): the per-batch run record in manifest ``routes_<batch_id>``
  (rows, bytes, first/last ``warc_ts``);
- curation: decode -> quality gate -> incremental LSH near-dup drop, whose
  per-bucket state lives in the ``dedup_seen_buckets`` table — the
  reference's per-key decoder context (TableMap cache) held in a table.

Parallelism note: file-arrival sources deliver micro-batches with fewer
partitions than cores — one arriving file is ONE partition — which
silently caps every narrow per-batch transformation at that parallelism.
Both foreachBatch sinks fan the batch out to ``defaultParallelism``
before decoding with ``sources.testdata.spread`` (an already-parallel
source is never coalesced).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.operators import dedup as DD
from mysql_cdc_rs_spark.operators import stats as S
from mysql_cdc_rs_spark.operators.decode import decode_pages
from mysql_cdc_rs_spark.operators.enrich import enrich
from mysql_cdc_rs_spark.operators.route import write_routes
from mysql_cdc_rs_spark.plans.training_pipeline import (
    DEFAULT_MIN_TOKENS,
    curation_record,
    quality_corpus,
)
from mysql_cdc_rs_spark.session import require_census_conf
from mysql_cdc_rs_spark.sources.pages import PAGES_SCHEMA, pages_from_ids
from mysql_cdc_rs_spark.sources.testdata import spread


def stream_pages(spark, pages_dir: str, max_files_per_trigger: int = 8) -> DataFrame:
    """File-arrival streaming source over the pages directory."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def stream_pages_rate(
    spark, rows_per_batch: int = 200, seed: int = 42
) -> DataFrame:
    """Socket-style live source analog #2: a ``rate-micro-batch`` stream
    whose monotonically increasing ``value`` seeds the SAME deterministic
    page generator as the batch source — the unbounded replication-dump
    subscribe loop of the reference
    (/root/reference/connection/src/binlog/binlog_subscribe.rs:51-96)
    restated as an always-on source.  Everything downstream (decode,
    enrich, route, metrics) is shared verbatim with the batch pipeline and
    the file-arrival stream; swapping the source line is the whole diff —
    which is the point: a production message-bus source is the same
    one-line swap.
    """
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", 0)
        .load()
    )
    return pages_from_ids(raw.select("value"), seed)


def stream_pages_socket(spark, host: str, port: int) -> DataFrame:
    """Socket-style live source analog #4: the LITERAL socket leg of S5 —
    Spark's built-in TCP socket source stands in for the replication-dump
    byte stream (/root/reference/connection/src/binlog/
    binlog_subscribe.rs:51-96).  Framing: one page per line as
    ``url<TAB>lang<TAB>base64(html)`` — the in-band metadata the reference's
    event stream carries next to the payload; newline framing replaces the
    binlog's length-prefix framing (S4's splitter handles the latter).
    ``warc_ts`` is arrival time — the socket source carries no event time,
    exactly like the reference's live socket.  The plan builds without
    connecting; the connection opens when the stream starts, and everything
    downstream (decode, enrich, route, checkpointing) is shared verbatim
    with the file and rate sources."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    parts = F.split(F.col("value"), "\t")
    return raw.select(
        parts.getItem(0).alias("url"),
        F.current_timestamp().alias("warc_ts"),
        F.unbase64(parts.getItem(2)).alias("html"),
        F.lit(None).cast("string").alias("text"),
        parts.getItem(1).alias("lang"),
    )


def start_routing_stream(
    stream_df: DataFrame,
    catalog,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """decode -> enrich -> ``write_routes`` per micro-batch, into the
    batch's ``batch_id`` partition of ``catalog``'s ``routed`` table, with
    the batch's run record in manifest ``routes_<batch_id>``.  Returns the
    StreamingQuery.  ``available_now=True`` drains a bounded source then
    stops (tests/backfills); pass False for unbounded sources (rate /
    socket) to run continuously.

    Exactly-once: the checkpoint commits a batch only after its write, and
    a batch replayed after a crash between the two rewrites its own
    partitions and record instead of appending them again."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_routes(enrich(decode_pages(spread(batch_df))), catalog, batch_id)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_curation_stream(
    stream_df: DataFrame,
    catalog,
    checkpoint_dir: str,
    min_tokens: int = DEFAULT_MIN_TOKENS,
    available_now: bool = True,
    compact_every: int | None = None,
):
    """ONLINE training-data curation: decode -> quality gate -> incremental
    LSH near-dup drop, one micro-batch at a time — the streaming twin of
    ``plans.training_pipeline.curate`` (keep-first by ARRIVAL instead of by
    doc_id).

    Dedup state is an append-only ``dedup_seen_buckets`` table holding, for
    every QUALITY doc seen so far (not just survivors'), the per-bucket
    MEMBER COUNT per batch: batch keep-first drops a doc that collides with
    ANY earlier quality doc, dropped or not, and the counts let the stream
    apply batch mode's degenerate-bucket cap exactly.

    Per batch, ONE positional rule replaces both the within-batch pair
    explosion and the uncapped membership probe (the round-5 fix — at 1.6M
    the old uncapped probe over-dropped 65 docs living past position
    ``MAX_BUCKET`` of boilerplate buckets): a doc drops iff, in some band
    bucket, its global arrival position p + r (``seen_positions``: prior
    batches' member count plus rank within this batch) is one that
    ``dedup.keep_first_drops`` drops.  That is the function batch
    ``curate()`` drops by, on the bucket rank alone, so the stream
    reproduces batch curation bit-for-bit when the feed arrives in doc_id
    order (pinned at 1.6M scale in BENCH/SOAK.md).  The per-batch cost is
    a row_number window + one aggregate-join on the bucket key: no member
    arrays, no pair explode.

    Scale shape: state lives in a table, not on the driver or in executor
    memory; the cross-batch probe is one equi-join on (band_id, bucket) —
    at 10^12 docs the bucket is the table's physical partition key and the
    probe prunes to touched buckets.  The probe join strategy is
    deliberately planner-chosen: early in a stream the aggregated state is
    tiny (broadcast is right), mature state is proportional to distinct
    buckets (SMJ is right), and unlike the verify stage's pair x shingle
    intermediates the input here is a real table with real stats, so the
    estimate AQE re-plans on is trustworthy.  Restart safety: each batch's appends
    carry batch_id and a manifest records the last COMPLETED batch, so a
    replayed batch (restart between sink append and checkpoint commit) is
    skipped; a crash inside a batch can leave a partial append, which
    readers drop by filtering batch_id > last-completed (the relay-log
    torn-tail rule, segment.rs:137-140, restated for micro-batches).

    ``compact_every=K`` runs ``compact_seen_buckets`` after every K
    completed batches, INSIDE the stream's serial foreachBatch thread — the
    "between batches" regime the compaction contract requires, with no
    concurrent probe possible.  Why cadence and not a one-off: the probe
    consumes the post-compaction tail with a per-batch aggregate, so tail
    cost grows linearly in batches-since-compaction — the 12.8M soak with
    ONE mid-run compaction spent most of its per-batch budget re-aggregating
    a ~25M-row tail (BENCH/SOAK.md).  A cadence bounds the tail to K
    batches' buckets, making per-batch probe cost independent of stream
    lifetime.  A crash DURING a cadence compaction loses no state (the
    manifest commit is atomic; pre-commit state stays live) — the batch
    itself was already manifest-committed, so on restart it replays as a
    skip and the missed compaction is simply picked up at the next cadence
    point, with the tail at most 2K batches deep in the interim.  Layout,
    bucket count and minor/major choice are ``compact_seen_buckets``' one
    policy; the cadence is the only compaction option.

    Each batch adds ``stats.decode_record``, ``quality`` (the barrier's
    count) and the cap census (``stats.cap_record`` on ``seen_positions``)
    to the running ``record`` of manifest ``stream_curate``.  A bucket's
    positions are 1..size in any arrival order, so the totals equal batch
    ``curate``'s record (``release``) over the same pages, in a session
    that excludes AQE's empty-relation rule (``require_census_conf``).
    """
    require_census_conf(stream_df.sparkSession)

    SEEN, CURATED, MANIFEST = "dedup_seen_buckets", "curated", "stream_curate"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        m = catalog.read_manifest(MANIFEST) or {}
        last = m.get("last_batch_id", -1)
        if batch_id <= last:
            return  # replayed after restart: this batch is fully applied
        obs = Observation()  # the batch's decode-level run record
        quality = quality_corpus(
            decode_pages(spread(batch_df)).observe(obs, *S.decode_record()),
            min_tokens,
        ).persist()
        # Materialize each persisted frame in its OWN job before anything
        # fans out over it.  Without the barrier, the first append's job
        # carries sibling stages that race to build the same cached
        # partition; the loser parks on the block write lock that the
        # winner holds WHILE feeding a Python worker — the exact stall
        # captured in BENCH/hang/jstack_batch4_stall.txt (two stages, both
        # task 11, one in ArrowStreamReader epoll holding the lock, one
        # parked in BlockInfoManager.acquireLock).  Serialized builds keep
        # Python-feeding stages free of cross-stage lock coupling.
        n_quality = quality.count()  # also completes ``obs``
        banded = DD.banded_buckets(quality).persist()
        banded.count()
        lsh = Observation()  # the cap census, as batch curate's
        drops = DD.keep_first_drops(
            seen_positions(banded, catalog, last), "p + r", lsh
        )
        survivors = quality.join(drops, "doc_id", "left_anti")
        catalog.append(
            survivors.withColumn("batch_id", F.lit(batch_id)), CURATED
        )
        catalog.append(seen_rows(banded, batch_id), SEEN)
        quality.unpersist()
        banded.unpersist()
        # committed with last_batch_id, so a skipped replay adds nothing
        record = {**obs.get, **curation_record(n_quality, lsh)}
        prior = m.get("record", {})
        catalog.write_manifest(
            MANIFEST,
            {
                "last_batch_id": batch_id,
                "record": {k: prior.get(k, 0) + v for k, v in record.items()},
            },
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_seen_buckets(catalog)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# The seen-bucket state's columns, declared once.  A compacted generation
# holds SEEN_COLUMNS; the flat per-batch tail adds the batch_id its rows
# were appended under.  Both readers (the probe and compaction) pass the
# declaration to the Parquet read, which then runs no schema-inference job;
# every writer casts to it (``as_declared``), so the files always hold the
# declared types.
SEEN_COLUMNS = "band_id INT, bucket STRING, n_members BIGINT"
SEEN_SCHEMA = f"{SEEN_COLUMNS}, batch_id INT"


def as_declared(df: DataFrame, ddl: str = SEEN_SCHEMA) -> DataFrame:
    """The ``ddl`` columns of ``df``, in the declared order and types."""
    cols = (field.split() for field in ddl.split(", "))
    return df.selectExpr(*(f"CAST({c} AS {t}) AS {c}" for c, t in cols))


def seen_rows(banded: DataFrame, batch_id: int) -> DataFrame:
    """One batch's rows of the flat seen state: the member count of each
    (band_id, bucket) in ``banded``, stamped with ``batch_id``."""
    return as_declared(
        banded.groupBy("band_id", "bucket")
        .agg(F.count("*").alias("n_members"))
        .withColumn("batch_id", F.lit(batch_id))
    )


def _gen_tables(m: dict | None) -> list[str]:
    """All compacted-generation table names in a ``seen_compact`` manifest:
    the base generation (``table``) followed by the minor deltas
    (``minors``), oldest first."""
    return [m["table"]] + m["minors"] if m else []


def _ensure_compact_table(catalog, m: dict, table: str) -> None:
    """(Re)attach one external bucketed compacted-state table.

    The table's FILES live under ``catalog.base`` (bucket membership is in
    the file names), but its catalog entry is session-scoped under Spark's
    default in-memory catalog — and the dedup state must outlive any one
    session.  The bucket count rides in the ``seen_compact`` manifest and
    the columns are ``SEEN_COLUMNS``, so a fresh session self-heals with one
    DDL before the first probe (the Hive-metastore/Iceberg-catalog analog of
    a persistent table registration).
    """
    import os

    spark = catalog.spark
    if spark.catalog.tableExists(table):
        return
    loc = os.path.join(os.path.abspath(catalog.base), table)
    spark.sql(
        f"CREATE TABLE {table} ({SEEN_COLUMNS}) "
        "USING parquet CLUSTERED BY (band_id, bucket) "
        f"SORTED BY (band_id, bucket) INTO {m['n_buckets']} BUCKETS "
        f"LOCATION '{loc}'"
    )


def _seen_components(catalog, last: int):
    """The physical pieces of the seen-bucket state as of completed batch
    ``last``: ``(compacted_generations, tail, manifest)``.

    ``compacted_generations`` — the LIST of bucketed compacted generations
    (each one PRE-AGGREGATED rows per (band_id, bucket); together covering
    batches up to the manifest's ``through``), empty before the first
    compaction.  The
    list is the base generation plus any minor deltas (LSM levels): a MINOR
    compaction folds only the flat tail into a new delta generation, so its
    cost is O(tail), not O(history) — see ``compact_seen_buckets``.  Every
    generation is a table bucketed+sorted on the probe key, so consumers
    joining on (band_id, bucket) pay NO exchange and NO sort on these — the
    unbounded — sides.  Generations cover DISJOINT batch ranges, so summing
    per bucket across them is exact.

    ``tail`` — the flat append-only rows from batches in ``(through,
    last]``, aggregated to (band_id, bucket, n_members), or None when the
    flat table is absent.  Parquet min/max stats on batch_id skip the pre-``through``
    files wholesale (each micro-batch appended its own files), so the tail
    scan is proportional to data since the last compaction, not to history.

    All pieces carry the same schema, and summing them per bucket is
    exactly the probe's prior count — the invariant every consumer
    (the per-batch probe, both compaction flavors) is built on.

    The ``seen_compact`` manifest dict (or None) rides along so callers
    don't re-stat it.
    """
    m = catalog.read_manifest("seen_compact")
    through = m["through"] if m else -1
    comps = []
    for table in _gen_tables(m):
        _ensure_compact_table(catalog, m, table)
        comps.append(
            catalog.spark.table(table).select("band_id", "bucket", "n_members")
        )
    tail = None
    if catalog.exists("dedup_seen_buckets"):
        tail = (
            catalog.read("dedup_seen_buckets", SEEN_SCHEMA)
            .where(
                (F.col("batch_id") > through) & (F.col("batch_id") <= last)
            )  # exclude compacted-away history AND torn tails
            # replay safety: a crash between a batch's SEEN append and its
            # manifest commit makes the deterministic replay append the
            # SAME (band_id, bucket, n_members, batch_id) rows again.
            # collect_set collapses the identical copies (same batch ->
            # identical struct; different batches -> distinct batch_id), a
            # fold sums the survivors — one aggregate, one exchange, no
            # double-count lifting later members past the drop window (the
            # read_curated dropDuplicates rule, applied to the state
            # table).  Set size is bounded by batches since compaction.
            .groupBy("band_id", "bucket")
            .agg(
                F.aggregate(
                    F.collect_set(F.struct("batch_id", "n_members")),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x["n_members"],
                ).alias("n_members")
            )
        )
    return comps, tail, m


def seen_positions(banded: DataFrame, catalog, last: int) -> DataFrame:
    """Rank ``banded`` (doc_id, band_id, bucket) rows by GLOBAL bucket
    position: prior members across all completed batches + arrival rank
    within this batch — the one positional quantity the streaming dedup
    rule consumes (``dedup.keep_first_drops`` on pos = p + r; column ``p``
    is the prior count, ``r`` the within-batch rank).

    Scale shape (the round-5 follow-through on "bucket is the table's
    physical partition key"): the prior arrives in per-piece joins instead
    of one union+groupBy so the compacted generations — the pieces that
    grow with corpus history — are consumed AS STORED: pre-aggregated (no
    per-batch groupBy over 10^9+ state rows) and bucketed on the join key
    (no per-batch exchange, no sort; the scan is the whole cost).  With
    minor compaction the state is a short LIST of such generations (base +
    deltas, bounded by ``MAX_MINORS``); each adds one exchange-free SMJ —
    the batch side is partitioned once and every join preserves that
    partitioning, so the probe still pays exactly ONE batch-side exchange
    regardless of generation count.  Only the small post-compaction tail
    pays an aggregate+shuffle, and that input is bounded by compaction
    cadence, not corpus size.  Join strategies stay planner-chosen: real
    tables give AQE real stats.

    Measured dead end, kept out deliberately (BENCH/SOAK.md): a
    broadcast-semi-join probe (batch keys broadcast into each generation,
    eliminating the SMJ's state-side re-sort — Spark 4 cannot elide the
    sorted-bucketed scan's sort) benchmarked 3-4x SLOWER at 4M-64M state
    rows; the per-generation sort of pre-aggregated state is already
    cheap at bucket-count parallelism, while the two batch-key broadcasts
    (build + ship ~1.6M string keys per join) dominate.
    """
    comps, tail, m = _seen_components(catalog, last)
    if comps:
        # pre-partition the batch side to the state's bucket count so the
        # rank window and the probe joins share ONE exchange: the window
        # needs (band_id, bucket) clustering anyway, and matching the
        # compacted tables' partitioning count lets every SMJ reuse it
        # instead of inserting a second batch-side shuffle.  This makes
        # n_buckets the probe stage's task count, which is why
        # compact_seen_buckets sizes it to the cluster's parallelism.
        banded = banded.repartition(m["n_buckets"], "band_id", "bucket")
    ranked = DD.doc_rank(banded, "r", "band_id", "bucket")
    zero = F.lit(0).cast("long")
    parts = []
    for i, comp in enumerate(comps):
        col = f"p_c{i}"
        ranked = ranked.join(
            comp.withColumnRenamed("n_members", col),
            ["band_id", "bucket"],
            "left",
        )
        parts.append(col)
    if tail is not None:
        ranked = ranked.join(
            tail.withColumnRenamed("n_members", "p_tail"),
            ["band_id", "bucket"],
            "left",
        )
        parts.append("p_tail")
    p = zero
    for col in parts:
        p = p + F.coalesce(col, zero)
    return ranked.withColumn("p", p).drop(*parts)


# Delta generations a minor compaction may stack on the base before the
# next compaction promotes itself to a major merge (BENCH/SOAK.md measured
# minor+promotion at 4 against major-only).
MAX_MINORS = 4


def compact_seen_buckets(catalog) -> int:
    """Fold the flat ``dedup_seen_buckets`` tail into a bucketed generation
    of one summed row per (band_id, bucket).

    The stream appends one file-set per micro-batch and never merges the
    bucket rows across batches; over a long run the table accumulates both
    small files and repeated buckets.  Compaction collapses them with
    ``n_members`` summed (sum is exactly what the probe aggregates at read
    time, so probe results are unchanged) up to the last COMPLETED batch
    (torn tails from a mid-batch crash are dropped by the same batch_id
    filter the probe uses).  Run it BETWEEN batches — the stream's
    ``compact_every`` cadence or between availableNow drains — never
    concurrently with a probe.

    One policy, the one BENCH/SOAK.md measured fastest at every size:

    - Layout: every generation is an EXTERNAL table under ``catalog.base``
      (a fresh session re-attaches it from the ``seen_compact`` manifest),
      pre-aggregated and bucketed AND sorted on the probe key (band_id,
      bucket) with one file per bucket, so the probe joins it with no
      exchange, no sort and no groupBy on the side that grows with corpus
      history (see ``seen_positions``).
    - Bucket count: ``defaultParallelism`` at the first compaction,
      recorded in the manifest and reused after it.  It is the probe
      stage's task count (the batch side repartitions to it so the rank
      window and joins share one exchange), so it must be at least the
      cluster's cores — the same target ``spread`` uses.
    - Minor or major: with a base generation, a tail and fewer than
      ``MAX_MINORS`` deltas, the call folds ONLY the tail into a new delta
      generation — O(batches since the last compaction), independent of
      history.  Otherwise it merges base + deltas + tail into one new base,
      which bounds the probe's generation-join count — the tiered-LSM
      write-amplification trade.

    Crash safety: the generation lands under a fresh versioned name, then
    ONE atomic ``seen_compact`` manifest replace commits it, then the
    merged generations and the consumed flat tail are dropped.  A crash
    before the commit leaves the old state live and an orphan the retry
    overwrites; a crash after it leaves orphans, never wrong answers (the
    probe takes tail rows with batch_id > ``through`` only, and a major's
    manifest unlists the merged generations).

    On the Iceberg leg the state stays one table rewritten by
    ``overwrite``, which commits one atomic snapshot swap.

    Returns the distinct bucket count of the written generation (0 when
    nothing was appended since the last compaction).
    """
    m = catalog.read_manifest("stream_curate")
    last = m.get("last_batch_id", -1) if m else -1
    if last < 0:
        return 0
    comps, tail, cm = _seen_components(catalog, last)
    if tail is None:
        return 0  # nothing new to fold; no generation bump
    minor = bool(comps) and len(cm["minors"]) < MAX_MINORS
    seen = tail
    if not minor:  # the tail alone is already one row per bucket
        for comp in comps:
            seen = seen.unionByName(comp)
        seen = seen.groupBy("band_id", "bucket").agg(
            F.sum("n_members").alias("n_members")
        )
    if catalog.use_iceberg:
        catalog.overwrite(
            as_declared(seen.withColumn("batch_id", F.lit(last))),
            "dedup_seen_buckets",
        )
        return catalog.read("dedup_seen_buckets").count()
    import hashlib
    import os

    from mysql_cdc_rs_spark.operators.bucketing import write_bucketed

    spark = catalog.spark
    n_buckets = cm["n_buckets"] if cm else spark.sparkContext.defaultParallelism
    gen = (cm["gen"] if cm else 0) + 1
    tag = hashlib.md5(os.path.abspath(catalog.base).encode()).hexdigest()[:8]
    table = f"dedup_seen_compact_{tag}_g{gen}"
    # 1. materialize the new generation as an EXTERNAL bucketed table whose
    #    files live under catalog.base (state outlives the session; the
    #    catalog entry is re-attached on demand by _ensure_compact_table).
    #    repartition on the bucket columns uses the same hash as bucketBy,
    #    so each task owns exactly one bucket -> ONE file per bucket; a
    #    crash here leaves an orphan table the retry overwrites.
    write_bucketed(
        as_declared(seen, SEEN_COLUMNS).repartition(n_buckets, "band_id", "bucket"),
        table,
        ["band_id", "bucket"],
        n_buckets,
        sort_cols=["band_id", "bucket"],
        path=os.path.join(os.path.abspath(catalog.base), table),
    )
    # 2. the commit: one atomic manifest replace
    catalog.write_manifest(
        "seen_compact",
        {
            "table": cm["table"] if minor else table,
            "minors": cm["minors"] + [table] if minor else [],
            "gen": gen,
            "through": last,
            "n_buckets": n_buckets,
        },
    )
    # 3. post-commit cleanup — every dropped target is already invisible to
    #    readers, so a crash anywhere below leaves orphans, never wrong
    #    answers
    if not minor:
        for old in _gen_tables(cm):
            spark.sql(f"DROP TABLE IF EXISTS {old}")
            catalog.drop_physical(old)
    catalog.drop_physical("dedup_seen_buckets")
    return spark.table(table).count()


def read_curated(catalog) -> DataFrame:
    """Committed curated corpus: completed batches only (torn-tail rule).

    dropDuplicates(doc_id) makes reads immune to the one remaining replay
    window (crash after the curated append but before the manifest write:
    the deterministic replay appends identical rows under the same
    batch_id)."""
    m = catalog.read_manifest("stream_curate")
    last = m.get("last_batch_id", -1) if m else -1
    return (
        catalog.read("curated")
        .where(F.col("batch_id") <= last)
        .dropDuplicates(["doc_id"])
    )


def read_routed(catalog) -> DataFrame:
    """Committed routed rows of the routing stream: only batches whose run
    record (manifest ``routes_<batch_id>``) exists.  A batch that crashed
    between its data write and its record stays hidden until its replay
    commits it."""
    routed = catalog.read("routed")
    ids = [r.batch_id for r in routed.select("batch_id").distinct().collect()]
    committed = [b for b in ids if catalog.read_manifest(f"routes_{b}")]
    return routed.where(F.col("batch_id").isin(committed))
