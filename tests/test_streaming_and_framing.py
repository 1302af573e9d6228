"""Streaming pipeline (S5 analog) and frame-splitter (S3/S4) tests."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mysql_cdc_rs_spark.sources.framing import (
    FRAMED_SCHEMA,
    frame_blobs,
    pack_records,
    split_records,
)
from mysql_cdc_rs_spark.sources.pages import PAGES_SCHEMA, pages_df


def _http(body: bytes, i: int) -> bytes:
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
        f"Content-Length: {len(body)}\r\nX-I: {i}\r\n\r\n"
    ).encode() + body


# --- framing -----------------------------------------------------------------

def test_split_records_roundtrip():
    recs = [_http(f"body-{i}".encode(), i) for i in range(5)]
    out, err = split_records(pack_records(recs))
    assert err is None and out == recs


def test_split_records_truncated_tail():
    recs = [_http(b"aaa", 0), _http(b"bbb", 1)]
    blob = pack_records(recs)[:-2]  # cut the tail record
    out, err = split_records(blob)
    assert out == recs[:1] and err == "TRUNCATED_TAIL"


def test_split_records_garbage_start():
    out, err = split_records(b"NOT-HTTP" + _http(b"x", 0))
    assert out == [] and err == "BAD_FRAME_START"


def test_frame_blobs_spark(spark):
    recs_a = [_http(f"a{i}".encode(), i) for i in range(3)]
    recs_b = [_http(f"b{i}".encode(), i) for i in range(2)]
    rows = [
        (0, pack_records(recs_a)),
        (1, pack_records(recs_b)[:-1]),  # truncated
        (2, None),
    ]
    df = spark.createDataFrame(rows, "chunk_id long, blob binary")
    out = frame_blobs(df).collect()
    good = [(r["chunk_id"], r["record_idx"]) for r in out if r["frame_error"] is None]
    errs = {r["chunk_id"]: r["frame_error"] for r in out if r["frame_error"]}
    assert sorted(good) == [(0, 0), (0, 1), (0, 2), (1, 0)]
    assert errs == {1: "TRUNCATED_TAIL", 2: "NULL_CHUNK"}
    # an empty blob frames to no records and no error: its Arrow batch comes
    # back with zero rows, and still carries the declared schema
    assert split_records(b"") == ([], None)
    empty = frame_blobs(spark.createDataFrame([(3, b"")], "chunk_id long, blob binary"))
    assert empty.collect() == []
    assert empty.schema == StructType.fromDDL(FRAMED_SCHEMA)
    # framed records decode through the normal kernel path
    from mysql_cdc_rs_spark.functions.udfs import make_decode_udf

    dec = (
        frame_blobs(df)
        .filter(F.col("frame_error").isNull())
        .select(make_decode_udf()("record").alias("d"))
        .select("d.event_type")
        .collect()
    )
    assert {r["event_type"] for r in dec} == {"plain"}


# --- streaming ----------------------------------------------------------------

def _html_page(i: int, text: str) -> tuple:
    """A ``PAGES_SCHEMA`` row: a 200 text/html record with ``text`` as its
    body, at url ``https://ex.com/d/<i>`` (doc_id ``i``)."""
    body = f"<html><body>{text}</body></html>".encode()
    raw = (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    return (f"https://ex.com/d/{i}", None, raw, None, "en")


def _write_chunk(df, src: str, i: int) -> None:
    """Write ``df`` as the ONE file ``<src>/chunk_<i>.parquet`` with its
    mtime pinned to ``i``: a file stream under ``maxFilesPerTrigger=1``
    reads the chunks in index order, one micro-batch each."""
    stage = f"{src}_stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.makedirs(src, exist_ok=True)
    target = os.path.join(src, f"chunk_{i:04d}.parquet")
    os.rename(os.path.join(stage, part), target)
    os.utime(target, (1_700_000_000 + i, 1_700_000_000 + i))


def test_streaming_matches_batch_and_resumes(spark):
    """The routing stream writes each micro-batch through ``write_routes``
    into its ``batch_id`` partition.  A batch that crashes after its data
    write and before its record's commit is hidden from ``read_routed``
    and replays on restart, REWRITING its partition: the routed rows equal
    ``run_pipeline``'s sink row for row, the per-batch records sum to
    ``run_pipeline``'s record, and a further restart changes nothing."""
    from mysql_cdc_rs_spark.operators.route import SINK_COLUMNS
    from mysql_cdc_rs_spark.plans.pipeline import run_pipeline
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        read_routed,
        start_routing_stream,
        stream_pages,
    )

    n_batches, per_batch = 3, 400
    full = pages_df(spark, n_batches * per_batch, seed=42)
    docid = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    with tempfile.TemporaryDirectory() as tmp:
        src, ckpt = f"{tmp}/pages", f"{tmp}/ckpt"
        cat = SinkCatalog(spark, f"{tmp}/sink")
        for i in range(n_batches):
            _write_chunk(
                full.filter((docid >= i * per_batch) & (docid < (i + 1) * per_batch)),
                src,
                i,
            )

        def drain():
            start_routing_stream(
                stream_pages(spark, src, max_files_per_trigger=1), cat, ckpt
            ).awaitTermination()

        # batch 1 crashes between its data write and its record's commit
        real_write = cat.write_manifest

        def crashing_write(name, payload):
            if name == "routes_1":
                raise RuntimeError("simulated crash before the batch commit")
            real_write(name, payload)

        cat.write_manifest = crashing_write
        with pytest.raises(Exception):
            drain()
        cat.write_manifest = real_write
        assert cat.read_manifest("routes_0") is not None
        assert cat.read_manifest("routes_1") is None
        assert cat.read("routed").where("batch_id = 1").count() > 0
        # the committed-only reader leaves the uncommitted batch out
        committed = read_routed(cat)
        batch_0 = cat.read("routed").where("batch_id = 0")
        assert committed.where("batch_id <> 0").count() == 0
        assert committed.count() == batch_0.count() > 0

        # restart: batch 1 replays, batch 2 runs
        drain()
        batch = SinkCatalog(spark, f"{tmp}/batch")
        want_record = run_pipeline(spark.read.parquet(src), batch).metrics
        want = batch.read("routed").select(*SINK_COLUMNS)

        def check():
            for sink in (cat.read("routed"), read_routed(cat)):
                got = sink.select(*SINK_COLUMNS)
                assert got.exceptAll(want).count() == 0
                assert want.exceptAll(got).count() == 0
            records = [
                cat.read_manifest(f"routes_{b}")["record"] for b in range(n_batches)
            ]
            assert cat.read_manifest(f"routes_{n_batches}") is None
            fold = {"first_seen": min, "last_seen": max}
            summed = {
                k: fold.get(k, sum)(r[k] for r in records) for k in want_record
            }
            assert summed == want_record
            return records

        records = check()
        # a second restart finds no new input and changes nothing
        drain()
        assert check() == records


def test_rate_source_stream_matches_batch(spark):
    """S5 live-source analog #2: the rate-micro-batch stream feeds the SAME
    decode->enrich->route transforms; rows for the first batch's values are
    row-identical to the batch pipeline over the same generator range."""
    import time

    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.operators.enrich import enrich
    from mysql_cdc_rs_spark.operators.route import route_table
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        start_routing_stream,
        stream_pages_rate,
    )

    with tempfile.TemporaryDirectory() as tmp:
        cat = SinkCatalog(spark, f"{tmp}/sink")
        st = stream_pages_rate(spark, rows_per_batch=120, seed=7)
        q = start_routing_stream(st, cat, f"{tmp}/ckpt", available_now=False)
        try:
            deadline = time.time() + 120
            n = 0
            while time.time() < deadline and n < 120:
                try:
                    n = cat.read("routed").count()
                except Exception:
                    n = 0
                time.sleep(1)
        finally:
            q.stop()
        assert n >= 120  # at least the first micro-batch committed
        routed = cat.read("routed")
        # rate values are contiguous from 0 -> the first 120 pages must be
        # row-identical to the batch pipeline over the same (seed, i) range
        batch = route_table(enrich(decode_pages(pages_df(spark, 120, seed=7))))
        cols = ["url", "route", "event_type", "text"]
        want = batch.select(*cols)
        got = routed.select(*cols).join(
            want.select("url"), "url", "left_semi"
        )
        assert want.count() == 120
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_wss_strategy_dispatch(spark):
    """R4: registered action -> handled payload; IGNORE -> dropped payload;
    unknown action -> unknown strategy, all in one column-only pass."""
    from mysql_cdc_rs_spark.operators import monitoring as MON

    msgs = spark.createDataFrame(
        [
            (1, "s1", "StartBinlog", "file=mysql-bin.000001"),
            (2, "s1", "IGNORE", "x"),
            (3, "s2", "CONNECTION", "y"),
            (4, "s3", "NOPE", None),
        ],
        "msg_id long, session_id string, action string, data string",
    )
    got = {r["msg_id"]: r for r in MON.dispatch_messages(msgs).collect()}
    assert got[1]["route"] == "handled"
    assert got[1]["payload"] == "binlog-started:file=mysql-bin.000001"
    assert got[2]["route"] == "ignored" and got[2]["payload"] is None
    assert got[3]["route"] == "unknown"
    assert got[3]["payload"] == "unknown-action:CONNECTION"
    assert got[4]["payload"] == "unknown-action:NOPE"


def test_streaming_curation_matches_batch_and_resumes(spark):
    """ONLINE LSH curation: the corpus streamed in two doc_id-ordered
    micro-batches (with a stream restart between them — the dedup state
    must survive in the table, not the session) yields EXACTLY the batch
    curate() survivor set, and a replayed batch is skipped idempotently."""
    from mysql_cdc_rs_spark.kernel.decode import EVENT_TYPES
    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    n = 1600
    full = pages_df(spark, n, seed=42)
    docid = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        ckpt = f"{tmp}/ckpt"
        cat = SinkCatalog(spark, f"{tmp}/cur")

        # chunk 1 (low doc_ids) arrives and drains as one micro-batch
        full.filter(docid < 800).coalesce(1).write.mode("append").parquet(src)
        q = start_curation_stream(stream_pages(spark, src), cat, ckpt)
        q.awaitTermination()
        n_after_first = read_curated(cat).count()
        assert n_after_first > 0

        # chunk 2 (high doc_ids) arrives; RESTART from checkpoint — only
        # the new file is processed, prior dedup state read from the table
        full.filter(docid >= 800).coalesce(1).write.mode("append").parquet(src)
        q2 = start_curation_stream(stream_pages(spark, src), cat, ckpt)
        q2.awaitTermination()

        got = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        surv = curate(full)
        want = {r["doc_id"] for r in surv.select("doc_id").collect()}
        batch_rec = release(surv)
        assert got == want

        # replaying the last batch (manifest says complete) is a no-op
        q3 = start_curation_stream(stream_pages(spark, src), cat, ckpt)
        q3.awaitTermination()
        again = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert again == want

        # the stream's running record equals the batch record over the
        # same pages: quality (the input-lineage tripwire) and the cap
        # census
        m = cat.read_manifest("stream_curate")
        assert {k: m["record"][k] for k in batch_rec} == batch_rec

        # the batches' run-record totals count every input row once, with
        # the event-type mix of a batch decode
        rec = m["record"]
        assert rec["rows"] == n
        want_events = {
            r["event_type"]: r["count"]
            for r in decode_pages(full).groupBy("event_type").count().collect()
        }
        assert {
            t: rec[f"event.{t}"] for t in EVENT_TYPES if rec[f"event.{t}"]
        } == want_events


def test_streaming_curation_drops_cross_batch_dups(spark):
    """A later-arriving near-duplicate of an earlier batch's doc must be
    dropped by the seen-buckets probe — the cross-batch leg specifically."""
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while seven wizards mix tricky potions for the annual fair " * 2
    )
    uniq = (
        "completely different vocabulary nothing shared at all here "
        "rivers mountains valleys glaciers meadows forests deserts " * 2
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        cat = SinkCatalog(spark, f"{tmp}/cur")
        # batch 1: the original + one unrelated doc
        spark.createDataFrame(
            [_html_page(1, base), _html_page(2, uniq)], PAGES_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        q = start_curation_stream(
            stream_pages(spark, src), cat, f"{tmp}/ckpt", min_tokens=10
        )
        q.awaitTermination()
        # batch 2: a near-dup of doc 1 (same buckets) + a genuinely new doc
        fresh = (
            "astronomy telescopes galaxies nebulae quasars pulsars orbit "
            "gravity spectra redshift parallax photometry occultation " * 2
        )
        spark.createDataFrame(
            [_html_page(100, base + " tiny tail"), _html_page(101, fresh)],
            PAGES_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)
        q2 = start_curation_stream(
            stream_pages(spark, src), cat, f"{tmp}/ckpt", min_tokens=10
        )
        q2.awaitTermination()
        got = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert 1 in got and 2 in got
        assert 100 not in got  # near-dup of earlier batch's doc 1: dropped
        assert 101 in got  # genuinely new content: kept
        # the seen-buckets table carries both batches' lineage
        assert cat.exists("dedup_seen_buckets")

        # compaction collapses to the distinct bucket set and preserves
        # dedup behavior: a third batch re-near-duplicating doc 2 still
        # drops against the compacted state
        from mysql_cdc_rs_spark.streaming.stream_pipeline import (
            compact_seen_buckets,
        )

        before = cat.read("dedup_seen_buckets").count()
        after = compact_seen_buckets(cat)
        gen = spark.table(cat.read_manifest("seen_compact")["table"])
        distinct = gen.select("band_id", "bucket").distinct().count()
        assert after == gen.count() == distinct <= before
        spark.createDataFrame(
            [_html_page(200, uniq + " late copy")], PAGES_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        q3 = start_curation_stream(
            stream_pages(spark, src), cat, f"{tmp}/ckpt", min_tokens=10
        )
        q3.awaitTermination()
        got3 = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert 200 not in got3 and got3 >= got
        spark.sql(f"DROP TABLE IF EXISTS {cat.read_manifest('seen_compact')['table']}")


def test_socket_source_live_pages(spark):
    """S5 socket leg, EXECUTED: a loopback TCP server emits
    url<TAB>base64(html) lines; the socket stream feeds the same
    decode -> enrich path and must produce the exact per-route counts and
    byte-identical text of the batch pipeline over the same 40 pages."""
    import base64
    import socket
    import threading
    import time

    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.operators.enrich import enrich
    from mysql_cdc_rs_spark.streaming.stream_pipeline import stream_pages_socket

    batch = pages_df(spark, 40, seed=42).select("url", "lang", "html").collect()
    lines = [
        f"{r['url']}\t{r['lang']}\t"
        f"{base64.b64encode(bytes(r['html'])).decode('ascii')}\n"
        for r in batch
    ]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall("".join(lines).encode("ascii"))
            time.sleep(30)  # keep the connection open until the query stops

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    pages = stream_pages_socket(spark, "127.0.0.1", port)
    out = enrich(decode_pages(pages)).select("url", "route", "text")
    q = (
        out.writeStream.format("memory")
        .queryName("socket_pages")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                n = spark.sql("SELECT count(*) FROM socket_pages").first()[0]
            except Exception:  # noqa: BLE001 — sink table not registered yet
                n = 0
            if n == 40:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        srv.close()

    got = spark.sql("SELECT url, route, text FROM socket_pages")
    assert got.count() == 40
    want = enrich(
        decode_pages(pages_df(spark, 40, seed=42))
    ).select("url", "route", "text")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_seen_probe_plan_runs_no_job(spark, tmp_path):
    """Building the streaming probe over a flat ``dedup_seen_buckets``
    table runs no Spark job: the state is read with its declared schema,
    so Parquet schema inference (one job per read) never starts.  The
    state is written by ``seen_rows`` from banded rows whose ``band_id`` is
    a long: the writer casts to the declaration the reader uses."""
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        seen_positions,
        seen_rows,
    )

    cat = SinkCatalog(spark, str(tmp_path / "cur"))
    state = seen_rows(
        spark.createDataFrame(
            [(1, 3, "1_2_3_4"), (2, 3, "1_2_3_4")],
            "doc_id long, band_id long, bucket string",
        ),
        0,
    )
    assert state.schema.simpleString() == (
        "struct<band_id:int,bucket:string,n_members:bigint,batch_id:int>"
    )
    cat.append(state, "dedup_seen_buckets")
    banded = spark.createDataFrame(
        [(7, 3, "1_2_3_4"), (8, 3, "5_6_7_8")],
        "doc_id long, band_id int, bucket string",
    )
    sc, group = spark.sparkContext, "seen-probe-plan"
    sc.setJobGroup(group, "build the seen probe")
    try:
        probe = seen_positions(banded, cat, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    got = sorted(map(tuple, probe.select("doc_id", "r", "p").collect()))
    assert got == [(7, 1, 2), (8, 1, 0)]


def test_compact_seen_buckets_crash_safe(spark):
    """Crash-safety contract of the bucketed compaction: at NO instant is
    the seen state unreadable or wrong.  A generation lands under a fresh
    versioned table, ONE atomic ``seen_compact`` manifest replace commits
    it, and cleanup runs after the commit.  Simulated crashes on both
    sides of the commit:

      (a) the ``seen_compact`` write fails during a MINOR compaction: the
          probe positions equal the pre-crash ones, and the retry commits
          the generation number the crashed attempt was committing;
      (b) ``drop_physical`` fails after a MAJOR's commit (the promotion at
          ``MAX_MINORS`` deltas): the new base is live, and a late
          near-duplicate still drops against it.
    """
    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.plans.training_pipeline import quality_corpus
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        MAX_MINORS,
        _gen_tables,
        compact_seen_buckets,
        read_curated,
        seen_positions,
        start_curation_stream,
        stream_pages,
    )

    t1 = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while seven wizards mix tricky potions for the annual fair " * 2
    )
    t2 = (
        "completely different vocabulary nothing shared at all here "
        "rivers mountains valleys glaciers meadows forests deserts " * 2
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        cat = SinkCatalog(spark, f"{tmp}/cur")

        def feed(*batches, compact_every=None):
            # one source file per batch, one micro-batch per file
            for rows in batches:
                spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode(
                    "append"
                ).parquet(src)
            q = start_curation_stream(
                stream_pages(spark, src, max_files_per_trigger=1),
                cat,
                f"{tmp}/ckpt",
                min_tokens=10,
                compact_every=compact_every,
            )
            q.awaitTermination()

        feed([_html_page(1, t1), _html_page(2, t2)], compact_every=1)  # major: the base
        feed([_html_page(3, t1 + " x"), _html_page(4, t2 + " y")])  # batch 1: the tail
        base = cat.read_manifest("seen_compact")
        assert base["gen"] == 1 and base["minors"] == []

        probe = DD.banded_buckets(
            quality_corpus(
                decode_pages(
                    spark.createDataFrame(
                        [_html_page(60, t1 + " z"), _html_page(61, t2 + " w")],
                        PAGES_SCHEMA,
                    )
                ),
                10,
            )
        )

        def positions():
            return sorted(
                map(
                    tuple,
                    seen_positions(probe, cat, 1)
                    .select("doc_id", "band_id", "bucket", "r", "p")
                    .collect(),
                )
            )

        pre_crash = positions()
        assert max(p for *_, p in pre_crash) == 2  # base + tail both count

        # (a) crash at the MINOR's commit: nothing moves
        real_write = cat.write_manifest
        crashed = {}

        def crashing_write(name, payload):
            if name == "seen_compact":
                crashed.update(payload)
                raise RuntimeError("simulated crash before compact commit")
            real_write(name, payload)

        cat.write_manifest = crashing_write
        with pytest.raises(RuntimeError):
            compact_seen_buckets(cat)
        cat.write_manifest = real_write
        assert crashed["table"] == base["table"] and len(crashed["minors"]) == 1
        assert cat.read_manifest("seen_compact") == base
        assert cat.exists("dedup_seen_buckets")  # the tail is still live
        assert positions() == pre_crash

        # the retry commits the same generation and the same positions
        assert compact_seen_buckets(cat) > 0
        m = cat.read_manifest("seen_compact")
        assert m["gen"] == crashed["gen"] == 2
        assert m["minors"] == crashed["minors"]
        assert not cat.exists("dedup_seen_buckets")
        assert positions() == pre_crash

        # stack deltas up to the cap, then leave one batch in the tail
        feed(
            *([_html_page(10 + i, t2 + f" extra{i}")] for i in range(MAX_MINORS - 1)),
            compact_every=1,
        )
        assert len(cat.read_manifest("seen_compact")["minors"]) == MAX_MINORS
        feed([_html_page(20, t2 + " more")])
        merged = _gen_tables(cat.read_manifest("seen_compact"))

        # (b) crash in the cleanup after the promoted MAJOR's commit
        real_drop = cat.drop_physical

        def crashing_drop(table):
            raise RuntimeError("simulated crash during cleanup")

        cat.drop_physical = crashing_drop
        with pytest.raises(RuntimeError):
            compact_seen_buckets(cat)
        cat.drop_physical = real_drop
        m = cat.read_manifest("seen_compact")
        assert m["gen"] == MAX_MINORS + 2 and m["minors"] == []
        assert m["table"] not in merged and m["through"] == MAX_MINORS + 1
        assert spark.table(m["table"]).count() > 0
        # the merged generations are orphans now, unlisted by the commit
        assert all(os.path.isdir(os.path.join(f"{tmp}/cur", t)) for t in merged)

        # a late near-dup of doc 1 still drops, fresh content survives
        feed(
            [
                _html_page(50, t1 + " tail"),
                _html_page(
                    51,
                    "planets comets meteors asteroids moons rings orbits "
                    "eccentricity inclination perihelion aphelion "
                    "barycenter libration resonance " * 2,
                ),
            ]
        )
        got = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert {1, 2, 51} <= got and 50 not in got
        for t in merged + [m["table"]]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_curation_bucketed_state_matches_batch(spark):
    """Bucketed compacted-state layout (round 5): compaction rewrites the
    seen-bucket state as an external pre-aggregated table bucketed on the
    probe key.  The contract under test: (a) the stream still reproduces
    batch ``curate()`` EXACTLY across a bucketed compaction; (b) state
    survives catalog-metadata loss (the probe re-attaches the external
    table from the manifest — the session-restart case); (c) a second
    compaction reuses the recorded bucket count, folds the tail into a
    minor delta generation on top of the untouched base, and drops the
    consumed flat tail; (d) a crash before the manifest commit leaves the
    probe on the old state and the retry is idempotent."""
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        compact_seen_buckets,
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    n = 1600
    full = pages_df(spark, n, seed=42)
    docid = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        ckpt = f"{tmp}/ckpt"
        cat = SinkCatalog(spark, f"{tmp}/cur")

        full.filter(docid < 800).coalesce(1).write.mode("append").parquet(src)
        q = start_curation_stream(stream_pages(spark, src), cat, ckpt)
        q.awaitTermination()

        # (d) crash BEFORE the manifest commit: probe state unchanged
        real_write = cat.write_manifest

        def crashing_write(name, payload):
            if name == "seen_compact":
                raise RuntimeError("simulated crash before compact commit")
            real_write(name, payload)

        cat.write_manifest = crashing_write
        with pytest.raises(RuntimeError):
            compact_seen_buckets(cat)
        cat.write_manifest = real_write
        assert cat.read_manifest("seen_compact") is None
        assert cat.exists("dedup_seen_buckets")  # flat tail still live

        # retry completes (same generation name, overwrite is idempotent)
        n_buckets_state = compact_seen_buckets(cat)
        m = cat.read_manifest("seen_compact")
        assert m["gen"] == 1
        assert m["n_buckets"] == spark.sparkContext.defaultParallelism
        assert n_buckets_state > 0
        # the consumed flat tail is gone; the state lives in the external
        # table under the catalog base, not the session warehouse
        assert not cat.exists("dedup_seen_buckets")
        assert os.path.isdir(os.path.join(f"{tmp}/cur", m["table"]))

        # (b) catalog-metadata loss: drop the session table entry (files
        # are external and survive); the next probe must self-heal
        spark.sql(f"DROP TABLE {m['table']}")
        assert not spark.catalog.tableExists(m["table"])

        full.filter(docid >= 800).coalesce(1).write.mode("append").parquet(src)
        q2 = start_curation_stream(stream_pages(spark, src), cat, ckpt)
        q2.awaitTermination()

        # (a) exact batch equality across the bucketed compaction
        got = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        surv = curate(full)
        want = {r["doc_id"] for r in surv.select("doc_id").collect()}
        release(surv)
        assert got == want

        # (c) second compaction: same bucket count, a minor delta on top of
        # the untouched base, the consumed flat tail dropped
        compact_seen_buckets(cat)
        m2 = cat.read_manifest("seen_compact")
        assert m2["gen"] == 2 and m2["n_buckets"] == m["n_buckets"]
        assert m2["table"] == m["table"] and m2["minors"][0].endswith("_g2")
        assert not cat.exists("dedup_seen_buckets")
        # dedup behavior against base + delta: a replay of the full corpus
        # as a late batch drops everything (every doc's buckets are seen)
        full.coalesce(1).write.mode("append").parquet(src)
        q3 = start_curation_stream(stream_pages(spark, src), cat, ckpt)
        q3.awaitTermination()
        again = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert again == want
        for t in [m2["table"]] + m2["minors"]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_curation_seen_replay_not_double_counted(spark):
    """Crash between a batch's SEEN append and its manifest commit: the
    restarted stream REPLAYS the batch and appends identical state rows a
    second time.  The probe must collapse the duplicates (per-batch max
    before the cross-batch sum) — otherwise every bucket of the torn batch
    double-counts and later members are wrongly lifted past the drop
    window.  Detection uses the cap boundary: 511 identical docs in the
    torn batch put the next two arrivals at positions 512 (drop, == cap)
    and 513 (keep, > cap); a double-counted prior (1022) would KEEP both."""
    from mysql_cdc_rs_spark.operators.dedup import MAX_BUCKET
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    text = (
        "identical boilerplate page body repeated for every doc in the "
        "torn batch so all of them share one bucket per band " * 3
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        ckpt = f"{tmp}/ckpt"
        cat = SinkCatalog(spark, f"{tmp}/cur")

        # torn batch: 511 members of one near-dup class (positions 1..511)
        spark.createDataFrame(
            [_html_page(i, text) for i in range(MAX_BUCKET - 1)], PAGES_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)

        real_write = cat.write_manifest

        def crashing_write(name, payload):
            if name == "stream_curate":
                raise RuntimeError("simulated crash before manifest commit")
            real_write(name, payload)

        cat.write_manifest = crashing_write
        q = start_curation_stream(
            stream_pages(spark, src), cat, ckpt, min_tokens=10
        )
        with pytest.raises(Exception):
            q.awaitTermination()
        cat.write_manifest = real_write
        assert cat.read_manifest("stream_curate") is None  # commit torn
        # the SEEN append landed, the manifest did not: restart replays the
        # batch and appends the SAME state rows again
        q = start_curation_stream(
            stream_pages(spark, src), cat, ckpt, min_tokens=10
        )
        q.awaitTermination()
        seen = cat.read("dedup_seen_buckets")
        one_bucket = (
            seen.groupBy("band_id", "bucket").count().where("count > 1")
        )
        assert one_bucket.count() > 0  # duplicates really are on disk
        # ...but the run record counts the replayed batch once
        assert cat.read_manifest("stream_curate")["record"]["rows"] == MAX_BUCKET - 1

        # next two arrivals of the same class: 512 drops (== cap), 513
        # survives (> cap).  Doubled priors would keep BOTH.
        spark.createDataFrame(
            [_html_page(600, text), _html_page(601, text)], PAGES_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        q = start_curation_stream(
            stream_pages(spark, src), cat, ckpt, min_tokens=10
        )
        q.awaitTermination()
        got = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert 600 not in got  # position 512: still inside the drop window
        assert 601 in got  # position 513: past the cap, survives
        assert cat.read_manifest("stream_curate")["record"]["rows"] == MAX_BUCKET + 1


def test_streaming_curation_out_of_order_arrival(spark):
    """Round-5 pin of the documented divergence: when micro-batches arrive
    OUT of doc_id order, the stream keeps the FIRST-ARRIVED member of each
    near-dup class while batch curate() keeps the LOWEST-ID member.  The
    survivor-count invariant (one representative per class) must hold
    either way, and the diff must be exactly the swapped representatives —
    not a correctness leak."""
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    shared = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while seven wizards mix tricky potions for the annual fair " * 2
    )
    uniq_a = (
        "completely different vocabulary nothing shared at all here "
        "rivers mountains valleys glaciers meadows forests deserts " * 2
    )
    uniq_b = (
        "astronomy telescopes galaxies nebulae quasars pulsars orbit "
        "gravity spectra redshift parallax photometry occultation " * 2
    )

    # doc 10 and doc 5 are near-dups of each other; 10 ARRIVES first
    # (batch 1) even though 5 has the lower doc_id (batch 2)
    rows_b1 = [_html_page(10, shared), _html_page(2, uniq_a)]
    rows_b2 = [_html_page(5, shared + " tiny tail"), _html_page(7, uniq_b)]
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        cat = SinkCatalog(spark, f"{tmp}/cur")
        for rows in (rows_b1, rows_b2):
            spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = start_curation_stream(
                stream_pages(spark, src), cat, f"{tmp}/ckpt", min_tokens=10
            )
            q.awaitTermination()
        stream_set = {
            r["doc_id"] for r in read_curated(cat).select("doc_id").collect()
        }

        full = spark.createDataFrame(rows_b1 + rows_b2, PAGES_SCHEMA)
        surv = curate(full, min_tokens=10)
        batch_set = {r["doc_id"] for r in surv.select("doc_id").collect()}
        release(surv)

        # batch keep-first-by-id keeps 5; the stream (arrival order) keeps 10
        assert 5 in batch_set and 10 not in batch_set
        assert 10 in stream_set and 5 not in stream_set
        # the divergence is EXACTLY the swapped pair — nothing else moves
        assert batch_set - stream_set == {5}
        assert stream_set - batch_set == {10}
        # invariants shared by both semantics: same survivor count (one
        # representative per near-dup class) and never both members
        assert len(stream_set) == len(batch_set)
        assert not {5, 10} <= stream_set and not {5, 10} <= batch_set


def test_streaming_curation_degenerate_bucket_cap_matches_batch(spark):
    """Round-5 scale fix: the 1.6M soak caught the stream over-dropping
    docs past position ``MAX_BUCKET`` of a degenerate (boilerplate)
    bucket — batch mode's cap lets them survive, the old uncapped
    membership probe did not.  520 identical-text docs (same bucket in
    every band) fed across two ordered micro-batches: position 1 keeps,
    2..512 drop, 513..520 keep — and the stream must reproduce the batch
    survivor set exactly."""
    from mysql_cdc_rs_spark.operators.dedup import MAX_BUCKET
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    n = MAX_BUCKET + 8  # 520
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"

    rows = [_html_page(i, boiler) for i in range(1, n + 1)]
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        cat = SinkCatalog(spark, f"{tmp}/cur")
        # two ordered micro-batches: ids 1..300, then 301..520 (the cap
        # boundary falls inside batch 2 — prior count + in-batch rank)
        for chunk in (rows[:300], rows[300:]):
            spark.createDataFrame(chunk, PAGES_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = start_curation_stream(
                stream_pages(spark, src), cat, f"{tmp}/ckpt", min_tokens=5
            )
            q.awaitTermination()
        stream_set = {
            r["doc_id"] for r in read_curated(cat).select("doc_id").collect()
        }

        surv = curate(spark.createDataFrame(rows, PAGES_SCHEMA), min_tokens=5)
        batch_set = {r["doc_id"] for r in surv.select("doc_id").collect()}
        batch_rec = release(surv)

        want = {1} | set(range(MAX_BUCKET + 1, n + 1))  # 1 and 513..520
        assert batch_set == want
        assert stream_set == want
        # both records count the 8 shed rows of each band's one bucket
        stream_rec = cat.read_manifest("stream_curate")["record"]
        assert {k: stream_rec[k] for k in batch_rec} == batch_rec == {
            "quality": n,
            "lsh.cap_shed": 128,
            "lsh.cap_buckets": 16,
        }

        # a third batch lies wholly past the cap: it drops nothing, and its
        # census still counts (AQE must not prune the observed stage)
        more = [_html_page(i, boiler) for i in range(n + 1, n + 101)]
        spark.createDataFrame(more, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = start_curation_stream(
            stream_pages(spark, src), cat, f"{tmp}/ckpt", min_tokens=5
        )
        q.awaitTermination()
        stream_rec = cat.read_manifest("stream_curate")["record"]
        assert stream_rec["lsh.cap_shed"] == 16 * (n + 100 - MAX_BUCKET)
        assert stream_rec["lsh.cap_buckets"] == 16


def _binary_page(i: int) -> tuple:
    """A ``PAGES_SCHEMA`` row that decodes as ``binary``: no text."""
    body = bytes(range(256))
    raw = (
        f"HTTP/1.1 200 OK\r\nContent-Type: application/octet-stream\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    return (f"https://ex.com/d/{i}", None, raw, None, "en")


def test_curation_record_without_quality_docs(spark):
    """With no quality doc there is no LSH window row to observe.  Batch
    curate and a stream batch over only non-text pages must still finish,
    with ``quality`` 0 and a cap census of 0; the waits are bounded so that
    a wait on an observation fails instead of stalling the suite."""
    import threading

    from mysql_cdc_rs_spark.operators.stats import NO_CAP
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        start_curation_stream,
        stream_pages,
    )

    rows = [_binary_page(i) for i in range(1, 21)]
    out = {}

    def batch():
        surv = curate(spark.createDataFrame(rows, PAGES_SCHEMA), min_tokens=5)
        out["survivors"] = surv.count()
        out["record"] = release(surv)

    t = threading.Thread(target=batch, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "batch curate waited on an observation"
    assert out == {"survivors": 0, "record": {"quality": 0, **NO_CAP}}

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.parquet(src)
        cat = SinkCatalog(spark, f"{tmp}/cur")
        q = start_curation_stream(
            stream_pages(spark, src), cat, f"{tmp}/ckpt", min_tokens=5
        )
        finished = q.awaitTermination(120)
        if not finished:
            q.stop()
        assert finished, "the stream batch waited on an observation"
        assert q.exception() is None
        rec = cat.read_manifest("stream_curate")["record"]
        assert rec["rows"] == rec["event.binary"] == len(rows)
        assert {k: rec[k] for k in ("quality", *NO_CAP)} == {"quality": 0, **NO_CAP}


def test_curation_leaves_out_pages_without_a_doc_id(spark):
    """A text page whose url has no trailing number, and one whose number
    does not fit a long, have no doc_id to keep-first by: batch curate and
    a stream batch leave them out of the curation input and finish, with
    the survivors and the record of a run without those two pages."""
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    page = _html_page(0, " ".join(f"word{i}" for i in range(40)))
    odd = [
        (url, *page[1:])
        for url in ("https://ex.com/about", "https://ex.com/d/12345678901234567890")
    ]
    clean = pages_df(spark, 300, seed=29)
    pages = clean.unionByName(spark.createDataFrame(odd, PAGES_SCHEMA))

    def survivors(surv):
        return {r["doc_id"] for r in surv.select("doc_id").collect()}, release(surv)

    want, want_rec = survivors(curate(clean))
    assert survivors(curate(pages)) == (want, want_rec)
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        pages.coalesce(1).write.parquet(src)
        cat = SinkCatalog(spark, f"{tmp}/cur")
        q = start_curation_stream(stream_pages(spark, src), cat, f"{tmp}/ckpt")
        q.awaitTermination()
        assert q.exception() is None
        got = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        rec = cat.read_manifest("stream_curate")["record"]
    assert got == want
    assert {k: rec[k] for k in want_rec} == want_rec


def test_streaming_curation_record_adds_no_job(spark):
    """The curation stream runs as many Spark jobs per batch as it did
    before the cap census joined its record: 14 for the first batch and
    16 for the second, whose probe also reads the seen state.  A query's
    jobs run in job group ``str(q.runId)``; each drain here is one batch."""
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        start_curation_stream,
        stream_pages,
    )

    full = pages_df(spark, 400, seed=23)
    docid = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        cat = SinkCatalog(spark, f"{tmp}/cur")
        for chunk in (docid < 200, docid >= 200):
            full.filter(chunk).coalesce(1).write.mode("append").parquet(src)
            q = start_curation_stream(stream_pages(spark, src), cat, f"{tmp}/ckpt")
            q.awaitTermination()
            jobs.append(len(tracker.getJobIdsForGroup(str(q.runId))))
    assert jobs == [14, 16]


def test_streaming_curation_compaction_cadence(spark):
    """``compact_every=K`` (round 5, from the 12.8M soak): compaction runs
    INSIDE the stream every K batches, bounding the flat tail the probe
    must re-aggregate to K batches' buckets.  Contract: (a) survivor set
    still EXACTLY matches batch ``curate()``; (b) the cadence actually
    fired (generation == n_batches / K, watermark at the last batch);
    (c) the final compaction consumed the whole flat tail; (d) a replayed
    drain after the in-stream compactions stays a no-op."""
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    n = 1600
    full = pages_df(spark, n, seed=42)
    docid = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        ckpt = f"{tmp}/ckpt"
        cat = SinkCatalog(spark, f"{tmp}/cur")
        # 4 doc_id-ordered chunk files with pinned mtimes -> 4 ordered
        # micro-batches under maxFilesPerTrigger=1 in ONE drain
        for i in range(4):
            _write_chunk(
                full.filter((docid >= i * 400) & (docid < (i + 1) * 400)), src, i
            )

        q = start_curation_stream(
            stream_pages(spark, src, max_files_per_trigger=1),
            cat,
            ckpt,
            compact_every=2,
        )
        q.awaitTermination()

        # (b) cadence fired after batches 1 and 3: a base and one delta
        m = cat.read_manifest("seen_compact")
        assert m is not None and m["gen"] == 2 and len(m["minors"]) == 1
        assert m["n_buckets"] == spark.sparkContext.defaultParallelism
        assert m["through"] == 3
        # (c) final compaction consumed the entire flat tail
        assert not cat.exists("dedup_seen_buckets")

        # (a) exact batch equality across two in-stream compactions
        got = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        surv = curate(full)
        want = {r["doc_id"] for r in surv.select("doc_id").collect()}
        release(surv)
        assert got == want

        # (d) replayed drain: all batches skip, state untouched
        q2 = start_curation_stream(
            stream_pages(spark, src, max_files_per_trigger=1),
            cat,
            ckpt,
            compact_every=2,
        )
        q2.awaitTermination()
        again = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert again == want
        assert cat.read_manifest("seen_compact")["gen"] == 2
        for t in [m["table"]] + m["minors"]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_curation_minor_compaction_lsm(spark):
    """LSM lifecycle of the one compaction policy: each cadence point past
    the first folds ONLY the flat tail into a new bucketed delta generation
    — O(batches since last compaction), not O(history) — and a major merge
    fires once ``MAX_MINORS`` deltas are stacked.  Contract under test,
    across ``MAX_MINORS + 2`` in-stream compactions (major -> minors up to
    the cap -> promoted major):

      (a) the survivor set still EXACTLY matches batch ``curate()`` — the
          multi-generation probe sums priors correctly;
      (b) the manifest tracks base + deltas and the promotion resets the
          delta list and physically drops every merged generation;
      (c) a probe in a metadata-less session re-attaches ALL generations
          (base and minors) from the manifest;
      (d) a compaction with no new tail is a no-op (no generation bump);
      (e) a replayed drain after everything is still a no-op.
    """
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        MAX_MINORS,
        compact_seen_buckets,
        read_curated,
        start_curation_stream,
        stream_pages,
    )

    n_batches = MAX_MINORS + 2
    n = 400 * n_batches
    full = pages_df(spark, n, seed=42)
    docid = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        ckpt = f"{tmp}/ckpt"
        cat = SinkCatalog(spark, f"{tmp}/cur")

        def add_chunk(i: int) -> None:
            _write_chunk(
                full.filter((docid >= i * 400) & (docid < (i + 1) * 400)), src, i
            )

        def drain() -> None:
            q = start_curation_stream(
                stream_pages(spark, src, max_files_per_trigger=1),
                cat,
                ckpt,
                compact_every=1,
            )
            q.awaitTermination()

        for i in range(n_batches - 1):
            add_chunk(i)
        drain()

        # (b) batch 0 -> first bucketed generation (major: no base to fold
        # into); every later batch -> a minor, up to the cap
        m = cat.read_manifest("seen_compact")
        assert m["gen"] == MAX_MINORS + 1 and m["through"] == MAX_MINORS
        assert m["n_buckets"] == spark.sparkContext.defaultParallelism
        assert m["table"].endswith("_g1")
        assert [t.rsplit("_", 1)[1] for t in m["minors"]] == [
            f"g{g}" for g in range(2, MAX_MINORS + 2)
        ]
        for t in [m["table"]] + m["minors"]:
            assert os.path.isdir(os.path.join(f"{tmp}/cur", t))
        # every cadence point consumed its whole flat tail
        assert not cat.exists("dedup_seen_buckets")

        # (d) no new tail -> no-op, not an empty generation
        assert compact_seen_buckets(cat) == 0
        assert cat.read_manifest("seen_compact")["gen"] == MAX_MINORS + 1

        # (c) metadata loss: drop every session catalog entry; the next
        # probe must re-attach base AND minors from the manifest alone
        for t in [m["table"]] + m["minors"]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        add_chunk(n_batches - 1)
        drain()
        # the last batch probed base + MAX_MINORS deltas, then its cadence
        # promoted: one new base, deltas reset, old generations dropped
        m2 = cat.read_manifest("seen_compact")
        assert m2["gen"] == n_batches and m2["table"].endswith(f"_g{n_batches}")
        assert m2["minors"] == [] and m2["through"] == n_batches - 1
        for t in [m["table"]] + m["minors"]:
            assert not os.path.isdir(os.path.join(f"{tmp}/cur", t))

        # (a) exact batch equality across the whole LSM lifecycle
        got = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        surv = curate(full)
        want = {r["doc_id"] for r in surv.select("doc_id").collect()}
        release(surv)
        assert got == want

        # (e) replayed drain: every batch skips, state untouched
        drain()
        again = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert again == want
        assert cat.read_manifest("seen_compact")["gen"] == n_batches
        spark.sql(f"DROP TABLE IF EXISTS {m2['table']}")
