"""Streaming pipeline (S5 analog) and frame-splitter (S3/S4) tests."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.sources.framing import frame_blobs, pack_records, split_records
from mysql_cdc_rs_spark.sources.pages import make_record, pages_df


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
    # framed records decode through the normal kernel path
    from mysql_cdc_rs_spark.functions.udfs import decode_page_udf

    dec = (
        frame_blobs(df)
        .filter(F.col("frame_error").isNull())
        .select(decode_page_udf("record").alias("d"))
        .select("d.event_type")
        .collect()
    )
    assert {r["event_type"] for r in dec} == {"plain"}


# --- streaming ----------------------------------------------------------------

@pytest.mark.parametrize("n_first,n_second", [(600, 400)])
def test_streaming_matches_batch_and_resumes(spark, n_first, n_second):
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        start_routing_stream,
        start_windowed_metrics_stream,
        stream_pages,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        sink = f"{tmp}/sink"
        ckpt = f"{tmp}/ckpt"

        # chunk 1 arrives
        pages_df(spark, n_first, seed=42, num_partitions=4).write.mode(
            "append"
        ).parquet(src)
        q = start_routing_stream(stream_pages(spark, src), sink, f"{ckpt}/route")
        q.awaitTermination()
        routed = spark.read.parquet(f"{sink}/routed")
        assert routed.count() == n_first

        # chunk 2 arrives; restart from checkpoint -> only new files processed
        pages_df(spark, n_second, seed=99, num_partitions=4).write.mode(
            "append"
        ).parquet(src)
        q2 = start_routing_stream(stream_pages(spark, src), sink, f"{ckpt}/route")
        q2.awaitTermination()
        routed = spark.read.parquet(f"{sink}/routed")
        assert routed.count() == n_first + n_second  # exactly-once, no replay

        # streaming totals == batch pipeline totals over the same input
        from mysql_cdc_rs_spark.operators.decode import decode_pages
        from mysql_cdc_rs_spark.operators.enrich import enrich

        batch_counts = {
            r["route"]: r["n"]
            for r in enrich(decode_pages(spark.read.parquet(src)))
            .groupBy("route")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        stream_counts = {
            r["route"]: r["n"]
            for r in routed.groupBy("route").agg(F.count("*").alias("n")).collect()
        }
        assert stream_counts == batch_counts

        # watermarked windowed metrics stream runs and lands rows
        qm = start_windowed_metrics_stream(
            stream_pages(spark, src), sink, f"{ckpt}/metrics"
        )
        qm.awaitTermination()
        # append-mode watermark emits only closed windows; with availableNow
        # over bounded input the final window may be withheld — just assert
        # the sink materialized with the right schema
        mdir = f"{sink}/windowed_metrics"
        assert os.path.isdir(mdir)


def test_streaming_stateful_host_stats(spark):
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        start_host_stats_stream,
        stream_pages,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        sink = f"{tmp}/sink"
        pages_df(spark, 500, seed=42, num_partitions=8).write.parquet(src)
        q = start_host_stats_stream(
            stream_pages(spark, src, max_files_per_trigger=3),
            sink,
            f"{tmp}/ckpt",
        )
        q.awaitTermination()
        stats = spark.read.parquet(f"{sink}/host_stats")
        # latest value per host (totals are monotone across updates)
        final = (
            stats.groupBy("host").agg(F.max("n_total").alias("n")).collect()
        )
        got_total = sum(r["n"] for r in final)
        assert got_total == 500


def test_streaming_session_windows(spark):
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        start_session_window_stream,
        stream_pages,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        sink = f"{tmp}/sink"
        pages_df(spark, 400, seed=42, num_partitions=4).write.parquet(src)
        q = start_session_window_stream(
            stream_pages(spark, src), sink, f"{tmp}/ckpt", gap="6 hours",
            watermark="0 seconds",
        )
        q.awaitTermination()
        sessions = spark.read.parquet(f"{sink}/host_sessions")
        rows = sessions.collect()
        assert len(rows) > 0
        assert all(r["session_end"] >= r["session_start"] for r in rows)
        # append mode emits only watermark-CLOSED sessions; the handful of
        # sessions still open at end-of-stream are withheld (correct
        # watermark semantics), so emitted counts sum to <= input and must
        # cover nearly all of it with a 6h gap over a 30-day span
        total = sum(r["n_events"] for r in rows)
        assert 380 <= total <= 400


def test_rate_source_stream_matches_batch(spark):
    """S5 live-source analog #2: the rate-micro-batch stream feeds the SAME
    decode->enrich->route transforms; rows for the first batch's values are
    row-identical to the batch pipeline over the same generator range."""
    import time

    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.operators.enrich import enrich
    from mysql_cdc_rs_spark.operators.route import route_table
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        start_routing_stream,
        stream_pages_rate,
    )

    with tempfile.TemporaryDirectory() as tmp:
        sink = f"{tmp}/sink"
        st = stream_pages_rate(spark, rows_per_batch=120, seed=7)
        q = start_routing_stream(st, sink, f"{tmp}/ckpt", available_now=False)
        try:
            deadline = time.time() + 120
            n = 0
            while time.time() < deadline and n < 120:
                try:
                    n = spark.read.parquet(f"{sink}/routed").count()
                except Exception:
                    n = 0
                time.sleep(1)
        finally:
            q.stop()
        assert n >= 120  # at least the first micro-batch committed
        routed = spark.read.parquet(f"{sink}/routed")
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


def test_monitoring_metrics_listener_and_run_snapshot(spark):
    """S10 analog: per-micro-batch progress rows land in the metrics table
    via StreamingQueryListener; batch runs publish snapshot rows."""
    import time

    from mysql_cdc_rs_spark.operators.monitoring import (
        MetricsListener,
        publish_run_metrics,
    )
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        start_routing_stream,
        stream_pages,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        pages_df(spark, 200, seed=42, num_partitions=4).write.parquet(src)
        cat = SinkCatalog(spark, f"{tmp}/mon")
        listener = MetricsListener(cat)
        spark.streams.addListener(listener)
        try:
            q = start_routing_stream(
                stream_pages(spark, src), f"{tmp}/sink", f"{tmp}/ckpt"
            )
            q.awaitTermination()
            # listener events are delivered asynchronously
            deadline = time.time() + 60
            rows = []
            while time.time() < deadline:
                if cat.exists("monitoring_metrics"):
                    rows = cat.read("monitoring_metrics").collect()
                    if any(r["metric"] == "batch_input_rows" for r in rows):
                        break
                time.sleep(1)
        finally:
            spark.streams.removeListener(listener)
        got = sum(
            r["value"] for r in rows if r["metric"] == "batch_input_rows"
        )
        assert got == 200  # every input row accounted in pushed metrics

        publish_run_metrics(cat, "run-1", {"a": 3, "b": 7}, elapsed_sec=2.0)
        snap = {
            r["metric"]: r["value"]
            for r in cat.read("monitoring_metrics").collect()
            if r["source"] == "run-1"
        }
        assert snap["rows_total"] == 10.0
        assert snap["route_count.a"] == 3.0
        assert snap["rows_per_sec"] == 5.0


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
    from mysql_cdc_rs_spark.plans.training_pipeline import (
        curate,
        curation_report,
        release,
    )
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
        release(surv)
        assert got == want

        # replaying the last batch (manifest says complete) is a no-op
        q3 = start_curation_stream(stream_pages(spark, src), cat, ckpt)
        q3.awaitTermination()
        again = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert again == want

        # input-lineage tripwire: the stream's running quality-row total
        # equals batch mode's quality count over the same pages
        total = cat.read_manifest("stream_curate")["quality_rows_total"]
        assert total == curation_report(full)["quality_pass"]


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

    def page(i, text):
        body = f"<html><body>{text}</body></html>".encode()
        raw = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        return (f"https://ex.com/d/{i}", None, raw, None, "en")

    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        cat = SinkCatalog(spark, f"{tmp}/cur")
        # batch 1: the original + one unrelated doc
        spark.createDataFrame([page(1, base), page(2, uniq)], ddl).coalesce(
            1
        ).write.mode("append").parquet(src)
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
            [page(100, base + " tiny tail"), page(101, fresh)], ddl
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
        spark.createDataFrame([page(200, uniq + " late copy")], ddl).coalesce(
            1
        ).write.mode("append").parquet(src)
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


def test_metrics_listener_flush_errors_counted(spark):
    """A failing metrics append must never propagate to (or stall) the
    listener bus: rows buffer, the flush fails, the error is COUNTED."""
    from mysql_cdc_rs_spark.operators.monitoring import MetricsListener

    class BadCatalog:
        def __init__(self, s):
            self.spark = s

        def append(self, df, table):
            raise RuntimeError("sink unavailable")

    lst = MetricsListener(BadCatalog(spark))

    class _Progress:
        name = "q"
        id = "qid"
        numInputRows = 3
        batchId = 1
        processedRowsPerSecond = 1.5
        timestamp = "2026-01-01T00:00:00Z"

    class _Event:
        progress = _Progress()

    lst.onQueryProgress(_Event())  # buffers only — must not raise
    lst.flush()
    assert lst.flush_errors == 1
    # and a second batch keeps flowing into the buffer without issue
    lst.onQueryProgress(_Event())
    lst.flush()
    assert lst.flush_errors == 2


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

    def page(i, text):
        body = f"<html><body>{text}</body></html>".encode()
        raw = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        return (f"https://ex.com/d/{i}", None, raw, None, "en")

    t1 = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while seven wizards mix tricky potions for the annual fair " * 2
    )
    t2 = (
        "completely different vocabulary nothing shared at all here "
        "rivers mountains valleys glaciers meadows forests deserts " * 2
    )
    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        cat = SinkCatalog(spark, f"{tmp}/cur")

        def feed(*batches, compact_every=None):
            # one source file per batch, one micro-batch per file
            for rows in batches:
                spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
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

        feed([page(1, t1), page(2, t2)], compact_every=1)  # major: the base
        feed([page(3, t1 + " x"), page(4, t2 + " y")])  # batch 1: the tail
        base = cat.read_manifest("seen_compact")
        assert base["gen"] == 1 and base["minors"] == []

        probe = DD.banded_buckets(
            quality_corpus(
                decode_pages(
                    spark.createDataFrame(
                        [page(60, t1 + " z"), page(61, t2 + " w")], ddl
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
            *([page(10 + i, t2 + f" extra{i}")] for i in range(MAX_MINORS - 1)),
            compact_every=1,
        )
        assert len(cat.read_manifest("seen_compact")["minors"]) == MAX_MINORS
        feed([page(20, t2 + " more")])
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
                page(50, t1 + " tail"),
                page(
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

    def page(i):
        body = f"<html><body>{text}</body></html>".encode()
        raw = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        return (f"https://ex.com/d/{i}", None, raw, None, "en")

    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        ckpt = f"{tmp}/ckpt"
        cat = SinkCatalog(spark, f"{tmp}/cur")

        # torn batch: 511 members of one near-dup class (positions 1..511)
        spark.createDataFrame(
            [page(i) for i in range(MAX_BUCKET - 1)], ddl
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

        # next two arrivals of the same class: 512 drops (== cap), 513
        # survives (> cap).  Doubled priors would keep BOTH.
        spark.createDataFrame(
            [page(600), page(601)], ddl
        ).coalesce(1).write.mode("append").parquet(src)
        q = start_curation_stream(
            stream_pages(spark, src), cat, ckpt, min_tokens=10
        )
        q.awaitTermination()
        got = {r["doc_id"] for r in read_curated(cat).select("doc_id").collect()}
        assert 600 not in got  # position 512: still inside the drop window
        assert 601 in got  # position 513: past the cap, survives


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

    def page(i, text):
        body = f"<html><body>{text}</body></html>".encode()
        raw = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        return (f"https://ex.com/d/{i}", None, raw, None, "en")

    # doc 10 and doc 5 are near-dups of each other; 10 ARRIVES first
    # (batch 1) even though 5 has the lower doc_id (batch 2)
    rows_b1 = [page(10, shared), page(2, uniq_a)]
    rows_b2 = [page(5, shared + " tiny tail"), page(7, uniq_b)]
    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        cat = SinkCatalog(spark, f"{tmp}/cur")
        for rows in (rows_b1, rows_b2):
            spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = start_curation_stream(
                stream_pages(spark, src), cat, f"{tmp}/ckpt", min_tokens=10
            )
            q.awaitTermination()
        stream_set = {
            r["doc_id"] for r in read_curated(cat).select("doc_id").collect()
        }

        full = spark.createDataFrame(rows_b1 + rows_b2, ddl)
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

    def page(i):
        body = f"<html><body>{boiler}</body></html>".encode()
        raw = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        return (f"https://ex.com/d/{i}", None, raw, None, "en")

    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = [page(i) for i in range(1, n + 1)]
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/pages"
        cat = SinkCatalog(spark, f"{tmp}/cur")
        # two ordered micro-batches: ids 1..300, then 301..520 (the cap
        # boundary falls inside batch 2 — prior count + in-batch rank)
        for chunk in (rows[:300], rows[300:]):
            spark.createDataFrame(chunk, ddl).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = start_curation_stream(
                stream_pages(spark, src), cat, f"{tmp}/ckpt", min_tokens=5
            )
            q.awaitTermination()
        stream_set = {
            r["doc_id"] for r in read_curated(cat).select("doc_id").collect()
        }

        surv = curate(spark.createDataFrame(rows, ddl), min_tokens=5)
        batch_set = {r["doc_id"] for r in surv.select("doc_id").collect()}
        release(surv)

        want = {1} | set(range(MAX_BUCKET + 1, n + 1))  # 1 and 513..520
        assert batch_set == want
        assert stream_set == want


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
        os.makedirs(src)
        # 4 doc_id-ordered chunk files with pinned mtimes -> 4 ordered
        # micro-batches under maxFilesPerTrigger=1 in ONE drain
        for i in range(4):
            stage = f"{tmp}/stage"
            full.filter(
                (docid >= i * 400) & (docid < (i + 1) * 400)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            target = os.path.join(src, f"chunk_{i:04d}.parquet")
            os.rename(os.path.join(stage, part), target)
            os.utime(target, (1_700_000_000 + i, 1_700_000_000 + i))

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
        os.makedirs(src)

        def add_chunk(i: int) -> None:
            stage = f"{tmp}/stage"
            full.filter(
                (docid >= i * 400) & (docid < (i + 1) * 400)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            target = os.path.join(src, f"chunk_{i:04d}.parquet")
            os.rename(os.path.join(stage, part), target)
            os.utime(target, (1_700_000_000 + i, 1_700_000_000 + i))

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
