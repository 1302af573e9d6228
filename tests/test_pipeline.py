"""End-to-end pipeline invariants on the synthetic pages table.

Mirrors the reference's integration tests
(/root/reference/binlog/src/row/parser_integration_test.rs): byte-identical
decode output, exact fan-out counts, routed-row equality, resume semantics.
"""

from __future__ import annotations

import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.operators.decode import decode_pages, split_errors
from mysql_cdc_rs_spark.operators.enrich import enrich
from mysql_cdc_rs_spark.operators.route import ROUTES, write_routes
from mysql_cdc_rs_spark.operators import stats as S
from mysql_cdc_rs_spark.plans.pipeline import run_pipeline
from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
from mysql_cdc_rs_spark.sources.pages import PAGES_SCHEMA, pages_df, pages_rows

N = 1500


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N, seed=42).cache()


@pytest.fixture(scope="module")
def decoded(spark, pages):
    return decode_pages(pages).cache()


def test_byte_identical_text(decoded):
    """North-rule invariant: UDF-decoded text == generator's kernel text."""
    bad = decoded.filter(~F.col("text").eqNullSafe(F.col("text_expected"))).count()
    assert bad == 0


def test_event_taxonomy_exhaustive(decoded):
    seen = {r["event_type"] for r in decoded.select("event_type").distinct().collect()}
    from mysql_cdc_rs_spark.kernel.decode import EVENT_TYPES

    assert seen <= set(EVENT_TYPES)
    assert decoded.filter(F.col("event_type").isNull()).count() == 0


def test_decode_matches_driver_oracle(decoded):
    """Spark decode counts == pure-Python kernel counts (same rows)."""
    from collections import Counter

    from mysql_cdc_rs_spark.kernel.decode import decode_page

    expected = Counter(
        decode_page(raw)["event_type"] for _, _, raw, _, _ in pages_rows(N, seed=42)
    )
    got = {
        r["event_type"]: r["n"]
        for r in decoded.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == dict(expected)


def test_split_errors_partitions_all_rows(decoded):
    ok, err = split_errors(decoded)
    assert ok.count() + err.count() == N
    assert err.filter(F.col("error").isNull() & (F.col("status") < 400)).count() == 0


def test_enrich_missing_key_error_route(spark, decoded):
    enriched = enrich(decoded)
    # 'it' lang and 'gov' tld are absent from dims by design
    unmatched = enriched.filter(F.col("enrich_error").isNotNull())
    assert unmatched.filter(F.col("route") != "errors").count() == 0
    assert (
        unmatched.filter(
            (F.col("lang") != "it") & (F.col("tld") != "gov")
        ).count()
        == 0
    )


def test_routing_fanout_and_equality(spark, pages):
    with tempfile.TemporaryDirectory() as base:
        cat = SinkCatalog(spark, base)
        enriched = enrich(decode_pages(pages))
        counts = write_routes(enriched, cat)
        assert set(counts) <= set(ROUTES)
        assert sum(counts.values()) == N
        routed = cat.read("routed")
        # routed-row equality: same url multiset in == out
        assert routed.select("url").exceptAll(pages.select("url")).count() == 0
        assert pages.select("url").exceptAll(routed.select("url")).count() == 0
        # per-sink manifest counts attest the written data
        m = cat.read_manifest("routes")
        assert m["counts"] == counts and m["total"] == N


def test_iceberg_branch_issues_writeTo_calls(monkeypatch):
    """The Iceberg leg of SinkCatalog, exercised WITHOUT the runtime jar
    (absent in this sandbox): a spy DataFrame/session records exactly which
    DataFrameWriterV2 calls each operation issues against which table
    identifier.  This is the transactional-append parity surface
    (/root/reference/relay_log/src/storage/relay_log_storage.rs:85-124);
    the Parquet leg stays the executed path everywhere else."""
    from mysql_cdc_rs_spark.sources import catalog as C

    calls: list[tuple] = []

    class SpyWriter:
        def __init__(self, ident):
            self.ident = ident

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy", self.ident, cols))
            return self

        def append(self):
            calls.append(("append", self.ident))

        def create(self):
            calls.append(("create", self.ident))

        def overwritePartitions(self):
            calls.append(("overwritePartitions", self.ident))

        def createOrReplace(self):
            calls.append(("createOrReplace", self.ident))

    class SpyDF:
        def writeTo(self, ident):
            calls.append(("writeTo", ident))
            return SpyWriter(ident)

    class SpyCatalog:
        def __init__(self):
            self.tables: set[str] = set()

        def tableExists(self, ident):
            return ident in self.tables

    class SpyRead:
        def table(self, ident):
            calls.append(("read.table", ident))
            return f"df:{ident}"

    class SpySpark:
        def __init__(self):
            self.catalog = SpyCatalog()
            self.read = SpyRead()

    monkeypatch.setattr(C, "_iceberg_available", lambda spark: True)
    with tempfile.TemporaryDirectory() as base:
        spark = SpySpark()
        cat = C.SinkCatalog(spark, base, use_iceberg=True)
        assert cat.use_iceberg  # probe said yes -> branch stays on

        # first append -> create (createOrReplace would drop prior appends)
        cat.append(SpyDF(), "events", partition_by=["route"])
        assert calls == [
            ("writeTo", "sink.events"),
            ("partitionedBy", "sink.events", ("route",)),
            ("create", "sink.events"),
        ]
        calls.clear()

        # table now exists -> subsequent append is a transactional append
        spark.catalog.tables.add("sink.events")
        cat.append(SpyDF(), "events")
        assert calls == [("writeTo", "sink.events"), ("append", "sink.events")]
        calls.clear()

        # overwrite = FULL replace on both legs: createOrReplace is one
        # atomic snapshot swap AND drops partitions absent from df (dynamic
        # overwritePartitions would keep them — the Parquet-leg divergence
        # the round-4 advisory flagged on route.py's partitioned fan-out)
        cat.overwrite(SpyDF(), "events", partition_by=["route"])
        assert calls == [
            ("writeTo", "sink.events"),
            ("partitionedBy", "sink.events", ("route",)),
            ("createOrReplace", "sink.events"),
        ]
        calls.clear()

        # overwrite on a missing table -> same call (createOrReplace creates)
        cat.overwrite(SpyDF(), "metrics")
        assert calls == [
            ("writeTo", "sink.metrics"),
            ("createOrReplace", "sink.metrics"),
        ]
        calls.clear()

        # overwrite_partitions = replace exactly the partitions present in
        # df (the incremental re-run path at scale)
        cat.overwrite_partitions(SpyDF(), "events", partition_by=["route"])
        assert calls == [
            ("writeTo", "sink.events"),
            ("partitionedBy", "sink.events", ("route",)),
            ("overwritePartitions", "sink.events"),
        ]
        calls.clear()

        # overwrite_partitions on a missing table -> create
        cat.overwrite_partitions(SpyDF(), "metrics2")
        assert calls == [
            ("writeTo", "sink.metrics2"),
            ("create", "sink.metrics2"),
        ]
        calls.clear()

        # reads and existence go through the catalog, not the filesystem
        assert cat.read("events") == "df:sink.events"
        assert cat.exists("events") and not cat.exists("nope")


def test_iceberg_probe_falls_back_without_jar(spark):
    """In this sandbox the probe must say no and the catalog must land on
    the executed Parquet leg even when Iceberg is requested."""
    with tempfile.TemporaryDirectory() as base:
        cat = SinkCatalog(spark, base, use_iceberg=True)
        assert not cat.use_iceberg


def test_pipeline_resume(spark, pages, monkeypatch):
    """A rerun over the same input reuses the routed sink without writing
    it; an input with more rows, or as many rows with other urls, writes
    it again."""
    from mysql_cdc_rs_spark.plans import pipeline as P

    writes = []

    def spy(enriched, catalog):
        writes.append(catalog.base)
        return write_routes(enriched, catalog)

    monkeypatch.setattr(P, "write_routes", spy)
    with tempfile.TemporaryDirectory() as base:
        cat = SinkCatalog(spark, base)
        r1 = run_pipeline(pages, cat)
        r2 = run_pipeline(pages, cat)
        # resume returns the stored counts and run record, and skips the write
        assert len(writes) == 1
        assert r2.route_counts == r1.route_counts
        assert r2.metrics == r1.metrics
        # changed input -> recompute, not stale reuse
        bigger = pages_df(spark, N + 100, seed=42)
        r3 = run_pipeline(bigger, cat)
        assert len(writes) == 2
        assert sum(r3.route_counts.values()) == N + 100
        run_pipeline(bigger, cat)
        assert len(writes) == 2
        # same row count, other urls -> recompute
        moved = bigger.withColumn("url", F.concat("url", F.lit("?v=2")))
        r4 = run_pipeline(moved, cat)
        assert len(writes) == 3
        assert sum(r4.route_counts.values()) == N + 100
        routed = cat.read("routed").select("url")
        assert routed.exceptAll(moved.select("url")).count() == 0


def test_crash_before_manifest_commit_is_not_resumed(spark, tmp_path, monkeypatch):
    """A run that writes its table and dies before ``mark_complete`` must
    not leave the previous input's complete manifest beside its rows: a
    rerun over that previous input rewrites the table, for ``run_pipeline``
    and for a generic ``CheckpointedStage``."""
    from mysql_cdc_rs_spark.functions.columns import url_bucket
    from mysql_cdc_rs_spark.plans.checkpoint import CheckpointedStage

    small, big = pages_df(spark, 300, seed=42), pages_df(spark, 400, seed=42)
    cat = SinkCatalog(spark, str(tmp_path / "sink"))
    stage = CheckpointedStage(cat, "probe_stage")

    def stage_run(pages):
        buckets = pages.select("url", url_bucket(F.col("url")).alias("url_bucket"))
        return stage.run(buckets, lambda df: df.select("url"))

    def crash(self, lineage):
        raise RuntimeError("crash before the manifest commit")

    run_pipeline(small, cat)
    stage_run(small)
    with monkeypatch.context() as m:
        m.setattr(CheckpointedStage, "mark_complete", crash)
        for run in (run_pipeline, lambda pages, _: stage_run(pages)):
            with pytest.raises(RuntimeError, match="manifest commit"):
                run(big, cat)
    assert cat.read("routed").count() == cat.read("probe_stage").count() == 400

    r = run_pipeline(small, cat)
    assert sum(r.route_counts.values()) == r.metrics["rows"] == 300
    assert cat.read("routed").count() == 300
    assert stage_run(small).count() == 300


def _jobs_of(spark, group: str, action) -> int:
    """The number of Spark jobs ``action()`` runs, counted through a job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_run_is_one_spark_job(spark, tmp_path):
    """Over a fresh sink, ``run_pipeline`` runs one Spark job, the routed
    write: the lineage and the run record are observed on it and the
    dimension lookups need no broadcast.  A rerun runs the input's lineage
    aggregate and nothing else."""
    from mysql_cdc_rs_spark.functions.columns import url_bucket
    from mysql_cdc_rs_spark.plans.checkpoint import lineage_summary

    path = str(tmp_path / "pages")
    pages_df(spark, 300, seed=42).write.parquet(path)
    pages = spark.read.parquet(path)
    cat = SinkCatalog(spark, str(tmp_path / "sink"))
    assert _jobs_of(spark, "fresh", lambda: run_pipeline(pages, cat)) == 1
    rerun = _jobs_of(spark, "rerun", lambda: run_pipeline(pages, cat))
    buckets = pages.select(url_bucket(F.col("url")).alias("url_bucket"))
    assert rerun == _jobs_of(spark, "lineage", lambda: lineage_summary(buckets))


def test_enrich_map_lookup_equals_left_join(spark):
    """``enrich``'s map lookups give what left joins over the dimension
    frames give, for a missing lang (it), a missing tld (gov), a null lang
    and a null tld (a url with no host)."""
    from mysql_cdc_rs_spark.operators.enrich import LANG_MISS, TLD_MISS
    from mysql_cdc_rs_spark.sources.dimensions import (
        LANG_REGION,
        TLD_CATEGORY,
        literal_df,
    )

    raw = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>x</p>"
    rows = [
        ("https://a.com/1", "en"),
        ("https://a.gov/2", "en"),
        ("https://a.de/3", "it"),
        ("https://a.org/4", None),
        ("urn:no-host:5", "fr"),
        ("https://a.gov/6", "it"),
    ]
    decoded = decode_pages(
        spark.createDataFrame(
            [(u, None, raw, None, lang) for u, lang in rows], PAGES_SCHEMA
        )
    )
    cols = ["url", "region", "lang_name", "category", "enrich_error", "route"]
    got = enrich(decoded).select(*cols)

    lang = literal_df(spark, LANG_REGION, "lang string, region string, lang_name string")
    tld = literal_df(spark, TLD_CATEGORY, "tld string, category string")
    err = (
        F.when(F.col("region").isNull(), LANG_MISS)
        .when(F.col("category").isNull(), TLD_MISS)
    )
    want = (
        decoded.join(lang, "lang", "left")
        .join(tld, "tld", "left")
        .withColumn("enrich_error", err)
        .withColumn(
            "route", F.when(err.isNotNull(), "errors").otherwise(F.col("route"))
        )
        .select(*cols)
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    by_url = {r["url"]: r for r in want.collect()}
    assert len(by_url) == len(rows)
    assert by_url["urn:no-host:5"]["category"] is None
    assert by_url["https://a.org/4"]["region"] is None
    assert {r["enrich_error"] for r in by_url.values()} == {None, LANG_MISS, TLD_MISS}


def test_run_record_matches_sink(spark, pages):
    """The run record the routed write observed attests the sink: its
    route, event-type and error-class counts equal read-back groupBys of
    ``routed``, nothing falls in an ``other`` bucket, and ``bytes_in`` is
    the input's html bytes."""
    from mysql_cdc_rs_spark.kernel.decode import ERROR_CLASSES, EVENT_TYPES

    def observed(rec, prefix, names):
        return {n: rec[f"{prefix}.{n}"] for n in names if rec[f"{prefix}.{n}"]}

    def read_back(df, key):
        return {
            r["k"]: r["n"]
            for r in df.groupBy(key.alias("k")).agg(F.count("*").alias("n")).collect()
            if r["k"] is not None
        }

    with tempfile.TemporaryDirectory() as base:
        cat = SinkCatalog(spark, base)
        rec = run_pipeline(pages, cat).metrics
        routed = cat.read("routed")
        assert observed(rec, "route", ROUTES) == read_back(routed, F.col("route"))
        assert observed(rec, "event", EVENT_TYPES) == read_back(
            routed, F.col("event_type")
        )
        assert observed(rec, "error", ERROR_CLASSES) == read_back(
            routed, F.substring_index("error", ":", 1)
        )
        assert rec["route.other"] == rec["event.other"] == rec["error.other"] == 0
        assert rec["rows"] == N
        assert rec["bytes_in"] == pages.agg(F.sum(F.length("html"))).first()[0]
        assert rec["bytes_out"] == routed.agg(F.sum("body_len")).first()[0]
        body_bytes = routed.groupBy("route").agg(F.sum("body_len").alias("b"))
        assert observed(rec, "route_bytes", ROUTES) == {
            r["route"]: r["b"] for r in body_bytes.collect() if r["b"]
        }


def test_hostile_pages_through_the_pipeline(spark):
    """One record per ``ERROR_CLASSES`` entry, next to well-formed pages,
    through ``run_pipeline``: every input url lands in the routes, each
    hostile record carries its class, the record's ``error.<class>``
    counts equal a read-back ``groupBy`` of the sink, and no error falls
    outside the listed classes."""
    import zlib

    from mysql_cdc_rs_spark.kernel import registry as R
    from mysql_cdc_rs_spark.kernel.decode import ERROR_CLASSES
    from mysql_cdc_rs_spark.kernel.http import MAX_BODY_BYTES

    def rec(headers, body):
        return f"HTTP/1.1 200 OK\r\n{headers}\r\n\r\n".encode() + body

    # a gzip body one byte past the cap, compressed without materializing it
    z = zlib.compressobj(9, zlib.DEFLATED, 31)
    mib = bytes(1 << 20)
    bomb = b"".join(
        [z.compress(mib) for _ in range(MAX_BODY_BYTES >> 20)]
        + [z.compress(b"\0"), z.flush()]
    )
    gz = "Content-Type: text/html\r\nContent-Encoding: gzip"
    HOSTILE = "https://hostile.test/"
    hostile = {
        "NULL_PAYLOAD": None,
        "NO_MAGIC": b"GARBAGE",
        "NO_HEADER_END": b"HTTP/1.1 200 OK\r\nX: 1",
        "BAD_STATUS_LINE": b"HTTP/9.9200\r\n\r\nbody",
        "BAD_GZIP": rec(gz, b"not a gzip stream"),
        "BODY_TOO_LARGE": rec(gz, bomb),
        "UNKNOWN_CHARSET": rec("Content-Type: text/html; charset=klingon-8", b"x"),
        "EXTENSION_ERROR": rec("Content-Type: application/x-crash", b"x"),
    }
    assert sorted(hostile) == sorted(ERROR_CLASSES)
    pages = spark.createDataFrame(
        [(f"{HOSTILE}{c}", None, raw, None, "en") for c, raw in hostile.items()],
        PAGES_SCHEMA,
    ).unionByName(pages_df(spark, 200, seed=42))

    def boom(body, charset):  # noqa: ANN001
        raise RuntimeError("crashing extension decoder")

    R.register_mime_decoder("application/x-crash")(boom)
    try:
        with tempfile.TemporaryDirectory() as base:
            cat = SinkCatalog(spark, base)
            record = run_pipeline(pages, cat).metrics
            routed = cat.read("routed")
            assert routed.select("url").exceptAll(pages.select("url")).count() == 0
            assert pages.select("url").exceptAll(routed.select("url")).count() == 0
            cls = F.substring_index("error", ":", 1)
            got = {
                r["url"].rsplit("/", 1)[1]: r["c"]
                for r in routed.where(F.col("url").startswith(HOSTILE))
                .select("url", cls.alias("c"))
                .collect()
            }
            assert got == {c: c for c in hostile}
            read_back = {
                r["c"]: r["count"]
                for r in routed.where(F.col("error").isNotNull())
                .groupBy(cls.alias("c"))
                .count()
                .collect()
            }
            assert {
                c: record[f"error.{c}"] for c in ERROR_CLASSES if record[f"error.{c}"]
            } == read_back
            assert record["error.other"] == 0
    finally:
        R.clear_extensions()


#: generated pages to truncate or corrupt (seed 7's first 60 hold all
#: eight record classes of the generator)
_WELL_FORMED = [raw for _, _, raw, _, _ in pages_rows(60, seed=7)]


def _flip(raw: bytes, pos: int, mask: int) -> bytes:
    out = bytearray(raw)
    out[pos % len(out)] ^= mask
    return bytes(out)


#: one adversarial record: arbitrary bytes (the strategy of the kernel's
#: ``test_decode_page_total``), or a well-formed page truncated at a drawn
#: offset, or one with one byte flipped
_ADVERSARIAL = st.one_of(
    st.binary(max_size=500),
    st.builds(
        lambda raw, cut: raw[: cut % (len(raw) + 1)],
        st.sampled_from(_WELL_FORMED),
        st.integers(min_value=0),
    ),
    st.builds(
        _flip,
        st.sampled_from(_WELL_FORMED),
        st.integers(min_value=0),
        st.integers(min_value=1, max_value=255),
    ),
)


@settings(max_examples=4, deadline=None)
@given(raws=st.lists(_ADVERSARIAL, min_size=1, max_size=8))
def test_adversarial_records_through_the_pipeline(spark, raws):
    """Hypothesis records next to well-formed pages, through
    ``run_pipeline``: the routes hold exactly the input urls, the record
    counts every row, each error row is counted once in the record's
    ``error.*`` counts, and none falls outside the listed classes."""
    FUZZ = "https://fuzz.test/"
    pages = spark.createDataFrame(
        [(f"{FUZZ}{i}", None, raw, None, "en") for i, raw in enumerate(raws)],
        PAGES_SCHEMA,
    ).unionByName(pages_df(spark, 50))
    with tempfile.TemporaryDirectory() as base:
        cat = SinkCatalog(spark, base)
        record = run_pipeline(pages, cat).metrics
        routed = cat.read("routed")
        assert routed.select("url").exceptAll(pages.select("url")).count() == 0
        assert pages.select("url").exceptAll(routed.select("url")).count() == 0
        assert record["rows"] == len(raws) + 50
        errors = sum(v for k, v in record.items() if k.startswith("error."))
        assert errors == routed.where(F.col("error").isNotNull()).count()
        assert record["error.other"] == 0


def test_charset_variety(decoded):
    cs = {r["charset"] for r in S.charset_stats(decoded).collect()}
    assert {"utf-8", "latin-1", "gbk"} <= cs


def test_salted_host_stats_equal_direct(decoded):
    """Two-phase salted host aggregation == direct groupBy, exactly."""
    got = {
        r["host"]: (r["n_pages"], r["total_bytes"])
        for r in S.host_stats_salted(decoded).collect()
    }
    direct = {
        r["host"]: (r["n"], r["b"])
        for r in decoded.groupBy("host")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce(F.col("raw_len"), F.lit(0))).alias("b"),
        )
        .collect()
    }
    assert got == direct
    # the hot hosts really are hot (skew exists to be handled)
    hot = [h for h in got if h.startswith("hot.")]
    assert sum(got[h][0] for h in hot) > 0.2 * N


def test_training_curation_stages(spark):
    """Composed curation pipeline: ``release()`` returns curate's record,
    whose ``quality`` is batch ``quality_corpus``'s count; the input rows,
    the text-bearing rows (html + plain, from a decode groupBy), the
    quality docs and the unique survivors are monotone."""
    from mysql_cdc_rs_spark.plans.training_pipeline import (
        curate,
        quality_corpus,
        release,
    )
    from mysql_cdc_rs_spark.sources.pages_from_documents import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    surv = curate(pages, min_tokens=20)
    n_surv = surv.count()
    assert surv.select("doc_id").distinct().count() == n_surv
    rec = release(surv)
    decoded = decode_pages(pages)
    assert rec["quality"] == quality_corpus(decoded, min_tokens=20).count()
    assert set(rec) == {"quality", *S.NO_CAP}
    events = {
        r["event_type"]: r["count"]
        for r in decoded.groupBy("event_type").count().collect()
    }
    textful = events.get("html", 0) + events.get("plain", 0)
    assert sum(events.values()) >= textful >= rec["quality"] >= n_surv > 0
    with pytest.raises(ValueError, match="at least 3"):
        quality_corpus(decoded, min_tokens=2)


def test_curate_release_unpersists_quality(spark):
    """curate() persists the quality corpus; release() must drop exactly
    that cache so repeated invocations (bench loops, notebooks) don't
    accumulate cached plans for the session lifetime."""
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
    from mysql_cdc_rs_spark.sources.pages_from_documents import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    surv = curate(pages, min_tokens=20)
    surv.count()  # materializes the persisted quality corpus
    quality = surv._curate_persisted
    assert quality.storageLevel.useMemory or quality.storageLevel.useDisk
    release(surv)
    sl = quality.storageLevel
    assert not (sl.useMemory or sl.useDisk)  # cache dropped
    release(surv)  # idempotent, and safe on frames without the handle
    release(pages)


def test_curate_calls_share_one_cache_entry(spark):
    """Two un-released curate() calls over the same pages add ONE cached
    quality corpus: the record is observed above the persist, so every
    call persists the same plan."""
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release

    jsc = spark.sparkContext._jsc
    pages = pages_df(spark, 300, seed=19)
    before = len(jsc.getPersistentRDDs())
    s1, s2 = curate(pages), curate(pages)
    assert len(jsc.getPersistentRDDs()) == before + 1
    assert s1.count() == s2.count()
    assert release(s1) == release(s2)


def test_curate_record_adds_no_job(spark, tmp_path):
    """curate() + count() runs 9 Spark jobs, as it did before curate kept
    a record: ``quality`` is the persist barrier's count and the cap census
    is observed by the count's own pass."""
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release

    path = str(tmp_path / "pages")
    pages_df(spark, 400, seed=17).write.parquet(path)
    pages = spark.read.parquet(path)
    held = []

    def run():
        held.append(curate(pages, min_tokens=20))
        held[0].count()

    assert _jobs_of(spark, "curate_record", run) == 9
    assert release(held[0])["quality"] > 0


def test_curation_requires_the_aqe_exclusion(spark, tmp_path):
    """A session that keeps AQE's AQEPropagateEmptyRelation (one built
    without ``build_session``) loses the cap census of a stage that comes
    out empty, so batch and stream curation refuse it before any work."""
    from mysql_cdc_rs_spark.plans.training_pipeline import curate
    from mysql_cdc_rs_spark.session import EXCLUDED_RULES
    from mysql_cdc_rs_spark.streaming.stream_pipeline import (
        start_curation_stream,
        stream_pages_rate,
    )

    pages = pages_df(spark, 40, seed=42)
    stream = stream_pages_rate(spark)
    cat = SinkCatalog(spark, str(tmp_path / "sinks"))
    rules = spark.conf.get(EXCLUDED_RULES)
    try:
        spark.conf.unset(EXCLUDED_RULES)
        match = "AQEPropagateEmptyRelation.*session.build_session"
        with pytest.raises(ValueError, match=match):
            curate(pages)
        with pytest.raises(ValueError, match=match):
            start_curation_stream(stream, cat, str(tmp_path / "ckpt"))
    finally:
        spark.conf.set(EXCLUDED_RULES, rules)
    assert not spark.streams.active


def test_session_sizes_shuffle_from_cores(spark):
    """With no explicit count, a session's shuffle width is its cores."""
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == (
        spark.sparkContext.defaultParallelism
    )


def test_spark_submit_py_files_runs():
    """The north rule's exact invocation shape: spark-submit --py-files
    engine.zip — the package must ship itself correctly when imported FROM
    the zip (regression: ship_package crashed re-zipping a zip member).
    A shuffle-partition count given with ``--conf`` beats the session's
    cores default."""
    import json
    import os
    import shutil
    import subprocess
    import tempfile
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with tempfile.TemporaryDirectory() as tmp:
        zpath = f"{tmp}/engine.zip"
        with zipfile.ZipFile(zpath, "w") as z:
            pkg = os.path.join(repo, "mysql_cdc_rs_spark")
            for root, _, files in os.walk(pkg):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, repo))
        spark_submit = shutil.which("spark-submit")
        if spark_submit is None:
            import pytest

            pytest.skip("spark-submit not on PATH")
        out = subprocess.run(
            [spark_submit, "--master", "local[4]", "--py-files", zpath,
             "--conf", "spark.sql.shuffle.partitions=3",
             f"{repo}/scripts/run_pipeline.py",
             "--pages", f"{tmp}/pages", "--sink", f"{tmp}/sink",
             "--synthesize", "500"],
            cwd=tmp, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
        res = json.loads(out.stdout.strip().splitlines()[-1])
        assert res["total"] == 500
        assert sum(res["route_counts"].values()) == 500
        assert res["record"]["rows"] == 500
        assert res["shuffle_partitions"] == 3


_RETRY_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import TaskContext
from pyspark.sql import functions as F
from mysql_cdc_rs_spark.plans.pipeline import run_pipeline
from mysql_cdc_rs_spark.plans.training_pipeline import curate, release
from mysql_cdc_rs_spark.session import build_session
from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
from mysql_cdc_rs_spark.sources.pages import pages_df
from mysql_cdc_rs_spark.streaming.stream_pipeline import (
    read_curated,
    start_curation_stream,
    stream_pages,
)

tmp = sys.argv[2]
spark = build_session(
    "retries", master="local[4,2]",
    extra_conf={"spark.ui.showConsoleProgress": "false"},
)
spark.sparkContext.setLogLevel("OFF")
pages_df(spark, 800, seed=31).repartition(4).write.parquet(f"{tmp}/pages")
pages = spark.read.parquet(f"{tmp}/pages")
# two page files for the curation stream, one micro-batch each
doc_id = F.substring_index("url", "/", -1).cast("long")
for half in (doc_id < 400, doc_id >= 400):
    pages.where(half).coalesce(1).write.mode("append").parquet(f"{tmp}/stream")


def fail_first(batches):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("first attempt of partition 0")
    yield from batches


def failed_tasks(group):
    return sum(
        info.numFailedTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
        if (info := tracker.getStageInfo(s)) is not None
    )


sc = spark.sparkContext
tracker = sc.statusTracker()
out = {}
for name, wrap in (
    ("clean", lambda df: df),
    ("retried", lambda df: df.mapInArrow(fail_first, df.schema)),
):
    sc.setJobGroup(name, name)
    df = wrap(pages)
    cat = SinkCatalog(spark, f"{tmp}/{name}")
    res = run_pipeline(df, cat)
    surv = curate(df)
    ids = sorted(r["doc_id"] for r in surv.select("doc_id").collect())
    out[name] = {
        "record": res.metrics,
        "route_counts": res.route_counts,
        "routed": cat.read("routed").count(),
        "survivors": ids,
        "curation_record": release(surv),
        "failed_tasks": failed_tasks(name),
    }
    # one curation-stream drain; a stream's jobs run in group str(runId)
    stream_cat = SinkCatalog(spark, f"{tmp}/{name}_stream")
    q = start_curation_stream(
        wrap(stream_pages(spark, f"{tmp}/stream", max_files_per_trigger=1)),
        stream_cat,
        f"{tmp}/{name}_ckpt",
    )
    q.awaitTermination()
    out[name]["stream"] = {
        "batches": len(q.recentProgress),
        "survivors": sorted(
            r["doc_id"] for r in read_curated(stream_cat).select("doc_id").collect()
        ),
        "manifest": stream_cat.read_manifest("stream_curate"),
    }
    out[name]["stream_failed_tasks"] = failed_tasks(str(q.runId))
spark.stop()
print(json.dumps(out, default=str))
"""


def test_task_retries_count_once(tmp_path):
    """Under task retries (``local[4,2]``: a failed task runs once more) a
    pass-through ``mapInArrow`` over the pages fails the first attempt of
    partition 0 in every stage that reads them.  ``run_pipeline``'s record
    and routed count and ``curate``'s survivors and record equal a clean
    run in the same session; the run record is observed in the failing
    stage, so a retried task counted twice would show here.  The same
    failing pass-through on a curation stream over two page files (one
    micro-batch each) retries the scan that feeds ``spread`` in both
    batches, and the second batch probes state the first wrote under
    retries: ``read_curated`` and the ``stream_curate`` manifest equal a
    clean drain's, and with doc_id-ordered files the stream keeps what
    ``curate`` keeps."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, repo, str(tmp_path)],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    clean, retried = got["clean"], got["retried"]
    for key in ("failed_tasks", "stream_failed_tasks"):
        assert clean.pop(key) == 0
        assert retried.pop(key) > 0
    assert retried == clean
    stream = clean["stream"]
    assert stream["batches"] == 2 and stream["manifest"]["last_batch_id"] == 1
    assert stream["manifest"]["record"]["rows"] == 800
    assert stream["survivors"] == clean["survivors"]  # doc_id-ordered files
    assert clean["routed"] == clean["record"]["rows"] == 800
    assert clean["curation_record"]["quality"] >= len(clean["survivors"]) > 0


def test_curate_resumable_skips_and_recomputes(spark, tmp_path):
    """Checkpoint-resume for the composed curation pipeline: identical input
    lineage -> both stages SKIP (fn never called again); changed input ->
    recompute; results equal the non-resumable curate()."""
    from mysql_cdc_rs_spark.plans.checkpoint import CheckpointedStage
    from mysql_cdc_rs_spark.plans.training_pipeline import (
        curate,
        curate_resumable,
    )
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog

    pages = pages_df(spark, 400, seed=42)
    cat = SinkCatalog(spark, str(tmp_path / "cur"))

    surv1 = curate_resumable(pages, cat)
    ids1 = sorted(r["doc_id"] for r in surv1.select("doc_id").collect())
    want = sorted(
        r["doc_id"] for r in curate(pages).select("doc_id").collect()
    )
    assert ids1 == want and len(ids1) > 0

    # generic stage contract: same lineage -> fn NOT called again
    calls = {"n": 0}

    def counting_fn(df):
        calls["n"] += 1
        return df.select("doc_id", "text", "url_bucket")

    stage = CheckpointedStage(cat, "probe_stage")
    q = cat.read("curate_quality")
    stage.run(q, counting_fn)
    stage.run(q, counting_fn)  # identical lineage -> skip
    assert calls["n"] == 1

    # rerun of the full resumable pipeline over identical input: same rows
    surv2 = curate_resumable(pages, cat)
    ids2 = sorted(r["doc_id"] for r in surv2.select("doc_id").collect())
    assert ids2 == ids1

    # changed input (rows removed) -> different bucket histogram -> recompute
    # (deterministic subset — limit() would pick arbitrary rows per run)
    fewer = pages.filter(F.pmod(F.xxhash64("url"), F.lit(4)) != 0)
    surv3 = curate_resumable(fewer, cat)
    ids3 = sorted(r["doc_id"] for r in surv3.select("doc_id").collect())
    want3 = sorted(
        r["doc_id"] for r in curate(fewer).select("doc_id").collect()
    )
    assert ids3 == want3


def test_pipeline_source_format_agnostic(spark, tmp_path):
    """S2 breadth: the decode->enrich pipeline produces IDENTICAL routed
    rows whether pages arrive as Parquet, ORC, or JSON-lines (binary html
    round-trips JSON as base64 — Spark's codec, exercised here).  The
    engine never assumes the source format; schema is the contract."""
    pages = pages_df(spark, 300, seed=42)
    want = (
        enrich(decode_pages(pages))
        .select("url", "route", "region", "text")
    )

    base = str(tmp_path)
    pages.write.parquet(f"{base}/p.parquet")
    pages.write.orc(f"{base}/p.orc")
    pages.write.json(f"{base}/p.json")

    schema = pages.schema
    for fmt, path in [
        ("parquet", f"{base}/p.parquet"),
        ("orc", f"{base}/p.orc"),
        ("json", f"{base}/p.json"),
    ]:
        back = spark.read.format(fmt).schema(schema).load(path)
        got = enrich(decode_pages(back)).select(
            "url", "route", "region", "text"
        )
        assert got.count() == 300, fmt
        assert got.exceptAll(want).count() == 0, fmt
        assert want.exceptAll(got).count() == 0, fmt


def test_curate_verify_jaccard_rescues_lsh_false_positive(spark):
    """Round-5 opt-in exact-verify stage: an LSH band collision with LOW
    true Jaccard (boilerplate-prefix docs — the classic web false positive)
    must drop its doc_b under default candidacy-only curation but SURVIVE
    with ``verify_jaccard`` on, while a true near-dup drops in both modes.
    The pair is deterministic: docs 1/103 share a 33-word prefix (word-
    3-gram Jaccard 0.365, verified in-test) yet collide in >=1 of the 16
    minhash bands; doc 5 is doc 1 plus one word (Jaccard 0.983)."""
    import hashlib as _hl

    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.plans.training_pipeline import curate, release

    def words(seed, n, tag):
        return [
            f"{tag}{_hl.blake2b(f'{seed}|{tag}|{i}'.encode(), digest_size=4).hexdigest()}"
            for i in range(n)
        ]

    base = words(1, 60, "w")
    texts = {
        1: " ".join(base),
        5: " ".join(base) + " tinytail",
        103: " ".join(base[:33] + words(103, 27, "v3_")),
    }

    # precondition: (1,103) IS an LSH candidate yet its exact Jaccard is
    # far below the 0.5 threshold; (1,5) is a true near-dup above it
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    cand = DD.lsh_candidate_pairs(docs)
    ver = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, candidates=cand).collect()
    }
    assert (1, 103) in ver and ver[(1, 103)] < 0.5
    assert (1, 5) in ver and ver[(1, 5)] > 0.9

    def page(i, text):
        body = f"<html><body>{text}</body></html>".encode()
        raw = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        return (f"https://ex.com/d/{i}", None, raw, None, "en")

    pages = spark.createDataFrame(
        [page(i, t) for i, t in texts.items()], PAGES_SCHEMA
    )

    # default (candidacy-only): the false positive is over-dropped
    s0 = curate(pages)
    got0 = {r["doc_id"] for r in s0.select("doc_id").collect()}
    release(s0)
    assert got0 == {1}

    # verification on: the false positive survives, the true dup still drops
    s1 = curate(pages, verify_jaccard=0.5)
    got1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
    release(s1)
    assert got1 == {1, 103}


def test_overwrite_partitions_parquet_leg_keeps_absent_partitions(spark):
    """Executed Parquet-leg semantics of the round-5 split: ``overwrite``
    is a FULL replace (partitions absent from the df disappear) while
    ``overwrite_partitions`` replaces exactly the partitions present and
    keeps the rest — per-write dynamic mode, session default untouched."""
    with tempfile.TemporaryDirectory() as base:
        cat = SinkCatalog(spark, base)
        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 10)], "route string, v int"
        )
        cat.overwrite(df, "t", partition_by=["route"])
        assert cat.read("t").count() == 3

        # dynamic: replace only route=a, keep route=b
        da = spark.createDataFrame([("a", 99)], "route string, v int")
        cat.overwrite_partitions(da, "t", partition_by=["route"])
        got = {(r["route"], r["v"]) for r in cat.read("t").collect()}
        assert got == {("a", 99), ("b", 10)}

        # full replace: route=b vanishes
        cat.overwrite(da, "t", partition_by=["route"])
        got2 = {(r["route"], r["v"]) for r in cat.read("t").collect()}
        assert got2 == {("a", 99)}

        # session default partitionOverwriteMode must still be static
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC").upper()
            == "STATIC"
        )
