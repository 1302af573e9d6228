"""Operator-level tests: window context, diff, dedup, similarity, text,
UDF wrappers — small deterministic frames with hand-computed expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.operators import diff as D
from mysql_cdc_rs_spark.operators import window_ops as W


@pytest.fixture(scope="module")
def stream(spark):
    rows = [
        # (stream, seq, kind, val)
        ("s1", 1, "gtid", 100),
        ("s1", 2, "row", None),
        ("s1", 3, "row", None),
        ("s1", 4, "gtid", 200),
        ("s1", 5, "row", None),
        ("s2", 1, "row", None),
        ("s2", 2, "gtid", 900),
        ("s2", 3, "row", None),
    ]
    return spark.createDataFrame(rows, "stream string, seq int, kind string, val int")


def test_w1_propagate_last_context(stream):
    out = W.propagate_last_context(
        stream, "stream", ["seq"], F.col("val"), "ctx"
    )
    got = {(r["stream"], r["seq"]): r["ctx"] for r in out.collect()}
    assert got[("s1", 3)] == 100
    assert got[("s1", 5)] == 200
    assert got[("s2", 1)] is None
    assert got[("s2", 3)] == 900


def test_w2_sessions(stream):
    out = W.assign_sessions(
        stream, "stream", ["seq"], F.col("kind") == "gtid"
    )
    got = {(r["stream"], r["seq"]): r["session_id"] for r in out.collect()}
    assert [got[("s1", i)] for i in range(1, 6)] == [1, 1, 1, 2, 2]
    assert [got[("s2", i)] for i in range(1, 4)] == [0, 1, 1]


def test_w3_next_position(stream):
    out = W.next_position(stream, "stream", ["seq"], "seq")
    last = out.filter((F.col("stream") == "s1") & (F.col("seq") == 5)).first()
    assert last["next_pos"] is None


def test_d1_diff_and_incremental(spark):
    df = spark.createDataFrame(
        [
            (1, (1, "a", 10.0), (1, "b", 10.0)),
            (2, (2, "x", 1.0), (2, "x", 1.0)),
            (3, (3, None, 5.0), (3, "z", 6.0)),
        ],
        "id int, before struct<k:int,s:string,v:double>, "
        "after struct<k:int,s:string,v:double>",
    )
    fields = ["k", "s", "v"]
    out = D.with_diff(df, "before", "after", fields)
    got = {r["id"]: (r["changed_fields"], r["update_class"]) for r in out.collect()}
    assert got[1] == (1, "partial")  # 33% -> partial
    assert got[2] == (0, "sparse")
    assert got[3] == (2, "partial")  # 66% -> partial
    inc = df.select(
        "id", D.incremental_update(F.col("before"), F.col("after"), fields).alias("m")
    )
    m = {r["id"]: r["m"] for r in inc.collect()}
    assert m[1] == {"s": "b"}
    assert m[2] == {}
    assert m[3] == {"s": "z", "v": "6.0"}


def test_jsonb_udfs(spark):
    from mysql_cdc_rs_spark.functions.udfs import jsonb_decode_udf, jsonb_path_udf
    from mysql_cdc_rs_spark.kernel.jsonb import encode_jsonb

    payload = encode_jsonb({"user": {"name": "bob"}, "n": 5})
    df = spark.createDataFrame([(payload,), (None,), (b"\xff\xff",)], "p binary")
    out = df.select(
        jsonb_decode_udf("p").alias("j"),
        jsonb_path_udf("p", F.lit("user.name")).alias("name"),
    ).collect()
    assert out[0]["j"] == '{"n":5,"user":{"name":"bob"}}'
    assert out[0]["name"] == '"bob"'
    assert out[1]["j"] is None
    assert out[2]["j"] is None  # corrupt payload -> null, not exception


def test_mysql_column_decoders(spark):
    from mysql_cdc_rs_spark.functions import columns as C

    df = spark.createDataFrame([(125,)], "y int")
    assert df.select(C.mysql_year(F.col("y")).alias("x")).first()["x"] == 2025
    v = (2025 << 9) | (8 << 5) | 16
    d = spark.createDataFrame([(v,)], "v long").select(
        C.mysql_date(F.col("v")).alias("d")
    ).first()["d"]
    assert str(d) == "2025-08-16"


def test_dedup_exact_on_known_dups(spark):
    from mysql_cdc_rs_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    stats = DD.exact_dedup_stats(docs).first()
    assert (stats["n_docs"], stats["n_distinct_texts"], stats["n_redundant"]) == (
        3,
        2,
        1,
    )


def test_minhash_detects_near_dup(spark):
    from mysql_cdc_rs_spark.operators import dedup as DD

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base + "extra tail words here"
    other = "completely different content with no overlap at all whatsoever " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in DD.lsh_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs).collect()
    }
    assert jac[(1, 2)] > 0.5


def test_banded_buckets_golden(spark):
    """The LSH band rows of a fixed corpus, pinned by digest: 400 generated
    pages -> quality docs -> ``banded_buckets``.  The minhash family, which
    signature rows form which band, the band order and the bucket string
    (member order, separator) all feed the digest."""
    import hashlib

    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.operators import stats as S
    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.plans.training_pipeline import quality_corpus
    from mysql_cdc_rs_spark.sources.pages import pages_df

    banded = DD.banded_buckets(
        quality_corpus(decode_pages(pages_df(spark, 400, seed=42)))
    )
    rows = sorted(tuple(r) for r in banded.collect())
    assert banded.schema.simpleString() == (
        "struct<doc_id:bigint,band_id:int,bucket:string>"
    )
    assert len(rows) == 5376
    assert hashlib.sha256(repr(rows).encode()).hexdigest() == (
        "2431a1faf420a77c1b885a9da248d2901be8125f692d0fe0e19144b4cd53e585"
    )


def test_short_docs_yield_zero_shingles_not_crash(spark):
    # Docs with < n words must produce ZERO shingles (like the DuckDB twin's
    # range()) — sequence(1, 0) in Spark is DESCENDING and element_at(col, 0)
    # would throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT without the guard.
    from mysql_cdc_rs_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "three word doc"),
         (5, "   "), (6, "a much longer document with plenty of words here")],
        "doc_id long, text string",
    )
    sh = DD.shingled(docs)
    per_doc = {r["doc_id"]: r["n"] for r in
               sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert 1 not in per_doc and 2 not in per_doc and 3 not in per_doc
    assert 5 not in per_doc
    assert per_doc[4] == 1
    assert per_doc[6] >= 5
    # downstream sketches must also survive short docs
    DD.lsh_candidate_pairs(docs).collect()
    DD.ngram_jaccard_pairs(docs).collect()


def test_lsh_degenerate_bucket_is_capped(spark):
    """100 identical docs share every band bucket; with max_bucket=10 the
    pair count is bounded at C(10,2) per the cap, not C(100,2).

    Keep-first's positional drop set (``keep_first_drops``, capped at
    ``MAX_BUCKET``) is the distinct ``doc_b`` of the capped pairs, and
    the cap census it observes counts exactly what a groupBy of the bucket
    sizes says the cap sheds: on more than ``MAX_BUCKET`` identical docs
    and on the quality docs of 400 generated pages."""
    from pyspark.sql import Observation

    from mysql_cdc_rs_spark.operators import dedup as DD
    from mysql_cdc_rs_spark.operators import stats as S
    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.plans.training_pipeline import quality_corpus
    from mysql_cdc_rs_spark.sources.pages import pages_df

    text = "the exact same boilerplate text repeated across many documents"
    docs = spark.createDataFrame(
        [(i, text) for i in range(100)], "doc_id long, text string"
    )
    pairs = DD.lsh_candidate_pairs(docs, max_bucket=10).collect()
    assert len(pairs) == 45  # C(10,2), lowest doc_ids kept
    assert {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs} == set(range(10))

    cap = DD.MAX_BUCKET
    same = spark.createDataFrame(
        [(i, text) for i in range(cap + 88)], "doc_id long, text string"
    )
    generated = quality_corpus(decode_pages(pages_df(spark, 400, seed=42)))
    capped = {"lsh.cap_shed": DD.LSH_BANDS * 88, "lsh.cap_buckets": DD.LSH_BANDS}
    for docs, expected in ((same, capped), (generated, S.NO_CAP)):
        by_pos = Observation()
        want = {
            r["doc_b"]
            for r in DD.lsh_candidate_pairs(docs)
            .select("doc_b")
            .distinct()
            .collect()
        }
        got = {
            r["doc_id"]
            for r in DD.keep_first_drops(
                DD.ranked_buckets(docs), "rn", by_pos
            ).collect()
        }
        assert got == want and len(got) > 0
        sizes = [
            r["n"]
            for r in DD.banded_buckets(docs)
            .groupBy("band_id", "bucket")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        census = {
            "lsh.cap_shed": sum(n - cap for n in sizes if n > cap),
            "lsh.cap_buckets": sum(n > cap for n in sizes),
        }
        assert by_pos.get == census == expected


def test_ngram_jaccard_degenerate_shingle_is_capped(spark):
    """60 docs all sharing one identical 3-gram: the standalone verifier's
    shared-shingle group is capped, so the pair count is bounded at
    C(max_bucket, 2) — a common stop-word shingle cannot explode O(n^2)."""
    from mysql_cdc_rs_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, f"common shared trigram unique{i} filler{i} words{i}")
         for i in range(60)],
        "doc_id long, text string",
    )
    pairs = DD.ngram_jaccard_pairs(docs, max_bucket=6).collect()
    assert len(pairs) == 15  # C(6,2): only the 6 lowest doc_ids pair up
    assert {x for r in pairs for x in (r["doc_a"], r["doc_b"])} == set(range(6))
    # uncapped-enough run still finds every pair exactly
    full = DD.ngram_jaccard_pairs(docs, max_bucket=512).collect()
    assert len(full) == 60 * 59 // 2


def test_emb_neardup_capped_and_single_scan(spark):
    from mysql_cdc_rs_spark.operators import similarity as SIM

    base = [1.0, 0.5, -0.25, 2.0]
    rows = [(i, [v + (0.001 * i) for v in base]) for i in range(20)]
    rows.append((99, [-5.0, 4.0, 1.0, -2.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = SIM.neardup_pairs(emb, dim=4, min_cos=0.999)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    assert (0, 1) in got and all(99 not in p for p in got)
    # the corpus is scanned once (no self-join double scan); with AQE the
    # plan string carries Final AND Initial sections — count the final only
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0].lower()
    assert final.count("scan existingrdd") + final.count("localtablescan") <= 1
    # cap bounds the member arrays
    capped = SIM.neardup_pairs(emb, dim=4, min_cos=0.0, max_bucket=5)
    ids = {x for r in capped.collect() for x in (r["vec_a"], r["vec_b"])}
    assert len(ids) <= 10  # at most max_bucket per bucket, few buckets


def test_simhash_similar_docs_close(spark):
    from mysql_cdc_rs_spark.operators import dedup as DD

    a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    b = a + "one extra word"
    c = "totally unrelated vocabulary set nothing shared " * 4
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    ham = lambda x, y: bin(x ^ y).count("1")  # noqa: E731
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


def test_brute_force_topk_exact(spark):
    from mysql_cdc_rs_spark.operators import similarity as SIM

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.5, 0.5, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    assert sorted((r["rank"], r["neighbor_id"]) for r in out) == [(1, 1), (2, 3)]


def test_kmeans_train_int_converges(spark):
    """Integer-space Lloyd's: total distortion is non-increasing across
    rounds and clusters recover an obvious 2-cluster structure."""
    from mysql_cdc_rs_spark.operators.similarity import kmeans_train_int

    rows = []
    for i in range(20):  # tight cluster around +1
        rows.append((i, [1.0 + 0.001 * i] * 4))
    for i in range(20, 40):  # tight cluster around -1
        rows.append((i, [-1.0 - 0.001 * i] * 4))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    d1 = sum(r["dist"] for r in
             kmeans_train_int(emb, dim=4, k=2, iters=1).collect())
    out2 = kmeans_train_int(emb, dim=4, k=2, iters=2).collect()
    d2 = sum(r["dist"] for r in out2)
    assert d2 <= d1  # Lloyd's monotonicity
    by_cluster = {}
    for r in out2:
        by_cluster.setdefault(r["cent_id"], set()).add(r["vec_id"])
    # the two natural clusters separate perfectly after 2 rounds
    assert sorted(len(v) for v in by_cluster.values()) == [20, 20]
    assert {frozenset(v) for v in by_cluster.values()} == {
        frozenset(range(20)), frozenset(range(20, 40))
    }


def test_multimodal_real_codecs_kernel():
    """PNG and WAV decode are REAL (pure stdlib): pixel-exact unfiltering
    for all five PNG filters, exact PCM stats for WAV."""
    import zlib

    from mysql_cdc_rs_spark.operators import multimodal as MM

    # RGB 4x3, deterministic pixels
    w, h = 4, 3
    pixels = bytes((x * 7 + y * 13 + c * 97) % 256
                   for y in range(h) for x in range(w) for c in range(3))
    st = MM.decode_png(MM.encode_png(w, h, pixels))
    assert (st["width"], st["height"], st["channels"]) == (4, 3, 3)
    assert st["pixel_sum"] == sum(pixels)
    # filter-1 (Sub) encoding decodes to the same pixels
    st1 = MM.decode_png(MM.encode_png(w, h, pixels, filter_type=1))
    assert st1["pixel_sum"] == sum(pixels)
    assert st1["channel_sums"] == st["channel_sums"]
    # hand-built Up/Average/Paeth scanlines round through _unfilter:
    # filter the known pixel rows manually, then assert recovery
    stride = w * 3
    rows = [pixels[y * stride:(y + 1) * stride] for y in range(h)]
    raw = bytearray(b"\x00" + rows[0])  # first row: None
    up = bytes((rows[1][i] - rows[0][i]) & 255 for i in range(stride))
    raw += b"\x02" + up  # second row: Up
    avg = bytes(
        (rows[2][i] - (((rows[2][i - 3] if i >= 3 else 0) + rows[1][i]) >> 1))
        & 255
        for i in range(stride)
    )
    raw += b"\x03" + avg  # third row: Average
    assert MM._unfilter(bytes(raw), w, h, 3) == pixels
    # corrupt CRC is detected
    good = MM.encode_png(w, h, pixels)
    bad = bytearray(good)
    bad[20] ^= 0xFF
    import pytest as _pytest

    with _pytest.raises((ValueError, zlib.error)):
        MM.decode_png(bytes(bad))

    # WAV: exact PCM stats
    samples = [((i * 104729) % 65536) - 32768 for i in range(50)]
    wst = MM.decode_wav(MM.encode_wav(samples, sample_rate=8000))
    assert wst["n_samples"] == 50
    assert wst["sample_rate"] == 8000
    assert wst["abs_sum"] == sum(abs(s) for s in samples)
    assert wst["peak"] == max(abs(s) for s in samples)


def test_multimodal_spark_plumbing():
    """``decode_blob``'s status and feature per mime (the row function the
    ``mm_decode_stats`` query maps): PNG + WAV blobs decode, garbage falls
    to decode_error, unknown mime to fallback_hash — no crashes."""
    from mysql_cdc_rs_spark.operators import multimodal as MM

    png = MM.encode_png(2, 2, bytes(range(12)))
    wav = MM.encode_wav([100, -200, 300], sample_rate=44100)
    got = [
        MM.decode_blob(blob, mime)
        for blob, mime in [
            (png, "image/png"),
            (wav, "audio/wav"),
            (b"\x00garbage", "image/png"),
            (b"\x01video-bytes", "video/mp4"),
        ]
    ]
    assert [status for status, _, _ in got] == [
        "decoded", "decoded", "decode_error", "fallback_hash"
    ]
    assert got[0][2][:2] == [2.0, 2.0]  # png width, height
    assert got[1][2][3] == 3.0  # wav n_samples
    assert all(len(feat) == MM.FEATURE_DIM for _, _, feat in got)


def test_multimodal_transforms():
    """Resize / audio frame-sample / video container + frame-sample — the
    transform half of the SURVEY §2 multimodal plan."""
    from mysql_cdc_rs_spark.operators import multimodal as MM

    # nearest-neighbor resize: exact integer index map xi = xo*w // out_w
    w, h = 4, 2
    px = bytes(range(w * h * 3))  # 0..23
    small = MM.resize_nearest(w, h, 3, px, 2, 2)
    # out (0,0)->in (0,0); (1,0)->in (2,0); (0,1)->in (0,1); (1,1)->(2,1)
    assert small == px[0:3] + px[6:9] + px[12:15] + px[18:21]
    # upscale repeats pixels, never interpolates
    big = MM.resize_nearest(1, 1, 3, b"\x05\x06\x07", 2, 2)
    assert big == b"\x05\x06\x07" * 4

    # PCM decimation
    assert MM.sample_pcm([10, 11, 12, 13, 14, 15, 16], 3) == [10, 13, 16]

    # video container round-trip + sampling + error surfacing
    frames = [b"frame-%d" % i for i in range(5)]
    blob = MM.encode_video(frames)
    assert MM.decode_video(blob) == frames
    assert MM.sample_frames(blob, 2) == [frames[0], frames[2], frames[4]]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        MM.decode_video(b"NOPE" + blob[4:])
    with _pytest.raises(ValueError):
        MM.decode_video(blob[:-3])  # truncated last frame

    # decode_blob dispatches the video mime with real frame stats
    png = MM.encode_png(2, 2, bytes(range(12)))
    vid = MM.encode_video([png, png, png])
    status, st, feat = MM.decode_blob(vid, "video/x-frames")
    assert status == "decoded"
    assert st["n_frames"] == 3 and st["width"] == 2 and st["channels"] == 3
