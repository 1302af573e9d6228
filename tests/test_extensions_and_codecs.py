"""Tests for the extension registry (§2.12), relay segments (S7/S8/F6),
DDL parsing (P7/F4), WKB geometry (C15), string-meta fixup (C17)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.kernel import registry as reg
from mysql_cdc_rs_spark.kernel.ddl import classify_sql, parse_create_table
from mysql_cdc_rs_spark.kernel.decode import decode_page
from mysql_cdc_rs_spark.kernel.geometry import parse_mysql_geometry
from mysql_cdc_rs_spark.kernel.varint import actual_string_type
from mysql_cdc_rs_spark.sources import relay_segments as RS


# --- extension registry -------------------------------------------------------

@pytest.fixture(autouse=True)
def _clean_registry():
    reg.clear_extensions()
    yield
    reg.clear_extensions()


def _raw_json_page(body: bytes) -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n\r\n" + body
    )


def test_custom_mime_decoder_changes_dispatch():
    # built-in: application/json is opaque binary
    assert decode_page(_raw_json_page(b'{"a":1}'))["event_type"] == "binary"

    @reg.register_mime_decoder("application/json")
    def dec(body, charset):
        return {"event_type": "json", "text": body.decode("utf-8")}

    d = decode_page(_raw_json_page(b'{"a":1}'))
    assert (d["event_type"], d["text"]) == ("json", '{"a":1}')
    assert d["route"] == "content_binary"  # unmapped type -> default route
    reg.register_route("json", "content_json")
    assert decode_page(_raw_json_page(b"{}"))["route"] == "content_json"


def test_extension_priority_and_crash_isolation():
    calls = []

    @reg.register_mime_decoder("application/json", priority=1)
    def low(body, charset):
        calls.append("low")
        return {"event_type": "json"}

    @reg.register_mime_decoder("application/json", priority=5)
    def high(body, charset):
        calls.append("high")
        return {"event_type": "json5"}

    assert decode_page(_raw_json_page(b"{}"))["event_type"] == "json5"
    assert calls == ["high"]

    @reg.register_mime_decoder("text/csv")
    def broken(body, charset):
        raise RuntimeError("boom")

    @reg.register_mime_decoder("text/tab-separated-values")
    def not_a_mapping(body, charset):
        return None

    for mime, err in [
        ("text/csv", "EXTENSION_ERROR:RuntimeError"),
        ("text/tab-separated-values", "EXTENSION_ERROR:TypeError"),
    ]:
        d = decode_page(
            f"HTTP/1.1 200 OK\r\nContent-Type: {mime}\r\n\r\na,b".encode()
        )
        assert (d["event_type"], d["route"], d["error"]) == (
            "error_decode", "errors", err
        )
        assert (d["charset"], d["text"]) == ("utf-8", None)


def test_extension_works_inside_spark_udf(spark):
    """The Spark decode UDF returns exactly ``decode_batch``'s columns, values,
    Python types, NULLs and header maps included, over the generator mix
    (NULL payload too), one row of a registered extension and one
    decompression bomb."""
    @reg.register_mime_decoder("application/json")
    def dec(body, charset):
        return {"event_type": "json", "text": body.decode("utf-8")}

    from test_property_kernel import _generator_mix

    from mysql_cdc_rs_spark.functions.udfs import DECODED_SCHEMA, make_decode_udf
    from mysql_cdc_rs_spark.kernel.batchdecode import COLUMNS, decode_batch
    from mysql_cdc_rs_spark.kernel.http import MAX_BODY_BYTES

    bomb = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + _bomb(31, MAX_BODY_BYTES + 1)
    )
    raws = _generator_mix() + [_raw_json_page(b'{"k":1}'), bomb]
    df = spark.createDataFrame(list(enumerate(raws)), "i long, html binary")
    out = df.select("i", make_decode_udf()(F.col("html")).alias("d"))
    assert out.schema["d"].dataType == DECODED_SCHEMA
    got = [r["d"].asDict() for r in out.orderBy("i").collect()]

    cols = decode_batch(raws, reg.snapshot())
    want = [{c: cols[c][i] for c in COLUMNS} for i in range(len(raws))]
    assert got == want

    def types(rows):
        return [{c: type(v) for c, v in r.items()} for r in rows]

    assert types(got) == types(want)
    assert (want[-2]["event_type"], want[-2]["text"]) == ("json", '{"k":1}')
    assert want[-1]["error"] == "BODY_TOO_LARGE"


def test_route_override_does_not_leak_into_later_plan(spark):
    """A reused Python worker must run each plan with exactly the
    extensions registered when that plan was built: plan 1's route override
    stays out of plan 2, which registered the same decoder without one."""
    from mysql_cdc_rs_spark.functions.udfs import make_decode_udf

    def dec(body, charset):
        return {"event_type": "json", "text": body.decode("utf-8")}

    page = _raw_json_page(b'{"k":1}')
    # many one-row tasks, so every pooled worker runs each plan
    n = 4 * spark.sparkContext.defaultParallelism
    df = spark.createDataFrame([(page,)] * n, "html binary").repartition(n)

    def routes(udf) -> set:
        return {
            r[0] for r in df.select(udf(F.col("html")).alias("d"))
            .select("d.route").collect()
        }

    reg.register_mime_decoder("application/json")(dec)
    reg.register_route("json", "content_json")
    assert routes(make_decode_udf()) == {"content_json"}

    reg.clear_extensions()
    reg.register_mime_decoder("application/json")(dec)
    want = decode_page(page)["route"]
    assert want == "content_binary"
    assert routes(make_decode_udf()) == {want}


def test_write_routes_counts_extension_route(spark, tmp_path):
    """A row on a registered route falls outside the run record's closed
    route set (``route.other``); ``write_routes`` still names it."""
    from mysql_cdc_rs_spark.operators.decode import decode_pages
    from mysql_cdc_rs_spark.operators.enrich import enrich
    from mysql_cdc_rs_spark.operators.route import write_routes
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog
    from mysql_cdc_rs_spark.sources.pages import pages_df

    def dec(body, charset):
        return {"event_type": "json", "text": body.decode("utf-8")}

    reg.register_mime_decoder("application/json")(dec)
    reg.register_route("json", "content_json")
    pages = pages_df(spark, 40, seed=42)
    json_page = spark.createDataFrame(
        [("https://ex.com/j", None, _raw_json_page(b"{}"), None, "en")],
        pages.schema,
    )
    cat = SinkCatalog(spark, str(tmp_path))
    counts = write_routes(enrich(decode_pages(pages.union(json_page))), cat)
    want = {
        r["route"]: r["count"]
        for r in cat.read("routed").groupBy("route").count().collect()
    }
    assert counts == want and want["content_json"] == 1
    rec = cat.read_manifest("routes")["record"]
    assert (rec["route.other"], rec["event.other"], rec["rows"]) == (1, 1, 41)


# --- content codecs -------------------------------------------------------------

def _bomb(wbits: int, n: int) -> bytes:
    """A stream of ``n`` zero bytes, compressed without materializing them."""
    import zlib

    c = zlib.compressobj(9, zlib.DEFLATED, wbits)
    chunk = bytes(1 << 20)
    parts = [c.compress(chunk) for _ in range(n >> 20)]
    parts += [c.compress(bytes(n & ((1 << 20) - 1))), c.flush()]
    return b"".join(parts)


@pytest.mark.parametrize(
    "enc,wbits", [("gzip", 31), ("deflate", 15), ("deflate", -15)]
)
def test_decompression_bomb_routes_to_errors(enc, wbits):
    """A body inflating past http.MAX_BODY_BYTES takes the error route; one
    exactly at the cap still decodes.  Each row of the two-row batch equals
    that row decoded alone."""
    from mysql_cdc_rs_spark.kernel.batchdecode import decode_batch
    from mysql_cdc_rs_spark.kernel.http import MAX_BODY_BYTES

    def page(n: int) -> bytes:
        return (
            b"HTTP/1.1 200 OK\r\nContent-Type: application/octet-stream\r\n"
            b"Content-Encoding: " + enc.encode() + b"\r\n\r\n" + _bomb(wbits, n)
        )

    bomb, at_cap = page(MAX_BODY_BYTES + 1), page(MAX_BODY_BYTES)
    batch = decode_batch([bomb, at_cap])
    for i, raw in enumerate((bomb, at_cap)):
        d = decode_page(raw)
        assert d == {k: batch[k][i] for k in batch}
    d = decode_page(bomb)
    assert (d["event_type"], d["route"], d["error"], d["body_len"]) == (
        "error_decode", "errors", "BODY_TOO_LARGE", None
    )
    d = decode_page(at_cap)
    assert (d["event_type"], d["body_len"]) == ("binary", MAX_BODY_BYTES)


def _stub_zstandard():
    """A stand-in ``zstandard`` module over a toy frame: magic, the declared
    content size (-1: none), the real size, one fill byte and an end mark.
    The frame decompresses to ``real`` fill bytes; like libzstd, the decoder
    raises when a finished frame's output differs from its declared size,
    and reports ``eof`` only once the end mark has arrived."""
    import struct
    import types

    mod = types.ModuleType("zstandard")

    class ZstdError(Exception):
        pass

    def header(data: bytes) -> tuple[int, int]:
        if len(data) < 20 or data[:4] != b"\x28\xb5\x2f\xfd":
            raise ZstdError("not a frame")
        return struct.unpack(">qQ", data[4:20])

    class DecompressObj:
        def __init__(self):
            self.buf, self.made, self.eof = b"", False, False

        def decompress(self, data) -> bytes:
            self.buf += bytes(data)
            out = b""
            if not self.made and len(self.buf) >= 21:
                declared, real = header(self.buf)
                out, self.made = self.buf[20:21] * real, True
                if declared >= 0 and declared != real:
                    raise ZstdError("content size mismatch")
            self.eof = self.buf[21:22] == b"."
            return out

    class ZstdDecompressor:
        def decompressobj(self) -> DecompressObj:
            return DecompressObj()

    mod.ZstdError, mod.ZstdDecompressor = ZstdError, ZstdDecompressor
    mod.frame_content_size = lambda data: header(data)[0]
    return mod


def test_zstd_bomb_routes_to_errors(monkeypatch):
    """zstd output is bounded like gzip's: past http.MAX_BODY_BYTES the page
    takes the error route as BODY_TOO_LARGE, whether or not the frame
    declares its size (a declared size past the cap is refused whatever
    the frame holds); a body exactly at the cap decodes; a corrupt frame,
    one whose output differs from its declared size and a truncated one
    with or without a declared size are BAD_GZIP."""
    import struct
    import sys

    from mysql_cdc_rs_spark.kernel.http import MAX_BODY_BYTES

    monkeypatch.setitem(sys.modules, "zstandard", _stub_zstandard())

    def page(declared: int, real: int, magic=b"\x28\xb5\x2f\xfd",
             end=b".") -> dict:
        body = magic + struct.pack(">qQ", declared, real) + b"a" + end
        return decode_page(
            b"HTTP/1.1 200 OK\r\nContent-Type: application/octet-stream\r\n"
            b"Content-Encoding: zstd\r\n\r\n" + body
        )

    cap = MAX_BODY_BYTES
    for declared, real in [(cap + 1, cap + 1), (cap + 1, 1), (-1, cap + 1)]:
        d = page(declared, real)
        assert (d["event_type"], d["route"], d["error"], d["body_len"]) == (
            "error_decode", "errors", "BODY_TOO_LARGE", None
        )
    for declared in (cap, -1):
        d = page(declared, cap)
        assert (d["event_type"], d["error"], d["body_len"]) == (
            "binary", None, cap
        )
    d = page(-1, 5)
    assert (d["event_type"], d["error"], d["body_len"]) == ("binary", None, 5)
    for d in (page(10, 10, magic=b"\x00" * 4), page(10, 5),
              page(10, 10, end=b""), page(-1, 5, end=b"")):
        assert (d["event_type"], d["route"], d["error"]) == (
            "error_decode", "errors", "BAD_GZIP"
        )


# --- relay segments -----------------------------------------------------------

def test_segment_roundtrip_and_rollover():
    with tempfile.TemporaryDirectory() as base:
        w = RS.SegmentWriter(base, segment_bytes=200)
        payloads = [f"payload-{i}".encode() * 3 for i in range(20)]
        for p in payloads:
            w.append(p)
        w.close()
        import glob

        segs = sorted(glob.glob(f"{base}/*.rlsg"))
        assert len(segs) > 1  # rollover happened
        got = []
        for s in segs:
            for payload, err in RS.read_segment(s):
                assert err is None
                got.append(payload)
        assert got == payloads


def test_segment_crc_detects_corruption():
    with tempfile.TemporaryDirectory() as base:
        w = RS.SegmentWriter(base)
        w.append(b"hello world")
        w.append(b"second record")
        w.close()
        import glob

        path = glob.glob(f"{base}/*.rlsg")[0]
        data = bytearray(open(path, "rb").read())
        data[-3] ^= 0xFF  # flip a byte inside the second payload
        open(path, "wb").write(bytes(data))
        out = list(RS.read_segment(path))
        assert out[0] == (b"hello world", None)
        assert out[1] == (None, "CRC_MISMATCH")


def test_segment_torn_header_is_an_error_entry():
    """A file shorter than the segment header (empty, or a write torn after
    the 4-byte magic) is one ``BAD_MAGIC`` entry and a wrong version one
    ``BAD_VERSION`` entry; a good segment next to them still reads all its
    records."""
    with tempfile.TemporaryDirectory() as base:
        w = RS.SegmentWriter(base)
        payloads = [b"a", b"bb", b"ccc"]
        for p in payloads:
            w.append(p)
        w.close()
        bad = {
            "empty": (b"", "BAD_MAGIC"),
            "magic_only": (RS.MAGIC, "BAD_MAGIC"),
            "next_version": (RS.MAGIC + bytes([RS.VERSION + 1]), "BAD_VERSION"),
        }
        for name, (blob, _) in bad.items():
            with open(f"{base}/{name}.rlsg", "wb") as f:
                f.write(blob)

        for name, (_, err) in bad.items():
            assert list(RS.read_segment(f"{base}/{name}.rlsg")) == [(None, err)]
        good = f"{base}/segment_000000.rlsg"
        assert list(RS.read_segment(good)) == [(p, None) for p in payloads]


# --- DDL parse ----------------------------------------------------------------

def test_classify_sql():
    assert classify_sql("CREATE TABLE t (a INT)") == "ddl"
    assert classify_sql("  alter table x add column y int") == "ddl"
    assert classify_sql("INSERT INTO t VALUES (1)") == "dml"
    assert classify_sql("BEGIN") == "tcl"
    assert classify_sql("SET @x = 1") == "other"


def test_parse_create_table():
    # mirrors the reference fixture table (tests/events/5.7/30_write_rows_v2)
    sql = (
        "CREATE TABLE `db1`.`boxercrab` ("
        "id INT UNSIGNED NOT NULL AUTO_INCREMENT, "
        "title VARCHAR(40), "
        "score DECIMAL(10, 2), "
        "PRIMARY KEY (id), "
        "KEY idx_title (title))"
    )
    t = parse_create_table(sql)
    assert (t.schema, t.table) == ("db1", "boxercrab")
    assert [(c.name, c.type_name, c.type_args) for c in t.columns] == [
        ("id", "INT", ()),
        ("title", "VARCHAR", (40,)),
        ("score", "DECIMAL", (10, 2)),
    ]
    assert t.columns[0].unsigned and not t.columns[0].nullable
    assert t.primary_key == ["id"]
    assert parse_create_table("SELECT 1") is None  # prefilter short-circuit


# --- geometry / string meta ----------------------------------------------------

def test_wkb_point_roundtrip():
    from mysql_cdc_rs_spark.kernel.geometry import encode_geometry

    cell = {"type": "Point", "coordinates": [12.5, -3.25], "srid": 4326}
    g = parse_mysql_geometry(encode_geometry(cell))
    assert g == {"type": "Point", "coordinates": [12.5, -3.25], "srid": 4326}


def test_wkb_all_shapes_roundtrip():
    """Every shape the reference enumerates (geometry.rs:18-160) survives
    encode -> parse with SRID, including nested Multi*/Collection."""
    from mysql_cdc_rs_spark.kernel.geometry import encode_geometry

    shapes = [
        {"type": "Point", "coordinates": [12.5, -3.25]},
        {"type": "LineString", "coordinates": [[0.0, 0.0], [1.5, 2.5], [3.0, -4.0]]},
        {"type": "Polygon", "coordinates": [
            [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]],
            [[1.0, 1.0], [2.0, 1.0], [1.0, 2.0], [1.0, 1.0]],  # hole
        ]},
        {"type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
        {"type": "MultiLineString", "coordinates": [
            [[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0]],
        ]},
        {"type": "MultiPolygon", "coordinates": [
            [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
        ]},
        {"type": "GeometryCollection", "geometries": [
            {"type": "Point", "coordinates": [9.0, -9.0]},
            {"type": "LineString", "coordinates": [[0.0, 1.0], [2.0, 3.0]]},
        ]},
    ]
    for g in shapes:
        cell = dict(g, srid=4326)
        assert parse_mysql_geometry(encode_geometry(cell)) == cell


def test_wkb_big_endian_decodes():
    import struct

    # big-endian WKB point (byte order flag 0) — parser honors the flag
    wkb = (0).to_bytes(4, "little") + b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 7.0, 8.0)
    assert parse_mysql_geometry(wkb)["coordinates"] == [7.0, 8.0]


def test_actual_string_type():
    assert actual_string_type(247, 2) == (247, 2)       # ENUM passthrough
    assert actual_string_type(254, 100) == (254, 100)   # CHAR(100)
    assert actual_string_type(254 & ~0x10, 0x2C) == (254, 300)  # CHAR(300)
