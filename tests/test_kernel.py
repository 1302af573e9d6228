"""Kernel unit tests — the golden-fixture analog of the reference's
exact-field assertion tests (/root/reference/tests/src/binlog/test_5_7.rs).
Pure Python, no Spark."""

from __future__ import annotations

import gzip

import pytest

from mysql_cdc_rs_spark.kernel import jsonb, mysql_decimal, temporal, varint
from mysql_cdc_rs_spark.kernel.charset import sniff_charset
from mysql_cdc_rs_spark.kernel.decode import decode_page
from mysql_cdc_rs_spark.kernel.textextract import extract_text


# --- framing (P1/S1) --------------------------------------------------------

def _frame(d):
    return {k: d[k] for k in ("status", "mime", "header_len", "body_len", "error", "text")}


def test_parse_record_ok():
    raw = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: 5\r\n\r\nhello"
    )
    assert _frame(decode_page(raw)) == {
        "status": 200, "mime": "text/html", "header_len": 78, "body_len": 5,
        "error": None, "text": "hello",
    }


@pytest.mark.parametrize(
    "raw,err",
    [
        (b"GARBAGE", "NO_MAGIC"),
        (b"HTTP/1.1 200 OK\r\nX: 1", "NO_HEADER_END"),
        (b"HTTP/9.9200\r\n\r\nbody", "BAD_STATUS_LINE"),
    ],
)
def test_parse_record_errors(raw, err):
    d = decode_page(raw)
    assert _frame(d) == {
        "status": None, "mime": None, "header_len": None, "body_len": None,
        "error": err, "text": None,
    }
    assert (d["event_type"], d["route"]) == ("error_frame", "errors")


# --- charset (C16) ----------------------------------------------------------

def test_sniff_order_header_beats_meta():
    body = b'<meta charset="gbk">x'
    assert sniff_charset(b"text/html; charset=latin1", body) == ("latin-1", "header")
    assert sniff_charset(b"text/html", body) == ("gbk", "meta")
    assert sniff_charset(None, b"x") == ("utf-8", "default")
    assert sniff_charset(b"text/html; charset=klingon-8", b"")[1] == "unknown"


def _plain_page(charset: str, body: bytes) -> bytes:
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset={charset}\r\n\r\n"
    ).encode("ascii") + body


def test_decode_text_lossy():
    # invalid utf-8 -> U+FFFD, mirrors the reference's lossy conversion
    assert decode_page(_plain_page("utf-8", b"a\xffb"))["text"] == "a�b"
    assert decode_page(_plain_page("gbk", "中文".encode("gbk")))["text"] == "中文"


# --- text extraction --------------------------------------------------------

def test_extract_text():
    html = (
        "<html><head><style>x{}</style><title>T</title></head>"
        "<body><script>var a=1;</script><p>a &amp; b</p> <!-- c --></body></html>"
    )
    assert extract_text(html) == "T a & b"


# --- full decode + routing --------------------------------------------------

def test_decode_gzip_roundtrip():
    body = gzip.compress(b"<html><body><p>zz</p></body></html>", mtime=0)
    raw = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + body
    )
    d = decode_page(raw)
    assert (d["event_type"], d["text"]) == ("html", "zz")


def test_decode_routes():
    assert decode_page(None)["route"] == "errors"
    r404 = decode_page(b"HTTP/1.1 404 NF\r\nContent-Type: text/html\r\n\r\nx")
    assert (r404["event_type"], r404["route"]) == ("error_http", "errors")
    rdr = decode_page(
        b"HTTP/1.1 301 M\r\nLocation: https://x/1\r\nContent-Type: text/html\r\n\r\n"
    )
    assert (rdr["event_type"], rdr["text"]) == ("redirect", "https://x/1")
    # no Content-Type at all -> opaque binary
    rbin = decode_page(b"HTTP/1.1 200 OK\r\nServer: s\r\n\r\n\x00\x01")
    assert (rbin["event_type"], rbin["mime"]) == ("binary", "")


# --- MySQL wire scalars (C1-C13) --------------------------------------------

def test_len_enc_num():
    assert varint.read_len_enc_num(b"\x0a") == (10, 1)
    assert varint.read_len_enc_num(b"\xfb") == (None, 1)
    assert varint.read_len_enc_num(b"\xfc\x34\x12") == (0x1234, 3)
    assert varint.read_len_enc_num(b"\xfd\x01\x02\x03") == (0x030201, 4)
    assert varint.read_len_enc_num(b"\xfe" + (2**40).to_bytes(8, "little")) == (
        2**40,
        9,
    )


def test_bitmaps_and_strings():
    assert varint.read_bitmap_le(b"\x05", 0, 3) == ([True, False, True], 1)
    assert varint.parse_string(b"\x03abcX", 0, 255) == (b"abc", 4)
    assert varint.parse_string(b"\x03\x00abc", 0, 300) == (b"abc", 5)
    assert varint.parse_blob(b"\x02\x00hiX", 0, 2) == (b"hi", 4)
    # BIT(4) value 0b1010: right-aligned in the big-endian byte
    bits, _ = varint.parse_bit(b"\x0a", 0, 4)
    assert bits == [True, False, True, False]


@pytest.mark.parametrize(
    "value",
    ["0", "1234.56", "-1234.56", "0.01", "-0.01", "999999999999.999",
     "123456789012345678.12"],
)
def test_decimal_roundtrip(value):
    scale = len(value.split(".")[1]) if "." in value else 0
    enc = mysql_decimal.encode_decimal(value, 20, scale)
    out, _ = mysql_decimal.parse_decimal(enc, 0, 20, scale)
    assert out == value


def test_temporal():
    v = (2025 << 9) | (8 << 5) | 16
    assert temporal.parse_date(v.to_bytes(3, "little"), 0)[0] == (2025, 8, 16)
    assert temporal.parse_year(b"\x7d", 0)[0] == 2025
    assert temporal.parse_time((235959).to_bytes(3, "little"), 0)[0] == (23, 59, 59)
    dt = temporal.parse_datetime(
        (20250816123456).to_bytes(8, "little"), 0
    )[0]
    assert dt == (2025, 8, 16, 12, 34, 56)
    # DATETIME2: year*13+month in 17 bits after sign
    ym = 2025 * 13 + 8
    packed = (1 << 39) | (ym << 22) | (16 << 17) | (12 << 12) | (34 << 6) | 56
    d2 = temporal.parse_datetime2(packed.to_bytes(5, "big"), 0, 0)[0]
    assert d2 == (2025, 8, 16, 12, 34, 56, 0)
    assert temporal.parse_timestamp2(
        (1700000000).to_bytes(4, "big") + b"\x01", 0, 2
    )[0] == 1700000000_000000 + 10000
    with pytest.raises(ValueError):
        temporal.parse_time2(b"\x00\x00\x00", 0, 0)  # negative unsupported


def test_jsonb_roundtrip_and_paths():
    obj = {
        "user": {"name": "bob", "age": 33},
        "items": [1, 2.5, "x", None, True, {"id": 7}],
        "flag": False,
        "big": 2**40,
    }
    decoded = jsonb.parse_jsonb(jsonb.encode_jsonb(obj))
    assert decoded == obj
    assert jsonb.extract_by_path(decoded, "user.name") == "bob"
    assert jsonb.extract_by_path(decoded, "items[5].id") == 7
    assert jsonb.extract_by_path(decoded, "missing.path") is None
    assert jsonb.parse_jsonb(b"") is None
    # canonical form is key-sorted and compact
    assert jsonb.canonical_json({"b": 1, "a": 2}) == '{"a":2,"b":1}'


def test_jsonb_golden_fixtures_documented_layout():
    """Byte-exact fixtures hand-computed from the documented json_binary.h
    layout (small object/array; offsets point DIRECTLY at payloads — the
    value type lives only in the value entry, never duplicated at the
    target).  Guards against the encoder/decoder agreeing on a private
    dialect that real MySQL JSONB would misparse.
    """
    # {"a": 2}: type=0x00 | count=1 size=12 | key entry off=11 len=1
    #           | value entry: inline int16 05 02 00 | key blob 'a'
    gold_inline = bytes.fromhex("000100 0c00 0b00 0100 050200 61".replace(" ", ""))
    assert jsonb.parse_jsonb(gold_inline) == {"a": 2}
    assert jsonb.encode_jsonb({"a": 2}) == gold_inline

    # {"a": "xyz"}: non-inlined string; value entry (0x0c, off=12) points at
    # the varlen+bytes payload directly (NO leading type byte in the blob).
    gold_str = bytes.fromhex(
        "000100 1000 0b00 0100 0c0c00 61 03 78797a".replace(" ", "")
    )
    assert jsonb.parse_jsonb(gold_str) == {"a": "xyz"}
    assert jsonb.encode_jsonb({"a": "xyz"}) == gold_str

    # [1, "ab"]: small array, inline int16 + offset string.
    gold_arr = bytes.fromhex("020200 0d00 050100 0c0a00 02 6162".replace(" ", ""))
    assert jsonb.parse_jsonb(gold_arr) == [1, "ab"]
    assert jsonb.encode_jsonb([1, "ab"]) == gold_arr


def test_charset_map_widened_aliases():
    """Reference charset.rs:38-200 breadth: utf16/utf16le/utf32 + windows
    codepages resolve, decode deterministically, and unknown still errors."""
    from mysql_cdc_rs_spark.kernel.charset import normalize_charset

    assert normalize_charset("UTF-16") == "utf-16-be"
    assert normalize_charset("utf16le") == "utf-16-le"
    assert normalize_charset("utf-32") == "utf-32-be"
    assert normalize_charset("windows-1252") == "cp1252"
    assert normalize_charset("CP1251") == "cp1251"
    assert normalize_charset("windows-1250") == "cp1250"
    assert normalize_charset("no-such-charset") is None
    for charset, codec, text in [
        ("windows-1252", "cp1252", "héllo"),
        ("cp1251", "cp1251", "привет"),
        ("utf16", "utf-16-be", "ab"),
    ]:
        d = decode_page(_plain_page(charset, text.encode(codec)))
        assert (d["charset"], d["text"]) == (codec, text)


def test_sniff_windows_1252_header():
    from mysql_cdc_rs_spark.kernel.charset import sniff_charset

    got = sniff_charset(b"text/html; charset=windows-1252", b"")
    assert got == ("cp1252", "header")


def test_bpe_pretokenizer_portable():
    """The BPE-style pretokenizer must count identically under Python re
    and DuckDB's RE2 (the Spark/Java side is pinned by the text_doc_stats
    parity gate) — leftmost-first alternation, no lookaheads."""
    import re

    import duckdb

    from mysql_cdc_rs_spark.operators.textstats import BPE_TOKEN_RE

    cases = [
        "don't stop", "it's 2024, really!?", "a1b2 c3", "... --- '",
        "I'll we've they'd you're", "word", "", "x 'tis", "3.14 costs $5",
        "e.g. CO2-rich (very) 'quoted'",
    ]
    pat = re.compile(BPE_TOKEN_RE)
    con = duckdb.connect()
    sql_pat = BPE_TOKEN_RE.replace("'", "''")
    for s in cases:
        lit = s.replace("'", "''")
        got = con.sql(
            f"SELECT len(regexp_extract_all('{lit}', '{sql_pat}'))"
        ).fetchone()[0]
        assert len(pat.findall(s)) == got, (s, pat.findall(s), got)


def test_parse_alter_table():
    """ALTER TABLE add/drop extraction (query_parser.rs:74-95 parity):
    backticks, multi-op statements, unhandled ops skipped, prefilter."""
    from mysql_cdc_rs_spark.kernel.ddl import parse_alter_table

    a = parse_alter_table(
        "ALTER TABLE `mydb`.`t1` ADD COLUMN `c1` VARCHAR(32) NOT NULL, "
        "DROP COLUMN old1, ADD c2 DECIMAL(10,2), DROP `old2`, "
        "RENAME COLUMN x TO y"
    )
    assert (a.schema, a.table) == ("mydb", "t1")
    assert [(c.name, c.type_name, c.type_args) for c in a.add_columns] == [
        ("c1", "VARCHAR", (32,)), ("c2", "DECIMAL", (10, 2)),
    ]
    assert a.add_columns[0].nullable is False
    assert a.drop_columns == ["old1", "old2"]
    # schema-less form
    b = parse_alter_table("alter table t2 add column n INT UNSIGNED")
    assert b.schema is None and b.table == "t2"
    assert b.add_columns[0].unsigned is True
    # prefilter: non-ALTER never parses
    assert parse_alter_table("CREATE TABLE t (id INT)") is None
    assert parse_alter_table("SELECT 1") is None


def test_zstd_body_gated_to_error_route():
    """Content-Encoding: zstd is decoded where the lib exists and takes the
    error_decode route where it doesn't (this sandbox ships no zstandard) —
    the F5 contract either way, never an exception."""
    from mysql_cdc_rs_spark.kernel.decode import decode_page

    body = b"\x28\xb5\x2f\xfd not really zstd"
    raw = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
        b"Content-Encoding: zstd\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )
    out = decode_page(raw)
    try:
        import zstandard  # noqa: F401
        # lib present: garbage payload still must not crash
        assert out["event_type"] in ("error_decode", "plain")
    except ImportError:
        assert out["event_type"] == "error_decode"
        assert out["error"] == "BAD_GZIP"
        assert out["route"] == "errors"
