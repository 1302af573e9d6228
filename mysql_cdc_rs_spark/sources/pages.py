"""Deterministic synthetic Common-Crawl-style ``pages`` table.

Shape (BASELINE.json input_hint):
    url: string, warc_ts: timestamp, html: binary, text: string, lang: string

The generator is seeded and pure (hash-counter PRNG, no ``random`` module
state, no wall clock), so the same (seed, n) always yields byte-identical
rows on driver and executors.  The ``text`` column is computed by running
the SAME decode kernel the Spark pipeline uses — the per-url byte-identical
invariant therefore holds by construction and the pipeline test is a real
round-trip, not a tautology on shared constants: the pipeline decodes the
``html`` BINARY column from scratch.

This mirrors the reference's golden-fixture strategy (one directory per
event type with raw bytes + human-readable oracle,
/root/reference/tests/events/5.7/*) — here each "fixture class" is an
event_type slice of the generated table.
"""

from __future__ import annotations

import gzip
import hashlib
from datetime import datetime, timedelta, timezone

from mysql_cdc_rs_spark.functions.udfs import map_rows
from mysql_cdc_rs_spark.kernel.decode import decode_page

# --- deterministic PRNG -----------------------------------------------------

def _h64(*parts: object) -> int:
    raw = "|".join(str(p) for p in parts).encode("utf-8")
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "big")


def _pick(seq, *key):
    return seq[_h64(*key) % len(seq)]


# --- vocabulary --------------------------------------------------------------

LANGS = ["en", "de", "fr", "es", "zh", "ja", "ko", "ru", "pt", "it"]
# Zipf-ish skew: "en" dominates — exercises salted repartition (SURVEY §4.2).
LANG_WEIGHTS = [50, 10, 8, 8, 8, 6, 4, 2, 2, 2]
_LANG_CDF: list[str] = []
for _l, _w in zip(LANGS, LANG_WEIGHTS):
    _LANG_CDF.extend([_l] * _w)

TLDS = ["com", "org", "net", "de", "fr", "cn", "jp", "io", "edu", "gov"]
CHARSET_OF_LANG = {
    "en": ["utf-8", "ascii", "latin1"],
    "de": ["utf-8", "latin1"],
    "fr": ["utf-8", "latin1"],
    "es": ["utf-8", "latin1"],
    "zh": ["utf-8", "gbk", "big5"],
    "ja": ["utf-8", "shift_jis"],
    "ko": ["utf-8", "euc-kr"],
    "ru": ["utf-8"],
    "pt": ["utf-8"],
    "it": ["utf-8"],
}
WORDS = {
    "en": ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog", "data"],
    "de": ["schnelle", "braune", "Füchse", "springen", "über", "faule", "Hunde"],
    "fr": ["les", "renards", "bruns", "sautent", "par-dessus", "chiens", "paresseux"],
    "es": ["los", "zorros", "marrones", "saltan", "sobre", "perros", "perezosos"],
    "zh": ["敏捷的", "棕色", "狐狸", "跳过", "懒惰的", "狗", "数据"],
    "ja": ["素早い", "茶色の", "狐が", "怠け者の", "犬を", "飛び越える"],
    "ko": ["빠른", "갈색", "여우가", "게으른", "개를", "뛰어넘는다"],
    "ru": ["быстрая", "коричневая", "лиса", "прыгает", "через", "ленивую", "собаку"],
    "pt": ["as", "raposas", "marrons", "saltam", "sobre", "cães", "preguiçosos"],
    "it": ["le", "volpi", "marroni", "saltano", "sopra", "cani", "pigri"],
}

EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

# per-mille mix of record classes (sums to 1000)
_CLASS_MIX = [
    ("html", 700),
    ("plain", 80),
    ("binary", 50),
    ("gzip_html", 60),
    ("redirect", 30),
    ("error_http", 40),
    ("error_frame", 20),
    ("error_decode", 20),
]
_CLASS_CDF: list[str] = []
for _c, _w in _CLASS_MIX:
    _CLASS_CDF.extend([_c] * _w)


def _body_text(seed: int, i: int, lang: str) -> str:
    words = WORDS[lang]
    n = 20 + _h64(seed, i, "len") % 180
    return " ".join(_pick(words, seed, i, "w", j) for j in range(n))


def _html_body(seed: int, i: int, lang: str, charset_decl: str | None) -> str:
    text = _body_text(seed, i, lang)
    title = f"Page {i} {_pick(WORDS[lang], seed, i, 't')}"
    meta = f'<meta charset="{charset_decl}">' if charset_decl else ""
    return (
        f'<!DOCTYPE html><html lang="{lang}"><head>{meta}<title>{title}</title>'
        f"<style>body{{margin:0}}</style></head><body>"
        f"<h1>{title}</h1><p>{text}</p>"
        f"<script>var x = {i};</script>"
        f"<p>tail &amp; entities &lt;ok&gt;</p></body></html>"
    )


def make_record(seed: int, i: int) -> tuple[str, datetime, bytes, str | None, str]:
    """Build row i: (url, warc_ts, html, text, lang).

    ``text`` is the kernel decode of ``html`` (None for non-text classes).
    """
    lang = _pick(_LANG_CDF, seed, i, "lang")
    tld = _pick(TLDS, seed, i, "tld")
    # host skew: 30% of rows land on one hot host per tld (skew-join fodder)
    if _h64(seed, i, "hot") % 10 < 3:
        host = f"hot.{tld}"
    else:
        host = f"site{_h64(seed, i, 'host') % 1000}.{tld}"
    url = f"https://{host}/p/{seed}/{i}"
    ts = EPOCH + timedelta(seconds=int(_h64(seed, i, "ts") % (86400 * 30)))

    cls = _pick(_CLASS_CDF, seed, i, "cls")
    raw = _encode_record(seed, i, lang, cls)
    decoded = decode_page(raw)
    return url, ts, raw, decoded["text"], lang


def _encode_record(seed: int, i: int, lang: str, cls: str) -> bytes:
    def http(status: str, headers: list[str], body: bytes) -> bytes:
        head = "\r\n".join([f"HTTP/1.1 {status}", *headers]) + "\r\n\r\n"
        return head.encode("ascii") + body

    if cls in ("html", "gzip_html"):
        charset = _pick(CHARSET_OF_LANG[lang], seed, i, "cs")
        in_header = _h64(seed, i, "csloc") % 2 == 0
        body_s = _html_body(seed, i, lang, None if in_header else charset)
        codec = {"latin1": "latin-1", "shift_jis": "shift_jis"}.get(charset, charset)
        body = body_s.encode(codec, errors="replace")
        ct = f"text/html; charset={charset}" if in_header else "text/html"
        headers = [f"Content-Type: {ct}", f"Content-Length: {len(body)}",
                   "Server: synth/1.0"]
        if cls == "gzip_html":
            body = gzip.compress(body, mtime=0)  # mtime=0: deterministic bytes
            headers.append("Content-Encoding: gzip")
        return http("200 OK", headers, body)

    if cls == "plain":
        body = _body_text(seed, i, lang).encode("utf-8")
        return http(
            "200 OK",
            [f"Content-Type: text/plain; charset=utf-8",
             f"Content-Length: {len(body)}"],
            body,
        )

    if cls == "binary":
        body = hashlib.blake2b(f"{seed}/{i}".encode(), digest_size=32).digest() * (
            1 + _h64(seed, i, "blen") % 8
        )
        return http(
            "200 OK",
            ["Content-Type: application/pdf", f"Content-Length: {len(body)}"],
            body,
        )

    if cls == "redirect":
        loc = f"https://moved.example/{i}"
        return http("301 Moved Permanently", [f"Location: {loc}",
                                              "Content-Type: text/html"], b"")

    if cls == "error_http":
        status = _pick(["404 Not Found", "500 Server Error", "503 Unavailable"],
                       seed, i, "st")
        return http(status, ["Content-Type: text/html"], b"<html>err</html>")

    if cls == "error_frame":
        variant = _h64(seed, i, "fv") % 3
        if variant == 0:
            return b"GARBAGE" + hashlib.blake2b(str(i).encode()).digest()
        if variant == 1:
            return b"HTTP/1.1 200 OK\r\nContent-Type: text/html"  # no CRLFCRLF
        return b"HTTP/9.9200\r\n\r\nbody"  # bad status line

    if cls == "error_decode":
        if _h64(seed, i, "dv") % 2 == 0:
            # unknown charset token
            body = b"<html><body>x</body></html>"
            return http("200 OK",
                        ["Content-Type: text/html; charset=klingon-8"], body)
        # corrupt gzip
        return http("200 OK",
                    ["Content-Type: text/html; charset=utf-8",
                     "Content-Encoding: gzip"], b"\x1f\x8bBROKEN")

    raise AssertionError(cls)


# --- Spark materialization ---------------------------------------------------

#: the one pages schema: the batch, stream and documents-derived sources
#: all produce it
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_from_ids(ids, seed: int = 42):
    """Pages generated on the executors, one per id of the one-column
    ``ids`` frame: ``make_record(seed, id)`` in a ``map_rows``.  Every
    synthetic pages source (batch, rate stream, soak chunks) generates
    through here."""
    return map_rows(ids, lambda i: [make_record(seed, i)], PAGES_SCHEMA)


def pages_df(spark, n: int, seed: int = 42):
    """Distributed deterministic generation: spark.range -> pages_from_ids.

    Each executor generates its own rows from (seed, id) — no driver-side
    materialization, so the same generator scales to arbitrary n.
    """
    nparts = max(1, min(64, n // 2000 or 1))
    return pages_from_ids(spark.range(0, n, numPartitions=nparts), seed)

