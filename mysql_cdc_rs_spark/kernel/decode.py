"""Full page decode: frame -> dispatch -> charset -> text -> route.

This is the single-pass kernel the vectorized UDF applies per row — the
analog of ``LogEventDecoder::event_parse``
(/root/reference/binlog/src/decoder/event_decoder.rs:153-360): one dispatch
over the record type, no exceptions on the hot path (errors become fields),
every input classified into exactly one event_type/route.

Event taxonomy (the reference's 42-variant BinlogEvent enum collapses to the
content classes a web-page stream actually has; each maps to one fan-out
sink — SURVEY.md §2.10):

    html          well-formed 2xx/3xx text/html
    plain         well-formed 2xx/3xx text/plain
    binary        well-formed 2xx/3xx non-text payloads (pdf/images/...)
    redirect      3xx with Location and no text body
    error_http    status >= 400 (upstream error pages)
    error_frame   malformed record (no magic / bad header) — analog of
                  UnexpectedEof skip (bytes_binlog_reader.rs:94-101)
    error_decode  framed OK but undecodable (unknown charset, bad gzip,
                  body inflating past http.MAX_BODY_BYTES)

Routes (sink fan-out): html|plain|binary -> "content_<type>",
redirect -> "redirect", error_* -> "errors".
"""

from __future__ import annotations

from typing import Any

from mysql_cdc_rs_spark.kernel import charset as _cs
from mysql_cdc_rs_spark.kernel import http as _http
from mysql_cdc_rs_spark.kernel import registry as _registry
from mysql_cdc_rs_spark.kernel import textextract as _tx

EVENT_TYPES = [
    "html",
    "plain",
    "binary",
    "redirect",
    "error_http",
    "error_frame",
    "error_decode",
]

ROUTE_OF_EVENT = {
    "html": "content_html",
    "plain": "content_plain",
    "binary": "content_binary",
    "redirect": "redirect",
    "error_http": "errors",
    "error_frame": "errors",
    "error_decode": "errors",
}

_TEXT_MIMES_HTML = ("text/html", "application/xhtml+xml")
_TEXT_MIMES_PLAIN = ("text/plain",)


def decode_page(raw: bytes | None) -> dict[str, Any]:
    """Decode one raw page record. Never raises.

    Returns a flat dict matching the Spark struct schema in
    ``functions.udfs.DECODED_SCHEMA``.
    """
    out: dict[str, Any] = {
        "status": None,
        "mime": None,
        "charset": None,
        "charset_source": None,
        "content_encoding": None,
        "header_len": None,
        "body_len": None,
        "text": None,
        "title": None,
        "event_type": "error_frame",
        "route": "errors",
        "error": None,
        # full header map — the status-variable TLV analog (P6): every
        # key:value from the record header as a typed map column
        # (query_event.rs status vars -> MapType, SURVEY §2.2)
        "headers": None,
    }
    if raw is None:
        out["error"] = "NULL_PAYLOAD"
        return out

    rec = _http.parse_record(raw)
    if rec.error is not None:
        out["error"] = rec.error
        return out

    out["status"] = rec.status
    mime = rec.mime  # computed once; property does string work per call
    out["mime"] = mime
    out["header_len"] = rec.header_len
    # header values are decoded once at parse time; the record's dict IS
    # the map column (rec is per-row and discarded, so sharing is safe)
    out["headers"] = rec.headers
    enc = rec.headers.get("content-encoding")
    out["content_encoding"] = enc.lower() if enc else "identity"

    # the dispatch key is stripped; the output column is not
    body, err = _http.decompress((enc or "").strip().lower(), rec.body)
    if body is None:
        out["event_type"] = "error_decode"
        out["error"] = err
        return out
    out["body_len"] = len(body)

    if rec.status >= 400:
        out["event_type"] = "error_http"
        out["route"] = "errors"
        return out

    # extension point (§2.12): user-registered per-mime decoders take
    # priority over the built-in dispatch, like the reference's TypeDecoder
    # priority registry (column_parser.rs:209-258)
    custom = _registry.lookup_mime_decoder(mime)
    if custom is not None:
        codec, source = _cs.sniff_charset(rec.content_type, body)
        out["charset"] = codec if source != "unknown" else None
        out["charset_source"] = source
        try:
            partial = custom(body, out["charset"])
        except Exception as e:  # noqa: BLE001 — extensions must not crash rows
            out["event_type"] = "error_decode"
            out["error"] = f"EXTENSION_ERROR:{type(e).__name__}"
            return out
        out.update(partial)
        et = out["event_type"]
        out["route"] = (
            _registry.lookup_route(et)
            or ROUTE_OF_EVENT.get(et, "content_binary")
        )
        return out

    if 300 <= rec.status < 400 and "location" in rec.headers:
        out["event_type"] = "redirect"
        out["route"] = "redirect"
        out["text"] = rec.headers["location"]
        return out

    if mime in _TEXT_MIMES_HTML or mime in _TEXT_MIMES_PLAIN:
        codec, source = _cs.sniff_charset(rec.content_type, body)
        out["charset_source"] = source
        if source == "unknown":
            out["charset"] = codec  # the unrecognized token, for the error row
            out["event_type"] = "error_decode"
            out["route"] = "errors"
            out["error"] = "UNKNOWN_CHARSET"
            return out
        out["charset"] = codec
        decoded = _cs.decode_text(body, codec)
        if mime in _TEXT_MIMES_HTML:
            out["event_type"] = "html"
            out["text"] = _tx.extract_text(decoded)
            out["title"] = _extract_title(decoded)
        else:
            out["event_type"] = "plain"
            out["text"] = _tx.extract_plain(decoded)
        out["route"] = ROUTE_OF_EVENT[out["event_type"]]
        return out

    out["event_type"] = "binary"
    out["route"] = "content_binary"
    return out


import re as _re

_TITLE_RE = _re.compile(r"<title[^>]*>(.*?)</title\s*>", _re.IGNORECASE | _re.DOTALL)


def _extract_title(html: str) -> str | None:
    m = _TITLE_RE.search(html)
    if not m:
        return None
    return _tx.extract_plain(m.group(1))
