"""Full page decode: frame -> dispatch -> charset -> text -> route.

The analog of ``LogEventDecoder::event_parse``
(/root/reference/binlog/src/decoder/event_decoder.rs:153-360): one dispatch
over the record type, no exceptions on the hot path (errors become fields),
every input classified into exactly one event_type/route.  The loop itself
is ``batchdecode.decode_batch``; ``decode_page`` is one row of it.

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
                  body inflating past http.MAX_BODY_BYTES, failing
                  extension decoder)

Routes (sink fan-out): html|plain|binary -> "content_<type>",
redirect -> "redirect", error_* -> "errors".
"""

from __future__ import annotations

from typing import Any

from mysql_cdc_rs_spark.kernel import registry as _registry

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

#: the built-in sinks, one per distinct ``ROUTE_OF_EVENT`` value
ROUTES = ["content_html", "content_plain", "content_binary", "redirect", "errors"]

#: error classes: the part of ``error`` before the first ':' on every error
#: row ``decode_batch`` emits (``EXTENSION_ERROR:<Type>`` -> EXTENSION_ERROR).
#: The run record counts each one, and any other value as ``error.other``.
ERROR_CLASSES = [
    "NULL_PAYLOAD",
    "NO_MAGIC",
    "NO_HEADER_END",
    "BAD_STATUS_LINE",
    "BAD_GZIP",
    "BODY_TOO_LARGE",
    "UNKNOWN_CHARSET",
    "EXTENSION_ERROR",
]


def decode_page(raw: bytes | None) -> dict[str, Any]:
    """Decode one raw page record with the live extension registry: row 0
    of ``decode_batch([raw])``, as a dict keyed by ``batchdecode.COLUMNS``.
    Never raises."""
    # imported here: batchdecode imports ROUTE_OF_EVENT from this module
    from mysql_cdc_rs_spark.kernel.batchdecode import decode_batch

    cols = decode_batch([raw], _registry.snapshot())
    return {c: v[0] for c, v in cols.items()}
