"""Extension registries (SURVEY §2.12).

The reference exposes a TypeDecoder trait with a priority registry and
conflict strategies (/root/reference/binlog/src/column/type_decoder.rs,
register at column_parser.rs:209-258) plus RowEventHandler fan-out
registration (/root/reference/binlog/src/row/event_handler.rs:8-35).

Spark analog: plain-Python registries.  ``snapshot()`` copies them, and the
decode kernel reads only the copy it is handed (``decode_batch(raws,
snapshot)``): ``functions.udfs.make_decode_udf`` snapshots at plan-build
time, so the registered decoders ship to executors inside the UDF closure
and each plan decodes with exactly the extensions registered when it was
built.  Users extend the engine without touching engine code:

    from mysql_cdc_rs_spark.kernel.registry import register_mime_decoder

    @register_mime_decoder("application/json", priority=10)
    def decode_json_page(body: bytes, charset: str | None) -> dict:
        return {"event_type": "json", "text": body.decode("utf-8", "replace")}

Conflict strategy mirrors the reference: highest priority wins; equal
priority -> latest registration wins (REPLACE).
"""

from __future__ import annotations

from typing import Callable

# mime (lowercase) -> (priority, fn). fn(body, charset) -> partial decode
# dict; keys it may set: event_type, text, title, error.
_MIME_DECODERS: dict[str, tuple[int, Callable]] = {}

# route extensions: event_type -> route name (consulted before the built-in
# ROUTE_OF_EVENT map).
_ROUTE_OVERRIDES: dict[str, str] = {}


def register_mime_decoder(mime: str, priority: int = 0):
    """Decorator: register a custom body decoder for a content type."""

    def deco(fn: Callable):
        key = mime.strip().lower()
        cur = _MIME_DECODERS.get(key)
        if cur is None or priority >= cur[0]:
            _MIME_DECODERS[key] = (priority, fn)
        return fn

    return deco


def register_route(event_type: str, route: str) -> None:
    """Register (or re-route) a sink for an event type (R1 handler analog)."""
    _ROUTE_OVERRIDES[event_type] = route


def snapshot() -> tuple[dict[str, Callable], dict[str, str]]:
    """Copy of the registries as ``(mime -> decoder, event_type -> route)``:
    the ``extensions`` argument of ``batchdecode.decode_batch``."""
    return {m: fn for m, (_, fn) in _MIME_DECODERS.items()}, dict(_ROUTE_OVERRIDES)


def clear_extensions() -> None:
    """Test helper: reset to built-ins only."""
    _MIME_DECODERS.clear()
    _ROUTE_OVERRIDES.clear()
