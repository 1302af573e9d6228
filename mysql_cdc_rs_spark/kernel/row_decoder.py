"""Typed row decoding: packed row image -> list of typed cells.

This is the reference's core row loop — null-bitmap read, then per-column
dispatch on (type code, metadata) through the scalar decoders
(/root/reference/binlog/src/row/parser.rs:236-283, parse_cell :732-793;
fixture semantics /root/reference/tests/src/binlog/test_8_0.rs:72-135).
Re-implemented from the public MySQL row-based-replication format.

Used for binlog-style payloads (golden tests mirror the reference fixtures)
and run in Spark through ``functions.udfs.map_rows``; the web-pipeline hot path
doesn't need it, but reference users decoding actual row events do.
"""

from __future__ import annotations

import struct
from typing import Any

from mysql_cdc_rs_spark.kernel import mysql_decimal, temporal, varint
from mysql_cdc_rs_spark.kernel.jsonb import canonical_json, parse_jsonb

# MySQL column type codes (public protocol constants)
T_DECIMAL = 0
T_TINY = 1
T_SHORT = 2
T_LONG = 3
T_FLOAT = 4
T_DOUBLE = 5
T_NULL = 6
T_TIMESTAMP = 7
T_LONGLONG = 8
T_INT24 = 9
T_DATE = 10
T_TIME = 11
T_DATETIME = 12
T_YEAR = 13
T_NEWDATE = 14
T_VARCHAR = 15
T_ARRAY = 20
T_BIT = 16
T_TIMESTAMP2 = 17
T_DATETIME2 = 18
T_TIME2 = 19
T_JSON = 245
T_NEWDECIMAL = 246
T_ENUM = 247
T_SET = 248
T_TINY_BLOB = 249
T_MEDIUM_BLOB = 250
T_LONG_BLOB = 251
T_BLOB = 252
T_VAR_STRING = 253
T_STRING = 254
T_GEOMETRY = 255

_INT_WIDTH = {T_TINY: 1, T_SHORT: 2, T_INT24: 3, T_LONG: 4, T_LONGLONG: 8}


class UnsupportedColumnType(ValueError):
    """A column type the decoder has no cell layout for (e.g. legacy
    Decimal=0).  The F5 skip-don't-crash policy turns this into an error
    ROW via decode_row_safe — it must never escape a kernel hot loop
    (parity: /root/reference/binlog/src/decoder/event_decoder.rs:310-330)."""

    def __init__(self, type_code: int):
        super().__init__(f"unsupported column type {type_code}")
        self.type_code = type_code


def decode_row_safe(
    buf: bytes,
    column_types: list[int],
    column_meta: list[int],
    pos: int = 0,
    signedness: list[bool] | None = None,
    charset: str = "utf-8",
) -> tuple[list[Any] | None, str | None]:
    """decode_row with the F5 error-row contract: returns (cells, None) on
    success, (None, error_code) on unsupported types / truncation.  The
    hot-path UDFs call this so a bad cell becomes a counted error row."""
    try:
        cells, _ = decode_row(
            buf, column_types, column_meta, pos, signedness, charset
        )
        return cells, None
    except UnsupportedColumnType as e:
        return None, f"UNSUPPORTED_TYPE_{e.type_code}"
    except (ValueError, IndexError, KeyError, struct.error):
        # struct.error: truncated FLOAT/DOUBLE cell (not a ValueError
        # subclass); KeyError: garbage JSONB type tags inside parse_jsonb.
        # Both are malformed-input shapes, so they take the same error-row
        # route as any other truncation.
        return None, "TRUNCATED_ROW"


def decode_row(
    buf: bytes,
    column_types: list[int],
    column_meta: list[int],
    pos: int = 0,
    signedness: list[bool] | None = None,
    charset: str = "utf-8",
) -> tuple[list[Any], int]:
    """Decode one row image. Returns (cells, new_pos).

    column_meta[i]: the per-type metadata word (length for strings, fsp for
    temporal2, (precision<<8)|scale for NEWDECIMAL, length-bytes for BLOB,
    bit count for BIT, packed C17 word for STRING).
    signedness[i]: True = signed (default) — mirrors the reference's
    unsigned split (column_parser.rs:159-191).
    """
    ncols = len(column_types)
    nulls, pos = varint.read_bitmap_le(buf, pos, ncols)
    cells: list[Any] = []
    for i, t in enumerate(column_types):
        if nulls[i]:
            cells.append(None)
            continue
        cell, new_pos = _decode_cell(
            buf,
            pos,
            t,
            column_meta[i],
            signed=(signedness[i] if signedness else True),
            charset=charset,
        )
        if new_pos > len(buf):
            # int.from_bytes on a short slice silently zero-fills; surface
            # truncation as an error instead (the reference's UnexpectedEof,
            # bytes_binlog_reader.rs:94-101) — callers turn it into an
            # error row, never a crash on the hot path
            raise ValueError(f"row payload truncated at column {i}")
        pos = new_pos
        cells.append(cell)
    return cells, pos


def _decode_cell(buf, pos, t, meta, signed, charset):
    if t in _INT_WIDTH:
        w = _INT_WIDTH[t]
        v = int.from_bytes(buf[pos : pos + w], "little", signed=signed)
        return v, pos + w
    if t == T_FLOAT:
        import struct

        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == T_DOUBLE:
        import struct

        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == T_YEAR:
        return temporal.parse_year(buf, pos)
    if t in (T_DATE, T_NEWDATE):
        # NewDate=14 is the internal 3-byte packed date — same wire layout
        # as DATE (/root/reference/common/src/binlog/column/column_type.rs:235)
        return temporal.parse_date(buf, pos)
    if t == T_TIME:
        return temporal.parse_time(buf, pos)
    if t == T_TIME2:
        return temporal.parse_time2(buf, pos, meta)
    if t == T_DATETIME:
        return temporal.parse_datetime(buf, pos)
    if t == T_DATETIME2:
        return temporal.parse_datetime2(buf, pos, meta)
    if t == T_TIMESTAMP:
        return temporal.parse_timestamp(buf, pos)
    if t == T_TIMESTAMP2:
        return temporal.parse_timestamp2(buf, pos, meta)
    if t == T_NEWDECIMAL:
        precision, scale = meta >> 8, meta & 0xFF
        return mysql_decimal.parse_decimal(buf, pos, precision, scale)
    if t in (T_VARCHAR, T_VAR_STRING):
        raw, pos = varint.parse_string(buf, pos, meta)
        return raw.decode(charset, "replace"), pos
    if t == T_STRING:
        real_t, length = varint.actual_string_type(meta >> 8, meta & 0xFF)
        if real_t == T_ENUM:
            w = 1 if length < 256 else 2
            return int.from_bytes(buf[pos : pos + w], "little"), pos + w
        if real_t == T_SET:
            return int.from_bytes(buf[pos : pos + length], "little"), pos + length
        raw, pos = varint.parse_string(buf, pos, length)
        return raw.decode(charset, "replace"), pos
    if t == T_BIT:
        nbits = ((meta >> 8) * 8) + (meta & 0xFF)
        return varint.parse_bit(buf, pos, nbits)
    if t in (T_TINY_BLOB, T_MEDIUM_BLOB, T_LONG_BLOB, T_BLOB, T_GEOMETRY):
        len_bytes = meta or {T_TINY_BLOB: 1, T_MEDIUM_BLOB: 3,
                             T_LONG_BLOB: 4, T_BLOB: 2}[t]
        return varint.parse_blob(buf, pos, len_bytes)
    if t == T_JSON:
        raw, pos = varint.parse_blob(buf, pos, meta or 4)
        return canonical_json(parse_jsonb(raw)), pos
    if t == T_ARRAY:
        # Typed array (multi-valued index cells): the metadata header packs
        # the element type in its first byte and the element's own metadata
        # after it (column_type.rs:204-213) — here meta = (elem_type << 16)
        # | elem_meta; the cell is a 1-byte count + that many element cells
        elem_t, elem_meta = meta >> 16, meta & 0xFFFF
        n = buf[pos]
        pos += 1
        out: list[Any] = []
        for _ in range(n):
            v, pos = _decode_cell(buf, pos, elem_t, elem_meta, signed, charset)
            out.append(v)
        return out, pos
    raise UnsupportedColumnType(t)


# --- encoder (tests build golden row payloads) ------------------------------

def encode_row(
    cells: list[Any],
    column_types: list[int],
    column_meta: list[int],
    signedness: list[bool] | None = None,
    charset: str = "utf-8",
) -> bytes:
    """Inverse of decode_row for the supported fixture types."""
    ncols = len(cells)
    nbytes = (ncols + 7) // 8
    bitmap = bytearray(nbytes)
    body = bytearray()
    for i, (v, t) in enumerate(zip(cells, column_types)):
        if v is None:
            bitmap[i >> 3] |= 1 << (i & 7)
            continue
        signed = signedness[i] if signedness else True
        body += _encode_cell(v, t, column_meta[i], signed, charset)
    return bytes(bitmap) + bytes(body)


def _encode_cell(v, t, meta, signed, charset) -> bytes:
    import struct

    if t in _INT_WIDTH:
        return int(v).to_bytes(_INT_WIDTH[t], "little", signed=signed)
    if t == T_FLOAT:
        return struct.pack("<f", v)
    if t == T_DOUBLE:
        return struct.pack("<d", v)
    if t in (T_VARCHAR, T_VAR_STRING):
        raw = v.encode(charset)
        return (
            len(raw).to_bytes(1, "little")
            if meta < 256
            else len(raw).to_bytes(2, "little")
        ) + raw
    if t == T_NEWDECIMAL:
        return mysql_decimal.encode_decimal(v, meta >> 8, meta & 0xFF)
    if t == T_YEAR:
        return bytes([v - 1900])
    if t in (T_DATE, T_NEWDATE):
        y, mo, d = v
        return ((y << 9) | (mo << 5) | d).to_bytes(3, "little")
    if t == T_TIME2:
        h, mi, s, micros = v
        return ((1 << 23) | (h << 12) | (mi << 6) | s).to_bytes(
            3, "big"
        ) + _encode_fractional(micros, meta)
    if t == T_DATETIME2:
        y, mo, d, h, mi, s, micros = v
        packed = ((y * 13 + mo) << 22) | (d << 17) | (h << 12) | (mi << 6) | s
        return (packed | (1 << 39)).to_bytes(5, "big") + _encode_fractional(
            micros, meta
        )  # sign bit set
    if t == T_TIMESTAMP2:
        secs, micros = divmod(int(v), 1_000_000)
        return secs.to_bytes(4, "big") + _encode_fractional(micros, meta)
    if t == T_STRING:
        real_t, length = varint.actual_string_type(meta >> 8, meta & 0xFF)
        if real_t == T_ENUM:
            w = 1 if length < 256 else 2
            return int(v).to_bytes(w, "little")
        if real_t == T_SET:
            return int(v).to_bytes(length, "little")
        raw = v.encode(charset)
        return len(raw).to_bytes(1 if length < 256 else 2, "little") + raw
    if t == T_ARRAY:
        elem_t, elem_meta = meta >> 16, meta & 0xFFFF
        out = bytes([len(v)])
        for el in v:
            out += _encode_cell(el, elem_t, elem_meta, signed, charset)
        return out
    raise ValueError(f"encode_row: unsupported type {t}")


def _encode_fractional(micros: int, fsp: int) -> bytes:
    """Inverse of temporal.parse_fractional: (fsp+1)//2 bytes big-endian in
    units of 100^(3-nbytes) — sub-unit precision is truncated, exactly as
    MySQL stores it."""
    nbytes = (fsp + 1) // 2
    if nbytes == 0:
        return b""
    return (int(micros) // (100 ** (3 - nbytes))).to_bytes(nbytes, "big")
