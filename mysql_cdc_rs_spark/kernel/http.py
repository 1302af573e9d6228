"""HTTP response-record framing ("event header" grok).

Parity: the reference frames a byte stream into events by parsing a 19-byte
fixed little-endian header (timestamp, type code, server_id, event_length,
next_position, flags — /root/reference/binlog/src/events/event_header.rs:205-282)
and validates a 4-byte magic prologue (:200-202).  The Common-Crawl analog of
that header is the HTTP response block that precedes every WARC page body:
a status line plus key:value headers terminated by CRLFCRLF.  This module
holds the framing constants, regexes, caches and error codes, and the body
codecs; the grok step itself (one regex pass over a bounded prefix, never
the whole body) is the head of ``batchdecode.decode_batch``.

Malformed records do NOT raise: they get an ``error`` field so the Spark
plan keeps errors on a side output instead of throwing in the hot path
(mirrors /root/reference/binlog/src/decoder/bytes_binlog_reader.rs:94-101).
"""

from __future__ import annotations

import re
import zlib

# Magic prologue of a well-formed record — the binlog magic's analog.
MAGIC = b"HTTP/"

# How far into the record the header block may extend. Real HTTP caps header
# size similarly; bounding it keeps per-row work O(1).
MAX_HEADER_BYTES = 8192

_STATUS_RE = re.compile(rb"^HTTP/\d\.\d[ \t]+(\d{3})[ \t]*[^\r\n]*\r\n")
_HEADER_LINE_RE = re.compile(rb"([!#$%&'*+\-.^_`|~0-9A-Za-z]+):[ \t]*([^\r\n]*)\r\n")

# raw header name -> decoded+lowered name.  Header names repeat across
# records (Content-Type, Server, ...) so one decode serves millions of
# rows; the LRU-cache analog of the reference's bounded parser caches
# (binlog/src/row/parser.rs:30-103).  Bounded: adversarial unique names
# stop being cached past the cap instead of growing executor memory.
_HEADER_KEY_CACHE: dict[bytes, str] = {}
_HEADER_KEY_CACHE_MAX = 4096
# content-type value -> mime token (values repeat heavily across a corpus)
_MIME_CACHE: dict[str, str] = {}

ERR_NO_MAGIC = "NO_MAGIC"
ERR_NO_HEADER_END = "NO_HEADER_END"
ERR_BAD_STATUS_LINE = "BAD_STATUS_LINE"
ERR_BAD_GZIP = "BAD_GZIP"
ERR_BODY_TOO_LARGE = "BODY_TOO_LARGE"

# Largest body any Content-Encoding may inflate to.  Bounds Python-worker
# memory on a decompression bomb: a larger page takes the error route.
MAX_BODY_BYTES = 1 << 26


class BodyTooLarge(Exception):
    """A coded body inflates past MAX_BODY_BYTES."""


def inflate(data: bytes, wbits: int) -> bytes:
    """``zlib.decompress(data, wbits=wbits)`` that stops at MAX_BODY_BYTES
    of output: raises BodyTooLarge past it, and zlib.error wherever
    zlib.decompress would.  A bounded ``decompressobj`` returns a truncated
    or empty stream's partial output instead of raising, hence the ``eof``
    check; bytes after the end of the stream are ignored, as in
    zlib.decompress."""
    d = zlib.decompressobj(wbits)
    out = d.decompress(data, MAX_BODY_BYTES + 1)
    if len(out) > MAX_BODY_BYTES:
        raise BodyTooLarge
    if not d.eof:
        raise zlib.error("incomplete or truncated stream")
    return out


# Compressed bytes fed to the zstd decoder per call.  A zstd block is at
# most 128 KiB of output from at least 4 bytes of input (an RLE block), so
# one piece adds at most 8 MiB past MAX_BODY_BYTES before the check stops
# the read.
ZSTD_IN_CHUNK = 256


def unzstd(data: bytes) -> bytes:
    """zstd counterpart of ``inflate``: feeds the frame to a
    ``decompressobj`` ZSTD_IN_CHUNK bytes at a time and raises BodyTooLarge
    once the output passes MAX_BODY_BYTES (a frame that declares a larger
    content size is refused before decoding).  Raises
    ``zstandard.ZstdError`` on a corrupt frame and, through the ``eof``
    check, on a truncated one, whether or not it declares its size; bytes
    after the frame are ignored."""
    import zstandard

    if zstandard.frame_content_size(data) > MAX_BODY_BYTES:
        raise BodyTooLarge
    d = zstandard.ZstdDecompressor().decompressobj()
    out = bytearray()
    view = memoryview(data)
    for i in range(0, len(data), ZSTD_IN_CHUNK):
        out += d.decompress(view[i : i + ZSTD_IN_CHUNK])
        if len(out) > MAX_BODY_BYTES:
            raise BodyTooLarge
        if d.eof:
            return bytes(out)
    raise zstandard.ZstdError("incomplete or truncated frame")


def decompress(enc: str, body: bytes) -> tuple[bytes | None, str | None]:
    """Apply a Content-Encoding — the compressed-transaction-payload analog.

    The reference handles TRANSACTION_PAYLOAD compressed events
    (/root/reference/binlog/src/decoder/mysql8_decoders.rs:14-88); here the
    compressed unit is a gzip page body.  ``enc`` is the stripped,
    lowercased header value.  Returns ``(body, None)``, or ``(None, error
    code)`` for a corrupt or oversized stream (caller -> error route);
    never raises.
    """
    if enc in ("", "identity"):
        return body, None
    try:
        if enc == "gzip":
            return inflate(body, 31), None
        if enc == "deflate":
            try:
                return inflate(body, 15), None
            except zlib.error:
                # some encoders emit RAW deflate streams (no zlib header)
                return inflate(body, -15), None
    except zlib.error:
        return None, ERR_BAD_GZIP
    except BodyTooLarge:
        return None, ERR_BODY_TOO_LARGE
    if enc == "zstd":
        # MySQL 8's TRANSACTION_PAYLOAD default algorithm
        # (mysql8_decoders.rs:14-97); gated: the lib may be absent in
        # minimal containers, in which case the page takes the error route.
        try:
            import zstandard
        except ImportError:
            return None, ERR_BAD_GZIP
        try:
            return unzstd(body), None
        except zstandard.ZstdError:
            pass
        except BodyTooLarge:
            return None, ERR_BODY_TOO_LARGE
    return None, ERR_BAD_GZIP
