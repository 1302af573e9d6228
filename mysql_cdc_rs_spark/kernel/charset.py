"""Charset identification and decoding.

Parity: the reference maintains a charset-id -> encoding map with a
conversion cache and converts every text cell to UTF-8
(/root/reference/binlog/src/column/charset.rs:38-200).  Here the charset
arrives in-band (Content-Type header or <meta> tag) instead of as a MySQL
collation id, so "lookup by id" becomes "sniff from bytes" — but the codec
table and the convert-to-UTF-8-lossy contract are the same.

Determinism contract: given the same bytes, ``sniff_charset`` returns the
same result on every platform, and so does the decode kernel's lossy
``body.decode(codec, "replace")`` (pure stdlib codecs, no locale
dependence).
"""

from __future__ import annotations

import re

# Token -> Python codec. Mirrors the reference's supported charset set
# (latin1/utf8/utf8mb4/gbk/big5/sjis/euckr/ascii/binary,
#  /root/reference/binlog/src/column/charset.rs:150-199).
CHARSET_MAP: dict[str, str] = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "utf8mb4": "utf-8",
    "latin1": "latin-1",
    "latin-1": "latin-1",
    "iso-8859-1": "latin-1",
    "ascii": "ascii",
    "us-ascii": "ascii",
    "gbk": "gbk",
    "gb2312": "gbk",
    "big5": "big5",
    "shift_jis": "shift_jis",
    "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "euc-kr": "euc-kr",
    "euckr": "euc-kr",
    # reference ids 2xx: ucs2/utf16/utf16le/utf32 (charset.rs:120-143)
    "ucs2": "utf-16-be",
    "ucs-2": "utf-16-be",
    "utf16": "utf-16-be",  # MySQL utf16 is big-endian
    "utf-16": "utf-16-be",
    "utf16le": "utf-16-le",
    "utf-16le": "utf-16-le",
    "utf32": "utf-32-be",
    "utf-32": "utf-32-be",
    # reference ids 26/51/14...: cp1250/cp1251/cp1252 windows codepages
    "cp1250": "cp1250",
    "windows-1250": "cp1250",
    "cp1251": "cp1251",
    "windows-1251": "cp1251",
    "cp1252": "cp1252",
    "windows-1252": "cp1252",
    "binary": None,  # type: ignore[dict-item]  # opaque bytes, no text decode
}

DEFAULT_CHARSET = "utf-8"

# charset=<token> inside a Content-Type header value (bytes + str twins:
# header values arrive pre-decoded from the decode loop, raw bytes from direct
# callers; the token class is pure ASCII so the two match identically —
# lossy-decoded U+FFFD can no more be part of a token than the raw byte).
_CT_CHARSET_RE = re.compile(rb"charset\s*=\s*\"?([A-Za-z0-9_\-]+)\"?", re.IGNORECASE)
_CT_CHARSET_RE_S = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9_\-]+)\"?", re.IGNORECASE)
# <meta charset="..."> or <meta http-equiv=... content="...; charset=...">
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.IGNORECASE
)

# Only sniff the head of the body — mirrors browsers and keeps the kernel O(1)
# per row regardless of page size.
SNIFF_WINDOW = 1024

# bounded content-type -> header-sniff-outcome cache (see sniff_charset);
# the reference's conversion cache analog (charset.rs:38-200)
_CT_SNIFF_CACHE: dict = {}
_MISS = object()


def normalize_charset(token: str | bytes | None) -> str | None:
    """Map a raw charset token to a canonical Python codec name.

    Unknown tokens return None (caller routes the row to the decode-error
    sink — the analog of the reference's unsupported-charset error path).
    """
    if token is None:
        return None
    if isinstance(token, bytes):
        try:
            token = token.decode("ascii")
        except UnicodeDecodeError:
            return None
    return CHARSET_MAP.get(token.strip().lower())


def sniff_charset(
    content_type: bytes | str | None, body: bytes
) -> tuple[str, str]:
    """Resolve the charset for a page body.

    Resolution order (deterministic):
    1. ``charset=`` parameter of the Content-Type header value;
    2. ``<meta charset=...>`` in the first SNIFF_WINDOW bytes of the body;
    3. DEFAULT_CHARSET.

    Returns ``(codec, source)`` where source in {"header","meta","default",
    "unknown"}.  ``codec`` is the *requested* token when unknown so the error
    row can report what it saw.
    """
    if content_type:
        # content-type values repeat across a corpus; the header-only
        # outcome ("header"/"unknown", or None = defer to the body) is a
        # pure function of the value, so it is cached (bounded).  The
        # meta/default outcomes depend on body bytes and are never cached.
        hit = _CT_SNIFF_CACHE.get(content_type, _MISS)
        if hit is _MISS:
            if isinstance(content_type, (bytes, bytearray)):
                m = _CT_CHARSET_RE.search(content_type)
                token = (
                    m.group(1).decode("ascii", "replace").lower() if m else None
                )
            else:
                m = _CT_CHARSET_RE_S.search(content_type)
                token = m.group(1).lower() if m else None
            if token is None:
                hit = None
            else:
                codec = normalize_charset(token)
                hit = (codec, "header") if codec is not None else (
                    token, "unknown"
                )
            if len(_CT_SNIFF_CACHE) < 4096:
                _CT_SNIFF_CACHE[content_type] = hit
        if hit is not None:
            return hit
    m = _META_CHARSET_RE.search(body[:SNIFF_WINDOW])
    if m:
        codec = normalize_charset(m.group(1))
        if codec is not None:
            return codec, "meta"
        return m.group(1).decode("ascii", "replace").lower(), "unknown"
    return DEFAULT_CHARSET, "default"
