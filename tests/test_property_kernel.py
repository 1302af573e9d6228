"""Property-based tests (hypothesis) for the wire-format codecs.

The reference has no property tests (SURVEY §5 point 6); these go beyond its
golden-fixture strategy: every encoder/decoder pair must round-trip for ALL
inputs in its domain, and decoders must never raise on arbitrary bytes
(skip-don't-crash contract)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mysql_cdc_rs_spark.kernel import jsonb, mysql_decimal, temporal, varint
from mysql_cdc_rs_spark.kernel.decode import decode_page
from mysql_cdc_rs_spark.sources.framing import pack_records, split_records

# --- length-encoded ints ------------------------------------------------------

@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_len_enc_int_domain(n):
    """Decode every canonical encoding width correctly."""
    if n < 0xFB:
        buf = bytes([n])
    elif n < 2**16:
        buf = b"\xfc" + n.to_bytes(2, "little")
    elif n < 2**24:
        buf = b"\xfd" + n.to_bytes(3, "little")
    else:
        buf = b"\xfe" + n.to_bytes(8, "little")
    v, pos = varint.read_len_enc_num(buf)
    assert v == n and pos == len(buf)


# --- packed decimal -----------------------------------------------------------

@given(
    st.integers(min_value=0, max_value=10**18 - 1),
    st.integers(min_value=0, max_value=12),
    st.booleans(),
)
@settings(max_examples=300)
def test_decimal_roundtrip_property(digits, scale, negative):
    precision = 20
    intg = precision - scale
    s = str(digits)
    int_part = s[: max(len(s) - scale, 0)] or "0"
    frac_part = s[max(len(s) - scale, 0) :].rjust(scale, "0")
    if len(int_part) > intg:
        int_part = int_part[-intg:]
    value = int_part.lstrip("0") or "0"
    if scale:
        value += "." + frac_part
    if negative and not (value == "0" or value.strip("0.") == ""):
        value = "-" + value
    enc = mysql_decimal.encode_decimal(value, precision, scale)
    out, consumed = mysql_decimal.parse_decimal(enc, 0, precision, scale)
    assert out == value
    assert consumed == mysql_decimal.decimal_binary_size(precision, scale)


# --- temporal packings --------------------------------------------------------

@given(
    st.integers(1, 9999), st.integers(1, 12), st.integers(1, 31),
    st.integers(0, 23), st.integers(0, 59), st.integers(0, 59),
)
def test_datetime2_roundtrip_property(y, mo, d, h, mi, s):
    ym = y * 13 + mo
    packed = (1 << 39) | (ym << 22) | (d << 17) | (h << 12) | (mi << 6) | s
    got, _ = temporal.parse_datetime2(packed.to_bytes(5, "big"), 0, 0)
    assert got == (y, mo, d, h, mi, s, 0)


@given(st.integers(0, 2**32 - 1), st.integers(0, 6))
def test_timestamp2_no_crash(secs, fsp):
    nfrac = (fsp + 1) // 2
    buf = secs.to_bytes(4, "big") + b"\x00" * nfrac
    micros, pos = temporal.parse_timestamp2(buf, 0, fsp)
    assert micros == secs * 1_000_000 and pos == 4 + nfrac


# --- JSONB ---------------------------------------------------------------------

_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=40),
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=6),
        st.dictionaries(st.text(min_size=0, max_size=12), children, max_size=6),
    ),
    max_leaves=25,
)


@given(_json_values)
@settings(max_examples=200)
def test_jsonb_roundtrip_property(value):
    assert jsonb.parse_jsonb(jsonb.encode_jsonb(value)) == value


@given(st.binary(max_size=200))
def test_jsonb_never_hangs_on_garbage(buf):
    """Arbitrary bytes: decode either returns something or raises ValueError/
    IndexError/KeyError/struct.error — never hangs, never exits python."""
    try:
        jsonb.parse_jsonb(buf)
    except Exception:
        pass


# --- page decode / framing: total functions over arbitrary bytes --------------

@given(st.binary(max_size=500))
@settings(max_examples=300)
def test_decode_page_total(raw):
    d = decode_page(raw)
    assert d["event_type"] is not None and d["route"] is not None


@given(st.lists(st.binary(max_size=60), max_size=5))
def test_framing_roundtrip_property(bodies):
    recs = [
        (
            f"HTTP/1.1 200 OK\r\nContent-Length: {len(b)}\r\n\r\n"
        ).encode() + b
        for b in bodies
    ]
    out, err = split_records(pack_records(recs))
    assert err is None and out == recs


@given(st.binary(max_size=300))
def test_framing_total(blob):
    records, err = split_records(blob)
    # reassembled good prefix must be a prefix of the input
    prefix = pack_records(records)
    assert blob.startswith(prefix)
    if len(prefix) < len(blob):
        assert err is not None


# --- the SQL oracle's text formula is exactly the kernel's output -------------

from hypothesis import strategies as _st

from mysql_cdc_rs_spark.sources.pages_from_documents import make_page, md5_60


@given(
    st.integers(min_value=0, max_value=10**9),
    st.text(
        alphabet=_st.characters(min_codepoint=32, max_codepoint=126),
        min_size=1,
        max_size=200,
    ),
)
@settings(max_examples=200)
def test_pages_from_documents_text_formula(doc_id, text):
    """For every ASCII doc text, decoding the generated html yields exactly
    the string the DuckDB oracle constructs ('D{id} {norm}' / norm / None),
    for all class/charset combinations the hash picks."""
    url, ts, raw, expected, lang = make_page(doc_id, text, "en", "src0")
    d = decode_page(raw)
    assert d["text"] == expected
    h = md5_60(f"cls:{doc_id}") % 100
    norm = " ".join(text.split())
    if h < 70:
        assert expected == (f"D{doc_id} {norm}" if norm else f"D{doc_id}")
    elif h < 80:
        assert expected == norm
    elif h < 90:
        assert expected == f"https://moved.example/{doc_id}"
    else:
        assert expected is None


# --- multimodal codecs (PNG / WAV) -------------------------------------------

@given(
    st.integers(1, 6),
    st.integers(1, 6),
    st.sampled_from([0, 2, 6]),  # gray / RGB / RGBA
    st.randoms(use_true_random=False),
)
@settings(max_examples=100)
def test_png_roundtrip_property(w, h, color_type, rnd):
    from mysql_cdc_rs_spark.operators import multimodal as MM

    bpp = {0: 1, 2: 3, 6: 4}[color_type]
    pixels = bytes(rnd.randrange(256) for _ in range(w * h * bpp))
    for ft in (0, 1):
        st_ = MM.decode_png(MM.encode_png(w, h, pixels, color_type, ft))
        assert (st_["width"], st_["height"], st_["channels"]) == (w, h, bpp)
        assert st_["pixel_sum"] == sum(pixels)


@given(st.lists(st.integers(-32768, 32767), min_size=0, max_size=200))
@settings(max_examples=100)
def test_wav_roundtrip_property(samples):
    from mysql_cdc_rs_spark.operators import multimodal as MM

    st_ = MM.decode_wav(MM.encode_wav(samples))
    assert st_["n_samples"] == len(samples)
    assert st_["abs_sum"] == sum(abs(s) for s in samples)


@given(st.binary(max_size=300))
@settings(max_examples=200)
def test_multimodal_decode_total(blob):
    """decode_blob never raises on arbitrary bytes for any mime."""
    from mysql_cdc_rs_spark.operators.multimodal import decode_blob

    for mime in ("image/png", "audio/wav", "video/mp4"):
        status, _, feat = decode_blob(blob, mime)
        assert status in ("decoded", "decode_error", "fallback_hash")
        assert feat is None or len(feat) == 8


@given(
    st.binary(max_size=2000),
    st.sampled_from([31, 15, -15]),
    st.sampled_from(
        ["valid", "truncated", "empty", "suffixed", "two_members", "garbage"]
    ),
    st.binary(min_size=1, max_size=40),
    st.integers(0, 10**6),
)
@settings(max_examples=300)
def test_bounded_inflate_equals_zlib_decompress(payload, wbits, shape, extra, cut):
    """Under the cap, http.inflate returns what zlib.decompress returns, and
    raises zlib.error exactly when it does."""
    import zlib

    from mysql_cdc_rs_spark.kernel.http import inflate

    c = zlib.compressobj(6, zlib.DEFLATED, wbits)
    stream = c.compress(payload) + c.flush()
    data = {
        "valid": stream,
        "truncated": stream[: cut % len(stream)],
        "empty": b"",
        "suffixed": stream + extra,
        "two_members": stream + stream,
        "garbage": extra,
    }[shape]

    def outcome(fn):
        try:
            return fn()
        except zlib.error:
            return "zlib.error"

    assert outcome(lambda: inflate(data, wbits)) == outcome(
        lambda: zlib.decompress(data, wbits=wbits)
    )


# --- geometry ----------------------------------------------------------------

_coord = st.integers(-1000, 1000).map(float)
_point = st.tuples(_coord, _coord).map(list)
_ring = st.lists(_point, min_size=2, max_size=5)


@given(
    st.sampled_from(["Point", "LineString", "Polygon", "MultiPoint"]),
    _point, _ring, st.integers(0, 2**31 - 1),
)
@settings(max_examples=150)
def test_geometry_roundtrip_property(kind, p, ring, srid):
    from mysql_cdc_rs_spark.kernel.geometry import (
        encode_geometry,
        parse_mysql_geometry,
    )

    coords = {
        "Point": p,
        "LineString": ring,
        "Polygon": [ring],
        "MultiPoint": ring,
    }[kind]
    g = {"type": kind, "coordinates": coords, "srid": srid}
    assert parse_mysql_geometry(encode_geometry(g)) == g


# --- temporal2 / row codec -----------------------------------------------------

@given(
    st.integers(0, 838), st.integers(0, 59), st.integers(0, 59),
    st.integers(0, 999999), st.integers(0, 6),
)
@settings(max_examples=200)
def test_time2_roundtrip_property(h, mi, s, micros, fsp):
    from mysql_cdc_rs_spark.kernel import row_decoder as R

    buf = R.encode_row([(h, mi, s, micros)], [R.T_TIME2], [fsp])
    (out,), pos = R.decode_row(buf, [R.T_TIME2], [fsp])
    nbytes = (fsp + 1) // 2
    unit = 100 ** (3 - nbytes) if nbytes else None
    expect_us = 0 if nbytes == 0 else (micros // unit) * unit
    assert out == (h, mi, s, expect_us)
    assert pos == len(buf)


@given(st.text(max_size=300))
@settings(max_examples=300)
def test_ws_collapse_equivalence(s):
    """' '.join(s.split()) must equal the regex formula it replaced on the
    hot path (and the DuckDB oracle's regexp_replace + trim twin)."""
    import re

    assert " ".join(s.split()) == re.sub(r"\s+", " ", s).strip()


# --- full typed-row round-trip (incl. NewDate / typed Array / null bitmap) ----

@given(
    st.lists(
        st.one_of(
            st.none(),
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
        ),
        min_size=1,
        max_size=12,
    ),
    st.lists(st.integers(min_value=-(2**15), max_value=2**15 - 1), max_size=6),
    st.tuples(
        st.integers(min_value=1000, max_value=9999),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=28),
    ),
)
def test_row_roundtrip_property(longs, arr, nd):
    """Any mix of nullable LONG cells + a typed SHORT array + a NewDate cell
    round-trips through encode_row/decode_row with the null bitmap intact."""
    from mysql_cdc_rs_spark.kernel import row_decoder as R

    cells = [*longs, arr, nd]
    types = [R.T_LONG] * len(longs) + [R.T_ARRAY, R.T_NEWDATE]
    meta = [0] * len(longs) + [(R.T_SHORT << 16), 0]
    out, pos = R.decode_row(R.encode_row(cells, types, meta), types, meta)
    assert out == cells


@given(
    st.text(
        alphabet="&amplgtqunbsp;#39'x <>\"\t\n",
        max_size=120,
    )
)
def test_entity_passes_equal_single_regex_pass(s):
    """The sequential str.replace entity passes (with &amp; LAST) must be
    byte-identical to the original one-pass regex sub on adversarial
    entity-dense strings — the equivalence the hot-path optimization
    relies on (no pass output except &amp;'s own '&' contains '&' or ';',
    so earlier passes cannot manufacture entities for later ones)."""
    from mysql_cdc_rs_spark.kernel import textextract as T

    want = T._ENTITY_RE.sub(lambda m: T._ENTITIES[m.group(0)], s)
    got = s
    if "&" in got:
        for k, v in T._ENTITY_PASSES:
            got = got.replace(k, v)
    assert got == want


@given(
    st.binary(max_size=48),
    st.binary(max_size=32),
)
def test_sniff_charset_str_bytes_equivalent(ct, body):
    """sniff_charset must return the same (codec, source) whether the
    content-type arrives as raw bytes or as the ascii-lossy-decoded string
    the decode loop stores — the ASCII token class matches identically in
    both representations (U+FFFD can no more join a token than the raw
    byte could)."""
    from mysql_cdc_rs_spark.kernel.charset import sniff_charset

    as_bytes = sniff_charset(ct, body)
    as_str = sniff_charset(ct.decode("ascii", "replace"), body)
    assert as_bytes == as_str


@given(st.binary(max_size=64))
def test_decode_row_safe_total(buf):
    """decode_row_safe never raises, whatever the bytes — it returns cells
    or an error code (the F5 contract for the typed row decoder)."""
    from mysql_cdc_rs_spark.kernel import row_decoder as R

    types = [R.T_LONGLONG, R.T_DECIMAL, R.T_VARCHAR]
    cells, err = R.decode_row_safe(buf, types, [0, 0, 64])
    assert (cells is None) == (err is not None)


@given(st.binary(max_size=64))
def test_decode_row_safe_total_float_json(buf):
    """Totality must also hold for FLOAT/DOUBLE (struct.error is not a
    ValueError) and JSONB (garbage type tags surface as KeyError from
    parse_jsonb) — the cell layouts that historically escaped the contract."""
    from mysql_cdc_rs_spark.kernel import row_decoder as R

    types = [R.T_DOUBLE, R.T_FLOAT, R.T_JSON]
    cells, err = R.decode_row_safe(buf, types, [0, 0, 4])
    assert (cells is None) == (err is not None)


def test_decode_row_safe_truncated_double_and_garbage_json():
    """The two concrete escapes from the round-3 advisory: a truncated
    DOUBLE cell and a garbage JSONB payload both return error rows."""
    from mysql_cdc_rs_spark.kernel import row_decoder as R

    cells, err = R.decode_row_safe(b"\x00\x01\x02", [R.T_DOUBLE], [0])
    assert cells is None and err == "TRUNCATED_ROW"
    # null bitmap 0x00, 4-byte length prefix, then an invalid jsonb body
    bad_json = b"\x00" + (5).to_bytes(4, "little") + b"\xee\x01\x02\x03\x04"
    cells, err = R.decode_row_safe(bad_json, [R.T_JSON], [4])
    assert cells is None and err == "TRUNCATED_ROW"


# --- the decode loop: goldens and batch independence --------------------------

from mysql_cdc_rs_spark.kernel.batchdecode import COLUMNS as _BD_COLS
from mysql_cdc_rs_spark.kernel.batchdecode import decode_batch


def _clear_kernel_caches():
    from mysql_cdc_rs_spark.kernel import charset as _cs
    from mysql_cdc_rs_spark.kernel import http as _http

    _http._HEADER_KEY_CACHE.clear()
    _http._MIME_CACHE.clear()
    _cs._CT_SNIFF_CACHE.clear()


def _rows_independent_of_batch(raws, extensions=None):
    """Each row of one batch equals that row decoded alone, from cold
    module-level header/mime/charset caches: a row's output depends on
    neither its batch neighbours nor what the caches have seen."""
    cols = decode_batch(raws, extensions)
    for i, r in enumerate(raws):
        _clear_kernel_caches()
        alone = decode_batch([r], extensions)
        for c in _BD_COLS:
            assert cols[c][i] == alone[c][0], (i, c, cols[c][i], alone[c][0])


def _generator_mix():
    """The generator's full class mix (html/plain/binary/gzip/redirect/
    errors, every charset family) plus a NULL payload."""
    from mysql_cdc_rs_spark.sources.pages import (
        _CLASS_CDF,
        _LANG_CDF,
        _encode_record,
        _pick,
    )

    raws = []
    for i in range(3000):
        lang = _pick(_LANG_CDF, 7, i, "lang")
        cls = _pick(_CLASS_CDF, 7, i, "cls")
        raws.append(_encode_record(7, i, lang, cls))
    raws.append(None)  # NULL_PAYLOAD leg
    return raws


@given(st.lists(st.binary(max_size=400), max_size=8))
@settings(max_examples=200)
def test_decode_row_independent_of_batch_and_caches_fuzz(raws):
    """Arbitrary bytes, incl. the error rows."""
    _rows_independent_of_batch(raws)


def test_decode_row_independent_of_batch_and_caches_generator_mix():
    _rows_independent_of_batch(_generator_mix())


#: event_type -> sha256 over its rows of the generator mix, in input order:
#: one JSON line per row of the 13 columns, headers as sorted (key, value)
#: pairs.  Recorded from the per-row decoder that preceded the fused loop,
#: where both implementations agreed on every column.
_GENERATOR_MIX_SHA256 = {
    "binary": "a03ce1295c425d6699be7ecbbb3bbad79f85c641d5d2c9457ae4cd2005e8ab63",
    "error_decode": "1cc88600e75bc2ad398e28cf129b56f4f5d734857e22fca4c76ea84ae8403dd4",
    "error_frame": "12471db7444a56086fd992df7290b15b362f786d88073eb61570225559e635ec",
    "error_http": "1dd5da2f542f26d69f62aad35cf1a1693f76a205e30f490ac8cb4188500eca2d",
    "html": "967a1f2c850c2fd0aff881d5c5af9b4d14dfb3ce5cda0e345c7afaf43893c49b",
    "plain": "4173e08af724bc081f701b5cd8e26e0f73f45b18f0343b2a3fbcd321e0426c8a",
    "redirect": "821287d997bf09ffee3ab0aa33dc2a6aecf4bbec71eefa86aa3b2f01afadaae0",
}


def test_decode_generator_mix_golden():
    import hashlib
    import json

    cols = decode_batch(_generator_mix())
    digests: dict = {}
    for i, et in enumerate(cols["event_type"]):
        row = [cols[c][i] for c in _BD_COLS]
        hdrs = cols["headers"][i]
        row[-1] = None if hdrs is None else sorted(hdrs.items())
        line = json.dumps(row, ensure_ascii=False).encode("utf-8") + b"\n"
        digests.setdefault(et, hashlib.sha256()).update(line)
    assert {et: h.hexdigest() for et, h in digests.items()} == _GENERATOR_MIX_SHA256


_GOLDEN_FIELDS = ("event_type", "route", "error", "text", "charset", "content_encoding")


def test_decode_batch_edge_records():
    """Hand-built records targeting the divergence-prone branches:
    content-encoding with trailing whitespace (http.decompress gets the stripped
    dispatch token but the output column is verbatim-lowered), duplicate
    headers (last wins, position of first), unknown encodings, 3xx without
    Location, 4xx with corrupt gzip (decompress runs BEFORE the status
    check), and xhtml mime."""
    import gzip as _gz

    def rec(status, headers, body=b""):
        head = "\r\n".join([f"HTTP/1.1 {status}", *headers]) + "\r\n\r\n"
        return head.encode("ascii") + body

    gz = _gz.compress(b"<html><body>hi &amp; bye</body></html>", mtime=0)
    cases = [
        (rec("200 OK", ["Content-Type: text/html", "Content-Encoding: gzip "], gz),
         ("html", "content_html", None, "hi & bye", "utf-8", "gzip ")),
        (rec("200 OK", ["Content-Type: text/html", "Content-Encoding: GZIP"], gz),
         ("html", "content_html", None, "hi & bye", "utf-8", "gzip")),
        (rec("200 OK", ["Content-Type: text/html", "Content-Encoding: br"], b"x"),
         ("error_decode", "errors", "BAD_GZIP", None, None, "br")),
        (rec("200 OK", ["X-A: 1", "X-A: 2", "Content-Type: text/plain"], b"a  b"),
         ("plain", "content_plain", None, "a b", "utf-8", "identity")),
        (rec("301 Moved", ["Content-Type: text/html"], b"<p>no location</p>"),
         ("html", "content_html", None, "no location", "utf-8", "identity")),
        (rec("404 Not Found", ["Content-Encoding: gzip"], b"\x1f\x8bBROKEN"),
         ("error_decode", "errors", "BAD_GZIP", None, None, "gzip")),
        (rec("200 OK", ["Content-Type: application/xhtml+xml"], b"<p>x&nbsp; y</p>"),
         ("html", "content_html", None, "x y", "utf-8", "identity")),
        (rec("200 OK", ["Content-Type: text/html; charset=klingon-8"], b"<p>z</p>"),
         ("error_decode", "errors", "UNKNOWN_CHARSET", None, "klingon-8", "identity")),
        (rec("200 OK", [], b"no content type"),
         ("binary", "content_binary", None, None, None, "identity")),
        (rec("204 No Content", ["Content-Type: text/plain; charset=utf-16"], b"\x00h\x00i"),
         ("plain", "content_plain", None, "hi", "utf-16-be", "identity")),
    ]
    cols = decode_batch([raw for raw, _ in cases])
    for i, (_, want) in enumerate(cases):
        assert tuple(cols[f][i] for f in _GOLDEN_FIELDS) == want, i
    assert cols["headers"][3] == {"x-a": "2", "content-type": "text/plain"}
    assert list(cols["headers"][3]) == ["x-a", "content-type"]


def test_decode_batch_registered_mime_delegates():
    """A registered mime decoder replaces the built-in dispatch for its
    rows only, with the route override of its event_type, and a decoder
    that raises becomes an error row."""
    from mysql_cdc_rs_spark.kernel import registry as R

    R.clear_extensions()
    try:

        @R.register_mime_decoder("application/json")
        def _json(body, charset):  # noqa: ANN001
            return {"event_type": "json", "text": body.decode("utf-8", "replace")}

        @R.register_mime_decoder("application/x-crash")
        def _boom(body, charset):  # noqa: ANN001
            raise RuntimeError("boom")

        R.register_route("json", "content_json")

        def rec(ct, body):
            return (
                f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n\r\n"
            ).encode() + body

        raws = [
            rec("application/json", b'{"a":1}'),
            rec("application/x-crash", b"x"),
            rec("text/html", b"<p>normal path</p>"),
        ]
        cols = decode_batch(raws, R.snapshot())
    finally:
        R.clear_extensions()
    want = [
        ("json", "content_json", None, '{"a":1}', "utf-8", "identity"),
        ("error_decode", "errors", "EXTENSION_ERROR:RuntimeError", None, "utf-8",
         "identity"),
        ("html", "content_html", None, "normal path", "utf-8", "identity"),
    ]
    got = [tuple(cols[f][i] for f in _GOLDEN_FIELDS) for i in range(3)]
    assert got == want
    # without the snapshot the same rows take the built-in dispatch
    assert decode_batch(raws)["event_type"] == ["binary", "binary", "html"]


@given(
    st.text(
        alphabet="&amplgtqunbsp;#39'x <>\"\t\n",
        max_size=120,
    )
)
def test_entity_passes_order_equivalence(s):
    """Round-5 reorder: &nbsp; before the whitespace collapse, the other
    entities after it (on the shorter collapsed string).  Must be
    byte-identical to the original all-passes-then-collapse order for any
    input: only &nbsp; produces whitespace, and no other pattern or
    replacement contains whitespace, so those passes commute with the
    collapse."""
    from mysql_cdc_rs_spark.kernel import textextract as T

    # original order (round-4 semantics), applied to the raw string
    old = s
    if "&" in old:
        for k, v in T._ENTITY_PASSES:
            old = old.replace(k, v)
    old = " ".join(old.split())

    # new order as implemented in extract_text (post-markup portion)
    new = s
    if "&" in new:
        new = new.replace("&nbsp;", " ")
        new = " ".join(new.split())
        for k, v in T._ENTITY_PASSES_POST_COLLAPSE:
            new = new.replace(k, v)
    else:
        new = " ".join(new.split())

    assert new == old
