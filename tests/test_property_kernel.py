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
    parse_record now stores — the ASCII token class matches identically in
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


# --- round-5 fused batch kernel: byte-identity to decode_page -----------------

from mysql_cdc_rs_spark.kernel.batchdecode import COLUMNS as _BD_COLS
from mysql_cdc_rs_spark.kernel.batchdecode import decode_batch


def _batch_equals_per_row(raws, mime_decoders=None):
    cols = decode_batch(raws, mime_decoders)
    want = [decode_page(r) for r in raws]
    for c in _BD_COLS:
        got_col = cols[c]
        want_col = [w[c] for w in want]
        assert got_col == want_col, (c, got_col[:3], want_col[:3])


@given(st.lists(st.binary(max_size=400), max_size=8))
@settings(max_examples=200)
def test_decode_batch_equals_decode_page_fuzz(raws):
    """decode_batch is a fused re-statement of [decode_page(r) for r in rs];
    arbitrary bytes must produce identical columns (incl. the error rows)."""
    _batch_equals_per_row(raws)


def test_decode_batch_equals_decode_page_generator_mix():
    """Full generator class mix (html/plain/binary/gzip/redirect/errors,
    every charset family) — the corpus-shaped identity gate."""
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
    _batch_equals_per_row(raws)


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
    raws = [
        rec("200 OK", ["Content-Type: text/html", "Content-Encoding: gzip "], gz),
        rec("200 OK", ["Content-Type: text/html", "Content-Encoding: GZIP"], gz),
        rec("200 OK", ["Content-Type: text/html", "Content-Encoding: br"], b"x"),
        rec("200 OK", ["X-A: 1", "X-A: 2", "Content-Type: text/plain"], b"a  b"),
        rec("301 Moved", ["Content-Type: text/html"], b"<p>no location</p>"),
        rec("404 Not Found", ["Content-Encoding: gzip"], b"\x1f\x8bBROKEN"),
        rec("200 OK", ["Content-Type: application/xhtml+xml"], b"<p>x&nbsp; y</p>"),
        rec("200 OK", ["Content-Type: text/html; charset=klingon-8"], b"<p>z</p>"),
        rec("200 OK", [], b"no content type"),
        rec("204 No Content", ["Content-Type: text/plain; charset=utf-16"], b"\x00h\x00i"),
    ]
    _batch_equals_per_row(raws)


def test_decode_batch_registered_mime_delegates():
    """A registered mime decoder must behave identically through
    decode_batch (which delegates such rows to decode_page) — including
    the crash-isolation contract."""
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
        mds = dict(R._MIME_DECODERS)  # noqa: SLF001
        _batch_equals_per_row(raws, mds)
        cols = decode_batch(raws, mds)
        assert cols["event_type"] == ["json", "error_decode", "html"]
        assert cols["route"][0] == "content_json"
        assert cols["error"][1] == "EXTENSION_ERROR:RuntimeError"
    finally:
        R.clear_extensions()


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
