"""Typed row decode goldens — mirrors the reference's exact-cell fixture
assertions (/root/reference/tests/src/binlog/test_8_0.rs:72-135: update rows
with before/after images [TinyInt(1), SmallInt(11), MediumInt(111),
Int(1111), BigInt(11111), TinyInt(1)])."""

from __future__ import annotations

import pytest

from mysql_cdc_rs_spark.kernel import row_decoder as R


FIXTURE_TYPES = [R.T_TINY, R.T_SHORT, R.T_INT24, R.T_LONG, R.T_LONGLONG, R.T_TINY]
FIXTURE_META = [0, 0, 0, 0, 0, 0]
FIXTURE_CELLS = [1, 11, 111, 1111, 11111, 1]  # the reference's exact values


def test_reference_fixture_cells_roundtrip():
    buf = R.encode_row(FIXTURE_CELLS, FIXTURE_TYPES, FIXTURE_META)
    cells, pos = R.decode_row(buf, FIXTURE_TYPES, FIXTURE_META)
    assert cells == FIXTURE_CELLS
    assert pos == len(buf)


def test_before_after_images_in_one_payload():
    """UPDATE rows: before,after images decoded back-to-back (W4 pairing)."""
    before = [1, 11, 111, 1111, 11111, 1]
    after = [2, 22, 222, 2222, 22222, 0]
    buf = R.encode_row(before, FIXTURE_TYPES, FIXTURE_META) + R.encode_row(
        after, FIXTURE_TYPES, FIXTURE_META
    )
    b, pos = R.decode_row(buf, FIXTURE_TYPES, FIXTURE_META)
    a, pos = R.decode_row(buf, FIXTURE_TYPES, FIXTURE_META, pos)
    assert (b, a) == (before, after)
    assert pos == len(buf)


def test_nulls_varchar_decimal_unsigned():
    types = [R.T_LONG, R.T_VARCHAR, R.T_NEWDECIMAL, R.T_TINY, R.T_DATE]
    meta = [0, 40, (10 << 8) | 2, 0, 0]
    signed = [True, True, True, False, True]
    cells = [-5, "abcde", "-1234.56", 200, (2025, 8, 16)]
    buf = R.encode_row(cells, types, meta, signedness=signed)
    out, _ = R.decode_row(buf, types, meta, signedness=signed)
    assert out == cells
    # null bitmap: middle column NULL
    cells2 = [7, None, "0.01", 255, None]
    buf2 = R.encode_row(cells2, types, meta, signedness=signed)
    out2, _ = R.decode_row(buf2, types, meta, signedness=signed)
    assert out2 == cells2


def test_temporal2_enum_set_roundtrip():
    """TIME2/DATETIME2/TIMESTAMP2 with fsp + ENUM/SET-via-STRING cells
    (utils.rs:351-470; table_map_event.rs ENUM/SET metadata)."""
    types = [R.T_TIME2, R.T_DATETIME2, R.T_TIMESTAMP2, R.T_STRING, R.T_STRING]
    meta = [4, 6, 6, (R.T_ENUM << 8) | 5, (R.T_SET << 8) | 2]
    cells = [
        (13, 59, 7, 123400),          # fsp=4 keeps 100us units
        (2025, 8, 16, 23, 1, 2, 999999),
        1_700_000_000_123_456,        # epoch micros
        3,                            # ENUM ordinal
        0b1010_0000_0000_0001,        # 2-byte SET mask
    ]
    buf = R.encode_row(cells, types, meta)
    out, pos = R.decode_row(buf, types, meta)
    assert out == cells
    assert pos == len(buf)
    # fsp truncation: fsp=2 stores 10ms units — sub-unit micros are dropped
    buf2 = R.encode_row([(1, 2, 3, 987_654)], [R.T_TIME2], [2])
    assert R.decode_row(buf2, [R.T_TIME2], [2])[0] == [(1, 2, 3, 980_000)]
    # fsp=0 stores no fractional bytes at all
    buf3 = R.encode_row([(1, 2, 3, 999_999)], [R.T_TIME2], [0])
    assert R.decode_row(buf3, [R.T_TIME2], [0])[0] == [(1, 2, 3, 0)]


def test_unsigned_split_matters():
    """Same byte decodes differently by signedness (column_parser.rs:159-191)."""
    buf = R.encode_row([200], [R.T_TINY], [0], signedness=[False])
    assert R.decode_row(buf, [R.T_TINY], [0], signedness=[False])[0] == [200]
    assert R.decode_row(buf, [R.T_TINY], [0], signedness=[True])[0] == [-56]


def test_row_decode_via_spark(spark):
    """Rows decoded distributed via ``map_rows`` — the write_rows event path."""
    from mysql_cdc_rs_spark.functions.udfs import map_rows

    payloads = [
        R.encode_row([i, i * 11, i * 111, i * 1111, i * 11111, i % 2],
                     FIXTURE_TYPES, FIXTURE_META)
        for i in range(1, 51)
    ]
    df = spark.createDataFrame([(i, p) for i, p in enumerate(payloads)],
                               "row_id long, payload binary")

    dec = map_rows(
        df,
        lambda rid, p: [(rid, *R.decode_row(p, FIXTURE_TYPES, FIXTURE_META)[0])],
        "row_id long, c0 int, c1 int, c2 int, c3 long, c4 long, c5 int",
    )
    got = {r["row_id"]: (r["c0"], r["c4"]) for r in dec.collect()}
    assert got[0] == (1, 11111)
    assert got[49] == (50, 50 * 11111)
    assert len(got) == 50


def test_newdate_and_typed_array_roundtrip():
    """NewDate=14 (3-byte packed date) and typed Array=20 (element type in
    the metadata header) round-trip; parity targets
    /root/reference/common/src/binlog/column/column_type.rs:204-259."""
    types = [R.T_NEWDATE, R.T_ARRAY, R.T_ARRAY]
    meta = [0, (R.T_SHORT << 16) | 0, (R.T_VARCHAR << 16) | 64]
    cells = [(2024, 2, 29), [1, -2, 300], ["a", "bc", ""]]
    buf = R.encode_row(cells, types, meta)
    out, pos = R.decode_row(buf, types, meta)
    assert out == cells
    assert pos == len(buf)
    # empty array and NULL array cells
    buf2 = R.encode_row([[], None], [R.T_ARRAY, R.T_ARRAY],
                        [(R.T_LONG << 16), (R.T_LONG << 16)])
    assert R.decode_row(buf2, [R.T_ARRAY, R.T_ARRAY],
                        [(R.T_LONG << 16), (R.T_LONG << 16)])[0] == [[], None]


def test_decode_row_safe_error_rows():
    """F5 policy: unsupported types / truncation come back as error CODES,
    never exceptions (event_decoder.rs:310-330 skip-don't-crash)."""
    # legacy Decimal=0: no cell layout -> UNSUPPORTED_TYPE_0
    cells, err = R.decode_row_safe(b"\x00\x01", [R.T_DECIMAL], [0])
    assert cells is None and err == "UNSUPPORTED_TYPE_0"
    # invalid=243 likewise
    _, err = R.decode_row_safe(b"\x00\x01", [243], [0])
    assert err == "UNSUPPORTED_TYPE_243"
    # truncated LONGLONG payload -> TRUNCATED_ROW
    good = R.encode_row([12345678901], [R.T_LONGLONG], [0])
    cells, err = R.decode_row_safe(good[:-3], [R.T_LONGLONG], [0])
    assert cells is None and err == "TRUNCATED_ROW"
    # the happy path still returns cells
    cells, err = R.decode_row_safe(good, [R.T_LONGLONG], [0])
    assert cells == [12345678901] and err is None
