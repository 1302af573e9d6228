"""MySQL wire-format primitives: length-encoded integers and strings.

Re-implemented from the public MySQL client/server protocol documentation
(https://dev.mysql.com/doc/dev/mysql-server/latest/page_protocol_basic_dt_integers.html).
Parity targets in the reference:
- read_len_enc_num   <- /root/reference/binlog/src/utils.rs:74-94   (C1)
- read/extract_string<- /root/reference/binlog/src/utils.rs:20-26,96-179 (C2)
- parse_string       <- /root/reference/binlog/src/utils.rs:310-317 (C3)
- parse_bit          <- /root/reference/binlog/src/utils.rs:319-323 (C4)
- parse_blob         <- /root/reference/binlog/src/utils.rs:325-330 (C5)

Every function takes ``(buf, pos)`` and returns ``(value, new_pos)`` so the
row decoder walks the payload in one pass with no copies until the final
slice.
"""

from __future__ import annotations

NULL_MARKER = 0xFB


def read_len_enc_num(buf: bytes, pos: int = 0) -> tuple[int | None, int]:
    """Length-encoded integer: 1 byte <0xFB; 0xFB=NULL; 0xFC +2; 0xFD +3; 0xFE +8."""
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == NULL_MARKER:
        return None, pos + 1
    if first == 0xFC:
        return int.from_bytes(buf[pos + 1 : pos + 3], "little"), pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    if first == 0xFE:
        return int.from_bytes(buf[pos + 1 : pos + 9], "little"), pos + 9
    raise ValueError(f"invalid length-encoded int prefix 0x{first:02x}")


def write_len_enc_num(n: int | None) -> bytes:
    """Inverse of read_len_enc_num (fixture/sink encoding)."""
    if n is None:
        return bytes([NULL_MARKER])
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + n.to_bytes(2, "little")
    if n < 1 << 24:
        return b"\xfd" + n.to_bytes(3, "little")
    return b"\xfe" + n.to_bytes(8, "little")


def write_len_enc_string(s: bytes | None) -> bytes:
    if s is None:
        return bytes([NULL_MARKER])
    return write_len_enc_num(len(s)) + s


def read_len_enc_string(buf: bytes, pos: int = 0) -> tuple[bytes | None, int]:
    n, pos = read_len_enc_num(buf, pos)
    if n is None:
        return None, pos
    return buf[pos : pos + n], pos + n


def parse_string(buf: bytes, pos: int, max_len_meta: int) -> tuple[bytes, int]:
    """VARCHAR cell: 1-byte length prefix when max length < 256, else 2-byte LE."""
    if max_len_meta < 256:
        n = buf[pos]
        pos += 1
    else:
        n = int.from_bytes(buf[pos : pos + 2], "little")
        pos += 2
    return buf[pos : pos + n], pos + n


def parse_bit(buf: bytes, pos: int, nbits: int) -> tuple[list[bool], int]:
    """BIT cell: big-endian packed bits, ceil(nbits/8) bytes -> list[bool]."""
    nbytes = (nbits + 7) // 8
    raw = int.from_bytes(buf[pos : pos + nbytes], "big")
    bits = [bool((raw >> i) & 1) for i in range(nbits - 1, -1, -1)]
    return bits, pos + nbytes


def parse_blob(buf: bytes, pos: int, len_bytes: int) -> tuple[bytes, int]:
    """BLOB cell: little-endian length prefix of 1-4 bytes, then raw bytes."""
    n = int.from_bytes(buf[pos : pos + len_bytes], "little")
    pos += len_bytes
    return buf[pos : pos + n], pos + n


def read_bitmap_le(buf: bytes, pos: int, nbits: int) -> tuple[list[bool], int]:
    """Null/columns-present bitmap: little-endian bit order within bytes.

    Bit i of the bitmap = bit (i % 8) of byte (i // 8)
    (parity: /root/reference/binlog/src/utils.rs:207-228).
    """
    nbytes = (nbits + 7) // 8
    chunk = buf[pos : pos + nbytes]
    return [bool((chunk[i >> 3] >> (i & 7)) & 1) for i in range(nbits)], pos + nbytes


# --- STRING metadata disambiguation (SURVEY §2.4 C17) -----------------------
# MySQL packs the REAL type (CHAR vs ENUM vs SET) of a MYSQL_TYPE_STRING cell
# into its 2 metadata bytes, with a bit-split encoding for lengths > 255
# (upstream bug #37426 workaround).  Re-implemented from the public
# libbinlogevents docs; parity:
# /root/reference/binlog/src/row/actual_string_type.rs:7-27.

TYPE_ENUM = 247
TYPE_SET = 248
TYPE_STRING = 254


def actual_string_type(meta0: int, meta1: int) -> tuple[int, int]:
    """(meta byte0, byte1) -> (real_type_code, max_length)."""
    if meta0 in (TYPE_ENUM, TYPE_SET):
        return meta0, meta1
    if (meta0 & 0x30) != 0x30:
        # length > 255: two high bits of the length hide in ~byte0's 0x30
        return meta0 | 0x30, meta1 | (((meta0 & 0x30) ^ 0x30) << 4)
    return meta0, meta1
