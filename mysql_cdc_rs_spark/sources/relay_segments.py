"""Relay-log-style segment files: CRC-checked append-only binary storage.

Parity (SURVEY §2.1 S7/S8, §2.3 F6): the reference persists decoded events
to segment files with a magic header, per-record CRC32 and size-based
rollover (/root/reference/relay_log/src/storage/relay_log_storage.rs:85-124,
/root/reference/relay_log/src/storage/segment.rs:137-140,229,328-345), using
little-endian fixed/var-int codecs
(/root/reference/relay_log/src/codec/binary_codec.rs:41-93).

In the Spark engine the PRODUCTION sink is Iceberg/Parquet (transactional
append subsumes segment+CRC).  This module exists for (a) capability parity —
a user of the reference's relay log can round-trip the same byte format, and
(b) as an export/import side-channel (e.g. shipping decoded events to a
non-Spark consumer).  ``read_segment`` reads a segment back, record by record,
as the reference's recovery scan does.

Segment layout:
    magic  4B  b"RLSG"
    version u8
    records: [ total_len u32 LE | crc32 u32 LE | payload bytes ]*
crc32 covers the payload only; a record whose CRC mismatches is surfaced as
an error entry (skip-don't-crash, like the reference's recovery scan).
"""

from __future__ import annotations

import io
import os
import zlib
from dataclasses import dataclass

MAGIC = b"RLSG"
VERSION = 1
HEADER_LEN = 5
REC_OVERHEAD = 8  # len u32 + crc u32

DEFAULT_SEGMENT_BYTES = 4 * 1024 * 1024  # reference uses size-based rollover


def encode_record(payload: bytes) -> bytes:
    return (
        len(payload).to_bytes(4, "little")
        + zlib.crc32(payload).to_bytes(4, "little")
        + payload
    )


def decode_records(buf: bytes):
    """Yield (payload|None, error|None) for each record in a segment body."""
    pos = 0
    n = len(buf)
    while pos < n:
        if pos + REC_OVERHEAD > n:
            yield None, "TRUNCATED_RECORD_HEADER"
            return
        ln = int.from_bytes(buf[pos : pos + 4], "little")
        crc = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        start = pos + REC_OVERHEAD
        end = start + ln
        if end > n:
            yield None, "TRUNCATED_RECORD_BODY"
            return
        payload = buf[start:end]
        if zlib.crc32(payload) != crc:
            yield None, "CRC_MISMATCH"
        else:
            yield payload, None
        pos = end


@dataclass
class SegmentWriter:
    """Append-only writer with size-based segment rollover."""

    base_dir: str
    segment_bytes: int = DEFAULT_SEGMENT_BYTES
    _seg_idx: int = 0
    _cur: io.BufferedWriter | None = None
    _cur_size: int = 0

    def __post_init__(self):
        os.makedirs(self.base_dir, exist_ok=True)

    def _open_next(self):
        if self._cur:
            self._cur.close()
        path = os.path.join(self.base_dir, f"segment_{self._seg_idx:06d}.rlsg")
        self._seg_idx += 1
        self._cur = open(path, "wb")
        self._cur.write(MAGIC + bytes([VERSION]))
        self._cur_size = HEADER_LEN

    def append(self, payload: bytes) -> None:
        rec = encode_record(payload)
        if self._cur is None or self._cur_size + len(rec) > self.segment_bytes:
            self._open_next()
        self._cur.write(rec)
        self._cur_size += len(rec)

    def close(self) -> None:
        if self._cur:
            self._cur.close()
            self._cur = None


def _header_error(head: bytes) -> str | None:
    """A segment header's error, None when valid; a torn one is BAD_MAGIC."""
    if len(head) < HEADER_LEN or head[:4] != MAGIC:
        return "BAD_MAGIC"
    if head[4] != VERSION:
        return "BAD_VERSION"
    return None


def read_segment(path: str):
    """Yield (payload|None, error|None) from one segment file."""
    with open(path, "rb") as f:
        err = _header_error(f.read(HEADER_LEN))
        if err:
            yield None, err
            return
        yield from decode_records(f.read())
