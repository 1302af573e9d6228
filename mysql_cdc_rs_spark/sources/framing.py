"""Frame splitter: packed multi-record byte blobs -> one row per record.

Parity (SURVEY §2.1 S3/S4): the reference frames a raw byte stream into
events by reading each header's length field and slicing, carrying an
incomplete tail over to the next chunk
(/root/reference/binlog/src/events/event_raw.rs:55-127,
 /root/reference/binlog/src/decoder/bytes_binlog_reader.rs:70-107).

Spark restatement: blobs arrive as rows of a binary column (one blob = one
"chunk", e.g. a WARC segment holding many HTTP records).  Framing runs
inside ``functions.udfs.map_rows`` — embarrassingly parallel, no shuffle.
Because each blob is self-contained in the table there is no cross-row
remainder; WITHIN a blob, a truncated trailing record is surfaced as a
``truncated_tail`` error row (the reference's UnexpectedEof skip), never an
exception.

Record layout uses HTTP framing with an explicit Content-Length, so the
splitter is: parse header block -> body = Content-Length bytes -> next
record starts immediately after.
"""

from __future__ import annotations

import re

from mysql_cdc_rs_spark.functions.udfs import map_rows

# no ^ anchor: .match(blob, pos) anchors at pos, but ^ would still demand
# position 0 and break every record after the first
_STATUS_RE = re.compile(rb"HTTP/\d\.\d[ \t]+\d{3}")
_CLEN_RE = re.compile(rb"\r\ncontent-length:[ \t]*(\d+)", re.IGNORECASE)

FRAMED_SCHEMA = (
    "chunk_id long, record_idx int, record binary, frame_error string"
)


def split_records(blob: bytes) -> tuple[list[bytes], str | None]:
    """Split one packed blob into records; returns (records, tail_error)."""
    records: list[bytes] = []
    pos = 0
    n = len(blob)
    while pos < n:
        if not _STATUS_RE.match(blob, pos):
            return records, "BAD_FRAME_START"
        head_end = blob.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return records, "TRUNCATED_HEADER"
        m = _CLEN_RE.search(blob, pos, head_end + 2)
        body_len = int(m.group(1)) if m else 0
        rec_end = head_end + 4 + body_len
        if rec_end > n:
            return records, "TRUNCATED_TAIL"
        records.append(blob[pos:rec_end])
        pos = rec_end
    return records, None


def frame_blobs(df):
    """DataFrame[chunk_id, blob] -> DataFrame[chunk_id, record_idx, record, err].

    One output row per framed record; a chunk with a framing error emits its
    good prefix records plus one error row (frame_error set, record NULL).
    """

    def frame(cid, blob):
        if blob is None:
            yield cid, -1, None, "NULL_CHUNK"
            return
        records, err = split_records(blob)
        for i, rec in enumerate(records):
            yield cid, i, rec, None
        if err is not None:
            yield cid, len(records), None, err

    return map_rows(df.select("chunk_id", "blob"), frame, FRAMED_SCHEMA)


def pack_records(records: list[bytes]) -> bytes:
    """Inverse (test helper): concatenate records into one chunk blob."""
    return b"".join(records)
