"""Pure-Python decode kernel.

Every function here is a deterministic ``bytes -> value`` transform with NO
Spark dependency.  The same module is imported by:

1. the Arrow UDFs in ``mysql_cdc_rs_spark.functions.udfs`` (applied per
   Arrow batch on executors), and
2. the pytest golden oracle (applied row-at-a-time on the driver),

which is how the north rule's "byte-identical extracted text per url"
invariant is guaranteed *by construction* rather than by testing luck.

Capability parity map (reference = rust-us/mysql-cdc-rs @ /root/reference):
- http.py          event-header framing consts <- binlog/src/events/event_header.rs:205-282
- charset.py       charset id -> codec + sniff <- binlog/src/column/charset.rs:38-200
- textextract.py   lossy text extraction       <- binlog/src/utils.rs:96-106 (lossy UTF-8 choice)
- varint.py        length-encoded ints/strings <- binlog/src/utils.rs:74-179
- temporal.py      packed date/time decoders   <- binlog/src/utils.rs:332-470
- mysql_decimal.py packed NewDecimal           <- binlog/src/row/decimal.rs:10-106
- jsonb.py         binary-JSON nested decode   <- binlog/src/column/decoders/json.rs:18-190
- batchdecode.py   the one decode loop: grok +  <- binlog/src/decoder/event_decoder.rs:153-360
                   dispatch + text + routing
- decode.py        event taxonomy + routes; decode_page = one row of the loop

All are re-implementations from the publicly documented MySQL binlog wire
format and standard HTTP/WARC layout — no reference code is copied.
"""

from mysql_cdc_rs_spark.kernel.decode import decode_page  # noqa: F401
