"""Arrow UDFs wrapping the pure-Python kernel, and the one row map.

Hot-path rule (BASELINE.json input_hint): NO per-row Python outside these
Arrow-batched UDFs.  Each UDF receives a ``pyarrow.Array`` per Arrow batch
(bounded by spark.sql.execution.arrow.maxRecordsPerBatch), applies the
kernel per element inside the batch and returns an Arrow array built from
the kernel's column lists — the Spark-side cost model is identical to the
reference's per-event decode loop
(/root/reference/binlog/src/decoder/event_decoder.rs:153-360), but batches
move JVM<->Python as Arrow buffers, not pickled rows, with no pandas frame
on either side.

Every other executor-side Python step is a row map through ``map_rows``:
one ``mapInArrow`` idiom, Arrow in and Arrow out, with the output schema
declared once as a DDL string.

Errors NEVER raise: they surface in the ``error`` struct field and are
filtered to the error route (mirrors the reference's skip-don't-crash
policy, /root/reference/binlog/src/decoder/event_decoder.rs:310-330).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import (
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from mysql_cdc_rs_spark.kernel import jsonb as _jsonb
from mysql_cdc_rs_spark.kernel.batchdecode import FIELDS, decode_batch

_SPARK_TYPE = {
    int: IntegerType(),
    str: StringType(),
    dict: MapType(StringType(), StringType()),
}
DECODED_SCHEMA = StructType([StructField(n, _SPARK_TYPE[t]) for n, t in FIELDS])
_DECODED_ARROW = to_arrow_type(DECODED_SCHEMA)


def make_decode_udf():
    """Build the decode UDF, snapshotting the extension registries.

    Executors run separate Python workers, so driver-side
    ``register_mime_decoder`` calls would otherwise be invisible there.
    Capturing ``registry.snapshot()`` in the closure makes cloudpickle ship
    the registered functions BY VALUE with the UDF — the Spark analog of the
    reference handing its decoder registry to each reader thread
    (/root/reference/binlog/src/decoder/event_decoder_registry.rs:65-140).
    The snapshot is an argument of every batch's decode, so a reused worker
    never sees another plan's decoders or route overrides.
    """
    from mysql_cdc_rs_spark.kernel import registry as _reg

    extensions = _reg.snapshot()

    @arrow_udf(DECODED_SCHEMA)
    def _decode(html: pa.Array) -> pa.Array:
        # fused batch loop (kernel/batchdecode.py): its column lists become
        # the struct's children directly
        cols = decode_batch(html.to_pylist(), extensions)
        return pa.StructArray.from_arrays(
            [pa.array(cols[f.name], f.type) for f in _DECODED_ARROW],
            fields=list(_DECODED_ARROW),
        )

    # asNondeterministic stops the optimizer pushing filters on decoded
    # columns BELOW the projection, which duplicated the whole decode as a
    # second ArrowEvalPython node (every filtered pipeline paid the UDF
    # twice per row: pipeline_text_md5, curate's event_type gate).  The
    # function itself is pure; the flag only pins its evaluation count.
    return _decode.asNondeterministic()


@arrow_udf(StringType())
def jsonb_decode_udf(payload: pa.Array) -> pa.Array:
    """MySQL-JSONB binary -> canonical JSON string (kernel C13)."""
    out = []
    for b in payload.to_pylist():
        if b is None:
            out.append(None)
            continue
        try:
            out.append(_jsonb.canonical_json(_jsonb.parse_jsonb(b)))
        except Exception:
            out.append(None)
    return pa.array(out, pa.string())


@arrow_udf(StringType())
def jsonb_path_udf(payload: pa.Array, path: pa.Array) -> pa.Array:
    """extract_by_path over JSONB binary (kernel C14)."""
    out = []
    for b, p in zip(payload.to_pylist(), path.to_pylist()):
        if b is None or p is None:
            out.append(None)
            continue
        try:
            v = _jsonb.extract_by_path(_jsonb.parse_jsonb(b), p)
            out.append(None if v is None else _jsonb.canonical_json(v))
        except Exception:
            out.append(None)
    return pa.array(out, pa.string())


def map_rows(df, fn, ddl: str):
    """``df`` -> DataFrame[``ddl``]: ``fn(*row)`` per input row, in ``df``'s
    column order, returns an iterable of output tuples in ``ddl``'s column
    order — none, one or many per input row.

    A ``mapInArrow``: each Arrow batch's columns arrive as Python values
    (``to_pylist``: ints, bytes, datetimes, None) and the batch's
    output rows leave as one ``RecordBatch`` of ``ddl``'s Arrow schema,
    empty when ``fn`` emitted nothing.
    """
    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def run(batches):
        # ``_map_batch`` pickles by reference, so a worker unpickling ``run``
        # imports this package, and with it the zip-cache hook of
        # ``mysql_cdc_rs_spark/__init__.py``, whatever module ``fn`` is from
        for batch in batches:
            yield _map_batch(fn, schema, batch)

    return df.mapInArrow(run, ddl)


def _map_batch(fn, schema: pa.Schema, batch: pa.RecordBatch) -> pa.RecordBatch:
    rows = zip(*(col.to_pylist() for col in batch.columns))
    out = [r for row in rows for r in fn(*row)]
    cols = list(zip(*out)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )
