"""Decode stage: pages -> decoded event rows (SURVEY §2.2 P1-P5).

One wide projection applies the vectorized decode UDF, flattens the struct,
and derives the routing/partitioning columns.  Everything after the UDF is
pure Column work (whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_cdc_rs_spark.functions.columns import host_of_url, tld_of_url, url_bucket
from mysql_cdc_rs_spark.functions.udfs import make_decode_udf


def decode_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> decoded event DataFrame.

    Output columns:
      url, warc_ts, lang, url_bucket, host, tld, raw_len,
      status, mime, charset, charset_source, content_encoding,
      header_len, body_len, text, title, event_type, route, error
    (``text`` here is the DECODED text — the input's ``text`` column is kept
     as ``text_expected`` for invariant checks and dropped by the router.)
    """
    # built at plan time: extensions registered by then ship with the UDF
    d = pages.withColumn("decoded", make_decode_udf()(F.col("html")))
    return d.select(
        "url",
        "warc_ts",
        "lang",
        url_bucket(F.col("url")).alias("url_bucket"),
        host_of_url(F.col("url")).alias("host"),
        tld_of_url(F.col("url")).alias("tld"),
        F.length("html").alias("raw_len"),
        F.col("text").alias("text_expected"),
        "decoded.*",
    )


def split_errors(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Hot path keeps decoding; errors go to a side output (F5 semantics)."""
    ok = decoded.filter(F.col("error").isNull() & (F.col("status") < 400))
    err = decoded.filter(F.col("error").isNotNull() | (F.col("status") >= 400))
    return ok, err
