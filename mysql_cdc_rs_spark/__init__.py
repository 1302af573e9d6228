"""mysql_cdc_rs_spark — a PySpark-native parse → enrich → route → aggregate engine.

A from-scratch re-expression of the data-processing capabilities of
rust-us/mysql-cdc-rs (a binary log-decode pipeline) as a partition-parallel
Spark DataFrame pipeline over Common-Crawl-style web pages:

- ``kernel/``     pure-Python decode kernel (header grok, charset sniff, text
                  extraction, MySQL-wire scalar decoders).  Imported by BOTH
                  the Arrow UDFs and the pytest oracle, so
                  byte-identical per-url text is guaranteed by construction.
- ``functions/``  Spark column expressions + Arrow UDFs (``arrow_udf``).
- ``sources/``    deterministic synthetic ``pages`` generator, dimension
                  tables (Arrow local relations), Iceberg-or-Parquet
                  catalog shim, testdata loaders.
- ``operators/``  decode, broadcast-enrich, fan-out routing, metric
                  aggregation, before/after diff, dedup, similarity search.
- ``plans/``      end-to-end pipeline assembly + checkpoint-resume manifest.
- ``streaming/``  Structured Streaming variant of the pipeline.

Design stance (see SURVEY.md §4): everything the reference hand-builds for
single-node throughput (object pools, slab allocators, LRU schema caches,
lock-free maps) is replaced by Spark platform features (Tungsten/Arrow memory,
broadcast hash joins, AQE).  The only custom work is the vectorized decode
kernel, explicit skew salting, and checkpoint-manifest resume.
"""

__version__ = "0.1.0"
