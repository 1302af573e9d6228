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

import os
import sys
import zipimport

__version__ = "0.1.0"

if sys.version_info < (3, 12):
    _stock_invalidate = zipimport.zipimporter.invalidate_caches
    _read_at: dict[str, tuple[int, int, int]] = {}

    def _invalidate_unless_unchanged(self):
        """Re-read a zip's directory only when the archive changed.

        Spark's Python worker calls ``importlib.invalidate_caches()`` at the
        start of every task (``pyspark.worker_util.setup_spark_files``).
        Before CPython 3.12 each cached zipimporter then re-reads its whole
        archive directory, eagerly: 17 importers over ``pyspark.zip``, the
        py4j zip, this package's zip and the ``spark-core`` jar cost
        0.11-0.22 CPU-s a task on a 4-vCPU VM (CPython 3.11), whatever the
        UDF does.  CPython 3.12 re-reads lazily (gh-103200).  Here an archive is re-read only when its
        ``(st_mtime_ns, st_size, st_ino)`` differs from the one stat'ed
        before its last re-read through this method; otherwise the importer
        takes the directory already cached for that archive.  A failed
        ``stat`` falls back to the stock method.

        Workers install this when they import the package, i.e. while a
        fresh worker's first task unpickles its function, after that
        task's own invalidation.  So each archive is still read in full by
        the first task, and once more by the next task to learn its
        signature; every later task in the same worker reads none.
        """
        try:
            st = os.stat(self.archive)
        except OSError:
            return _stock_invalidate(self)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _read_at.get(self.archive) == sig:
            self._files = files
            return
        # stat'ed before the read: a write racing the read changes the
        # signature again, so the next call re-reads rather than trusting
        # a directory older than its signature
        _stock_invalidate(self)
        _read_at[self.archive] = sig

    zipimport.zipimporter.invalidate_caches = _invalidate_unless_unchanged
