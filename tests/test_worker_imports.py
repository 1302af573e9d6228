"""The zip-cache hook of ``mysql_cdc_rs_spark/__init__.py``: an unchanged
zip archive on the import path is not re-read by ``importlib.invalidate_caches()``
(which Spark's Python worker calls at the start of every task), a changed
one is, and every engine Python stage runs with the hook in its worker."""

from __future__ import annotations

import importlib
import json
import os
import sys
import zipfile
import zipimport

import pytest

import mysql_cdc_rs_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily; no hook is installed",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches.__module__ == mysql_cdc_rs_spark.__name__
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_first", "zc_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_first").X == 1

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or real(a))
    importlib.invalidate_caches()  # learns each archive's signature
    assert archive in reads
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zc_second").Y == 2

    os.remove(archive)  # the stat fails: the stock method empties the importer
    importlib.invalidate_caches()
    assert sys.path_importer_cache[archive]._files == {}


def test_hook_is_active_in_engine_python_workers(spark):
    """Each probe runs in the worker of an engine Python stage, from a
    function pickled by value that imports nothing of the engine: the decode
    UDF (through an extension decoder) and a ``map_rows`` stage.  After one
    ``invalidate_caches()``, a second must read no archive of the worker's
    import path (``pyspark.zip``, the package zip and the jars)."""
    from mysql_cdc_rs_spark.functions.udfs import make_decode_udf, map_rows
    from mysql_cdc_rs_spark.kernel import registry as reg

    def probe():
        import importlib
        import zipimport

        importlib.invalidate_caches()
        real, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        return [zipimport.zipimporter.invalidate_caches.__module__, bool(zips), reads]

    want = [mysql_cdc_rs_spark.__name__, True, []]

    @reg.register_mime_decoder("application/x-probe")
    def dec(body, charset):
        return {"event_type": "probe", "text": json.dumps(probe())}

    try:
        page = b"HTTP/1.1 200 OK\r\nContent-Type: application/x-probe\r\n\r\n{}"
        df = spark.createDataFrame([(page,)], "html binary")
        (row,) = df.select(make_decode_udf()("html").alias("d")).collect()
        assert json.loads(row["d"]["text"]) == want
    finally:
        reg.clear_extensions()

    got = map_rows(spark.range(4).repartition(4), lambda i: [(json.dumps(probe()),)], "r string")
    assert [json.loads(r["r"]) for r in got.collect()] == [want] * 4
