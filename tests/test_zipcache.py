"""``zipcache``: a zip archive on ``sys.path`` is re-read by
``importlib.invalidate_caches()`` only when it changed, in the driver and in
Spark's Python workers."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import flink_1_6_0_spark  # noqa: F401  (installs the patch)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 re-reads zip archives lazily"
)


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "shipped.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zc_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_first").VALUE == 1
        importlib.invalidate_caches()
        reads: list[str] = []
        read = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda path: reads.append(path) or read(path)
        )
        importlib.invalidate_caches()
        assert archive not in reads

        # the addPyFile contract: a rewritten archive is re-read and its new
        # module imports
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zc_first.py", "VALUE = 1\n")
            z.writestr("zc_second.py", "VALUE = 2\n")
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zc_second").VALUE == 2
    finally:
        for name in ("zc_first", "zc_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_worker_task_setup_rereads_no_archive(spark):
    """In a Python worker that has imported the engine, as every engine UDF
    does, the ``importlib.invalidate_caches()`` that PySpark runs at the
    start of each task reads no zip directory."""

    def body(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import flink_1_6_0_spark  # noqa: F401

        # the previous task's setup
        importlib.invalidate_caches()
        zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        read, n = zipimport._read_directory, [0]

        def counting(archive):
            n[0] += 1
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        patched = getattr(zipimport.zipimporter.invalidate_caches, "_stamped", False)
        yield pd.DataFrame({"zips": [zips], "reads": [n[0]], "patched": [patched]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(body, "zips long, reads long, patched boolean")
        .collect()[0]
    )
    if row.zips == 0:
        pytest.skip("the Python worker has no zip importer on sys.path")
    assert row.reads == 0, f"{row.reads} zip directory reads over {row.zips} importers"
    assert row.patched
