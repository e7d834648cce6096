"""The Python worker entry's zip-directory memo.

The unit tests patch ``zipimport`` in a subprocess, so this pytest
process's import machinery is left alone. The in-session test reads the
memo from inside a real Python worker.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PRELUDE = """
import importlib, os, sys, tempfile, zipfile, zipimport
import pyspark_ml_features_spark.worker as worker

tmp = tempfile.mkdtemp()

def write_zip(name, entry, source=""):
    path = os.path.join(tmp, name)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(entry, source)
    return path
"""


def _run(body: str) -> None:
    code = PRELUDE + textwrap.dedent(body)
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]


def test_unchanged_archive_is_parsed_once():
    _run("""
        path = write_zip("a.zip", "a.py")
        first = zipimport._read_directory(path)
        assert zipimport._read_directory(path) is first
        assert len(worker._directories) == 1
    """)


def test_rewritten_archive_is_read_again():
    _run("""
        path = write_zip("a.zip", "a.py")
        assert "a.py" in zipimport._read_directory(path)
        write_zip("a.zip", "b_longer_name.py")
        files = zipimport._read_directory(path)
        assert "b_longer_name.py" in files and "a.py" not in files
    """)


def test_missing_archive_raises_zip_import_error():
    _run("""
        try:
            zipimport._read_directory(os.path.join(tmp, "missing.zip"))
        except zipimport.ZipImportError:
            pass
        else:
            raise AssertionError("no ZipImportError")
        importlib.invalidate_caches()  # zipimporter swallows it, as before
    """)


def test_zip_added_to_path_imports_after_invalidate_caches():
    # the order of pyspark.worker_util.setup_spark_files: add the zip to
    # sys.path, invalidate the import caches, then import from it
    _run("""
        for name in ("late_one", "late_two"):
            sys.path.insert(0, write_zip(name + ".zip", name + ".py",
                                         f"VALUE = {name!r}"))
            importlib.invalidate_caches()
            assert importlib.import_module(name).VALUE == name
    """)


def test_session_workers_memoize_zip_directories(spark):
    def probe(batches):
        # read, never import, the worker module: importing it here would
        # install the memo even in a worker the daemon started without it
        import zipimport

        import pandas as pd

        worker = sys.modules.get("pyspark_ml_features_spark.worker")
        for _ in batches:
            yield pd.DataFrame({"read_directory": [zipimport._read_directory.__module__],
                                "archives": [len(worker._directories) if worker else -1]})

    df = spark.range(1, numPartitions=1)
    runs = [df.mapInPandas(probe, "read_directory string, archives long").collect()[0]
            for _ in range(2)]
    assert runs[0].read_directory == "pyspark_ml_features_spark.worker"
    assert runs[0].archives > 0
    assert runs[1].archives == runs[0].archives
