"""The Python worker daemon (birli_spark.pyworker): a zipimporter
re-reads its archive's directory only when the archive changed, the
session's workers run under it, and importing it stays fork-safe."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from birli_spark import pyworker


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pw_old_mod.py", "X = 1\n")
    monkeypatch.setattr(pyworker, "_read_stamps", {})
    importer = zipimport.zipimporter(archive)
    monkeypatch.setattr(sys, "path", [archive] + sys.path)
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)
    monkeypatch.delitem(sys.modules, "pw_new_mod", raising=False)
    reads = _count_reads(monkeypatch)

    pyworker.invalidate_caches(importer)   # first call: no stamp yet
    assert reads == [archive]
    for _ in range(3):                     # unchanged archive
        pyworker.invalidate_caches(importer)
    assert reads == [archive]

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("pw_new_mod.py", "Y = 2\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    pyworker.invalidate_caches(importer)
    assert reads == [archive, archive]
    assert importlib.import_module("pw_new_mod").Y == 2


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython >= 3.12 re-reads zip directories lazily")
def test_session_workers_skip_zip_rereads(spark):
    """Each task already ran PySpark's per-task invalidate_caches; one
    more must not re-read any archive (the stock daemon re-reads
    pyspark.zip once per cached zipimporter)."""
    def count(batches):
        n = 0
        read = zipimport._read_directory

        def counted(path):
            nonlocal n
            n += 1
            return read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [n]})

    counts = [r.n for r in spark.range(0, 4, 1, 4)
              .mapInPandas(count, "n int").collect()]
    assert counts == [0, 0, 0, 0]


def test_import_leaves_pandas_and_pyarrow_out():
    """The daemon forks every worker; pyarrow's thread pools are not
    fork-safe, so importing the daemon module must not load them."""
    code = ("import sys, birli_spark.pyworker; "
            "print(sorted({'pandas', 'pyarrow'} & set(sys.modules)))")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"
