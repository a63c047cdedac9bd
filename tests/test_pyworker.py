"""pyworker — the stat-checked ``zipimporter.invalidate_caches``."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from transcriptpipe import pyworker

ROOT = Path(__file__).resolve().parents[1]

lazy_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip directories lazily; nothing patched")


@pytest.fixture()
def count_reads(monkeypatch):
    """Count ``zipimport._read_directory`` calls per archive path."""
    reads: dict[str, int] = {}
    real = zipimport._read_directory

    def counted(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@lazy_zipimport
def test_unchanged_archive_reads_no_directory(tmp_path, monkeypatch, count_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"tpzip_m.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "tpzip_m", raising=False)
    assert importlib.import_module("tpzip_m").X == 1
    # the first invalidation stamps the importer (it was built before it
    # had a stamp); from then on an unchanged archive is not re-read
    importlib.invalidate_caches()
    count_reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert count_reads.get(archive, 0) == 0


@lazy_zipimport
def test_rewritten_archive_refreshes_every_importer(tmp_path, monkeypatch,
                                                     count_reads):
    """Two importers read one archive (its root and the package directory);
    after a rewrite each refreshes its own file list, so new members of both
    import."""
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {"tpzip_pkg/__init__.py": "", "tpzip_pkg/a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("tpzip_pkg", "tpzip_pkg.a", "tpzip_pkg.b", "tpzip_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("tpzip_pkg.a").A == 1
    importlib.invalidate_caches()

    _write_zip(archive, {"tpzip_pkg/__init__.py": "", "tpzip_pkg/a.py": "A = 1\n",
                         "tpzip_pkg/b.py": "B = 2\n", "tpzip_m2.py": "M = 3\n"})
    count_reads.clear()
    importlib.invalidate_caches()
    assert count_reads[archive] == 2
    assert importlib.import_module("tpzip_pkg.b").B == 2
    assert importlib.import_module("tpzip_m2").M == 3


def test_patched_only_before_313():
    """The module replaces ``invalidate_caches`` on CPython < 3.13 and leaves
    ``zipimporter`` untouched on 3.13+ (checked in a 3.13 interpreter when
    one is on PATH)."""
    patched = zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches
    assert patched == (sys.version_info < (3, 13))

    py313 = shutil.which("python3.13")
    if py313 is None:
        pytest.skip("no python3.13 on PATH")
    probe = (
        "import sys, zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "import transcriptpipe\n"
        "assert sys.version_info >= (3, 13), sys.version\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n"
        "assert before.__module__ == 'zipimport'\n"
    )
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    r = subprocess.run([py313, "-c", probe], env=env, capture_output=True,
                       text=True, timeout=60)
    assert r.returncode == 0, r.stderr


def test_python_tasks_read_no_zip_directory(spark):
    """In a reused Python worker, a task's ``importlib.invalidate_caches()``
    calls (PySpark's own at task start plus one in the function) read no zip
    directory: the workers import pyspark from pyspark.zip, which does not
    change between tasks."""
    import pandas as pd

    def reads_per_task(batches):
        import importlib
        import zipimport

        import transcriptpipe  # noqa: F401  (installs the patch)

        box = getattr(zipimport, "_tp_test_reads", None)
        warm = box is not None  # this worker counted since its last task
        if not warm:
            box = zipimport._tp_test_reads = [0]
            real = zipimport._read_directory

            def counted(archive):
                box[0] += 1
                return real(archive)

            zipimport._read_directory = counted
        importlib.invalidate_caches()
        n, box[0] = box[0], 0
        for _ in batches:
            pass
        yield pd.DataFrame({"warm": [warm], "reads": [n]})

    def job():
        return (spark.range(16, numPartitions=16)
                .mapInPandas(reads_per_task, "warm boolean, reads long")
                .toPandas())

    job()
    second = job()
    warm = second[second["warm"]]
    assert len(warm) > 0
    assert warm["reads"].tolist() == [0] * len(warm)
