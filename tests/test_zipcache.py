"""bento_spark.zipcache: a zipimporter re-reads its archive only when the
archive changed on disk.

The unit tests need no Spark: they import a package from a zip built here
and count directory reads through a monkeypatched
``zipimport._read_directory``. The Spark test has every Python worker that
ran a bento_spark pandas UDF count, the same way, how many archives it had
already read were read again by ``importlib.invalidate_caches()``: none.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from bento_spark import zipcache

PKG = "zipcache_probe_pkg"


def _write_zip(path: str, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", f"VALUE = {value!r}\n")
        z.writestr(f"{PKG}/extra.py", "")


def _importers(archive: str) -> list[zipimport.zipimporter]:
    return [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """A zip holding PKG (and PKG.extra) on sys.path, imported once; yields
    (archive, reads), where reads lists every directory read of any zip."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "old")
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(f"{PKG}.extra")
    assert importlib.import_module(PKG).VALUE == "old"
    # one importer for the archive root, one for the package directory
    assert len(_importers(archive)) == 2
    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or real(a))
    yield archive, reads
    for name in (PKG, f"{PKG}.extra"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    zipcache._last.pop(archive, None)


def test_rule_is_installed():
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
    assert zipimport._read_directory is zipcache._read_directory


def test_unchanged_zip_is_not_reread(zipped):
    archive, reads = zipped
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_rewritten_zip_is_reread_once_and_imports_see_it(zipped):
    archive, reads = zipped
    before = os.stat(archive)
    _write_zip(archive, "new content, longer than the old one")
    assert os.stat(archive).st_size != before.st_size
    importlib.invalidate_caches()
    # the first importer re-reads; the second one takes that same read
    assert reads.count(archive) == 1
    a, b = _importers(archive)
    assert a._files is b._files is zipimport._zip_directory_cache[archive]
    sys.modules.pop(PKG, None)
    assert importlib.import_module(PKG).VALUE == "new content, longer than the old one"
    # and the new archive is now the unchanged one
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_replaced_zip_of_same_size_is_reread(zipped, tmp_path):
    archive, reads = zipped
    staged = str(tmp_path / "staged.zip")
    _write_zip(staged, "neo")
    assert os.stat(staged).st_size == os.stat(archive).st_size
    os.replace(staged, archive)  # a new inode, as a re-shipped --py-files archive gets
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    sys.modules.pop(PKG, None)
    assert importlib.import_module(PKG).VALUE == "neo"


def test_deleted_zip_falls_back_to_the_stdlib(zipped):
    archive, reads = zipped
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert all(f._files == {} for f in _importers(archive))


def test_spark_workers_skip_rereads_of_unchanged_zips(spark):
    from bento_spark.audio.generate import clip_row_pandas

    def clips_and_rereads(batches):
        import importlib
        import os
        import zipimport

        from bento_spark import zipcache

        for pdf in batches:
            clips = clip_row_pandas(pdf["id"].to_numpy())
            real, reads = zipimport._read_directory, []
            zipimport._read_directory = lambda a: reads.append(a) or real(a)
            try:
                # a reused worker skips in the first call; a fresh one reads
                # here the archives pyspark read before bento_spark was
                # imported, and skips in the second call
                rereads = 0
                for _ in range(2):
                    known, reads[:] = set(zipcache._last), []
                    importlib.invalidate_caches()
                    rereads += sum(a in known for a in reads)
                tracked = len(known)
            finally:
                zipimport._read_directory = real
            yield pd.DataFrame(
                {
                    "pid": [os.getpid()],
                    "clips": [len(clips)],
                    "rule": [zipimport.zipimporter.invalidate_caches.__module__],
                    "tracked": [tracked],
                    "rereads": [rereads],
                }
            )

    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInPandas(clips_and_rereads, "pid long, clips long, rule string, tracked long, rereads long")
        .collect()
    )
    assert sum(r.clips for r in rows) == 64
    assert len(rows) >= 8
    assert {r.rule for r in rows} == {"bento_spark.zipcache"}
    # every worker tracks the zips on its path (pyspark.zip, py4j) ...
    assert all(r.tracked > 0 for r in rows), rows
    # ... and none of them re-read an archive that had not changed
    assert [r.rereads for r in rows] == [0] * len(rows), rows
