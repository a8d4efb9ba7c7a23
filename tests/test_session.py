"""Python task start-up: the worker daemon that ``get_spark`` installs must
not re-read the zip archives on ``sys.path`` before every task."""

import importlib
import sys
import zipfile
import zipimport

from tantivy_spark import worker_daemon


def _count_directory_reads(fn) -> int:
    reads = [0]
    original = zipimport._read_directory

    def counting(path):
        reads[0] += 1
        return original(path)

    zipimport._read_directory = counting
    try:
        fn()
    finally:
        zipimport._read_directory = original
    return reads[0]


def test_worker_task_rereads_no_zip_directory(spark):
    def probe(batches):   # nested: shipped to the worker by value
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = [0]
        original = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"reads": [reads[0]], "importers": [importers]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "reads long, importers long").collect()[0])
    assert row["importers"] > 0        # the worker imports from pyspark.zip
    assert row["reads"] == 0


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zc_m"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_m", "zc_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zc_m")
    importer = sys.path_importer_cache[archive]
    invalidate = worker_daemon.invalidate_caches

    # the first call reads and stamps the archive; an unchanged one is
    # never read again
    assert _count_directory_reads(lambda: invalidate(importer)) == 1
    assert _count_directory_reads(lambda: invalidate(importer)) == 0
    assert _count_directory_reads(lambda: invalidate(importer)) == 0

    _write_zip(archive, ["zc_m", "zc_m2"])      # the size changes
    assert _count_directory_reads(lambda: invalidate(importer)) == 1
    assert importlib.import_module("zc_m2").NAME == "zc_m2"
