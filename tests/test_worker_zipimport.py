"""A Python worker re-reads a zip archive's directory only when the archive
changed (``entitysummarization_spark/_zipimport.py``)."""

import importlib.util
import zipfile
import zipimport

import pyarrow as pa

import entitysummarization_spark
from entitysummarization_spark import _zipimport


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value}\n")


def test_archive_reread_only_when_changed(tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zmod_a": 1})
    importer = zipimport.zipimporter(str(archive))

    _zipimport.invalidate_caches(importer)
    files = importer._files
    _zipimport.invalidate_caches(importer)
    assert importer._files is files
    assert importer.find_spec("zmod_b") is None

    _write_zip(archive, {"zmod_a": 1, "zmod_b": 2})
    _zipimport.invalidate_caches(importer)
    spec = importer.find_spec("zmod_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.VALUE == 2

    # an archive that cannot be stat'ed is re-read on every call
    archive.unlink()
    _zipimport.invalidate_caches(importer)
    assert importer._files == {}


def test_worker_tasks_reuse_archive_directories(spark):
    def report(batches):
        # referencing the package makes the task import it on unpickling
        assert entitysummarization_spark.__version__
        module = zipimport.zipimporter.invalidate_caches.__module__
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"module": module}])

    df = spark.range(4, numPartitions=4)
    df.mapInArrow(report, "module string").collect()
    second = df.mapInArrow(report, "module string").collect()

    assert {r.module for r in second} == {"entitysummarization_spark._zipimport"}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
