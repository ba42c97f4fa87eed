"""Python tasks drop their in-archive importers when they end
(:func:`flaco_spark.session.worker_task`), so the next task on a reused
worker does not re-read ``pyspark.zip`` when PySpark invalidates the
import caches, and imports still resolve afterwards."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from flaco_spark.session import worker_task
from flaco_spark.sources.feather import _part_writer
from flaco_spark.sources.pyds import FeatherDirReader

SUBMODULES = (
    "pyspark.sql.avro.functions",
    "pyspark.sql.protobuf.functions",
    "pyspark.mllib.common",
)


def _probe(spark, import_new: bool = False) -> list:
    """One 4-task job; each task reports its worker's PID, the in-archive
    importers it sees on entry and, with ``import_new``, the first of
    :data:`SUBMODULES` not yet in ``sys.modules``, which it imports."""

    @worker_task
    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        keys = [
            k for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and f.prefix
        ]
        for _ in batches:
            pass
        name = None
        if import_new:
            name = next((m for m in SUBMODULES if m not in sys.modules), None)
            if name is not None:
                importlib.import_module(name)
        yield pa.record_batch(
            [pa.array([os.getpid()]), pa.array(["\n".join(keys)]), pa.array([name], pa.string())],
            names=["pid", "keys", "imported"],
        )

    return spark.range(0, 4, 1, 4).mapInArrow(probe, "pid bigint, keys string, imported string").collect()


def test_reused_workers_start_tasks_without_archive_importers(spark):
    first = _probe(spark)
    second = _probe(spark)
    reused = {r.pid for r in first} & {r.pid for r in second}
    assert reused, "no Python worker served both jobs"
    assert all(r.keys == "" for r in second if r.pid in reused), second

    third = _probe(spark, import_new=True)
    fresh = [r for r in third if r.pid in reused and r.keys == ""]
    assert fresh, "no task ran on a worker whose in-archive importers were dropped"
    assert all(r.imported is not None for r in fresh), "every candidate submodule was already imported"


@pytest.fixture
def archive_importers(tmp_path):
    """A top-level and an in-archive zipimporter in sys.path_importer_cache."""
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pkg/__init__.py", "")
    top, inner = str(archive), str(archive / "pkg")
    sys.path_importer_cache[top] = zipimport.zipimporter(top)
    sys.path_importer_cache[inner] = zipimport.zipimporter(inner)
    assert sys.path_importer_cache[inner].prefix
    yield top, inner
    sys.path_importer_cache.pop(top, None)
    sys.path_importer_cache.pop(inner, None)


def _batch(n: int) -> pa.RecordBatch:
    return pa.record_batch([pa.array(range(n))], names=["x"])


def test_part_writer_task_drops_archive_importers(archive_importers, tmp_path):
    top, inner = archive_importers
    task = _part_writer(str(tmp_path), "feather", lambda i: iter([_batch(3)]), None)
    ids = pa.record_batch([pa.array([0])], names=["id"])
    assert [b.column(0).to_pylist() for b in task(iter([ids]))] == [[3]]
    assert inner not in sys.path_importer_cache
    assert top in sys.path_importer_cache

    def fails(i):
        raise OSError("read failed")
        yield

    sys.path_importer_cache[inner] = zipimport.zipimporter(inner)
    task = _part_writer(str(tmp_path), "parquet", fails, None)
    with pytest.raises(OSError, match="read failed"):
        list(task(iter([ids])))
    assert inner not in sys.path_importer_cache
    assert top in sys.path_importer_cache


def test_datasource_read_drops_archive_importers(archive_importers, tmp_path):
    from flaco_spark.sources.feather import write_file

    top, inner = archive_importers
    write_file([_batch(5)], str(tmp_path / "part-0.arrow"), "feather")
    reader = FeatherDirReader({"path": str(tmp_path)})
    (part,) = reader.partitions()
    assert sum(b.num_rows for b in reader.read(part)) == 5
    assert inner not in sys.path_importer_cache
    assert top in sys.path_importer_cache
