"""The engine's PySpark daemon re-reads a zip archive's directory only
when the archive has changed on disk (``pydaemon.stamped``)."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from map_reduce_engine_cdps_spark.pydaemon import stamped


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archives whose directory ``zipimport`` reads, one entry per read."""
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread_and_changed_zip_is(
        tmp_path, monkeypatch, directory_reads):
    archive = str(tmp_path / "mods.zip")
    mod_a, mod_b = (f"graft_zip_{n}_{uuid.uuid4().hex}" for n in "ab")
    _write_zip(archive, {mod_a: "VALUE = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        stamped(zipimport.zipimporter.invalidate_caches))
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(mod_a).VALUE == 1
        importlib.invalidate_caches()  # first sight of the archive: read
        assert directory_reads.count(archive) == 2  # importer init + first sight
        directory_reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert directory_reads.count(archive) == 0

        _write_zip(archive, {mod_a: "VALUE = 1\n", mod_b: "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert directory_reads.count(archive) == 1
        assert importlib.import_module(mod_b).VALUE == 2

        # a vanished archive is handed to the stock method, which drops it
        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        for m in (mod_a, mod_b):
            sys.modules.pop(m, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _probe_invalidate(_):
    """Inside a task: directory reads made by one importlib.invalidate_caches()."""
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock_read(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stock_read
    importers = sum(isinstance(v, zipimport.zipimporter)
                    for v in sys.path_importer_cache.values())
    yield (len(reads), importers,
           zipimport.zipimporter.invalidate_caches.__qualname__)


def test_warm_worker_rereads_no_archive(spark):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == (
        "map_reduce_engine_cdps_spark.pydaemon")
    parts = sc.defaultParallelism
    rdd = sc.parallelize(range(parts), parts)
    rdd.mapPartitions(_probe_invalidate).collect()  # warm every worker
    got = rdd.mapPartitions(_probe_invalidate).collect()
    assert all(q == "stamped.<locals>.invalidate_caches" for _, _, q in got), got
    # pyspark.zip, py4j and the Spark jar sit on every worker's path
    assert all(n > 0 for _, n, _ in got), got
    assert [r for r, _, _ in got] == [0] * parts, got


def test_zip_added_mid_session_imports_in_next_task(spark, tmp_path):
    sc = spark.sparkContext
    name = f"graft_pyfile_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 41\n"})
    rdd = sc.parallelize(range(2), 2)
    rdd.map(lambda x: x).collect()  # workers already warm
    sc.addPyFile(str(archive))
    got = rdd.map(lambda x: importlib.import_module(name).VALUE + x).collect()
    assert got == [41, 42]
