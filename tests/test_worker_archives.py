"""Zip-free Python workers (lucene_7_x_9_x_spark/_worker.py): a reused
worker that has imported the engine no longer re-reads pyspark's archives
on every task, and the guard leaves every other process alone."""

import importlib
import itertools
import os
import sys
import time
import types
import zipfile
import zipimport

import pandas as pd

from lucene_7_x_9_x_spark._worker import drop_archive_importers

ARCHIVE = (".zip", ".jar", ".egg")

# a worker imports this module (and so the engine) to unpickle the UDF by
# reference, and its globals live as long as the worker: the count tells
# a worker's first probe task apart
_TASKS = itertools.count()


def _worker_state(batches):
    for _ in batches:
        pass
    # a pyspark subpackage first imported after the engine must not bring
    # an archive importer back
    import pyspark.streaming  # noqa: F401
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1000
    import pyspark
    yield pd.DataFrame({
        "pid": [os.getpid()], "task": [next(_TASKS)],
        "archives": [sum(p.endswith(ARCHIVE) for p in sys.path)],
        "zipimporters": [sum(isinstance(v, zipimport.zipimporter)
                             for v in sys.path_importer_cache.values())],
        "invalidate_ms": [ms], "pyspark": [pyspark.__version__]})


def test_reused_worker_reads_no_archive(spark):
    schema = ("pid long, task long, archives long, zipimporters long, "
              "invalidate_ms double, pyspark string")
    later = []
    for _ in range(32):  # idle workers are reused in turn
        later += [r for r in (spark.range(1, numPartitions=1)
                              .mapInPandas(_worker_state, schema).collect())
                  if r["task"] >= 1]
        if len(later) >= 3:
            break
    assert len(later) >= 3
    for r in later:
        assert r["archives"] == 0, r
        assert r["zipimporters"] == 0, r
        assert r["invalidate_ms"] < 5, r
        assert r["pyspark"] == spark.version, r


def _zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "")
    return str(path)


def _site(root, version, pkgs=("pyspark", "py4j")):
    for pkg in pkgs:
        (root / pkg).mkdir(parents=True)
        (root / pkg / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(
        f"__version__: str = '{version}'\n")
    return str(root)


def _frozen(path, cache, **kw):
    before = (list(path), dict(cache))
    assert drop_archive_importers(path, cache, **kw) is False
    assert (path, cache) == before


def test_guard_keeps_driver_and_pytest_alone(tmp_path):
    archive = _zip(tmp_path / "pyspark.zip", ["pyspark/__init__.py"])
    path = [_site(tmp_path / "site", "9.9.9"), archive]
    cache = {archive: zipimport.zipimporter(archive)}
    _frozen(path, cache, version="9.9.9")
    live = (list(sys.path), dict(sys.path_importer_cache))
    assert drop_archive_importers() is False
    assert (sys.path, sys.path_importer_cache) == live


def test_guard_needs_a_plain_pyspark_and_py4j(tmp_path):
    archive = _zip(tmp_path / "pyspark.zip", ["pyspark/__init__.py"])
    (tmp_path / "empty").mkdir()
    cache = {archive: zipimport.zipimporter(archive)}
    _frozen([str(tmp_path / "empty"), archive], cache,
            version="9.9.9", main="pyspark.daemon")
    no_py4j = _site(tmp_path / "site", "9.9.9", pkgs=("pyspark",))
    _frozen([no_py4j, archive], cache, version="9.9.9",
            main="pyspark.daemon")


def test_guard_needs_the_running_version(tmp_path):
    archive = _zip(tmp_path / "pyspark.zip", ["pyspark/__init__.py"])
    path = [_site(tmp_path / "site", "9.9.8"), archive]
    cache = {archive: zipimport.zipimporter(archive)}
    _frozen(path, cache, version="9.9.9", main="pyspark.daemon")


def test_guard_drops_only_pyspark_archives(tmp_path):
    spark_zip = _zip(tmp_path / "pyspark.zip", ["pyspark/__init__.py"])
    py4j_zip = _zip(tmp_path / "py4j-src.zip", ["py4j/__init__.py"])
    jar = _zip(tmp_path / "core.jar", ["org/Main.class"])
    deps = _zip(tmp_path / "deps.zip", ["deps.py"])
    site = _site(tmp_path / "site", "9.9.9")
    path = [spark_zip, py4j_zip, jar, deps, site]
    cache = {p: zipimport.zipimporter(p) for p in path[:4]}
    cache[site] = None
    modules = {name: types.ModuleType(name)
               for name in ("pyspark", "pyspark.sql", "py4j", "deps")}
    modules["pyspark"].__path__ = [os.path.join(spark_zip, "pyspark")]
    modules["pyspark.sql"].__path__ = [
        os.path.join(spark_zip, "pyspark", "sql")]
    modules["py4j"].__path__ = [os.path.join(py4j_zip, "py4j")]
    modules["deps"].__path__ = [os.path.join(deps, "deps")]
    assert drop_archive_importers(path, cache, version="9.9.9",
                                  main="pyspark.daemon",
                                  modules=modules) is True
    assert path == [deps, site]
    assert cache == {site: None}
    assert {n: m.__path__ for n, m in modules.items()} == {
        "pyspark": [os.path.join(site, "pyspark")],
        "pyspark.sql": [os.path.join(site, "pyspark", "sql")],
        "py4j": [os.path.join(site, "py4j")],
        "deps": [os.path.join(deps, "deps")]}
