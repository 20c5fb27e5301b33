"""The package worker daemon: zip archives are re-read on
``invalidate_caches()`` only when they changed (CPython < 3.12), and
``get_spark`` sessions run their Python workers under it."""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import types
import zipfile
import zipimport

import pyarrow as pa
import pytest

from lab_1806_vec_db_spark import worker_daemon

OLD_ZIPIMPORT = sys.version_info < (3, 12)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def reread_calls(monkeypatch):
    """The stamped invalidation installed as the daemon installs it, with
    the calls of the saved stdlib re-read recorded (by archive path)."""
    calls = []
    original = worker_daemon._reread

    def counting(self):
        calls.append(self.archive)
        original(self)

    monkeypatch.setattr(worker_daemon, "_reread", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._invalidate_caches)
    return calls


def _run_daemon_main(monkeypatch):
    """Run the module as ``python -m`` does, with pyspark's manager stubbed."""
    started = []
    monkeypatch.setitem(sys.modules, "pyspark.daemon",
                        types.SimpleNamespace(manager=lambda: started.append(1)))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.delitem(sys.modules, worker_daemon.__name__)
    stdlib = zipimport.zipimporter.invalidate_caches
    ns = runpy.run_module(worker_daemon.__name__, run_name="__main__", alter_sys=True)
    assert started == [1]
    return stdlib, ns


@pytest.mark.skipif(not OLD_ZIPIMPORT, reason="CPython >= 3.12 invalidates lazily")
def test_daemon_installs_stamped_invalidation(monkeypatch):
    stdlib, ns = _run_daemon_main(monkeypatch)
    assert zipimport.zipimporter.invalidate_caches is ns["_invalidate_caches"]
    assert ns["_reread"] is stdlib


@pytest.mark.skipif(OLD_ZIPIMPORT, reason="CPython < 3.12 gets the stamped re-read")
def test_daemon_keeps_stdlib_zipimport_on_new_interpreters(monkeypatch):
    stdlib, _ = _run_daemon_main(monkeypatch)
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert stdlib.__module__ == "zipimport"


@pytest.mark.skipif(not OLD_ZIPIMPORT, reason="CPython >= 3.12 invalidates lazily")
def test_unchanged_archive_is_not_reread(tmp_path, reread_calls):
    path = tmp_path / "pkgs.zip"
    _write_zip(path, {"wd_mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(path))
    importer.invalidate_caches()
    assert reread_calls == [str(path)]      # first sight of the archive reads it
    importer.invalidate_caches()
    zipimport.zipimporter(str(path)).invalidate_caches()
    assert reread_calls == [str(path)]      # unchanged: every importer shares that read
    assert importer.find_spec("wd_mod_a") is not None


@pytest.mark.skipif(not OLD_ZIPIMPORT, reason="CPython >= 3.12 invalidates lazily")
def test_rewritten_archive_is_reread(tmp_path, monkeypatch, reread_calls):
    path = tmp_path / "pkgs.zip"
    _write_zip(path, {"wd_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    for name in ("wd_mod_a", "wd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_mod_a").X == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reread_calls.count(str(path)) == 1

    st = os.stat(path)
    _write_zip(path, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reread_calls.count(str(path)) == 2
    assert importlib.import_module("wd_mod_b").Y == 2
    sys.path_importer_cache.pop(str(path), None)


def test_spark_workers_run_under_package_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__

    def _time_invalidate(batches):
        """mapInArrow body: time one ``importlib.invalidate_caches()`` in this
        worker and count the archive re-reads it makes."""
        import time

        # a forked worker runs inside the daemon's ``__main__`` module
        daemon = sys.modules["__main__"]
        name = getattr(daemon.__spec__, "name", None)
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        stamped = zipimport.zipimporter.invalidate_caches is getattr(
            daemon, "_invalidate_caches", None)
        calls = []
        original = getattr(daemon, "_reread", None)
        if original is not None:
            daemon._reread = lambda self: (calls.append(self.archive), original(self))
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        if original is not None:
            daemon._reread = original
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "daemon": [name], "stamped": [stamped], "zips": [zips],
            "rereads": [len(calls)], "ms": [ms]})

    rows = (spark.range(4, numPartitions=4)
            .mapInArrow(_time_invalidate,
                        "daemon string, stamped boolean, zips long, rereads long, ms double")
            .collect())
    assert len(rows) == 4
    assert {r.daemon for r in rows} == {worker_daemon.__name__}
    assert all(r.stamped == OLD_ZIPIMPORT for r in rows)
    if OLD_ZIPIMPORT:
        # workers import pyspark through zip importers; the task's own
        # setup already read each archive, so this call re-reads none
        assert all(r.zips > 0 for r in rows)
        assert [r.rereads for r in rows] == [0] * 4
    print("worker invalidate_caches ms:", [round(r.ms, 3) for r in rows])
