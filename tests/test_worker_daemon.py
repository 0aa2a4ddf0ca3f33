"""The engine's Python-worker daemon: the stat-gated zip-import cache
invalidation (no Spark), the conf ``build_session`` derives for it, and a
worker of the shared session reporting that it runs under it."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from spark_states_spark import session, worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK = zipimport.zipimporter.invalidate_caches


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def shim(monkeypatch):
    """The shim installed for one test; the stock method comes back after."""
    if sys.version_info >= (3, 13):
        pytest.skip("CPython >= 3.13 invalidates zip caches lazily; no shim")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STOCK)
    monkeypatch.setattr(worker_daemon, "_READ_SIGNATURE", {})
    assert worker_daemon.install()
    return worker_daemon


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding a module and a package (so more than one
    importer caches the archive, as with pyspark.zip); imported once."""
    path = str(tmp_path / "lib.zip")
    _write_zip(
        path,
        {
            "zd_alpha.py": "X = 1\n",
            "zd_pkg/__init__.py": "",
            "zd_pkg/sub.py": "Y = 2\n",
        },
    )
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zd_alpha")
    importlib.import_module("zd_pkg.sub")
    yield path
    for name in ("zd_alpha", "zd_beta", "zd_pkg", "zd_pkg.sub"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _importers(path):
    return [
        v
        for k, v in sys.path_importer_cache.items()
        if k.startswith(path) and isinstance(v, zipimport.zipimporter)
    ]


def test_unchanged_zip_is_not_reread(shim, archive, reads):
    assert len(_importers(archive)) >= 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # once for all importers, not once each
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1
    cached = zipimport._zip_directory_cache[archive]
    assert all(imp._files is cached for imp in _importers(archive))


def test_rewritten_zip_is_reread(shim, archive, reads):
    importlib.invalidate_caches()
    st = os.stat(archive)
    _write_zip(
        archive,
        {
            "zd_alpha.py": "X = 1\n",
            "zd_beta.py": "Z = 3\n",
            "zd_pkg/__init__.py": "",
            "zd_pkg/sub.py": "Y = 2\n",
        },
    )
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))
    assert os.stat(archive).st_ino == st.st_ino  # rewritten in place
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zd_beta").Z == 3


def test_deleted_zip_drops_cache_entry(shim, archive):
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # no exception, as in stock 3.11
    assert archive not in zipimport._zip_directory_cache
    assert archive not in shim._READ_SIGNATURE
    assert all(imp._files == {} for imp in _importers(archive))


def test_python_313_keeps_stdlib_method(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STOCK)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is STOCK


def test_daemon_conf_set_when_workers_import_package(monkeypatch):
    conf = {"spark.python.daemon.module": session.WORKER_DAEMON_MODULE}
    assert importlib.util.find_spec(session.WORKER_DAEMON_MODULE) is not None
    monkeypatch.chdir(ROOT)
    assert session._worker_daemon_conf() == conf
    monkeypatch.chdir(os.path.dirname(ROOT))
    monkeypatch.setattr("site.getsitepackages", lambda: [])
    monkeypatch.setattr("site.getusersitepackages", lambda: "")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", ROOT]))
    assert session._worker_daemon_conf() == conf


def test_daemon_conf_absent_when_workers_cannot_import_package(monkeypatch, tmp_path):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr("site.getsitepackages", lambda: [str(tmp_path)])
    monkeypatch.setattr("site.getusersitepackages", lambda: str(tmp_path))
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert session._worker_daemon_conf() == {}


def _worker_report(batches):
    for _ in batches:
        pass
    yield pd.DataFrame(
        {
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
            "lazy": [sys.version_info >= (3, 13)],
        }
    )


def test_session_workers_run_under_engine_daemon(spark):
    conf = spark.sparkContext.getConf().get("spark.python.daemon.module", None)
    if conf is None:
        pytest.skip("session built where workers cannot import the package")
    assert conf == session.WORKER_DAEMON_MODULE
    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(_worker_report, "module string, lazy boolean")
        .collect()[0]
    )
    assert row.module == ("zipimport" if row.lazy else session.WORKER_DAEMON_MODULE)
