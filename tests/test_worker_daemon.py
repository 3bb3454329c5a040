"""The pyspark worker daemon re-reads a zip archive on the worker path only
when the archive changed, and the test session's workers run it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pagerank_cuda_dynamic_spark import _worker_daemon
from pagerank_cuda_dynamic_spark.session import _PACKAGE_PARENT, _with_worker_daemon

DAEMON = "pagerank_cuda_dynamic_spark._worker_daemon"


@pytest.fixture
def patched_zip(tmp_path, monkeypatch):
    """A zip of one module on sys.path with the daemon's patch installed
    (undone after the test); yields (archive, module name, reads of it)."""
    name = f"wd_mod_{tmp_path.name.replace('-', '_')}"
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "X = 1\n")
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_worker_daemon, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(zipimport._zip_directory_cache, archive, raising=False)
    assert importlib.import_module(name).X == 1
    if sys.version_info < (3, 13):
        assert _worker_daemon.install()
    yield archive, name, reads
    for mod in [m for m in sys.modules if m.startswith(name)]:
        del sys.modules[mod]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates lazily")
def test_unchanged_zip_is_not_reread(patched_zip):
    archive, _, reads = patched_zip
    importlib.invalidate_caches()  # the first call in a process reads and stamps
    before = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == before
    assert sys.path_importer_cache[archive]._files is zipimport._zip_directory_cache[archive]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates lazily")
def test_rewritten_zip_is_reread(patched_zip):
    archive, name, reads = patched_zip
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr(f"{name}_new.py", "Y = 2\n")
    before = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == before + 1
    assert importlib.import_module(f"{name}_new").Y == 2


def test_nothing_patched_from_python_3_13(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    assert not _worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock
    assert _with_worker_daemon("local[2]", {"a": "b"}) == {"a": "b"}


def test_daemon_conf_gates_and_merge(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    conf = _with_worker_daemon("local[2]", {"spark.executorEnv.PYTHONPATH": "/x"})
    assert conf["spark.python.daemon.module"] == DAEMON
    assert conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [_PACKAGE_PARENT, "/x"]
    assert _with_worker_daemon("local-cluster[2,1,1024]", None)[
        "spark.executorEnv.PYTHONPATH"
    ] == _PACKAGE_PARENT
    own = {"spark.python.daemon.module": "pyspark.daemon"}
    assert _with_worker_daemon("local[2]", own)["spark.python.daemon.module"] == "pyspark.daemon"
    for master in ("spark://host:7077", "yarn"):
        assert _with_worker_daemon(master, {"a": "b"}) == {"a": "b"}


def test_session_workers_run_the_daemon_patch(spark):
    """The test session's Python workers run the package's invalidate_caches:
    a pyspark that stops honouring spark.python.daemon.module fails here."""

    def where(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = set(spark.sparkContext.parallelize(range(2), 2).mapPartitions(where).collect())
    assert got == {DAEMON if sys.version_info < (3, 13) else "zipimport"}
