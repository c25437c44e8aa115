"""The engine's code on the Python workers (iceberg_twist_spark/session.py):
the package zip that ``ensure_package_shipped`` hands to the workers, and
the stat-keyed zip directory re-reads of ``skip_unchanged_zip_rereads``."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import tempfile
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from iceberg_twist_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

lazy_zipimport = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter re-reads zip directories lazily",
)


def _write_module(archive: str, source: str, mtime_ns: int) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("itws_zipped_probe.py", source)
    os.utime(archive, ns=(mtime_ns, mtime_ns))


@lazy_zipimport
def test_zip_directory_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_module(archive, "VALUE = 1\n", 1_000_000_000_000_000_000)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    stdlib = zipimport.zipimporter.invalidate_caches
    # teardown restores the stdlib method and the install guard
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(session, "_ZIP_REREAD", None)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("itws_zipped_probe").VALUE == 1

        session.skip_unchanged_zip_rereads()  # no TaskContext: the driver
        assert zipimport.zipimporter.invalidate_caches is stdlib

        monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
        session.skip_unchanged_zip_rereads()
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_module(archive, "VALUE = 22\n", 1_000_000_005_000_000_000)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        del sys.modules["itws_zipped_probe"]
        assert importlib.import_module("itws_zipped_probe").VALUE == 22
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        os.remove(archive)
        importlib.invalidate_caches()
        del sys.modules["itws_zipped_probe"]
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module("itws_zipped_probe")
    finally:
        sys.modules.pop("itws_zipped_probe", None)
        sys.path_importer_cache.pop(archive, None)


# Runs in its own local[3] session, so the second job's tasks land on the
# workers the first job started. The UDF imports the engine, as every
# engine UDF does when it is unpickled, then counts the zip directory
# re-reads of its own importlib.invalidate_caches().
_WORKER_PROBE = r"""
import json
from iceberg_twist_spark.session import ensure_package_shipped, get_spark

def probe(batches):
    import importlib, os, sys, zipimport
    import pyarrow as pa
    import iceberg_twist_spark  # noqa: F401
    read_directory = zipimport._read_directory
    n = 0
    def counting(path):
        nonlocal n
        n += 1
        return read_directory(path)
    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    for _ in batches:
        pass
    zips = sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "rereads": [n], "zip_importers": [zips]})

spark = get_spark("zip-rereads", master="local[3]")
ensure_package_shipped(spark)
df = spark.range(3, numPartitions=3).mapInArrow(
    probe, "pid long, rereads long, zip_importers long")
print(json.dumps([[r.asDict() for r in df.collect()] for _ in range(2)]))
spark.stop()
"""


@lazy_zipimport
def test_a_workers_later_tasks_reread_no_unchanged_zip():
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(second) == 3
    assert {r["pid"] for r in second} <= {r["pid"] for r in first}
    assert all(r["zip_importers"] > 0 for r in second)
    assert [r["rereads"] for r in second] == [0, 0, 0]


def test_shipped_zip_holds_this_processes_sources(tmp_path, monkeypatch):
    """A zip another process left under this pid's old name is not
    shipped: each process writes its own."""
    stale = tmp_path / f"itws_pkg_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("iceberg_twist_spark/__init__.py", "raise ImportError\n")
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    monkeypatch.setattr(session, "_SHIPPED", {})
    monkeypatch.setattr(session, "_PKG_ZIP", None, raising=False)
    shipped: list[str] = []

    class Context:
        applicationId = "app-ship-test"
        addPyFile = staticmethod(shipped.append)

    class Spark:
        sparkContext = Context()

    session.ensure_package_shipped(Spark())
    session.ensure_package_shipped(Spark())
    Context.applicationId = "app-ship-test-2"
    session.ensure_package_shipped(Spark())
    assert len(shipped) == 2 and shipped[0] == shipped[1] != str(stale)

    pkg = os.path.dirname(os.path.abspath(session.__file__))
    with zipfile.ZipFile(shipped[0]) as zf:
        names = set(zf.namelist())
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg))
                    assert rel in names
                    with open(full, "rb") as src:
                        assert zf.read(rel) == src.read(), rel
