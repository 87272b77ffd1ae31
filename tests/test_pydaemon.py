"""The Python-worker daemon of local sessions (``sparkocr.pydaemon``):
a zip archive's directory is re-read by ``importlib.invalidate_caches()``
only when the archive changed, per importer, and the workers of the
test session run under it."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkocr import pydaemon  # noqa: E402

EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    a, b, pkg = f"zt_a_{tag}", f"zt_b_{tag}", f"zt_pkg_{tag}"
    zpath = str(tmp_path / "mods.zip")
    files = {f"{a}.py": "X = 1\n", f"{pkg}/__init__.py": "",
             f"{pkg}/m.py": "W = 0\n"}
    _write_zip(zpath, files)
    monkeypatch.syspath_prepend(zpath)
    importlib.import_module(a)
    importlib.import_module(f"{pkg}.m")  # a second importer, on pkg/

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # restored by monkeypatch after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    if EAGER:
        importlib.invalidate_caches()
        assert reads.count(zpath) == 2  # the stdlib: every importer re-reads

    pydaemon.install()
    if not EAGER:  # 3.13+ reads lazily: nothing to patch
        assert zipimport.zipimporter.invalidate_caches is pydaemon._stdlib_invalidate
        return
    importlib.invalidate_caches()  # first call stores each importer's key
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(zpath) == 0

    _write_zip(zpath, {**files, f"{b}.py": "Y = 2\n",
                       f"{pkg}/sub.py": "Z = 3\n"})
    importlib.invalidate_caches()
    assert reads.count(zpath) == 2
    assert importlib.import_module(b).Y == 2
    assert importlib.import_module(f"{pkg}.sub").Z == 3


def test_session_workers_run_the_daemon_patch(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "fn": [zipimport.zipimporter.invalidate_caches.__name__]})

    rows = spark.range(0, 8, 1, 8).mapInArrow(probe, "fn string").collect()
    want = "_invalidate_if_changed" if EAGER else "invalidate_caches"
    assert [r.fn for r in rows] == [want] * 8
    # the process that built the session keeps the stdlib method
    assert zipimport.zipimporter.invalidate_caches.__name__ == "invalidate_caches"


def test_add_py_file_reaches_the_next_job(spark, tmp_path):
    def noop(batches):
        yield from batches

    # start the workers before the file is added
    spark.range(0, 8, 1, 8).mapInArrow(noop, "id long").collect()
    name = f"sparkocr_pyfile_{uuid.uuid4().hex}"
    zpath = str(tmp_path / f"{name}.zip")
    _write_zip(zpath, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(zpath)

    def probe(batches):
        import importlib

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"v": [importlib.import_module(name).VALUE]})

    rows = spark.range(0, 8, 1, 8).mapInArrow(probe, "v long").collect()
    assert [r.v for r in rows] == [42] * 8
