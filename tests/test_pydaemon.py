"""The Python-worker daemon of local sessions (``sparkocr.pydaemon``):
it imports pyspark and py4j from their installed copies when those
match Spark's zips, a zip archive's directory is re-read by
``importlib.invalidate_caches()`` only when the archive changed, per
importer, and the workers of the test session run under it."""

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa
import pytest

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


def _package(root, pkg, version_py):
    os.makedirs(os.path.join(root, pkg))
    for name, src in (("__init__.py", ""), ("version.py", version_py)):
        with open(os.path.join(root, pkg, name), "w") as f:
            f.write(src)
    return str(root)


def test_shipped_zip_dropped_only_for_a_same_version_twin(tmp_path):
    zpath = str(tmp_path / "pyspark.zip")
    _write_zip(zpath, {"pyspark/__init__.py": "",
                       "pyspark/version.py": "__version__: str = '4.1.2'\n"})
    same = _package(tmp_path / "same", "pyspark", "__version__ = '4.1.2'\n")
    other = _package(tmp_path / "other", "pyspark", "__version__ = '4.0.0'\n")
    empty = str(tmp_path / "empty")
    os.makedirs(empty)

    assert pydaemon.redundant_zips([zpath, empty, same]) == [zpath]
    assert pydaemon.redundant_zips([zpath, other]) == []
    assert pydaemon.redundant_zips([zpath, empty]) == []
    # only the first directory copy on the path counts: it is the one
    # that would be imported
    assert pydaemon.redundant_zips([zpath, other, same]) == []
    # a zip of another package is never dropped
    lib = str(tmp_path / "lib.zip")
    _write_zip(lib, {"lib/__init__.py": ""})
    assert pydaemon.redundant_zips([lib, same]) == []


def test_importing_the_package_imports_no_pyspark():
    # ``python -m sparkocr.pydaemon`` imports the package before its
    # ``__main__`` drops the zips: a pyspark import there would load
    # the zip's copy first
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "import sparkocr, sys; print(sorted(m for m in sys.modules " \
           "if m.split('.')[0] in ('pyspark', 'py4j')))"
    out = subprocess.run([sys.executable, "-c", code], cwd=root, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"


def test_session_workers_import_the_installed_pyspark(spark):
    def probe(batches):
        import os

        import py4j
        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pyspark": [pyspark.__file__], "py4j": [py4j.__file__],
            "path": [os.environ["PYTHONPATH"]]})

    rows = spark.range(0, 4, 1, 4).mapInArrow(
        probe, "pyspark string, py4j string, path string").collect()
    # the daemon's PYTHONPATH, as Spark set it, names the shipped zips
    shipped = rows[0].path.split(os.pathsep)
    zips = [p for p in shipped if p.endswith(".zip")]
    assert len(zips) >= 2
    if pydaemon.redundant_zips(shipped + sys.path) != zips:
        pytest.skip("Spark's zips have no installed twins of their version")
    for r in rows:
        for f in (r.pyspark, r.py4j):
            assert ".zip" + os.sep not in f, f


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
