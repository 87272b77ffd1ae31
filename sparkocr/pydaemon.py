"""PySpark's Python-worker daemon, importing pyspark and py4j from their
installed copies, with zip archives re-read only when they change.
``session.get_spark`` runs local workers under it
(``spark.python.daemon.module``); the process that builds the session
never installs the patch.

Spark puts its own ``pyspark.zip`` and ``py4j-*-src.zip`` ahead of the
rest of the workers' ``PYTHONPATH``. The zips hold sources and no
bytecode, so a daemon that imports pyspark from them compiles it at
every SparkContext start: ``from pyspark import daemon`` takes about
0.31 s from the zip and 0.03 s from an installed copy with its cached
``.pyc`` files. Before it imports anything else, the daemon drops each
such zip from ``sys.path`` when the first directory on the rest of the
path holds the same package at the same ``__version__``; both copies'
``version.py`` are read as text, and neither is imported. The daemon,
and every worker it forks, then imports the installed copies. A zip
without a matching installed twin stays on the path, as in PySpark's
own daemon.

Every task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 each
cached ``zipimporter`` then re-reads its archive's whole directory: a
worker importing pyspark from ``pyspark.zip`` holds 16 importers on a
1,328-entry directory, and ``addPyFile`` zips add theirs. Here an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
differs from the key stored on that importer at its last read, or when
the stat fails, so a zip rewritten under the same path is still
re-read by every importer of it. Where the stdlib reads lazily
(``zipimporter._get_files``, 3.13+) nothing is patched. The daemon
also imports pandas before it forks its workers (see below)."""

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches

# the packages Spark ships as zips on the workers' PYTHONPATH
_SHIPPED = ("pyspark", "py4j")


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_sparkocr_key", None):
        _stdlib_invalidate(self)
        self._sparkocr_key = key


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process, on
    Pythons whose stdlib re-reads eagerly."""
    if not hasattr(zipimport.zipimporter, "_get_files"):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def _version(source: str):
    """``__version__`` as assigned in a ``version.py``, or None."""
    for line in source.splitlines():
        if line.startswith("__version__"):
            return line.partition("=")[2].strip().strip("'\"")
    return None


def _zip_version(archive: str, pkg: str):
    importer = sys.path_importer_cache.get(archive)
    try:
        if not isinstance(importer, zipimport.zipimporter):
            importer = zipimport.zipimporter(archive)
        return _version(importer.get_data(f"{pkg}/version.py").decode())
    except (zipimport.ZipImportError, OSError):
        return None


def _dir_version(entry: str, pkg: str):
    try:
        with open(os.path.join(entry, pkg, "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def redundant_zips(path: list) -> list:
    """The zips on ``path`` that hold a shipped package whose first
    directory copy on the rest of ``path`` has the same version."""
    drop = []
    for archive in path:
        if not archive.endswith(".zip"):
            continue
        for pkg in _SHIPPED:
            version = _zip_version(archive, pkg)
            if version is None:
                continue
            twin = next((p for p in path if p != archive and os.path.isfile(
                os.path.join(p, pkg, "__init__.py"))), None)
            if twin is not None and _dir_version(twin, pkg) == version:
                drop.append(archive)
            break
    return drop


if __name__ == "__main__":
    # before pyspark (or pandas) is imported: nothing has loaded from
    # the zips yet, because ``import sparkocr`` imports no pyspark
    drop = redundant_zips(sys.path)
    sys.path[:] = [p for p in sys.path if p not in drop]
    for archive in drop:
        sys.path_importer_cache.pop(archive, None)
    install()
    # pyarrow imports pandas in a worker on its first ``pa.array`` call
    # (its pandas shim probes the input), so every worker that builds an
    # Arrow column pays that import; made here, before the daemon forks,
    # it is paid once and every worker inherits it
    import pandas  # noqa: F401
    from pyspark import daemon

    daemon.manager()
