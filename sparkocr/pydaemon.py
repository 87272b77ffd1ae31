"""PySpark's Python-worker daemon, with zip archives re-read only when
they change. ``session.get_spark`` runs local workers under it
(``spark.python.daemon.module``); the process that builds the session
never installs the patch.

Every task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 each
cached ``zipimporter`` then re-reads its archive's whole directory, and
a worker holds one importer per imported pyspark subpackage on
``pyspark.zip``: 16 reads of a 1,328-entry directory per task. Here an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
differs from the key stored on that importer at its last read, or when
the stat fails, so a zip rewritten under the same path is still
re-read by every importer of it. Where the stdlib reads lazily
(``zipimporter._get_files``, 3.13+) nothing is patched. The daemon
also imports pandas before it forks its workers (see below)."""

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


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


if __name__ == "__main__":
    install()
    # pyarrow imports pandas in a worker on its first ``pa.array`` call
    # (its pandas shim probes the input), so every worker that builds an
    # Arrow column pays that import; made here, before the daemon forks,
    # it is paid once and every worker inherits it
    import pandas  # noqa: F401
    from pyspark import daemon

    daemon.manager()
