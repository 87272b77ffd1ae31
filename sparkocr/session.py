"""SparkSession factory with the engine's recommended configuration.

The session IS the engine singleton (the analog of OcrEngineManager,
engine.rs:615-835 — ``SparkSession.builder.getOrCreate()`` already
provides once-per-process semantics).

Local sessions (``get_spark``) run their Python workers under
``sparkocr.pydaemon``: PySpark's own daemon with two changes.
- It imports pyspark and py4j from their installed copies when those
  have the version of Spark's ``pyspark.zip`` and ``py4j-*-src.zip``.
  The zips hold no bytecode, so importing from them compiles pyspark at
  every SparkContext start (about 0.3 s; 0.03 s from the installed
  copy).
- A zip archive on ``sys.path`` is re-read only when it has changed.
  PySpark's worker calls ``importlib.invalidate_caches()`` at the start
  of every task, and before CPython 3.13 that re-reads each cached zip
  importer's directory: about 0.25 s of CPU per task for a worker that
  imports pyspark from ``pyspark.zip``.
The daemon module must be importable when the daemon starts, which the
``PYTHONPATH`` export below guarantees for local sessions only; the
spark-submit path (``build_submit_session``) keeps PySpark's daemon."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# executor python workers inherit the driver's ENV, not its sys.path —
# a driver started outside the repo (cwd elsewhere, path patched in
# code) would produce workers that cannot import sparkocr inside the
# UDFs. Exporting the package root through PYTHONPATH before the JVM
# starts makes the session location-independent; on a real cluster the
# --py-files zip plays this role (scripts/run_extract.py).
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _PKG_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _PKG_ROOT + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else _PKG_ROOT
    )

# Tuned for correctness-at-scale first:
# - Arrow transfer on (the channel between JVM and the Python "worker
#   thread" that owns the models, O5 analog)
# - bounded Arrow batches: turns can be multi-KB, keep batches ~2k rows
#   (the rayon par_chunks(1024) analog, O6 — det.rs:205)
# - AQE + skew handling on (O7/O8 strategy-by-cardinality analogs)
_ENGINE_CONF = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # reliable pins (sparkocr.barrier with a checkpoint dir set) rely on
    # the ContextCleaner deleting superseded checkpoint files — without
    # this flag (default false) iterative operators leak one snapshot
    # per round to the checkpoint dir
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def build_submit_session(app: str):
    """Session builder for spark-submit entry points: no ``.master()``
    (the cluster manager decides) and no driver-memory override
    (spark-submit's decision); everything else comes from the ONE
    shared engine config dict so the cluster path can never drift from
    the local/bench/test entry points. THE single home of this policy —
    both ``scripts/run_extract.py`` and ``scripts/run_corpus_build.py``
    call it.

    Its workers run under PySpark's own daemon, not
    ``sparkocr.pydaemon``: on a cluster the package arrives as
    ``--py-files``, which reach a worker's ``sys.path`` per task, after
    the daemon has started, so the daemon could not import the module."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app)
    for k, v in _ENGINE_CONF.items():
        if k != "spark.driver.memory":
            b = b.config(k, v)
    return b.getOrCreate()


def get_spark(
    cores: int | str | None = None,
    app_name: str = "sparkocr",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``cores``: int → ``local[n]``; "*" → ``local[*]``; None → respect
    $SPARK_GRAFT_CPUS, default ``local[*]``.

    The Python workers run under ``sparkocr.pydaemon``
    (``spark.python.daemon.module``), which imports pyspark and py4j
    from their installed, bytecode-cached copies when the versions match
    Spark's zips, and skips the per-task re-read of unchanged zip
    archives; the package root is on the workers' ``PYTHONPATH`` from
    the start, so the daemon can import it.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores) * 2, 8)
    b = SparkSession.builder.master(master).appName(app_name)
    for k, v in _ENGINE_CONF.items():
        b = b.config(k, v)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = b.config("spark.python.daemon.module", "sparkocr.pydaemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, str(v))
    return b.getOrCreate()
