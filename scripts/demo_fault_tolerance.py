"""Executor-loss fault tolerance, demonstrated on the real cluster.

Kills (SIGKILL) one executor JVM mid-extraction on the standalone
cluster and asserts the job completes with a full, correct result —
the standalone master re-offers resources, the driver reschedules the
dead executor's tasks on the survivors, and lost partitions recompute
through their lineage back to the durable parquet source. This is the
evidence behind the package's P6 design note ("request/response
channels → Spark action boundary + task retry").

The demo also encodes a REAL caveat, learned the honest way: the input
must NOT be `localCheckpoint`ed — local checkpoint blocks live in
executor storage and die with the executor
(`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`), which is precisely why the
package's barriers flow through `sparkocr.barrier.pin`: with
`sc.setCheckpointDir` configured every pin becomes a reliable
checkpoint that survives executor loss (tests/test_barrier.py).

Usage: python scripts/demo_fault_tolerance.py   (starts the 4N-worker
cluster of bench_cluster_scaling.py if none is running, caps the job at
4N executors via spark.cores.max, and tears down only a cluster it
started)
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.bench_cluster_scaling import (  # noqa: E402
    _corpus, _port_open, _session, _zip_pkg, cluster_size, start_cluster,
    teardown)


def main() -> int:
    procs = []
    if not _port_open(7077):
        procs = start_cluster()
        print("# started standalone cluster", file=sys.stderr)
    try:
        spark = _session(cluster_size()[1], _zip_pkg())
        spark.sparkContext.setLogLevel("ERROR")
        from sparkocr.engine import SparkOcrEngine

        # lineage reaches back to parquet — recomputable after loss
        corpus = _corpus(spark, 60)
        n_expected = corpus.count()

        killed: dict = {}
        # scope the kill to THIS application's executors: on a reused
        # external cluster an unscoped pgrep could assassinate another
        # app's executor and record a vacuous "fault" for this job
        app_id = spark.sparkContext.applicationId

        def assassin() -> None:
            time.sleep(8)  # well inside the extraction job
            pids = subprocess.run(
                ["pgrep", "-f",
                 f"executor.CoarseGrainedExecutorBackend.*{app_id}"],
                capture_output=True, text=True).stdout.split()
            if pids:
                rc = subprocess.run(["kill", "-9", pids[0]]).returncode
                if rc != 0:  # target exited between pgrep and kill
                    print(f"# kill of pid {pids[0]} failed (rc={rc}) — "
                          "no fault injected", file=sys.stderr, flush=True)
                    return
                killed["pid"] = pids[0]
                killed["t"] = time.time()
                print(f"# KILLED executor pid {pids[0]} mid-job",
                      file=sys.stderr, flush=True)

        t = threading.Thread(target=assassin)
        t.start()
        start = time.time()
        from pyspark.sql import functions as F

        out = SparkOcrEngine(spark).extract(corpus)
        # one action computes both counts: a row-count alone would PASS
        # even if recomputed partitions came back as per-turn ERROR rows
        # (extract emits one row per turn regardless) — "full, correct
        # result" means every row extracted error-free
        [agg] = out.agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("error_code").isNull(), 1)).alias("n_ok"),
        ).collect()
        result, n_ok = agg["n"], agg["n_ok"]
        end = time.time()
        wall = end - start
        t.join()
        spark.stop()
        # the kill must land BEFORE the job finishes, or the demo never
        # exercised fault tolerance at all — FAIL loudly rather than
        # report a vacuous PASS (e.g. tiny corpus finishing under the
        # assassin's delay)
        mid_job = bool(killed.get("t")) and killed["t"] < end
        ok = mid_job and result == n_expected and n_ok == n_expected
        print(f"rows {result}/{n_expected} ({n_ok} error-free) in "
              f"{wall:.1f}s after killing executor {killed.get('pid')}"
              f"{' (mid-job)' if mid_job else ' (TOO LATE — invalid)'}: "
              f"{'PASSED' if ok else 'FAILED'}")
        return 0 if ok else 1
    finally:
        teardown(procs)


if __name__ == "__main__":
    sys.exit(main())
