"""N → 4N scaling on a REAL multi-executor Spark standalone cluster.

The north rule's criterion is the same spark-submit job run on an
N-executor and a 4N-executor cluster with ≥ 0.8 throughput scaling
efficiency. This script is the closest in-sandbox realization: it
stands up an actual Spark standalone cluster on this box — one master
plus 4N SINGLE-CORE worker JVMs, worker i pinned by ``bench.pin(i)``
to the i-th CPU of the launcher's affinity mask — and runs the identical
job twice per pass, with ``spark.cores.max`` = N and = 4N. N comes from
``bench.cohort_size``: 1 on 4 CPUs, 2 on 8 or more (the 32-CPU shape of
the recorded 2 vs 8 numbers). Executors are real separate JVMs
scheduled by the standalone master, the `sparkocr` package ships to
them via py-files (the production ``spark-submit --py-files`` path),
and shuffles cross executor boundaries through the real block-transfer
service — none of the single-JVM shortcuts of ``local[k]``.

What one box still cannot emulate is per-node memory bandwidth: all
4N workers share one memory bus, where a real 4N cluster brings 4×
the nodes and 4× the buses. The pinned single-core-executor shape keeps
per-core bandwidth demand well under the bus ceiling documented in
BENCH/SCALING_NOTES.md, so the measured ratio reflects the JOB's
scalability, not the box's.

Jobs measured per pass (interleaved A/B, best-of-``--passes``):

- **extract**: the flagship per-turn extraction (one narrow mapInArrow
  stage, no shuffle) over the replicated transcript corpus — turns/sec.
- **substr**: exact-substring dedup (window-hash generate → rank
  shuffle → span merge → rewrite) — the shuffle-heavy corpus op —
  docs/sec.

Usage: python scripts/bench_cluster_scaling.py [--reps 40] [--passes 2]
       [--keep-cluster] [--skip-substr] [--transcripts]

The defaults give a 200k-turn run. Short runs under-measure the larger
cluster (per-executor JIT warmup); the 2 vs 8 numbers recorded in
BENCH/SCALING_NOTES.md used ``--reps 800 --transcripts`` and ``--reps
400`` (1M and 2M turns).

Prints one JSON line; ``n_executors`` is [N, 4N] and the per-size keys
are named from it. The cluster is torn down on exit unless
``--keep-cluster`` or it was already running (an external master on
port 7077 is reused, never killed).
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SF_DIR, affinity, cohort_size, pin  # noqa: E402

MASTER_URL = "spark://127.0.0.1:7077"
CLUSTER_DIR = "/tmp/sparkocr-standalone"


def cluster_size() -> tuple[int, int, int]:
    """(N, 4N, partitions): bench.py's executor pair for this launcher's
    CPUs, and one partition count for both sizes, 4 per 4N slot."""
    n, n4 = cohort_size(len(affinity())) or sys.exit(
        "the N → 4N cluster needs at least 4 CPUs")
    return n, n4, 4 * n4


def _port_open(port: int) -> bool:
    with socket.socket() as s:
        return s.connect_ex(("127.0.0.1", port)) == 0


def _spawn(cmd: list[str], log: str, env: dict,
           preexec_fn=None) -> subprocess.Popen:
    with open(log, "w") as f:
        return subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                env=env, preexec_fn=preexec_fn)


def start_cluster() -> list[subprocess.Popen]:
    """Master + 4N single-core workers, worker i pinned to ``pin(i)``.
    Pinning happens on the worker launcher, so the executor JVMs (and
    their python workers) it forks inherit the affinity mask — each
    'node' of the emulated cluster owns exactly one CPU."""
    import pyspark

    n_workers = cluster_size()[1]
    home = os.path.dirname(os.path.abspath(pyspark.__file__))
    env = {**os.environ, "SPARK_HOME": home,
           "SPARK_NO_DAEMONIZE": "1"}
    os.makedirs(f"{CLUSTER_DIR}/logs", exist_ok=True)
    procs = [_spawn(
        [f"{home}/bin/spark-class", "org.apache.spark.deploy.master.Master",
         "-h", "127.0.0.1", "-p", "7077", "--webui-port", "8081"],
        f"{CLUSTER_DIR}/logs/master.log", env)]
    try:
        deadline = time.time() + 60
        while not _port_open(7077):
            if time.time() > deadline:
                raise RuntimeError(
                    "standalone master did not bind :7077 — "
                    f"see {CLUSTER_DIR}/logs/master.log")
            time.sleep(0.5)
        for i in range(n_workers):
            wd = f"{CLUSTER_DIR}/work{i}"
            os.makedirs(wd, exist_ok=True)
            procs.append(_spawn(
                [f"{home}/bin/spark-class",
                 "org.apache.spark.deploy.worker.Worker",
                 "--cores", "1", "--memory", "4g", "--work-dir", wd,
                 "--webui-port", str(8100 + i), "-h", "127.0.0.1",
                 MASTER_URL],
                f"{CLUSTER_DIR}/logs/worker{i}.log", env, pin(i)))
        deadline = time.time() + 90
        while True:
            # fail fast with the right diagnosis when a worker JVM dies
            # before registering (port conflict, OOM) — waiting out the
            # full deadline hides the real cause
            for i, p in enumerate(procs[1:]):
                rc = p.poll()
                if rc is not None:
                    raise RuntimeError(
                        f"worker {i} exited rc={rc} before registering "
                        f"— see {CLUSTER_DIR}/logs/worker{i}.log")
            n = sum(
                1 for i in range(n_workers)
                if "Successfully registered with master" in
                open(f"{CLUSTER_DIR}/logs/worker{i}.log").read())
            if n == n_workers:
                return procs
            if time.time() > deadline:
                raise RuntimeError(
                    f"only {n}/{n_workers} workers registered — see "
                    f"{CLUSTER_DIR}/logs/")
            time.sleep(1)
    except Exception:
        # never leak a half-started cluster: orphan daemons would keep
        # :7077 bound and be mistaken for an external cluster next run.
        teardown(procs)
        raise


def teardown(procs: list) -> None:
    """Terminate → wait → kill, shared with demo_fault_tolerance: a JVM
    stuck in SIGTERM must not stay bound to :7077 and be mistaken for an
    external cluster by the next run."""
    for p in reversed(procs):
        try:
            p.terminate()
        except Exception:
            pass
    for p in procs:
        try:
            p.wait(timeout=15)
        except Exception:
            p.kill()


def _zip_pkg() -> str:
    import zipfile

    os.makedirs(CLUSTER_DIR, exist_ok=True)
    zpath = f"{CLUSTER_DIR}/sparkocr.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "sparkocr")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    return zpath


def _session(cores_max: int, zpath: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder
        .master(MASTER_URL)
        .appName(f"cluster-scaling-{cores_max}")
        .config("spark.cores.max", str(cores_max))
        .config("spark.executor.cores", "1")
        .config("spark.executor.memory", "3g")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.submit.pyFiles", zpath)
        .config("spark.sql.shuffle.partitions", str(cluster_size()[2]))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _replicate(base, spark, reps: int):
    """Replicate a (conv_id, turn_idx, role, text) frame ``reps``× with
    replica-unique conv ids and spread it over salted shards — the one
    shared tail so both corpus builders measure identically-shaped jobs."""
    from pyspark.sql import functions as F

    return (
        base.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
        .select(F.concat_ws("-", "conv_id", "rep").alias("conv_id"),
                "turn_idx", "role", "text")
        .repartition(cluster_size()[2], "conv_id", "turn_idx")  # salted
    )


def _corpus(spark, reps: int):
    """The cohort study's transcript corpus: documents as turns,
    replicated ``reps``× with replica-unique conv ids."""
    from sparkocr.sources import docs_as_transcripts

    docs = docs_as_transcripts(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    return _replicate(docs, spark, reps)


def _corpus_transcripts(spark, reps: int):
    """Transcript-SHAPED corpus (the north rule's actual input mix):
    `fixtures.turns_pandas` — ~16% single-line chat, ~53% multi-line
    plain, ~12% markup, plus tool/document rows — replicated ``reps``×.
    Exercises fastbatch stages 1/2 and the fallback, where `_corpus`
    (single-line documents) only ever hits stage 1."""
    from sparkocr.fixtures import turns_pandas

    base = spark.createDataFrame(
        turns_pandas(seed=3, n_convs=40)[
            ["conv_id", "turn_idx", "role", "text"]]
    )
    return _replicate(base, spark, reps)


def run_pass(cores_max: int, reps: int, zpath: str,
             skip_substr: bool, transcripts: bool = False) -> dict:
    from pyspark.sql import functions as F

    from sparkocr.engine import SparkOcrEngine

    spark = _session(cores_max, zpath)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        mk = _corpus_transcripts if transcripts else _corpus
        corpus = mk(spark, reps).localCheckpoint(eager=True)
        n_turns = corpus.count()
        eng = SparkOcrEngine(spark)
        # warmup: python daemons fork, Arrow paths JIT, code ships —
        # ~5 s per session that would bias the ratio against the larger
        # cluster. The 1/8 sample touches all executors; the timed runs
        # measure SUSTAINED throughput, as the north rule asks.
        sample = corpus.where(
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(8)) == 0)
        eng.extract(sample).write.format("noop").mode("overwrite").save()
        out = {"cores_max": cores_max, "n_turns": n_turns}
        # sustained = best of 3 timed runs: each executor JVM JITs on
        # its own, and the large cluster's short runs need several for
        # C2 — a cold single shot biases the ratio against it
        secs = []
        for _ in range(3):
            t = time.time()
            eng.extract(corpus) \
                .write.format("noop").mode("overwrite").save()
            secs.append(round(time.time() - t, 2))
        out["extract_runs"] = secs
        out["extract_sec"] = min(secs)
        out["turns_per_sec"] = round(n_turns / out["extract_sec"], 1)
        if not skip_substr:
            from sparkocr.analysis import dedup_substrings

            docs = corpus.select(
                F.concat_ws("#", "conv_id",
                            F.col("turn_idx").cast("string")).alias(
                    "doc_id"), "text")
            sdocs = docs.where(
                F.pmod(F.xxhash64("doc_id"), F.lit(8)) == 0)
            dedup_substrings(sdocs, "doc_id", min_len=20) \
                .write.format("noop").mode("overwrite").save()
            ssecs = []
            for _ in range(2):
                t = time.time()
                dedup_substrings(docs, "doc_id", min_len=20) \
                    .write.format("noop").mode("overwrite").save()
                ssecs.append(round(time.time() - t, 2))
            out["substr_runs"] = ssecs
            out["substr_sec"] = min(ssecs)
        return out
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=40)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--keep-cluster", action="store_true")
    ap.add_argument("--skip-substr", action="store_true")
    ap.add_argument("--transcripts", action="store_true",
                    help="use the transcript-shaped fixture mix "
                         "(multi-line/markup rows) instead of "
                         "single-line documents")
    args = ap.parse_args()

    n, n4, _ = cluster_size()
    # zip BEFORE starting the cluster: a zip failure (disk full) after
    # start_cluster but outside the try/finally would leak the daemons
    zpath = _zip_pkg()
    procs: list = []
    if not _port_open(7077):
        procs = start_cluster()
        print("# standalone cluster up: master + "
              f"{n4} pinned 1-core workers", file=sys.stderr)
    try:
        results: dict[int, list[dict]] = {n: [], n4: []}
        for _ in range(args.passes):
            for cm in (n, n4):  # interleaved so load bursts spread
                r = run_pass(cm, args.reps, zpath, args.skip_substr,
                             transcripts=args.transcripts)
                print(f"# cores.max={cm}: {r}", file=sys.stderr, flush=True)
                results[cm].append(r)
        best = {cm: min(rs, key=lambda r: r["extract_sec"])
                for cm, rs in results.items()}
        eff = (best[n4]["turns_per_sec"] / best[n]["turns_per_sec"]) / 4
        keys = (f"N={n}", f"4N={n4}")
        out = {
            "metric": f"standalone-cluster scaling, {n} vs {n4} real "
                      "single-core executors (pinned worker JVMs, "
                      "py-files ship, real shuffle service)"
                      + (", transcript-shaped corpus"
                         if args.transcripts else ""),
            "n_executors": [n, n4],
            "n_turns": best[n]["n_turns"],
            "turns_per_sec": {k: best[c]["turns_per_sec"]
                              for k, c in zip(keys, (n, n4))},
            "extract_scaling_efficiency": round(eff, 3),
        }
        if not args.skip_substr:
            s_n, s_4n = (min(r["substr_sec"] for r in results[c])
                         for c in (n, n4))
            out["substr_sec"] = dict(zip(keys, (s_n, s_4n)))
            out["substr_scaling_efficiency"] = round(s_n / s_4n / 4, 3)
        print(json.dumps(out))
    finally:
        if procs and not args.keep_cluster:
            teardown(procs)


if __name__ == "__main__":
    main()
