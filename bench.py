"""Benchmark runner (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1
data set named by ``SF_DIR``) on local[cpus], where cpus is the number
of CPUs this process may use (``affinity()``), and prints ONE JSON
line to stdout. It starts timing as soon as its session is up: no
load or capacity waits. The 1-minute load average at start and end is
recorded as context only.

Each headline query writes every output column to a ``noop`` sink
(``.count()`` would let Catalyst prune projected UDF columns); its time
is the best of 3 interleaved passes (q1 … qN, three times).

The scaling block evidences the north-rule "N → 4N executors at ≥0.8
efficiency" criterion with one cohort of 4N single-CPU executor JVMs,
N = ``cohort_size(cpus)`` = max(1, min(8, cpus) // 4), shard i pinned by
``pin(i)`` (the rule the scripts/ scaling harnesses share), over salted
shards of a deterministic corpus: interleaved lockstep passes where
either the first N (the N cluster) or all 4N (the 4N cluster) compute.
Below 4 CPUs the cohort does not run. See BENCH/SCALING_NOTES.md for the
methodology and the two estimators reported.

JSON keys:

    metric, value, unit     headline sum of the per-query seconds
    queries                 {query: best-of-3 seconds}
    sf, sf_dir, cpus        data set and local[cpus]
    load1_at_start          1-minute load average when timing began
    load1_at_end            ... after the scaling cohort
    failed_queries          headline queries that failed in every pass
                            (present only when one did)
    ratio_to_pin            {query: seconds / BENCH/pin.json seconds}
    ratio_to_pin_median     present only when sf_dir and cpus equal the pin's
    scaling_corpus_turns    turns over all 4N shards
    scaling_executor_cores  CPUs per cohort executor (1)
    scaling_n_executors     [N, 4N]
    turns_per_sec_n         throughput of the N cluster
    turns_per_sec_4n        throughput of the 4N cluster
    scaling_efficiency      per-executor self-ratio (see SCALING_NOTES)
    scaling_efficiency_wall (turns_per_sec_4n / turns_per_sec_n) / 4
    scaling_pass_s          {pass label: {shard: seconds}}: every timed
                            pass of every active shard ("A0", "B1", ...)
    scaling_error           why the cohort was skipped or failed; present
                            instead of the scaling_* / turns_* keys

All diagnostics go to stderr; stdout carries exactly the one JSON line.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def affinity() -> list[int]:
    """This process's CPUs in id order: the one read of its mask."""
    return sorted(os.sched_getaffinity(0))


def pin(first: int, count: int = 1) -> functools.partial:
    """``preexec_fn`` pinning a child (and the JVM it execs) to ``count``
    CPUs of ``affinity()`` from its ``first``-th on (the set is
    ``.args[1]``), never to ``range`` ids: a mask need not start at 0."""
    return functools.partial(os.sched_setaffinity, 0,
                             set(affinity()[first:first + count]))


CPUS = len(affinity())
PIN_PATH = os.path.join(REPO, "BENCH", "pin.json")

# Headline subset of __spark_entry__.queries(): the flagship extraction
# plus one representative per operator family (dedup, near-dup, ANN,
# window, interval merge, quality). Full coverage runs in
# scripts/check_correctness.py; the bench measures throughput.
HEADLINE = [
    "extract_documents",
    "extract_blocks_flat",
    "exact_dedup_documents",
    "minhash_lsh_pairs_documents",
    "jaccard_pairs_documents",
    "simhash_documents",
    "ivf_topk_embeddings",
    "window_funcs_events",
    "interval_merge_events",
    "doc_metrics_documents",
]

# Cohort pass plan: "A" = only the N cluster computes, "B" = all 4N do.
PLAN = "ABABAB"
# documents replicated this many times: 200k turns at sf0.1, long enough
# timed passes that fixed job-submit overheads (~0.3 s) stay under ~3%
SCALING_REPS = 40

# One "executor": a local[1] JVM pinned to one CPU, processing its 1/4N
# shard of the corpus. A single cohort of 4N executors measures BOTH
# cluster sizes: in "A" passes only the first N compute while the rest
# idle at the barrier; in "B" passes all compute. Interleaved lockstep
# passes (ABABAB) mean the same JVMs, shards and machine state appear in
# both configurations, so per-JVM speed lottery cancels in the ratio.
# This is the in-sandbox analog of running the identical spark-submit job
# on an N-executor and a 4N-executor cluster (executor size fixed).
_SCALING_WORKER = r'''
import os, sys, time
sf_dir, reps = sys.argv[1], int(sys.argv[2])
n_shards, shard, ready_path, go_path = (
    int(sys.argv[3]), int(sys.argv[4]), sys.argv[5], sys.argv[6])
plan, n_small = sys.argv[7], int(sys.argv[8])
from pyspark.sql import functions as F
from sparkocr.session import get_spark
from sparkocr.engine import SparkOcrEngine
from sparkocr.sources import docs_as_transcripts

spark = get_spark(cores=1, app_name=f"scaling-{n_shards}x1-{shard}",
                  shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.ui.enabled": "false",
                              "spark.driver.memory": "6g"})
spark.sparkContext.setLogLevel("ERROR")
docs = docs_as_transcripts(spark.read.parquet(f"{sf_dir}/documents.parquet"))
corpus = (
    docs.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
    .select(F.concat_ws("-", "conv_id", "rep").alias("conv_id"),
            "turn_idx", "role", "text")
)
# row-level (salted) sharding: pure conv-hash shards are ±13% uneven on
# this corpus (few distinct convs) and the wall clock pays the worst
# shard. The per-turn map is stateless, so salting with turn_idx is the
# north-rule "salted repartition on conv_id" move and balances shards.
shardf = corpus.where(
    F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_shards)) == shard
).repartition(4).cache()
n = shardf.count()
eng = SparkOcrEngine(spark)

def run_pass():
    eng.extract(shardf).write.format("noop").mode("overwrite").save()

# full-pass warmup: spawns+warms the python worker and JITs the UDF path
run_pass()
# a barrier before EVERY timed pass keeps the concurrent executors
# aligned, so per-pass wall = max over the pass's ACTIVE executors
mine = set("AB") if shard < n_small else {"B"}
dts = []
for p, label in enumerate(plan):
    open(f"{ready_path}.{p}", "w").write("ready")
    t_wait = time.time()
    while not os.path.exists(f"{go_path}.{p}"):
        time.sleep(0.05)
        # must exceed the parent's 900s barrier: an idle worker giving
        # up first would kill a cohort the parent was still tolerating
        if time.time() - t_wait > 960:
            sys.exit(3)
    if label not in mine:
        continue
    t0 = time.time()
    run_pass()
    dts.append(f"{label}{p}:{time.time() - t0:.4f}")
print("SCALING %d %d %s" % (shard, n, " ".join(dts)), flush=True)
spark.stop()
'''


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _load1() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def cohort_size(cpus: int) -> tuple[int, int] | None:
    """(N, 4N) single-CPU executors for ``cpus`` usable CPUs, or None
    when there are too few CPUs for 4N pinned executors."""
    if cpus < 4:
        return None
    n_small = max(1, min(8, cpus) // 4)
    return n_small, 4 * n_small


def ratios_to_pin(timings: dict[str, float], sf_dir: str, cpus: int,
                  pin: dict) -> dict[str, float]:
    """Per-query ratio of ``timings`` to the pinned times, or {} unless
    the run's sf_dir and CPU count equal the pin's. A degraded box reads
    as near-uniform ratios across queries, code drift as one query's
    outlier ratio."""
    if (os.path.realpath(sf_dir) != os.path.realpath(pin["sf_dir"])
            or cpus != pin["cpus"]):
        return {}
    return {k: round(v / pin["queries"][k], 2)
            for k, v in timings.items() if k in pin["queries"]}


def run_headline() -> tuple[dict[str, float], float, list[str]]:
    import __spark_entry__ as entrymod
    from sparkocr.session import get_spark

    spark = get_spark(cores=CPUS, app_name="bench",
                      shuffle_partitions=CPUS,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    # warm the session (JVM/Arrow/python-worker spinup outside timings)
    spark.range(1000).selectExpr("sum(id)").collect()
    # INTERLEAVED passes spread each query's samples apart, so a burst
    # of external load costs one sample, not a query's whole best-of-3
    for _pass in range(3):
        for name in HEADLINE:
            try:
                t0 = time.time()
                (qs[name](spark, SF_DIR)
                 .write.format("noop").mode("overwrite").save())
                dt = time.time() - t0
                if name not in timings or dt < timings[name]:
                    timings[name] = dt
            except Exception as e:  # a broken query is visible as absence
                _log(f"bench {name}: FAILED {e}")
    timings = {k: round(v, 3) for k, v in timings.items()}
    for name, best in timings.items():
        _log(f"bench {name}: {best}s")
    spark.stop()
    # queries that never succeeded in any pass: surfaced in the JSON —
    # a silently shrunken sum would read as a FASTER bench
    failed = [n for n in HEADLINE if n not in timings]
    return timings, round(sum(timings.values()), 3), failed


def _executor_error(shard: int, what: str, err_path: str) -> RuntimeError:
    """Log a dead executor's stderr tail; the error carries its last
    line (usually the exception) so the JSON says why."""
    try:
        with open(err_path) as f:
            tail = f.read()[-1500:]
    except OSError:
        tail = "<stderr unavailable>"
    _log(tail)
    last = next((l for l in reversed(tail.splitlines()) if l.strip()), "")
    return RuntimeError(f"executor {shard} {what}: {last.strip()}")


def _run_cohort(n_small: int, n_execs: int) -> tuple[dict, dict]:
    """Run the pass plan on ``n_execs`` local[1] executors, shard i pinned
    by ``pin(i)``. Returns ({shard: turns}, {pass label: {shard:
    seconds}}); raises RuntimeError when an executor dies or the barrier
    times out."""
    # the worker's `import sparkocr` must resolve regardless of the
    # parent's cwd (python -c puts cwd on sys.path, not this directory)
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    with tempfile.TemporaryDirectory() as td:
        go = os.path.join(td, "go")
        procs, readies, err_paths = [], [], []
        try:
            for shard in range(n_execs):
                ready = os.path.join(td, f"ready{shard}")
                readies.append(ready)
                cmd = [sys.executable, "-c", _SCALING_WORKER, SF_DIR,
                       str(SCALING_REPS), str(n_execs), str(shard), ready,
                       go, PLAN, str(n_small)]
                # stderr to a FILE, not a pipe: Spark error stack traces
                # can exceed the 64KB pipe buffer, and an undrained pipe
                # would block the JVM mid-pass, hanging the barrier
                err_paths.append(os.path.join(td, f"stderr{shard}"))
                with open(err_paths[-1], "w") as ef:
                    procs.append(subprocess.Popen(
                        cmd, stdout=subprocess.PIPE, stderr=ef, text=True,
                        env=env, preexec_fn=pin(shard)))
            for pno in range(len(PLAN)):
                t0 = time.time()
                while not all(os.path.exists(f"{r}.{pno}") for r in readies):
                    time.sleep(0.1)
                    dead = [i for i, p in enumerate(procs)
                            if p.poll() not in (None, 0)]
                    if dead:
                        i = dead[0]
                        raise _executor_error(
                            i, f"exited with code {procs[i].returncode} "
                               f"before pass {pno}", err_paths[i])
                    if time.time() - t0 > 900:
                        raise RuntimeError(f"barrier before pass {pno} "
                                           "timed out after 900 s")
                with open(f"{go}.{pno}", "w") as f:
                    f.write("go")
            n_by_shard: dict[int, int] = {}
            dt: dict[str, dict[int, float]] = {}  # "A3" -> {shard: dt}
            for i, p in enumerate(procs):
                out_s, _ = p.communicate(timeout=1800)
                line = next((l for l in out_s.splitlines()
                             if l.startswith("SCALING")), None)
                if p.returncode != 0 or line is None:
                    raise _executor_error(
                        i, f"exited with code {p.returncode} without a "
                           "result", err_paths[i])
                parts = line.split()
                shard = int(parts[1])
                n_by_shard[shard] = int(parts[2])
                for item in parts[3:]:
                    key, val = item.split(":")
                    dt.setdefault(key, {})[shard] = float(val)
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                    p.wait()
    return n_by_shard, dt


def run_scaling() -> dict:
    size = cohort_size(CPUS)
    if size is None:
        return {"scaling_error": f"skipped: the N→4N cohort needs at "
                                 f"least 4 CPUs, this process may use {CPUS}"}
    n, n4 = size
    try:
        n_by_shard, dt = _run_cohort(n, n4)
    except Exception as e:  # headline results must still reach stdout
        _log(f"scaling phase failed: {e}")
        return {"scaling_error": f"failed: {type(e).__name__}: {e}"}
    turns_a = sum(n_by_shard[s] for s in range(n))
    turns_b = sum(n_by_shard.values())
    # per-pass wall = slowest active executor; best (min) pass per config
    wall_a, wall_b = (min(max(d.values()) for k, d in dt.items()
                          if k[0] == c) for c in "AB")
    tps_n, tps_4n = turns_a / wall_a, turns_b / wall_b
    eff_wall = (tps_4n / tps_n) / 4.0
    # per-executor self-ratio: each N-config executor's best A pass over
    # its best B pass cancels the per-JVM speed lottery and excludes the
    # static-shard straggler, which a real Spark scheduler levels by
    # feeding tasks dynamically; wall-based understates a real cluster
    def best(c: str, s: int) -> float:
        return min(d[s] for k, d in dt.items() if k[0] == c and s in d)
    eff = sum(best("A", s) / best("B", s) for s in range(n)) / n
    _log(f"scaling N={n} executors: {turns_a} turns, "
         f"{wall_a:.1f}s wall → {tps_n:.0f} turns/sec")
    _log(f"scaling 4N={n4} executors: {turns_b} turns, "
         f"{wall_b:.1f}s wall → {tps_4n:.0f} turns/sec")
    _log(f"scaling efficiency: {eff:.3f} (per-executor self-ratio; "
         f"wall-based incl. static-shard stragglers: {eff_wall:.3f})")
    return {
        "scaling_corpus_turns": turns_b,
        "scaling_executor_cores": 1,
        "scaling_n_executors": [n, n4],
        "turns_per_sec_n": round(tps_n, 1),
        "turns_per_sec_4n": round(tps_4n, 1),
        "scaling_efficiency": round(eff, 3),
        "scaling_efficiency_wall": round(eff_wall, 3),
        "scaling_pass_s": dt,
    }


def write_last_run_md(result: dict) -> None:
    # LAST_RUN.md, never the pin: the pin is a fixed, hand-committed
    # reference that must not drift to whatever the latest run produced
    lines = [
        "# BENCH — latest run (BENCH/pin.json is the fixed reference)",
        "",
        f"- sf dir: `{result['sf_dir']}` · local[{result['cpus']}] · "
        f"headline total: **{result['value']} s** across "
        f"{len(result['queries'])} queries",
        f"- load1: {result['load1_at_start']} at start, "
        f"{result['load1_at_end']} at end",
        "",
        "| query | sec | ratio to pin |",
        "|---|---|---|",
    ]
    ratios = result.get("ratio_to_pin", {})
    for k, v in result["queries"].items():
        lines.append(f"| {k} | {v} | {ratios.get(k, 'n/a')} |")
    if "failed_queries" in result:
        lines.append(f"\nFailed in every pass: {result['failed_queries']}")
    if "ratio_to_pin_median" in result:
        lines.append(
            f"\nMedian ratio to pin: **{result['ratio_to_pin_median']}** — "
            "near-uniform per-query ratios ≫1 indicate degraded box "
            "state, a lone outlier indicates code drift in that query.")
    lines += ["", "## N → 4N executor scaling (north-rule criterion)", ""]
    if "scaling_error" in result:
        lines.append(f"Not measured: {result['scaling_error']}")
    else:
        n, n4 = result["scaling_n_executors"]
        lines += [
            f"One cohort of {n4} pinned `local[1]` executors; interleaved "
            f"lockstep passes where {n} (the N cluster) or all {n4} (the "
            "4N cluster) compute. Method: `BENCH/SCALING_NOTES.md`.",
            "",
            f"- corpus: {result['scaling_corpus_turns']} turns",
            f"- N = {n}: **{result['turns_per_sec_n']} turns/sec**",
            f"- 4N = {n4}: **{result['turns_per_sec_4n']} turns/sec**",
            f"- scaling efficiency, per-executor self-ratio: "
            f"**{result['scaling_efficiency']}** (target ≥ 0.8)",
            f"- scaling efficiency, wall-based (tps_4N/tps_N)/4: "
            f"**{result['scaling_efficiency_wall']}**",
        ]
    with open(os.path.join(REPO, "BENCH", "LAST_RUN.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


def main() -> None:
    # bench.py takes no arguments. -h/--help must NOT fall through into
    # a multi-minute bench run; any other stray argument is ignored
    # loudly rather than rejected, so an unexpected argument from a
    # caller can never zero out a bench run.
    if any(a in ("-h", "--help") for a in sys.argv[1:]):
        sys.stderr.write("usage: python bench.py   (no arguments)\n"
                         "config via env: SPARK_GRAFT_SF_DIR\n")
        sys.exit(0)
    if sys.argv[1:]:
        _log(f"bench.py: ignoring unexpected args {sys.argv[1:]}")
    # __spark_entry__.queries() memoizes the shared extraction across
    # queries; a best-of-3 over a memoized plan measures the cache, not
    # the engine
    os.environ["SPARKOCR_EXTRACT_MEMO"] = "0"
    load_start = _load1()
    timings, total, failed = run_headline()
    result = {
        "metric": "headline query wall time (sum) + extraction scaling",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "load1_at_start": load_start,
    }
    if failed:
        # machine-readable failure signal: "value" only sums the queries
        # that ran, so without this a broken query reads as a speedup
        result["failed_queries"] = failed
    with open(PIN_PATH) as f:
        ratios = ratios_to_pin(timings, SF_DIR, CPUS, json.load(f))
    if ratios:
        result["ratio_to_pin"] = ratios
        vals = sorted(ratios.values())
        result["ratio_to_pin_median"] = vals[len(vals) // 2]
    result.update(run_scaling())
    result["load1_at_end"] = _load1()
    try:
        write_last_run_md(result)
    except OSError as e:
        _log(f"LAST_RUN.md write failed: {e}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
