"""Layered benchmark of sparkocr.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \\
        --seconds 6 --trace 0

Run from the root of a checkout. One driver process runs one workload at
``local[n]``, where n is the number of cores this process may use. It
generates the workload's inputs from ``--seed`` (cached under
``.perfbench_work/inputs``), sets the session up, runs a closed loop of
passes, one at a time: a cold first pass, a fixed number of warm-up
passes while the JVM compiles the hot code, then measured passes for
``--seconds``. It checks every output, and then sets the session up
twice more, so that ``setup_s`` is the median of three set-ups. Each
pass is timed by the wall clock and by the CPU time of this process,
its JVM and its Python workers.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints its per-layer metrics, from a run that alternates
traced and untraced passes and then runs the layer probes. It also
writes the spans and stage metrics to
``.perfbench_work/trace-<workload>-s<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is
0 when every output was correct, 1 when one was not, and 2 when the
benchmark cannot run here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_SETUPS = 3          # set-ups per run; setup_s is their median
MIN_MEASURED = 2      # measured passes per untraced run, at least
MIN_EACH_TRACED = 2   # traced and untraced measured passes per traced run
DRIVER_MEMORY = "2g"


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _warmup_job(spark, cores: int) -> None:
    """The set-up's first job: one task per core, each importing the
    package in its Python worker."""
    def import_package(batches):
        import sparkocr.engine  # noqa: F401
        import sparkocr.fastbatch  # noqa: F401
        yield from batches

    (spark.range(0, cores, 1, cores).mapInArrow(import_package, "id long")
     .write.format("noop").mode("overwrite").save())


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait until
    it and its Python workers have exited."""
    from host import descendants
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "sparkocr", "__init__.py")):
        _die(f"no sparkocr package under {ROOT}: run from a full checkout")
    if not os.path.exists(spec_path):
        _die(f"no BENCHMARK.json under {ROOT}")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _die(f"unknown workload {args.workload!r}")

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # keep every scratch file of Spark, Python and the JVM in the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    try:
        return _run(args, spec, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _setup(n: int, conf: dict, setups: list):
    """One set-up, timed from ``get_spark`` to its first completed job."""
    from sparkocr.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cores=n, app_name="perfbench", extra_conf=conf)
    _warmup_job(spark, n)
    setups.append(time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run(args, spec, work, run_dir) -> int:
    import host
    import inputs
    from spans import StatusApi, Tracer, self_times
    from workloads import WORKLOADS, median

    n = host.cores()
    load_start = host.load1()
    phases, last = {}, [time.perf_counter()]

    def phase_done(name):
        now = time.perf_counter()
        phases[name] = now - last[0]
        last[0] = now

    in_dir = inputs.input_dir(work, args.workload, args.seed)
    phase_done("inputs")

    import pyspark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the session default (8g) is sized for a large box; a fixed,
        # smaller heap keeps the JVM's footprint and GC pacing the same
        # from run to run
        "spark.driver.memory": DRIVER_MEMORY,
        # no hsperfdata file under /tmp; JVM scratch files in the run dir;
        # compiler threads that never exit, so that their CPU time can be
        # read per thread (host.tree_jit_cpu_s)
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    setups = []
    spark = _setup(n, conf, setups)
    phase_done("setup")

    class Ctx:
        pass

    ctx = Ctx()
    ctx.spark, ctx.cores, ctx.seed, ctx.work = spark, n, args.seed, run_dir
    ctx.tracer = Tracer(False, spark.sparkContext)
    ctx.api = StatusApi(spark.sparkContext) if args.trace else None
    wl = WORKLOADS[args.workload](ctx, in_dir)

    # Pass 0 is the cold pass. Passes 1..warmup let the JVM compile the
    # hot code: the CPU time of a pass falls steeply over them, so they
    # are timed but not measured. The measured passes' CPU time
    # leaves out the JIT compiler threads, whose work still tails off
    # there and is warm-up, not the cost of a pass.
    warmup = wl.warmup_passes
    traced_ids = []
    untraced_warm, traced_warm = [], []
    attempted = failed = 0
    correct = True
    meas_t0 = first = first_cpu = first_jit = None
    warm_cpu, warmup_cpu, jit_cpu = [], [], []
    pid = os.getpid()
    steal_start = host.cpu_ticks()
    k = 0
    while True:
        measured = k > warmup
        traced = bool(args.trace) and measured and (k - warmup) % 2 == 0
        ctx.tracer.enabled, ctx.tracer.pass_id = traced, k
        attempted += 1
        try:
            jit0 = host.tree_jit_cpu_s(pid)
            cpu0 = time.process_time() + host.tree_cpu_s(pid)
            t0 = time.perf_counter()
            with ctx.tracer.span("pass"):
                res = wl.run_pass()
            dt = time.perf_counter() - t0
            cpu = host.tree_cpu_s(pid) + time.process_time() - cpu0
            jit = host.tree_jit_cpu_s(pid) - jit0
            ctx.tracer.enabled = False
            wl.check_pass(res)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            correct = False
            dt = cpu = jit = None
        ctx.tracer.enabled = False
        if k == 0:
            first, first_cpu, first_jit = dt, cpu, jit
        elif dt is not None and not measured:
            warmup_cpu.append(cpu)
        elif dt is not None:
            (traced_warm if traced else untraced_warm).append(dt)
            if traced:
                traced_ids.append(k)
            else:
                warm_cpu.append(cpu - jit)
                jit_cpu.append(jit)
        if k == warmup:
            meas_t0 = time.perf_counter()
        k += 1
        if first is None or (failed and failed == attempted):
            break
        if meas_t0 is None or time.perf_counter() - meas_t0 < args.seconds:
            continue
        if args.trace:
            if min(len(traced_warm), len(untraced_warm)) >= MIN_EACH_TRACED:
                break
        elif len(untraced_warm) >= MIN_MEASURED:
            break
        if attempted > 200:
            break
    steal_end = host.cpu_ticks()
    phase_done("passes")
    peak_rss = host.tree_peak_rss_bytes(pid)

    try:
        wl.verify()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        correct = False

    metrics = {}
    if args.trace and first is not None and traced_warm and untraced_warm:
        ctx.tracer.enabled, ctx.tracer.pass_id = True, None
        try:
            metrics = wl.layer_metrics(traced_ids)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            correct = False
            metrics = {}
        ctx.tracer.enabled = False
    phase_done("checks")

    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": n, "load1_start": load_start,
        "steal_frac_passes": ((steal_end[0] - steal_start[0])
                              / max(steal_end[1] - steal_start[1], 1)),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "input_rows": wl.rows, "warm_passes": len(untraced_warm),
        "traced_passes": len(traced_warm), "setups_s": setups,
        "warm_pass_s": untraced_warm, "traced_pass_s": traced_warm,
        "first_pass_cpu_s": first_cpu, "first_pass_jit_cpu_s": first_jit,
        "warmup_pass_cpu_s": warmup_cpu,
        "warm_pass_cpu_s_no_jit": warm_cpu, "warm_pass_jit_cpu_s": jit_cpu,
        "phase_s": phases,
    }
    if args.trace:
        path = os.path.join(work, f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({
                "context": context,
                "self_time_s": self_times(ctx.tracer.spans),
                "spans": ctx.tracer.spans,
                "stages": {s["group"]: ctx.api.group(s["group"])["stages"]
                           for s in ctx.tracer.spans if s["group"]},
            }, f)
        context["trace_file"] = os.path.relpath(path, ROOT)

    # The remaining set-ups restart the SparkContext and its Python
    # workers in the same JVM. They come after the passes: passes that
    # follow restarted contexts ran slower.
    for _ in range(N_SETUPS - 1):
        spark.stop()
        spark = _setup(n, conf, setups)
    _stop_jvm(spark)
    phase_done("setups")
    context["load1_end"] = host.load1()

    if not args.trace and first is not None and untraced_warm:
        metrics = {
            "setup_s": median(setups),
            "first_pass_cpu_s": first_cpu,
            "rows_per_cpu_s": wl.rows / median(warm_cpu),
        }
        wanted = spec["end_to_end"]
    elif args.trace and metrics:
        metrics["first_pass_s"] = first
        metrics["rows_per_s"] = wl.rows / median(untraced_warm)
        metrics["trace.overhead_frac"] = (
            median(traced_warm) / median(untraced_warm) - 1.0)
        metrics["setup.cold_s"] = setups[0]
        metrics["peak_rss_mb"] = peak_rss / 2**20
        metrics["op_fail_frac"] = failed / attempted
        wanted = spec["per_layer"]
        # layers this workload does not exercise did no work here
        for w in wanted:
            if (not w["name"].startswith(wl.layers)
                    and w["name"] not in metrics):
                metrics[w["name"]] = 0
    else:
        wanted = []
        correct = False

    units = {w["name"]: w["unit"] for w in wanted}
    missing = sorted(set(units) - set(metrics))
    extra = sorted(set(metrics) - set(units))
    if missing or extra:
        print(f"perfbench: metric set differs from BENCHMARK.json: "
              f"missing {missing}, unexpected {extra}", file=sys.stderr)
        correct = False
    out = {name: {"value": float(metrics[name]), "unit": units[name]}
           for name in units if name in metrics}
    print("context " + json.dumps(context))
    for name, m in out.items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
