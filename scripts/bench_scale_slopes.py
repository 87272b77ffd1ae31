"""Per-query time-vs-scale slopes (round-4 verdict task #1): run the
headline bench queries plus the scale-risk rotation queries (minhash
signatures, jaccard posting join, IVF Lloyd rounds, ExactSubstr,
in-query LM training) at a LADDER of scale factors generated by
scripts/make_testdata.py, and fit the empirical exponent alpha in
t ~ sf^alpha between the largest two points.

Reading the exponent: a linear operator with fixed overheads reads
alpha < 1 at small sf and -> 1 from below as data dominates; alpha
clearly above its theoretical shape (e.g. 1.5+ for a linear op, 2+ for
a banded join) at the TOP of the ladder is the superlinear-constant
signal this script exists to surface. The quadratic-by-design exact-ANN
oracle paths are excluded (labeled oracle-only; they'd read alpha ~= 2
by construction).

Usage:
  python scripts/make_testdata.py 0.25 .localdata/gen-sf0.25   # etc.
  python scripts/bench_scale_slopes.py .localdata/gen-sf0.1 \
      .localdata/gen-sf0.25 .localdata/gen-sf0.5 .localdata/gen-sf1 [...]

Prints a markdown table (paste into BENCH/SCALING_NOTES.md) and one
JSON line. Uses the bench's timing discipline: interleaved passes,
best-of-2 per (query, sf), extraction memo disabled.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ["SPARKOCR_EXTRACT_MEMO"] = "0"

# headline set + the scale-risk rotation queries the round-4 verdict
# names as where a superlinear constant would first surface
QUERIES = [
    "extract_documents",
    "extract_blocks_flat",
    "exact_dedup_documents",
    "minhash_lsh_pairs_documents",
    "jaccard_pairs_documents",
    "simhash_documents",
    "window_funcs_events",
    "interval_merge_events",
    "doc_metrics_documents",
    "ivf_topk_embeddings",
    "dedup_battery_documents",
    "gopher_c4_documents",
    "lm_model_scores_documents",
    "lm_ppl_documents",
]


def sf_of(d: str) -> float:
    return float(d.rstrip("/").rsplit("sf", 1)[-1])


def main() -> None:
    dirs = sys.argv[1:]
    if len(dirs) < 2:
        sys.exit(__doc__)
    dirs = sorted(dirs, key=sf_of)
    import __spark_entry__ as entrymod
    from sparkocr.session import get_spark

    from bench import CPUS as cpus
    spark = get_spark(cores=cpus, app_name="scale-slopes",
                      shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    spark.range(1000).selectExpr("sum(id)").collect()

    t: dict[str, dict[float, float]] = {q: {} for q in QUERIES}
    rows_at: dict[str, dict[float, int]] = {q: {} for q in QUERIES}
    for _pass in range(2):
        for d in dirs:
            sf = sf_of(d)
            for q in QUERIES:
                if q not in qs:
                    continue
                try:
                    t0 = time.time()
                    n = qs[q](spark, d).count()
                    dt = time.time() - t0
                except Exception as e:
                    print(f"FAIL {q} @ sf{sf}: {e}", file=sys.stderr)
                    continue
                rows_at[q][sf] = n
                if sf not in t[q] or dt < t[q][sf]:
                    t[q][sf] = dt
            print(f"pass {_pass} sf{sf} done", file=sys.stderr, flush=True)

    sfs = [sf_of(d) for d in dirs]
    print("| query | " + " | ".join(f"sf{s} (s)" for s in sfs)
          + " | alpha (top) | rows@top |")
    print("|---|" + "---|" * (len(sfs) + 2))
    out = {}
    for q in QUERIES:
        if not t[q]:
            continue
        cells = [f"{t[q].get(s, float('nan')):.2f}" for s in sfs]
        a, b = sfs[-2], sfs[-1]
        alpha = None
        if a in t[q] and b in t[q] and t[q][a] > 0:
            alpha = math.log(t[q][b] / t[q][a]) / math.log(b / a)
        alpha_s = f"{alpha:.2f}" if alpha is not None else "n/a"
        print(f"| {q} | " + " | ".join(cells)
              + f" | {alpha_s} | {rows_at[q].get(b, 'n/a')} |")
        out[q] = {"times": {str(s): round(t[q][s], 3) for s in t[q]},
                  "alpha_top": round(alpha, 3) if alpha is not None else None}
    print(json.dumps({"sfs": sfs, "cpus": cpus, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
