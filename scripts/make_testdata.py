"""Deterministic synthetic-testdata generator for scales the driver
did not ship (the driver generated /root/testdata/sf{0.001,0.01,0.1}
and that directory is read-only).

Matches the driver tables' schemas and distribution SHAPES (verified
against sf0.1 via DuckDB DESCRIBE + value sampling — see the column
notes inline); it does NOT reproduce the driver's exact values, and
does not need to: every consumer of generated data compares Spark
against DuckDB over the SAME generated files
(scripts/check_correctness.py) or measures wall-time slopes
(scripts/bench_scale_slopes.py), so only shape fidelity matters.

Row counts scale linearly with sf (sf1 == 10x the driver's sf0.1):

    customer 150k/sf  supplier 10k/sf  part 200k/sf  orders 1.5M/sf
    lineitem 6M/sf    events 1M/sf     documents 50k/sf
    embeddings 20k/sf

Usage: python scripts/make_testdata.py SF OUTDIR  [--seed 42]
e.g.   python scripts/make_testdata.py 1 .localdata/sf1 --seed 7
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUS = ["O", "F", "P"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["large", "hot", "blue", "small", "red", "green", "shiny", "dim"]
PNOUN = ["ring", "bolt", "screw", "plate", "gear", "rod", "cap", "pin"]
RFLAG = ["N", "A", "R"]
LSTAT = ["O", "F"]
ETYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "en", "zh", "fr", "de", "es"]  # en-heavy, like driver
# driver documents draw from a small OLAP-flavored vocabulary
VOCAB = ("spark sql query table column row scan filter join group agg "
         "sort window hash merge batch stream part line order key value "
         "data fast slow big small a the vector index plan stage shuffle").split()
DAY_US = 86_400_000_000


def _ts_col(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def gen(sf: float, outdir: str, seed: int = 42) -> None:
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))
        print(f"{name}: {table.num_rows} rows")

    # region / nation: fixed-size dims at every sf (like TPC-H)
    write("region", pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS}))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}))

    n_cust = int(150_000 * sf)
    write("customer", pa.table({
        "c_custkey": pa.array(range(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}))

    n_supp = int(10_000 * sf)
    write("supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}))

    n_part = int(200_000 * sf)
    adj = np.array(PADJ)[rng.integers(0, len(PADJ), n_part)]
    noun = np.array(PNOUN)[rng.integers(0, len(PNOUN), n_part)]
    write("part", pa.table({
        "p_partkey": pa.array(range(n_part), type=pa.int64()),
        "p_name": [f"{a} {n}" for a, n in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900 + 0.1 * np.arange(n_part) % 1000, 2)}))

    n_ord = int(1_500_000 * sf)
    base = np.datetime64("1995-01-01", "us").astype("int64")
    span = np.datetime64("2001-08-01", "us").astype("int64") - base
    odate_us = base + (rng.integers(0, span // DAY_US, n_ord) * DAY_US)
    write("orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n_cust, 1), n_ord),
                              type=pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUS)[
            rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])]),
        "o_totalprice": np.round(rng.uniform(900, 450_000, n_ord), 2),
        "o_orderdate": _ts_col(odate_us),
        "o_orderpriority": pa.array(np.array(PRIO)[rng.integers(0, 5, n_ord)])}))

    n_li = int(6_000_000 * sf)
    sdate_us = base + (rng.integers(0, span // DAY_US + 120, n_li) * DAY_US)
    write("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(n_ord, 1), n_li),
                               type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(n_part, 1), n_li),
                              type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(n_supp, 1), n_li),
                              type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(RFLAG)[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(LSTAT)[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_col(sdate_us)}))

    n_ev = int(1_000_000 * sf)
    ev_base = np.datetime64("2024-01-01", "us").astype("int64")
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + ev_base
    kvals = rng.integers(0, 100, n_ev)
    write("events", pa.table({
        "event_id": pa.array(range(n_ev), type=pa.int64()),
        "ts": _ts_col(ev_us),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf) or 1, n_ev),
                            type=pa.int64()),
        "event_type": pa.array(np.array(ETYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(80, n_ev).clip(0, 600), 2),
        "props": [f'{{"k": {k}}}' for k in kvals]}))

    n_doc = int(50_000 * sf)
    n_words = rng.integers(8, 105, n_doc)
    vocab = np.array(VOCAB)
    # one flat draw then split: ~40x faster than a per-doc loop.
    # Token mix: half from the driver's small OLAP vocabulary (hot
    # shingles), half from a Zipf long tail whose size grows with sf
    # (Heaps' law) — with ONLY the 30-word vocab, every bigram's df
    # blows past the jaccard stop-shingle cap once the corpus passes
    # ~10k docs and the near-dup probes go trivially empty at sf1+
    total = int(n_words.sum())
    n_tail = 2_000 + int(30_000 * sf ** 0.7)
    tail = np.minimum(rng.zipf(1.3, total), n_tail)
    flat = np.where(
        rng.random(total) < 0.5,
        vocab[rng.integers(0, len(vocab), total)],
        np.char.add("w", tail.astype("U7")),
    )
    bounds = np.cumsum(n_words)[:-1]
    texts = [" ".join(w) for w in np.split(flat, bounds)]
    # plant exact duplicates (~2%) so dedup operators have real work —
    # as PAIRS with distinct contents per pair, not one giant identical
    # cluster: a size-k cluster emits k^2/2 near-dup pairs (quadratic
    # probe output) while its shared shingles blow past the jaccard
    # max_df stop-shingle cap (trivially empty probe); pairs keep both
    # probes linear and non-trivial at every sf
    dup_idx = rng.choice(n_doc, 2 * max(n_doc // 100, 1), replace=False)
    for a, b in zip(dup_idx[::2], dup_idx[1::2]):
        texts[int(b)] = texts[int(a)]
    write("documents", pa.table({
        "doc_id": pa.array(range(n_doc), type=pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())}))

    n_emb = int(20_000 * sf)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    mat = centers[labels] * 0.5 + rng.normal(0, 0.5, (n_emb, 64))
    mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)).astype("float32")
    write("embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), type=pa.int64()),
        "embedding": pa.array(list(mat), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32())}))


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("sf", type=float, help="scale factor")
    ap.add_argument("outdir", help="directory for the parquet tables")
    ap.add_argument("--seed", type=int, default=42, help="RNG seed")
    a = ap.parse_args()
    gen(a.sf, a.outdir, a.seed)


if __name__ == "__main__":
    main()
