"""Sequence packing (greedy next-fit bins) and semantic cluster-dedup
tests: hand goldens, invariants, and brute-force cross-checks."""

import pytest
from pyspark.sql import functions as F

from sparkocr.analysis import pack_sequences
from sparkocr.ann import cluster_neardup_pairs, cosine_neardup_pairs, ivf_index


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long")


def test_pack_hand_golden(spark):
    # one group, budget 10: [4,4] | [9] | [3,7 overflows → 3] | [7] | ...
    rows = [(i, "a", t) for i, t in
            enumerate([4, 4, 9, 3, 7, 10, 1, 2, 3, 4])]
    out = pack_sequences(_df(spark, rows), max_tokens=10).collect()
    got = {r["id"]: (r["bin"], r["pos"]) for r in out}
    assert got == {
        0: (0, 0), 1: (0, 1),          # 4+4=8
        2: (1, 0),                     # 9
        3: (2, 0),                     # 3 (+7 would be 10 → fits!)
        4: (2, 1),                     # 3+7=10 exactly fits
        5: (3, 0),                     # 10 exactly fills a bin
        6: (4, 0), 7: (4, 1), 8: (4, 2), 9: (4, 3),  # 1+2+3+4=10
    }
    assert all(r["oversize"] == 0 for r in out)


def test_pack_oversize_gets_own_bin(spark):
    rows = [(0, "a", 5), (1, "a", 25), (2, "a", 5), (3, "a", 5)]
    out = {r["id"]: r for r in
           pack_sequences(_df(spark, rows), max_tokens=10).collect()}
    assert out[1]["oversize"] == 1
    # the oversize doc sits alone in its bin
    assert [r["id"] for r in out.values()
            if r["bin"] == out[1]["bin"]] == [1]
    # and packing continues in a FRESH bin after it
    assert out[2]["bin"] == out[1]["bin"] + 1 and out[2]["pos"] == 0
    assert out[3]["bin"] == out[2]["bin"] and out[3]["pos"] == 1


def _invariants(rows, max_tokens):
    by_bin = {}
    for r in rows:
        by_bin.setdefault((r["group"], r["shard"], r["bin"]), []).append(r)
    for members in by_bin.values():
        members.sort(key=lambda r: r["pos"])
        # positions are dense from 0
        assert [m["pos"] for m in members] == list(range(len(members)))
        # budget respected unless the bin is a single oversize doc
        total = sum(m["n_tokens"] for m in members)
        if total > max_tokens:
            assert len(members) == 1 and members[0]["oversize"] == 1
    return by_bin


def test_pack_invariants_and_determinism(spark):
    rows = [(i, f"s{i % 3}", (i * 7919) % 40 + 1) for i in range(300)]
    df = _df(spark, rows)
    a = pack_sequences(df, max_tokens=64).collect()
    b = pack_sequences(df.repartition(13), max_tokens=64).collect()
    # every doc packed exactly once, identical result at any parallelism
    assert len(a) == 300
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    _invariants(a, 64)
    # greedy next-fit in ascending-id order, checked per group in python
    for g in ("s0", "s1", "s2"):
        got = sorted(((r["id"], r["bin"]) for r in a if r["group"] == g))
        cur_bin, cur_sum, cur_pos, exp = 0, 0, 0, []
        for i, t in sorted((i, t) for i, s, t in rows if s == g):
            if cur_pos > 0 and cur_sum + t > 64:
                cur_bin, cur_sum, cur_pos = cur_bin + 1, 0, 0
            exp.append((i, cur_bin))
            cur_sum += t
            cur_pos += 1
        assert got == exp


def test_pack_sharding_bounds_waste(spark):
    rows = [(i, "whale", 10) for i in range(200)]
    df = _df(spark, rows)
    one = pack_sequences(df, max_tokens=100, n_shards=1).collect()
    four = pack_sequences(df, max_tokens=100, n_shards=4).collect()
    assert len(four) == len(one) == 200
    _invariants(four, 100)
    # shards pack independently; total bins grow by at most n_shards-1
    def nbins(rows):
        return len({(r["shard"], r["bin"]) for r in rows})
    assert nbins(one) == 20
    assert nbins(four) <= 20 + 3


def test_pack_matches_duckdb_recursive_cte_oracle(spark):
    """Independent oracle: the same next-fit recursion expressed as a
    DuckDB recursive CTE (state = post-placement (bin, sum, pos) carried
    row-to-row in ascending-id order per group). Non-circular — no
    sparkocr code on the oracle side — and covers the oversize-closes-
    its-bin transition, which the CTE must replicate exactly."""
    import duckdb

    B = 64
    # deterministic mix incl. oversize docs (97 > B) and exact fits
    rows = [(i, f"s{i % 3}",
             97 if i % 37 == 0 else (i * 7919) % 40 + 1)
            for i in range(300)] + [(1000, "s0", B), (1001, "s0", B)]
    got = sorted(
        (r["group"], r["id"], r["bin"], r["pos"], r["n_tokens"],
         r["oversize"])
        for r in pack_sequences(_df(spark, rows), max_tokens=B).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, grp VARCHAR, n_tokens BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)",
                    [(i, g, t) for i, g, t in rows])
    new_bin = f"(r.st_pos > 0 AND r.st_sum + s.n_tokens > {B})"
    place_bin = (f"CASE WHEN {new_bin} THEN r.st_bin + 1 "
                 "ELSE r.st_bin END")
    oracle = con.execute(f"""
        WITH RECURSIVE s AS (
          SELECT grp, id, n_tokens,
                 row_number() OVER (PARTITION BY grp ORDER BY id) AS rn
          FROM t
        ), r AS (
          SELECT grp, id, n_tokens, rn, 0::BIGINT AS bin, 0 AS pos,
                 CASE WHEN n_tokens > {B} THEN 1 ELSE 0 END::BIGINT
                     AS st_bin,
                 CASE WHEN n_tokens > {B} THEN 0 ELSE n_tokens END::BIGINT
                     AS st_sum,
                 CASE WHEN n_tokens > {B} THEN 0 ELSE 1 END AS st_pos
          FROM s WHERE rn = 1
          UNION ALL
          SELECT s.grp, s.id, s.n_tokens, s.rn,
                 {place_bin} AS bin,
                 CASE WHEN {new_bin} THEN 0 ELSE r.st_pos END AS pos,
                 CASE WHEN s.n_tokens > {B} THEN ({place_bin}) + 1
                      ELSE ({place_bin}) END AS st_bin,
                 CASE WHEN s.n_tokens > {B} THEN 0
                      WHEN {new_bin} THEN s.n_tokens
                      ELSE r.st_sum + s.n_tokens END AS st_sum,
                 CASE WHEN s.n_tokens > {B} THEN 0
                      WHEN {new_bin} THEN 1
                      ELSE r.st_pos + 1 END AS st_pos
          FROM r JOIN s ON s.grp = r.grp AND s.rn = r.rn + 1
        )
        SELECT grp, id, bin, pos, n_tokens,
               CASE WHEN n_tokens > {B} THEN 1 ELSE 0 END AS oversize
        FROM r
    """).fetchall()
    assert got == sorted(oracle)


def test_pack_rejects_bad_budget(spark):
    with pytest.raises(ValueError):
        pack_sequences(_df(spark, [(0, "a", 1)]), max_tokens=0)


def test_pack_string_ids_survive(spark):
    """A string-keyed corpus packs without casting/nulling the id (the
    round-3 advice finding: the old long cast crashed ANSI runs or fed
    NaN to the kernel); output id type mirrors the input's, and packing
    order is ascending string id."""
    rows = [("doc-b", "a", 4), ("doc-a", "a", 4), ("doc-c", "a", 9)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, n_tokens long")
    out = pack_sequences(df, max_tokens=10)
    assert dict(out.dtypes)["id"] == "string"
    got = {r["id"]: (r["bin"], r["pos"]) for r in out.collect()}
    assert got == {"doc-a": (0, 0), "doc-b": (0, 1), "doc-c": (1, 0)}


# ---------------------------------------------------------------------------
# semantic (embedding-cluster) near-dup — SemDeDup composition


def _vecs(spark):
    # three well-separated directions + planted near-duplicates
    base = {0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0],
            2: [0.0, 0.0, 1.0, 1.0]}
    rows = []
    for i in range(60):
        v = list(base[i % 3])
        v[3] = v[3] + (i // 3) * 0.01  # slight spread, same direction
        rows.append((i, v))
    # planted: exact copies of vectors 0/1/2 under new ids
    for j, src in enumerate([0, 1, 2]):
        rows.append((100 + j, [float(x) for x in rows[src][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cluster_neardup_equals_within_cluster_exact(spark):
    df = _vecs(spark)
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in cluster_neardup_pairs(df, dim=4, threshold=0.999,
                                          nlist=3).collect()}
    # brute-force exact pairs, then keep only same-cluster ones using
    # the SAME deterministic assignment
    _, assigned = ivf_index(df, dim=4, nlist=3)
    cl = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in cosine_neardup_pairs(df, threshold=0.999).collect()}
    want = {p: c for p, c in exact.items() if cl[p[0]] == cl[p[1]]}
    assert got == want
    # the planted exact copies MUST be found (identical vectors always
    # share a cluster — assignment is a deterministic function of the
    # vector)
    for j, src in enumerate([0, 1, 2]):
        assert (src, 100 + j) in got and got[(src, 100 + j)] == 1.0


# ---------------------------------------------------------------------------
# chunk_conversations


def _cdf(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx long, n_tokens long")


def _greedy_loop(toks, cap):
    """The greedy next-fit spec, written straight: one step per doc,
    (bin, pos) per doc; a doc over ``cap`` closes its own bin."""
    out = []
    cur, cur_sum, cur_pos = 0, 0, 0
    for n in toks:
        if cur_pos > 0 and cur_sum + n > cap:
            cur, cur_sum, cur_pos = cur + 1, 0, 0
        out.append((cur, cur_pos))
        cur_sum += n
        cur_pos += 1
        if n > cap:
            cur, cur_sum, cur_pos = cur + 1, 0, 0
    return out


def test_next_fit_kernel_matches_greedy_loop():
    """The per-bin prefix-sum kernel against the per-doc loop, no Spark:
    zero-token docs, oversize docs first and last, exact fits, n = 0."""
    import numpy as np
    from sparkocr.analysis import _next_fit

    rng = np.random.default_rng(7)
    cases = [([], 5), ([0, 0, 0], 5), ([9, 1, 2], 5), ([1, 2, 9], 5),
             ([9], 5), ([5, 0, 5, 0], 5), ([9, 0, 0, 9, 0], 5)]
    for _ in range(2000):
        n = int(rng.integers(0, 40))
        cap = int(rng.integers(1, 50))
        toks = rng.integers(0, 60, n)
        toks[rng.random(n) < 0.2] = 0
        if n and rng.random() < 0.5:
            toks[[0, -1]] = cap + rng.integers(1, 20, 2)
        cases.append((toks.tolist(), cap))
    for toks, cap in cases:
        bins, pos = _next_fit(np.array(toks, dtype=np.int64), cap)
        assert list(zip(bins.tolist(), pos.tolist())) == \
            _greedy_loop(toks, cap), (toks, cap)
    with pytest.raises(ValueError):
        _next_fit(np.array([3, -1, 2]), 5)


def test_null_token_count_packs_as_zero(spark):
    """A null count is 0 tokens in both packers, never a NaN cast to
    INT64_MIN that lets every doc share one bin."""
    from sparkocr.analysis import chunk_conversations
    rows = [(0, "a", 5), (1, "a", None), (2, "a", 7), (3, "a", 9)]
    got = sorted((r["id"], r["bin"], r["pos"], r["n_tokens"]) for r in
                 pack_sequences(_df(spark, rows), max_tokens=10).collect())
    assert got == [(0, 0, 0, 5), (1, 0, 1, 0), (2, 1, 0, 7), (3, 2, 0, 9)]
    crows = [("c", i, n) for i, _, n in rows]
    got = sorted((r["turn"], r["chunk"], r["pos"], r["n_tokens"]) for r in
                 chunk_conversations(_cdf(spark, crows), 10).collect())
    assert got == [(0, 0, 0, 5), (1, 0, 1, 0), (2, 1, 0, 7), (3, 2, 0, 9)]


def test_negative_token_count_raises(spark):
    from sparkocr.analysis import chunk_conversations
    rows = [(0, "a", 5), (1, "a", -3), (2, "a", 7)]
    with pytest.raises(Exception, match="non-negative"):
        pack_sequences(_df(spark, rows), max_tokens=10).collect()
    with pytest.raises(Exception, match="non-negative"):
        chunk_conversations(
            _cdf(spark, [("c", i, n) for i, _, n in rows]), 10).collect()


def test_chunk_conversations_hand_golden(spark):
    from sparkocr.analysis import chunk_conversations
    rows = [("c", 0, 30), ("c", 1, 30), ("c", 2, 10),   # 30+30 | next
            ("c", 3, 70),                               # oversize alone
            ("c", 4, 5)]
    got = sorted(
        (r["turn"], r["chunk"], r["pos"], r["oversize"])
        for r in chunk_conversations(_cdf(spark, rows), 64).collect()
    )
    # turn2 (10) joins chunk0? 30+30=60, +10=70 > 64 → turn2 opens chunk1;
    # turn3 (70>64) overflows chunk1 → own chunk2 flagged; turn4 → chunk3
    assert got == [(0, 0, 0, 0), (1, 0, 1, 0), (2, 1, 0, 0),
                   (3, 2, 0, 1), (4, 3, 0, 0)]


def test_chunk_conversations_matches_reference_loop(spark):
    """Randomized convs vs an independent reference loop (the greedy
    spec, written straight); chunks must be contiguous in turn order
    and cover every turn exactly once."""
    import random
    from sparkocr.analysis import chunk_conversations
    rng = random.Random(3)
    rows = []
    for c in range(25):
        for t in range(rng.randrange(1, 30)):
            rows.append((f"conv{c}", t,
                         130 if rng.random() < 0.05
                         else rng.randrange(1, 60)))
    B = 128
    want = {}
    by_conv = {}
    for c, t, n in rows:
        by_conv.setdefault(c, []).append((t, n))
    for c, turns in by_conv.items():
        turns.sort()
        placed = _greedy_loop([n for _, n in turns], B)
        for (t, n), (ch, pos) in zip(turns, placed):
            want[(c, t)] = (ch, pos, int(n > B))
    got = {(r["conv"], r["turn"]): (r["chunk"], r["pos"], r["oversize"])
           for r in chunk_conversations(
               _cdf(spark, rows).repartition(7), B).collect()}
    assert got == want
    # chunk token sums respect the budget except single-oversize chunks
    sums = {}
    toks = {(c, t): n for c, t, n in rows}
    for (c, t), (ch, _, ov) in got.items():
        sums.setdefault((c, ch), []).append((toks[(c, t)], ov))
    for members in sums.values():
        if not any(ov for _, ov in members):
            assert sum(n for n, _ in members) <= B


def test_chunk_conversations_rejects_bad_budget(spark):
    import pytest as _pytest
    from sparkocr.analysis import chunk_conversations
    with _pytest.raises(ValueError):
        chunk_conversations(_cdf(spark, [("c", 0, 1)]), 0)


def test_chunk_oracle_cte_matches_kernel_randomized(spark):
    """The dsir_chunk_documents contract oracle re-derives the greedy
    chunker as a recursive CTE; the driver only ever compares it on one
    dataset. This pins the CTE's state machine against the Spark kernel
    on RANDOMIZED corpora (token counts spanning the overflow, oversize,
    and empty-budget branches) by running the committed oracle SQL on
    DuckDB over the same synthetic documents table."""
    import random

    import duckdb

    import __spark_entry__ as entrymod
    from sparkocr.analysis import chunk_conversations
    from pyspark.sql import functions as F

    rng = random.Random(17)
    rows = []
    did = 0
    for c in range(12):
        for _ in range(rng.randrange(1, 40)):
            # word counts around the oracle's 300-token budget: small,
            # boundary-straddling, and oversize turns all occur
            n = rng.choice([rng.randrange(1, 80), 299, 300, 301,
                            rng.randrange(250, 350), 500])
            rows.append((did, " ".join("w%d" % rng.randrange(9)
                                       for _ in range(n)), f"src{c}"))
            did += 1
    con = duckdb.connect()
    con.register("documents_py", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text", "n_chars_src"]))
    con.execute("CREATE VIEW documents AS SELECT doc_id, text, "
                "n_chars_src AS source, length(text) AS n_chars "
                "FROM documents_py")
    sql = entrymod.oracle_sql()["dsir_chunk_documents"]
    want = {(r[1], r[2]): (r[3], r[4], r[5])
            for r in con.execute(sql).fetchall() if r[0] == "chunk"}
    df = spark.createDataFrame(
        [(d, t, s) for d, t, s in rows],
        "doc_id long, text string, source string")
    turns = df.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").alias("turn_idx"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    got = {(r["conv"], r["turn"]): (r["chunk"], r["pos"], r["n_tokens"])
           for r in chunk_conversations(turns, max_tokens=300).collect()}
    assert len(got) == len(rows)
    assert got == want


# ---------------------------------------------------------------------------
# sft_mask_spans


def _rdf(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, n_tokens long")


def test_sft_mask_spans_hand_golden(spark):
    from sparkocr.analysis import sft_mask_spans
    rows = [("c", 0, "user", 30), ("c", 1, "assistant", 30),
            ("c", 2, "user", 10), ("c", 3, "tool", 70),
            ("c", 4, "assistant", 5)]
    got = sorted(
        (r["turn"], r["chunk"], r["start_tok"], r["end_tok"], r["trainable"])
        for r in sft_mask_spans(_rdf(spark, rows), 64).collect()
    )
    # chunk boundaries as in the chunker golden; offsets restart per chunk
    assert got == [(0, 0, 0, 30, 0), (1, 0, 30, 60, 1),
                   (2, 1, 0, 10, 0), (3, 2, 0, 70, 0),
                   (4, 3, 0, 5, 1)]


def test_sft_mask_spans_matches_reference_loop(spark):
    """Randomized convs vs a straight-line reference (greedy chunking +
    running offsets + role flag), including a non-default trainable-role
    set; spans must tile each chunk exactly."""
    import random
    from sparkocr.analysis import sft_mask_spans
    rng = random.Random(11)
    roles = ["system", "user", "assistant", "tool"]
    rows = []
    for c in range(20):
        for t in range(rng.randrange(1, 25)):
            rows.append((f"conv{c}", t, rng.choice(roles),
                         150 if rng.random() < 0.05
                         else rng.randrange(1, 60)))
    B, TR = 128, ("assistant", "tool")
    want = {}
    by_conv = {}
    for c, t, role, n in rows:
        by_conv.setdefault(c, []).append((t, role, n))
    for c, turns in by_conv.items():
        cur, cur_sum, cur_pos = 0, 0, 0
        for t, role, n in sorted(turns):
            if cur_pos > 0 and cur_sum + n > B:
                cur, cur_sum, cur_pos = cur + 1, 0, 0
            want[(c, t)] = (cur, cur_sum, cur_sum + n, int(role in TR))
            cur_sum += n
            cur_pos += 1
            if n > B:
                cur, cur_sum, cur_pos = cur + 1, 0, 0
    got = {(r["conv"], r["turn"]):
           (r["chunk"], r["start_tok"], r["end_tok"], r["trainable"])
           for r in sft_mask_spans(
               _rdf(spark, rows).repartition(6), B,
               trainable_roles=TR).collect()}
    assert got == want
    # spans tile: per chunk, sorted spans are contiguous from 0
    spans = {}
    for (c, t), (ch, s, e, _) in got.items():
        spans.setdefault((c, ch), []).append((s, e))
    for members in spans.values():
        members.sort()
        assert members[0][0] == 0
        for (s1, e1), (s2, e2) in zip(members, members[1:]):
            assert s2 == e1
