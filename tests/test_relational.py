"""asof_join / interval_overlap_join vs brute-force reference."""

from __future__ import annotations

import datetime as dt

from sparkocr.relational import asof_join, interval_overlap_join

T0 = dt.datetime(2026, 1, 1)


def _ts(m):
    return T0 + dt.timedelta(minutes=m)


def test_asof_join_matches_bruteforce(spark):
    left = [(i, i % 3, _ts(m)) for i, m in enumerate([5, 10, 2, 30, 7, 19])]
    right = [(100 + i, i % 3, _ts(m), float(m))
             for i, m in enumerate([1, 4, 9, 9, 25, 3])]
    ldf = spark.createDataFrame(left, "event_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame(
        right, "event_id long, user_id long, ts timestamp, value double")

    got = {
        r["event_id"]: r["value_asof"]
        for r in asof_join(ldf, rdf, on="ts", by="user_id",
                           right_cols=("value",), tiebreak="event_id").collect()
    }
    for eid, uid, ts in left:
        cands = [(rts, rid, v) for rid, ruid, rts, v in right
                 if ruid == uid and rts <= ts]
        exp = max(cands)[2] if cands else None  # latest ts, then greatest id
        assert got[eid] == exp, (eid, got[eid], exp)


def test_asof_join_inclusive_same_instant(spark):
    ldf = spark.createDataFrame([(1, 0, _ts(5))],
                                "event_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame([(9, 0, _ts(5), 42.0)],
                                "event_id long, user_id long, ts timestamp, value double")
    [row] = asof_join(ldf, rdf, right_cols=("value",), tiebreak="event_id").collect()
    assert row["value_asof"] == 42.0  # <= semantics: same instant matches


def test_interval_overlap_join_matches_bruteforce(spark):
    ivs = [(i, s, s + ln) for i, (s, ln) in enumerate(
        [(0, 10), (5, 10), (30, 5), (36, 1), (100, 50), (149, 2), (400, 3)])]
    df = spark.createDataFrame(ivs, "k long, start long, end long")
    for thr in (0, 2):
        got = {(r["k_a"], r["k_b"])
               for r in interval_overlap_join(df, "k", threshold=thr, band=16).collect()}
        exp = {(a[0], b[0]) for a in ivs for b in ivs
               if a[0] < b[0] and a[1] - thr <= b[2] and b[1] - thr <= a[2]}
        assert got == exp, (thr, got ^ exp)


def test_interval_join_no_cross_product_in_plan(spark):
    df = spark.createDataFrame([(i, i * 10, i * 10 + 5) for i in range(50)],
                               "k long, start long, end long")
    plan = interval_overlap_join(df, "k")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_latest_right_row_with_null_value(spark):
    """A null payload on the latest right row must WIN (asof attaches
    the row, not the latest non-null value) — review finding."""
    ldf = spark.createDataFrame([(1, 0, _ts(10))],
                                "event_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame(
        [(8, 0, _ts(1), 5.0), (9, 0, _ts(2), None)],
        "event_id long, user_id long, ts timestamp, value double")
    [row] = asof_join(ldf, rdf, right_cols=("value",), tiebreak="event_id").collect()
    assert row["value_asof"] is None


def test_asof_join_null_right_ts_never_matches(spark):
    """A right row with a NULL timestamp is not 'at or before' anything
    (DuckDB/pandas asof never match a null key) — unfiltered it sorts
    nulls-first and pollutes every left row before the first real right
    row (review finding)."""
    ldf = spark.createDataFrame([(1, 0, _ts(1)), (2, 0, _ts(20))],
                                "event_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame(
        [(8, 0, None, 99.0), (9, 0, _ts(10), 5.0)],
        "event_id long, user_id long, ts timestamp, value double")
    got = {r["event_id"]: r["value_asof"]
           for r in asof_join(ldf, rdf, right_cols=("value",)).collect()}
    assert got[1] is None   # before the first real right row: no match
    assert got[2] == 5.0


def test_asof_join_string_tiebreak_absent_from_left(spark):
    """A non-integer right tiebreak column absent from the left must not
    break the internal union (the left placeholder is a typed null, not
    lit(0)) — review finding."""
    ldf = spark.createDataFrame([(1, 0, _ts(10))],
                                "event_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame(
        [("a", 0, _ts(5), 1.0), ("b", 0, _ts(5), 2.0)],
        "rid string, user_id long, ts timestamp, value double")
    [row] = asof_join(ldf, rdf, right_cols=("value",), tiebreak="rid").collect()
    assert row["value_asof"] == 2.0  # greatest tiebreak at the instant


def test_interval_overlap_join_beyond_double_precision(spark):
    """Endpoints above 2^53 (nanosecond epochs): double-division banding
    rounds bucket ids and silently drops overlapping pairs; the pure
    long-arithmetic banding must find them (review finding)."""
    base = 1_700_000_000_000_000_000  # ~2^60.6 ns epoch
    ivs = [(1, base + 1, base + 900),        # overlaps 2
           (2, base + 800, base + 1_700),    # overlaps 1 and 3
           (3, base + 1_650, base + 2_400),
           (4, base + 9_000_000, base + 9_000_500)]  # far away, alone
    df = spark.createDataFrame(ivs, "k long, start long, end long")
    got = {(r["k_a"], r["k_b"])
           for r in interval_overlap_join(df, "k", band=1000).collect()}
    assert got == {(1, 2), (2, 3)}


def test_sessionize_gap_semantics(spark):
    from sparkocr.relational import sessionize

    rows = [
        ("u1", 1, "2024-01-01 10:00:00"),
        ("u1", 2, "2024-01-01 10:10:00"),   # 600s gap -> same session
        ("u1", 3, "2024-01-01 11:00:00"),   # 3000s gap -> new session
        ("u1", 4, "2024-01-01 11:01:00"),
        ("u2", 5, "2024-01-01 10:00:00"),   # separate key
    ]
    df = spark.createDataFrame(rows, "user_id string, event_id long, ts string") \
        .selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) ts")
    got = {r["event_id"]: r["session_id"]
           for r in sessionize(df, gap_seconds=1800,
                               order_tiebreak="event_id").collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0}
    # boundary: exactly gap_seconds stays in-session, gap+1 splits
    rows2 = [("u", 1, "2024-01-01 10:00:00"), ("u", 2, "2024-01-01 10:30:00"),
             ("u", 3, "2024-01-01 11:00:01")]
    df2 = spark.createDataFrame(rows2, "user_id string, event_id long, ts string") \
        .selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) ts")
    got2 = {r["event_id"]: r["session_id"]
            for r in sessionize(df2, gap_seconds=1800,
                                order_tiebreak="event_id").collect()}
    assert got2 == {1: 0, 2: 0, 3: 1}
