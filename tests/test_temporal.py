"""Unit coverage for the as-of join (also oracle-checked end-to-end via
__spark_entry__): hand-checked timelines, inclusive-vs-strict at ts
equality, duplicate-ts tie-breaking, tolerance nulling, and agreement with
a brute-force correlated-subquery reference on pseudo-random data."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from yckg_spark.operators.temporal import asof_join


def _ts(m):
    return datetime(2024, 1, 1) + timedelta(minutes=m)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, "u", _ts(5)), (2, "u", _ts(10)), (3, "u", _ts(2)), (4, "v", _ts(7))],
        ["lid", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(100, "u", _ts(3), 1.0), (101, "u", _ts(10), 2.0), (102, "w", _ts(1), 9.0)],
        ["rid", "k", "ts", "val"],
    )
    return left, right


def test_asof_inclusive_and_no_match(spark):
    left, right = _frames(spark)
    out = {r["lid"]: (r["asof_rid"], r["asof_val"])
           for r in asof_join(left, right, "k", "ts", ["rid", "val"],
                              tiebreak="rid").collect()}
    assert out[1] == (100, 1.0)      # ts 5 -> right at ts 3
    assert out[2] == (101, 2.0)      # equal ts 10 matches inclusively
    assert out[3] == (None, None)    # earliest right row is ts 3 > 2
    assert out[4] == (None, None)    # key v has no right rows


def test_asof_strict_excludes_equal_ts(spark):
    left, right = _frames(spark)
    out = {r["lid"]: r["asof_rid"]
           for r in asof_join(left, right, "k", "ts", ["rid"],
                              tiebreak="rid", strict=True).collect()}
    assert out[2] == 100  # equal-ts right row 101 no longer visible


def test_asof_duplicate_ts_tiebreak(spark):
    left = spark.createDataFrame([(1, "u", _ts(9))], ["lid", "k", "ts"])
    right = spark.createDataFrame(
        [(200, "u", _ts(4)), (201, "u", _ts(4))], ["rid", "k", "ts"]
    )
    row = asof_join(left, right, "k", "ts", ["rid"], tiebreak="rid").collect()[0]
    assert row["asof_rid"] == 201  # largest tiebreak wins


def test_asof_tolerance_nulls_stale_matches(spark):
    left, right = _frames(spark)
    out = {r["lid"]: r["asof_rid"]
           for r in asof_join(left, right, "k", "ts", ["rid"], tiebreak="rid",
                              tolerance=F.expr("INTERVAL 1 MINUTE")).collect()}
    assert out[1] is None            # ts 5 vs match ts 3: 2 min stale
    assert out[2] == 101             # exact-ts match, 0 stale
    assert len(out) == 4             # left rows always survive


def test_asof_matches_bruteforce_reference(spark):
    import random

    rng = random.Random(7)
    left_rows = [(i, f"k{rng.randrange(4)}", _ts(rng.randrange(50))) for i in range(40)]
    right_rows = [
        (100 + i, f"k{rng.randrange(4)}", _ts(rng.randrange(50)), float(i))
        for i in range(30)
    ]
    left = spark.createDataFrame(left_rows, ["lid", "k", "ts"])
    right = spark.createDataFrame(right_rows, ["rid", "k", "ts", "val"])

    def brute(lk, lt):
        cands = [r for r in right_rows if r[1] == lk and r[2] <= lt]
        if not cands:
            return (None, None)
        best = max(cands, key=lambda r: (r[2], r[0]))
        return (best[0], best[3])

    got = {r["lid"]: (r["asof_rid"], r["asof_val"])
           for r in asof_join(left, right, "k", "ts", ["rid", "val"],
                              tiebreak="rid").collect()}
    assert got == {lid: brute(k, t) for lid, k, t in left_rows}


def test_sessionize_gap_boundaries(spark):
    """New session strictly after the gap; equal gap stays in-session;
    per-key numbering is independent and 1-based."""
    from yckg_spark.operators.temporal import sessionize

    rows = [
        (1, "u", _ts(0)), (2, "u", _ts(10)),   # 10 min <= 30 -> same session
        (3, "u", _ts(40)), (4, "u", _ts(70)),  # exactly 30 min -> same session
        (5, "u", _ts(101)),                    # 31 min -> break
        (6, "v", _ts(500)),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "k", "ts"])
    out = {r["event_id"]: (r["session_seq"], r["session_id"])
           for r in sessionize(ev, key="k", gap_seconds=1800).collect()}
    assert out[1] == (1, "u:1") and out[2] == (1, "u:1")
    assert out[3] == (1, "u:1")              # exactly-1800s gap is NOT a break
    assert out[4] == (1, "u:1")
    assert out[5] == (2, "u:2")              # 31 min > 30 -> new session
    assert out[6] == (1, "v:1")


def test_sessionize_equal_ts_share_a_session(spark):
    from yckg_spark.operators.temporal import sessionize

    ev = spark.createDataFrame(
        [(1, "u", _ts(0)), (2, "u", _ts(0)), (3, "u", _ts(90))],
        ["event_id", "k", "ts"],
    )
    out = {r["event_id"]: r["session_seq"]
           for r in sessionize(ev, key="k", gap_seconds=1800).collect()}
    assert out[1] == 1 and out[2] == 1 and out[3] == 2


def test_sessionize_oracle_types_match_spark():
    """The DuckDB oracle for sessionize must type every column as Spark
    does (BIGINT, TIMESTAMP, VARCHAR); a bare windowed ``sum`` of INTEGER
    flags would come out HUGEINT and fail the value-hash check."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    # the column types of the sf test data's events table
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    types = {
        r[0]: r[1] for r in con.execute("DESCRIBE " + entry._ORACLE_SESSIONIZE).fetchall()
    }
    assert types == {
        "event_id": "BIGINT",
        "user_id": "BIGINT",
        "ts": "TIMESTAMP",
        "session_seq": "BIGINT",
        "session_id": "VARCHAR",
    }


def _funnel_brute(events, stages):
    """Independent per-user reference: chained strict-after minimums."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for uid, ts, et in events:
        if et in stages:
            by_user[uid].append((ts, et))
    out = {}
    for uid, evs in by_user.items():
        times, last = [], None
        for stage in stages:
            cand = [t for t, et in evs
                    if et == stage and (last is None or t > last)]
            if not cand:
                break
            last = min(cand)
            times.append(last)
        out[uid] = times
    return out


def test_funnel_matches_brute_force(spark):
    from datetime import datetime, timedelta

    from yckg_spark.operators.temporal import funnel

    t0 = datetime(2024, 1, 1)
    m = lambda n: t0 + timedelta(minutes=n)
    events = [
        # user 1 completes all three, with decoys out of order first
        (1, m(0), "click"), (1, m(1), "view"), (1, m(2), "click"),
        (1, m(3), "purchase"), (1, m(4), "view"),
        # user 2: purchase BEFORE the view -> only view completes
        (2, m(0), "purchase"), (2, m(1), "view"),
        # user 3: click only (never views) -> 0 stages
        (3, m(0), "click"), (3, m(5), "click"),
        # user 4: view then click at the SAME timestamp -> strict, click no
        (4, m(2), "view"), (4, m(2), "click"),
        # user 5: no stage-typed events at all -> absent from the output
        (5, m(0), "error"),
    ]
    stages = ["view", "click", "purchase"]
    df = spark.createDataFrame(
        events, "user_id long, ts timestamp, event_type string"
    )
    got = {r["user_id"]: r for r in funnel(df, stages).collect()}
    want = _funnel_brute(events, stages)
    assert set(got) == set(want) == {1, 2, 3, 4}
    for uid, times in want.items():
        assert got[uid]["n_completed"] == len(times), uid
        for i, s in enumerate(stages):
            expect = times[i] if i < len(times) else None
            assert got[uid][f"ts_{s}"] == expect, (uid, s)
    # spot-check the interesting rows
    assert got[1]["n_completed"] == 3 and got[1]["ts_view"] == m(1)
    assert got[1]["ts_click"] == m(2)  # the earlier decoy click ignored
    assert got[2]["n_completed"] == 1
    assert got[3]["n_completed"] == 0
    assert got[4]["n_completed"] == 1  # equal-ts click does not advance


def test_funnel_single_exchange(spark):
    """One shuffle (the per-user grouping) — never k chained join
    exchanges."""
    from yckg_spark.operators.temporal import funnel

    df = spark.createDataFrame(
        [(1, None, "view")], "user_id long, ts timestamp, event_type string"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        funnel(df, ["view", "click"])._jdf.queryExecution(), "formatted"
    )
    n_ex = sum(
        1 for b in plan.split("\n\n")
        if b.splitlines() and ") Exchange" in b.splitlines()[0]
    )
    assert n_ex == 1, plan


def test_funnel_repeated_stage_gets_positional_columns(spark):
    from datetime import datetime, timedelta

    from yckg_spark.operators.temporal import funnel

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, "view"), (1, t0 + timedelta(minutes=1), "click"),
         (1, t0 + timedelta(minutes=2), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    out = funnel(df, ["view", "click", "view"])
    assert out.columns == [
        "user_id", "n_completed", "ts1_view", "ts2_click", "ts3_view",
    ]
    r = out.collect()[0]
    assert r["n_completed"] == 3
    assert r["ts3_view"] == t0 + timedelta(minutes=2)


def test_cohort_retention_known_matrix(spark):
    """Hand-built two-cohort stream: Mondays 2024-01-01 and 2024-01-08.
    u1 joins wk0 and returns wk1 and wk2; u2 joins wk0 only; u3 joins wk1
    and returns wk2. Multiple events in one week count once."""
    from datetime import datetime

    from yckg_spark.operators.temporal import cohort_retention

    rows = [
        (1, datetime(2024, 1, 3, 10)),   # wk of Jan 1
        (1, datetime(2024, 1, 3, 11)),   # same week, dup activity
        (1, datetime(2024, 1, 9)),       # wk of Jan 8
        (1, datetime(2024, 1, 16)),      # wk of Jan 15
        (2, datetime(2024, 1, 1)),       # wk of Jan 1 only
        (3, datetime(2024, 1, 8)),       # joins wk of Jan 8
        (3, datetime(2024, 1, 21, 23)),  # Sunday -> still wk of Jan 15
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r["cohort_week"]), r["week_n"]): r["n_users"]
        for r in cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,  # u1, u2
        ("2024-01-01", 1): 1,  # u1
        ("2024-01-01", 2): 1,  # u1
        ("2024-01-08", 0): 1,  # u3
        ("2024-01-08", 1): 1,  # u3 (Sunday Jan 21 is still wk of Jan 15)
    }


def test_funnel_and_cohort_ignore_null_timestamps(spark):
    """A null-ts event must neither complete a funnel stage (it would
    stall every later strictly-after comparison) nor mint NULL retention
    cells — SQL min()/group semantics ignore nulls, so do we."""
    from datetime import datetime, timedelta

    from yckg_spark.operators.temporal import cohort_retention, funnel

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, None, "view"), (1, t0, "view"),
         (1, t0 + timedelta(minutes=1), "click"),
         (2, None, "view")],
        "user_id long, ts timestamp, event_type string",
    )
    got = {r["user_id"]: r for r in funnel(df, ["view", "click"]).collect()}
    # user 1 completes both stages from the timestamped events; user 2
    # has ONLY a null-ts event -> no foldable events -> absent
    assert set(got) == {1}
    assert got[1]["n_completed"] == 2 and got[1]["ts_view"] == t0

    cells = cohort_retention(df).collect()
    assert [(str(r["cohort_week"]), r["week_n"], r["n_users"]) for r in cells] == [
        ("2024-01-01", 0, 1)
    ]


# ---------------------------------------------------------------------------
# interval_join
# ---------------------------------------------------------------------------


def _interval_frames(spark):
    # pseudo-random but deterministic points/intervals across two keys,
    # with windows sized to span 1-3 bins at bin_width=60
    pts, ivs = [], []
    for i in range(200):
        k = "a" if (i * 7) % 3 else "b"
        pts.append((i, k, _ts((i * 13) % 240)))
    for j in range(30):
        k = "a" if j % 2 else "b"
        s = _ts((j * 17) % 220)
        ivs.append((1000 + j, k, s, s + timedelta(minutes=1 + (j % 3))))
    points = spark.createDataFrame(pts, ["pid", "k", "ts"])
    intervals = spark.createDataFrame(ivs, ["iid", "k", "start", "end"])
    return points, intervals


def test_interval_join_matches_naive_theta_join(spark):
    from yckg_spark.operators.temporal import interval_join

    points, intervals = _interval_frames(spark)
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            points, intervals, keys=["k"], bin_width=60
        ).collect()
    }
    want = {
        (r["pid"], r["iid"])
        for r in points.alias("p")
        .join(
            intervals.alias("i"),
            (F.col("p.k") == F.col("i.k"))
            & (F.col("i.start") <= F.col("p.ts"))
            & (F.col("p.ts") < F.col("i.end")),
        )
        .collect()
    }
    assert got == want and len(want) >= 20


def test_interval_join_half_open_boundaries(spark):
    from yckg_spark.operators.temporal import interval_join

    points = spark.createDataFrame(
        [(1, _ts(10)), (2, _ts(20)), (3, _ts(15))], ["pid", "ts"]
    )
    intervals = spark.createDataFrame(
        [(9, _ts(10), _ts(20))], ["iid", "start", "end"]
    )
    got = sorted(
        r["pid"]
        for r in interval_join(points, intervals, bin_width=300).collect()
    )
    assert got == [1, 3]  # start inclusive, end exclusive


def test_interval_join_plan_is_equi_join(spark):
    """The whole point: the range join must lower to a hash/merge
    EQUI-join on (key, bin), never BroadcastNestedLoopJoin/Cartesian."""
    from yckg_spark.operators.temporal import interval_join

    points, intervals = _interval_frames(spark)
    plan = (
        interval_join(points, intervals, keys=["k"], bin_width=60)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_validates_and_survives_bin_name_collision(spark):
    import pytest as _pytest

    from yckg_spark.operators.temporal import interval_join

    points = spark.createDataFrame([(1, _ts(5), "x")], ["pid", "ts", "_bin"])
    intervals = spark.createDataFrame([(9, _ts(0), _ts(10))], ["iid", "start", "end"])
    with _pytest.raises(ValueError):
        interval_join(points, intervals, bin_width=0)
    out = interval_join(points, intervals, bin_width=60).collect()
    assert len(out) == 1 and out[0]["_bin"] == "x"  # user column untouched


def _write_events(rows, path):
    """Write (ts, event_type, value) rows as one events parquet file."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [dt.datetime.fromisoformat(ts) for ts, _, _ in rows],
                pa.timestamp("us"),
            ),
            "event_type": pa.array([et for _, et, _ in rows]),
            "value": pa.array([v for _, _, v in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, path)


def test_windowed_batch_parity(spark, tmp_path):
    """Tumbling 1-hour windows match a hand-computed result; an event at
    exactly the window end opens the next window."""
    from yckg_spark.operators.temporal import windowed_event_counts

    p = str(tmp_path / "batch.parquet")
    _write_events(
        [
            ("2024-01-01 10:05:00", "purchase", 10.0),
            ("2024-01-01 10:59:59", "purchase", 5.5),
            ("2024-01-01 11:00:00", "purchase", 1.0),
        ],
        p,
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(spark.read.parquet(p)).collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", "purchase"): (2, 15.5),
        ("2024-01-01 11:00:00", "purchase"): (1, 1.0),
    }
