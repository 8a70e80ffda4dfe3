"""Temporal operators: as-of join (point-in-time lookup).

The classic event-stream enrichment Spark lacks as a built-in: for each
left row, attach the latest right row with ``right.ts <= left.ts`` for the
same key (e.g. "the click that preceded this purchase", "the price in
effect at trade time"). A correlated max-subquery is quadratic per key;
this is the merge-as-of recipe instead — union both sides, one window.

Distributed shape: a single shuffle on the key, then a per-key sort and a
running ``last_value(..., ignorenulls=True)`` — Spark evaluates the
UNBOUNDED PRECEDING..CURRENT ROW frame incrementally, so state is O(1) per
partition, never a buffered frame. Only the right side's projected payload
struct rides along; skewed keys are ordinary AQE territory because the
window key is the join key.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: Sequence[str],
    tiebreak: str | None = None,
    strict: bool = False,
    prefix: str = "asof_",
    tolerance: Column | None = None,
) -> DataFrame:
    """Left as-of join: every left row, plus ``prefix + c`` for each
    ``c`` in ``right_cols`` taken from the matching right row (nulls when
    no right row precedes).

    * match rule: latest right row with ``right.ts <= left.ts`` (``<``
      when ``strict``) and equal ``key``
    * ties among right rows at the same ts: largest ``tiebreak`` wins
      (pass a unique column for determinism — without one, duplicate
      (key, ts) right rows make the winner arbitrary)
    * ``tolerance``: optional max staleness as an INTERVAL column (e.g.
      ``F.expr("INTERVAL 1 HOUR")``); older matches are nulled out, the
      left row is kept

    Implementation: union(right tagged 0, left tagged 1) → window per key
    ordered by (ts, tag, tiebreak) → running last_value of the right
    payload struct ignoring nulls. Right rows sort before left rows at an
    equal ts for the inclusive rule and after them for the strict rule, so
    both variants are the same single pass.
    """
    # the matched right ts rides in the payload under a reserved slot so the
    # tolerance check can compare it against the left ts after the window
    rpay = F.struct(
        F.col(ts).alias("_mts"), *[F.col(c).alias(c) for c in right_cols]
    ).alias("_rpay")
    tb = F.col(tiebreak) if tiebreak is not None else F.lit(0)
    r = right.select(
        F.col(key).alias("_k"), F.col(ts).alias("_ts"),
        F.lit(0 if not strict else 2).alias("_tag"), tb.alias("_tb"), rpay,
    )
    lpay = F.struct(*[F.col(c).alias(c) for c in left.columns]).alias("_lpay")
    l = left.select(
        F.col(key).alias("_k"), F.col(ts).alias("_ts"),
        F.lit(1).alias("_tag"), F.lit(None).cast(r.schema["_tb"].dataType).alias("_tb"),
        F.lit(None).cast(r.schema["_rpay"].dataType).alias("_rpay"), lpay,
    )
    r = r.withColumn("_lpay", F.lit(None).cast(l.schema["_lpay"].dataType))

    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_tag").asc(), F.col("_tb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l.unionByName(r)
        .withColumn("_match", F.last("_rpay", ignorenulls=True).over(w))
        .filter(F.col("_tag") == 1)
    )
    if tolerance is not None:
        matched = matched.withColumn(
            "_match",
            F.when(F.col("_match")["_mts"] >= F.col("_ts") - tolerance, F.col("_match")),
        )
    out_cols = [F.col("_lpay")[c].alias(c) for c in left.columns]
    out_cols += [F.col("_match")[c].alias(prefix + c) for c in right_cols]
    return matched.select(*out_cols)


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Gap-based sessionization: every event row plus ``session_seq`` (the
    per-key session ordinal, 1-based) and ``session_id``
    (``"<key>:<seq>"``) — a new session starts when the time since the
    previous event of the same key exceeds ``gap_seconds``.

    The batch analogue of the streaming session window: lag + running sum
    of session-break flags inside one window partitioned by the key — a
    single shuffle, O(1) running state per partition, no self-join. Ties
    on ts are ordered by the remaining columns' natural input order being
    irrelevant: the break flag only depends on the ts delta, so equal-ts
    events always land in the same session regardless of their relative
    order.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    prev = F.lag(ts).over(w)
    # interval comparison, not epoch casts: exact to the microsecond, works
    # on TIMESTAMP and TIMESTAMP_NTZ alike, and immune to the truncation
    # semantics a seconds cast would impose on sub-second timestamps
    is_break = (
        prev.isNull()
        | ((F.col(ts) - prev) > F.make_dt_interval(secs=F.lit(gap_seconds)))
    ).cast("long")
    run = Window.partitionBy(key).orderBy(F.col(ts).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("session_seq", F.sum(is_break).over(run)).withColumn(
        "session_id", F.concat_ws(":", F.col(key).cast("string"), F.col("session_seq"))
    )


def windowed_event_counts(
    events: DataFrame,
    *,
    window_duration: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling event-time window count + value sum per key.

    Output: (window_start string, event_type, n_events, sum_value) — the
    window bound is formatted to a string so results compare exactly
    across engines (its DuckDB oracle in ``__spark_entry__`` uses
    ``time_bucket``).

    Distributed shape: a hash aggregation keyed on (window, key) — partial
    aggregation map-side, one shuffle on the composite key.
    """
    return (
        events.groupBy(F.window(ts_col, window_duration), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def funnel(
    df: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel completion per user: stage 1 completes at the
    user's earliest ``stages[0]`` event, stage ``i`` at the earliest
    ``stages[i]`` event STRICTLY after stage ``i-1``'s completion — the
    classic conversion funnel (view → click → purchase). Returns one row
    per user having at least one stage-typed event: (user, n_completed,
    ts_<stage>...), with null timestamps past the deepest completed
    stage. A stage event at exactly the previous stage's timestamp does
    not advance (strict ordering).

    Distributed shape: the textbook k-stage formulation is k chained
    groupBy+join rounds — k shuffles of the event table. This is the
    single-pass shape instead: one shuffle groups each user's
    stage-typed events, an in-partition ``array_sort`` orders them, and
    a higher-order ``aggregate`` folds the (stage-index, completion
    times) state — O(per-user events) work with no window and no second
    exchange. The HOF sits outside whole-stage codegen (measured cost in
    BENCH/BASELINE.md's repetition A/B), but it touches only each
    user's already-grouped slice; one exchange of (user, ts, type)
    beats k exchanges at any scale. Skewed users are bounded by their
    own event counts (the collect_list is per user, not global).
    """
    k = len(stages)
    # null timestamps are dropped, not folded: a null-ts event would sort
    # first, "complete" its stage with a null time, and stall every later
    # strictly-after comparison — SQL min() semantics ignore nulls, so we do
    ev = df.filter(
        F.col(type_col).isin(list(stages)) & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col),
        F.col(ts_col).alias("_ts"),
        F.col(type_col).alias("_et"),
    )
    per_user = ev.groupBy(user_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_ts").alias("ts"), F.col("_et").alias("et")))
        ).alias("_evs")
    )
    stage_arr = F.array(*[F.lit(s) for s in stages])
    init = F.struct(
        F.lit(0).cast("int").alias("done"),
        F.array().cast("array<timestamp>").alias("times"),
    )

    def step(acc: Column, e: Column) -> Column:
        # F.get is 0-based and null-safe (out-of-range -> null), so the
        # done=0 case needs no special-casing and ANSI mode cannot throw
        advance = (
            (acc["done"] < k)
            & (e["et"] == F.get(stage_arr, acc["done"]))
            & ((acc["done"] == 0) | (e["ts"] > F.get(acc["times"], acc["done"] - 1)))
        )
        return F.when(
            advance,
            F.struct(
                (acc["done"] + 1).alias("done"),
                F.concat(acc["times"], F.array(e["ts"])).alias("times"),
            ),
        ).otherwise(acc)

    out = per_user.select(
        F.col(user_col), F.aggregate("_evs", init, step).alias("_st")
    )
    cols = [
        F.col(user_col),
        F.col("_st.done").cast("long").alias("n_completed"),
    ]
    # a stage type may legitimately repeat (view -> click -> view);
    # position-qualify the timestamp columns only when it does
    names = [f"ts_{s}" for s in stages]
    if len(set(names)) != len(names):
        names = [f"ts{i + 1}_{s}" for i, s in enumerate(stages)]
    for i, name in enumerate(names):
        cols.append(F.get(F.col("_st.times"), i).alias(name))
    return out.select(*cols)


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix: each user's cohort is the ISO week
    (Monday-truncated) of their first event; the output counts, for every
    (cohort_week, week_n) cell, the distinct users of that cohort active
    ``week_n`` weeks after joining — the standard retention triangle.
    ``week_n = 0`` rows are the cohort sizes.

    Distributed shape: a (user, week) distinct — the only pass over the
    raw stream, with partial aggregation — then a per-user min for the
    cohort and a join back keyed on the user id (ordinary shuffle join;
    the activity frame is already one row per user-week, orders of
    magnitude smaller than the event stream). The final cell count is a
    two-phase agg over |users × active weeks| rows. Nothing ever carries
    event payloads; the retention matrix itself is tiny (weeks²).
    """
    wk = F.date_trunc("week", F.col(ts_col)).cast("date")
    # null-ts events would mint (cohort, NULL) and (NULL, NULL) garbage
    # cells; the retention triangle is defined over timestamped activity
    act = (
        df.filter(F.col(ts_col).isNotNull())
        .select(F.col(user_col), wk.alias("week"))
        .distinct()
    )
    first = act.groupBy(user_col).agg(F.min("week").alias("cohort_week"))
    return (
        act.join(first, on=user_col)
        .select(
            F.col(user_col),
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_n"),
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.count_distinct(user_col).alias("n_users"))
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    keys: Sequence[str] = (),
    bin_width: int = 3600,
) -> DataFrame:
    """Binned interval (range) join: every point row paired with every
    interval row of the same key whose half-open window contains it
    (``start <= ts < end``) — "which events fall inside which sessions /
    outage windows / promo periods", the range join Spark has no native
    operator for.

    The naive formulation is a non-equi theta join — Spark can only
    execute that as BroadcastNestedLoopJoin (all-pairs per key). This is
    the standard binning recipe instead: intervals explode to the fixed
    -width epoch bins they overlap (``sequence(floor(s/W), floor(e/W))``),
    each point maps to exactly ONE bin, and the join becomes a plain
    hash-partitionable equi-join on (keys..., bin) followed by the exact
    window predicate. No duplicates are possible — an interval covers
    each bin once and a point lives in one bin — so there is no dedup
    pass. Pick ``bin_width`` near the typical interval length: the
    explode fanout is ceil(len/W)+1 ≈ 2 rows per interval, and only the
    interval's (keys, start, end, payload) replicate, never the points.
    Skewed keys are ordinary AQE skew-join territory because the join
    key is (key, bin), which time itself spreads.
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be a positive number of seconds")
    ks = list(keys)

    def epoch(df: DataFrame, col_name: str) -> Column:
        # TIMESTAMP_NTZ has no direct long cast; route it through the
        # session-zone timestamp (Java's gap/overlap resolution is
        # monotone non-decreasing, so bin containment is preserved).
        c = F.col(col_name)
        if df.schema[col_name].dataType.typeName().startswith("timestamp"):
            c = c.cast("timestamp_ltz")
        return c.cast("long")

    p_bin = F.floor(epoch(points, point_ts) / bin_width)
    i_bins = F.sequence(
        F.floor(epoch(intervals, start_col) / bin_width),
        F.floor(epoch(intervals, end_col) / bin_width),
    )
    # collision-safe scratch column: inputs may legitimately carry "_bin"
    bin_col = "_bin"
    taken = set(points.columns) | set(intervals.columns)
    while bin_col in taken:
        bin_col = "_" + bin_col
    p = points.withColumn(bin_col, p_bin)
    iv = intervals.withColumn(bin_col, F.explode(i_bins))
    joined = p.join(iv, ks + [bin_col]).filter(
        (F.col(start_col) <= F.col(point_ts)) & (F.col(point_ts) < F.col(end_col))
    )
    return joined.drop(bin_col)
