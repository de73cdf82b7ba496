"""Event-stream product analytics: ordered funnels and retention cohorts.

Classic session-analytics queries over the event table — the "did the
user do A, then B, then C?" and "did the cohort come back?" readouts
that sit next to the sessionization/follow-up operators in
streaming.py.  Both are pure composition of hash aggregates and bounded
join chains (funnel depth = number of steps, a query constant), exact
integer outputs with ppm conversions, and bit-identical SQL replays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _floor_div(col: str, d: int) -> Column:
    """Exact ``floor(col / d)`` for a long column.  Spark's ``div``, like a
    ``/`` then cast to long, truncates toward zero, which puts a negative
    (pre-1970) time in the bucket after its own."""
    return F.expr(f"(`{col}` - pmod(`{col}`, {int(d)}L)) div {int(d)}L")


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel — ``(step_idx, step, n_users, conv_prev_ppm,
    conv_first_ppm)``: how many users performed the steps IN ORDER
    (each step strictly later than the previous one's earliest valid
    occurrence), with stage-to-stage and cumulative conversion in
    integer ppm.

    Earliest-completion semantics: a user's stage-k time is the minimum
    event time of step k that is strictly after their stage-(k−1) time
    — the standard funnel definition, deterministic and insensitive to
    event multiplicity.  Shape: one filtered min-aggregate per step
    joined against the previous stage (funnel depth is a small query
    constant, so this is a bounded join chain, not an iteration); each
    aggregate is map-side combined and the join key is the user id.
    """
    spark = events.sparkSession
    t = F.unix_millis(F.col(ts_col).cast("timestamp"))
    stage = None
    counts = []
    for step in steps:
        ev = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("user"), t.alias("t")
        )
        if stage is None:
            stage = ev.groupBy("user").agg(F.min("t").alias("st"))
        else:
            stage = (
                ev.join(stage, "user")
                .filter(F.col("t") > F.col("st"))
                .groupBy("user")
                .agg(F.min("t").alias("st"))
            )
        counts.append(stage.count())
    rows = []
    for i, (step, n) in enumerate(zip(steps, counts)):
        prev = counts[i - 1] if i else counts[0]
        rows.append(
            (
                i + 1,
                step,
                n,
                (1_000_000 * n) // prev if prev else 0,
                (1_000_000 * n) // counts[0] if counts[0] else 0,
            )
        )
    return spark.createDataFrame(
        rows,
        "step_idx long, step string, n_users long, "
        "conv_prev_ppm long, conv_first_ppm long",
    )


def retention_cohorts(
    events: DataFrame,
    offsets: list[int],
    bucket_ms: int = 3_600_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Retention matrix — ``(cohort, offset, n_active)`` plus the
    ``offset = 0`` cohort-size rows: users bucketed by their FIRST
    active time bucket (``floor(epoch_ms / bucket_ms)``), counted again in
    each ``cohort + offset`` bucket they were active in.

    The cohort-retention readout behind "does this source's audience
    come back?" — hourly buckets by default (pass 86_400_000 for
    daily).  Shape: one min-aggregate for first-seen, one distinct
    (user, bucket) activity table, one join per matrix cell batch —
    all hash joins on the user id, exact integers.
    """
    t = F.unix_millis(F.col(ts_col).cast("timestamp"))
    act = (
        events.select(F.col(user_col).alias("user"), t.alias("t"))
        .select("user", _floor_div("t", bucket_ms).alias("b"))
        .distinct()
    )
    first = act.groupBy("user").agg(F.min("b").alias("cohort"))
    base = first.groupBy("cohort").agg(F.count("*").alias("n_active"))
    out = base.select("cohort", F.lit(0).cast("long").alias("offset"), "n_active")
    joined = act.join(first, "user")
    # the base rows ARE the offset-0 cells (every user is active in their
    # cohort bucket by definition) — computing offset 0 in the loop too
    # would emit duplicate rows for those matrix cells
    for off in offsets:
        if int(off) == 0:
            continue
        got = (
            joined.filter(F.col("b") == F.col("cohort") + F.lit(int(off)))
            .groupBy("cohort")
            .agg(F.countDistinct("user").alias("n_active"))
            .select(
                "cohort", F.lit(int(off)).cast("long").alias("offset"), "n_active"
            )
        )
        out = out.unionByName(got)
    return out


def last_touch_attribution(
    events: DataFrame,
    trigger: str = "buy",
    touch: str = "click",
    horizon_ms: int = 3_600_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Last-touch attribution — the canonical AS-OF JOIN: for every
    ``trigger`` event, the same user's most recent ``touch`` event at or
    before it and within ``horizon_ms`` — ``(user, trigger_id,
    trigger_ms, touch_id, gap_ms)``; unattributed triggers carry
    ``touch_id = -1, gap_ms = -1`` (non-null integer contract).

    Ties (several touches at the attributed millisecond) take the
    highest touch event id — latest-wins, deterministic across engines.
    Distinct from :func:`linkgraph.streaming.followup_events` (ALL pairs
    inside the horizon, forward-looking): this is backward-looking and
    picks exactly one touch per trigger.

    Scale shape: the join is equi-keyed on the user id with a range
    predicate on top, so it shuffles each side once by user and never
    expands past (trigger x in-horizon-touch) pairs; the top-1 window
    rides the same (user-clustered) exchange.  At 100 TB the horizon
    bounds per-trigger candidates by the user's touch rate — there is no
    unbounded history scan.
    """
    t_ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    trig = events.filter(F.col("event_type") == trigger).select(
        F.col(user_col).alias("user"),
        F.col("event_id").alias("trigger_id"),
        t_ms.alias("trigger_ms"),
    )
    tch = events.filter(F.col("event_type") == touch).select(
        F.col(user_col).alias("user"),
        F.col("event_id").alias("touch_id"),
        t_ms.alias("touch_ms"),
    )
    cand = trig.join(
        tch,
        (trig.user == tch.user)
        & (F.col("touch_ms") <= F.col("trigger_ms"))
        & (F.col("touch_ms") >= F.col("trigger_ms") - F.lit(int(horizon_ms))),
    ).select(
        trig.user, "trigger_id", "trigger_ms", "touch_id", "touch_ms"
    )
    w = W.partitionBy("trigger_id").orderBy(
        F.desc("touch_ms"), F.desc("touch_id")
    )
    best = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "trigger_id",
            "touch_id",
            (F.col("trigger_ms") - F.col("touch_ms")).alias("gap_ms"),
        )
    )
    return (
        trig.join(best, "trigger_id", "left")
        .select(
            "user",
            "trigger_id",
            "trigger_ms",
            F.coalesce("touch_id", F.lit(-1)).cast("long").alias("touch_id"),
            F.coalesce("gap_ms", F.lit(-1)).cast("long").alias("gap_ms"),
        )
    )


def cusum_changepoint(
    events: DataFrame,
    bucket_ms: int = 3_600_000,
    ts_col: str = "ts",
) -> DataFrame:
    """Exact-integer CUSUM changepoint localisation over time buckets —
    per bucket: ``(idx, ws, n_events, cusum_scaled, is_changepoint)``.

    The mean-shift CUSUM statistic ``S_t = sum_{i<=t}(x_i - mean)`` is
    rational; multiplying through by the bucket count ``T`` keeps it an
    exact integer: ``cusum_scaled = T*C_t - t*X`` where ``C_t`` is the
    cumulative event count through bucket ``t`` (1-based), ``X`` the
    grand total.  The changepoint estimate is the bucket maximising
    ``|cusum_scaled|`` (ties -> earliest bucket) — where the series
    deviates most from uniform accumulation, i.e. the classic "when did
    the rate change" localiser next to rate_anomalies' "which hour is
    anomalous".

    The cumulative window is global over BUCKETS, not events — bounded
    by elapsed time (one row per hour), not data volume, so the
    single-partition window is a few thousand rows even at 100 TB of
    events; the per-bucket counts underneath are a map-side-combined
    hash aggregate.  Buckets are ``floor(epoch_ms / bucket_ms)``; empty
    input gives an empty result.
    """
    t = F.unix_millis(F.col(ts_col).cast("timestamp"))
    per = (
        events.select(t.alias("t"))
        .select(_floor_div("t", bucket_ms).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("n_events"))
    )
    w = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    tot = per.agg(
        F.count("*").alias("T"), F.sum("n_events").alias("X")
    ).first()
    T, X = int(tot["T"]), int(tot["X"] or 0)
    cur = (
        per.withColumn("idx", F.row_number().over(W.orderBy("b")))
        .withColumn("c", F.sum("n_events").over(w))
        .select(
            "idx",
            F.expr(f"(b * {int(bucket_ms)}L) div 1000L").alias("ws"),
            "n_events",
            (F.lit(T) * F.col("c") - F.col("idx") * F.lit(X))
            .cast("long")
            .alias("cusum_scaled"),
        )
    )
    if T == 0:
        return cur.withColumn("is_changepoint", F.lit(False))
    peak = (
        cur.orderBy(F.desc(F.abs(F.col("cusum_scaled"))), F.asc("idx"))
        .limit(1)
        .collect()[0]["idx"]
    )
    return cur.withColumn("is_changepoint", F.col("idx") == F.lit(int(peak)))
