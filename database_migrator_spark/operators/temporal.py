"""Temporal operators Spark lacks natively: as-of join and gap-based
sessionization, both built from shuffles Spark already does well (no
Python, no quadratic joins).

As-of join strategy (the scalable one): union both sides tagged with a
side marker, single shuffle+sort on (key, ts, side, tiebreak), then
``last(value, ignorenulls=True)`` over an UNBOUNDED PRECEDING frame — each
left row picks up the most recent right row. One shuffle total, no range
explosion, skew handled by AQE. The per-group ``pd.merge_asof`` alternative
exists for wide payloads, but the window form stays fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from database_migrator_spark.functions.exact import (
    EXACT_DOUBLE_BOUND,
    exactness_guard,
    int_div,
    to_cents,
)
from database_migrator_spark.plans.registry import query
from database_migrator_spark.sources import substrate, table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
    right_tiebreak: str,
) -> DataFrame:
    """Generic as-of (<=) join: for each left row, attach ``payload`` from
    the right row with the greatest (ts, tiebreak) such that right.ts <=
    left.ts within the same ``key``. Deterministic under timestamp ties via
    ``right_tiebreak``. Returns left columns + payload (nullable)."""
    l_cols = left.columns
    lhs = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast("long").alias("__tb"),
        F.struct(*l_cols).alias("__left"),
        *[F.lit(None).cast(right.schema[p].dataType).alias(p) for p in payload],
    )
    rhs = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        F.col(right_tiebreak).cast("long").alias("__tb"),
        F.lit(None).cast(lhs.schema["__left"].dataType).alias("__left"),
        *payload,
    )
    # Order: at equal __t, right rows (__side=0) precede left rows so `<=`
    # semantics hold; among right rows the greatest tiebreak wins.
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side", F.col("__tb").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = lhs.unionByName(rhs).select(
        "__side",
        "__left",
        *[F.last(p, ignorenulls=True).over(w).alias(p) for p in payload],
    )
    out = filled.where(F.col("__side") == 1).select(
        *[F.col("__left").getField(c).alias(c) for c in l_cols], *payload
    )
    return out


@query(
    "q23_asof_join_last_order",
    oracle="""
    SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey
    FROM events e
    LEFT JOIN LATERAL (
        SELECT o_orderkey
        FROM orders
        WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
        ORDER BY o_orderdate DESC, o_orderkey DESC
        LIMIT 1
    ) o ON TRUE
    ORDER BY e.event_id
    """,
    tags=("asof", "join", "custom-operator"),
)
def q23_asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the customer's most recent order at
    or before the event timestamp (tie-broken by o_orderkey)."""
    e = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        F.col("o_orderkey").alias("last_orderkey"),
    )
    joined = asof_join(
        e,
        o,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["last_orderkey"],
        right_tiebreak="last_orderkey",
    )
    return joined.select("event_id", "user_id", "last_orderkey").orderBy("event_id")


@query(
    "q24_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("session", "window", "custom-operator"),
)
def q24_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session flag
    → running sum = session id. One shuffle on user_id; the streaming twin
    is session_window (streaming/windows.py)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # exact integer microseconds on both engines (epoch_us ↔ unix_micros);
    # seconds-level unix_timestamp would truncate and flip boundary cases
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0).alias("new_session"),
    )
    numbered = marked.select(
        "user_id", "ts", F.sum("new_session").over(run).cast("long").alias("session_id")
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
        .orderBy("user_id", "session_id")
    )


_INTERVAL_UNITS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def _interval_seconds(step: str) -> int:
    """Parse '15 minutes' / '1 hour' / '2 days' into seconds."""
    n, unit = step.strip().split()
    return int(n) * _INTERVAL_UNITS[unit.lower()]


def resample_ffill(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: Column,
    step: str = "1 hour",
) -> DataFrame:
    """Resample per-key event data onto a regular time grid with forward
    fill — the gap-filling operator time-series engines ship natively.

    Grid generation is sequence()+explode bounded per key by its own
    [min, max] bucket (never a global cross join); the fill is one
    last(ignorenulls) window over the grid — one shuffle on key for the
    aggregate, one for the window. Grid size is (span/step) rows per key,
    independent of event count, so sparse-but-long keys dominate cost —
    cap spans upstream at 100 TB.

    Returns (key, bucket_ts, value) with NULLs forward-filled.
    """
    # bucket by the SAME step the grid uses — epoch-aligned floor division
    # works for any second-granularity step (a hard-coded date_trunc would
    # silently mis-bucket every non-default step)
    step_us = _interval_seconds(step) * 1_000_000
    us = F.unix_micros(F.col(ts_col))
    # exact integer floor (x - x mod step): double division would round at
    # bucket boundaries for micros-scale magnitudes
    bucket = F.timestamp_micros(us - F.pmod(us, F.lit(step_us)))
    hourly = (
        df.groupBy(F.col(key), bucket.alias("__h"))
        .agg(value_col.alias("__v"))
    )
    span = hourly.groupBy(key).agg(F.min("__h").alias("__h0"), F.max("__h").alias("__h1"))
    # span is key-scale and tiny in bytes, so AQE coalesces it to ~1
    # partition — but the grid explode below fans each key out to
    # (span/step) rows, so re-spread FIRST (explicit N resists AQE
    # coalescing) or one task generates the whole grid serially
    span = span.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    grid = span.select(
        key,
        F.explode(F.sequence("__h0", "__h1", F.expr(f"INTERVAL {step}"))).alias("__h"),
    )
    joined = grid.join(hourly, [key, "__h"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("__h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col(key),
        F.col("__h").alias("bucket_ts"),
        F.last("__v", ignorenulls=True).over(w).alias("value"),
    )


@query(
    "q73_resample_ffill",
    oracle="""
    WITH hourly AS (
        SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS v
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id
    ), grid AS (
        SELECT s.user_id, unnest(generate_series(s.h0, s.h1, INTERVAL '1 hour')) AS h
        FROM span s
    )
    SELECT g.user_id,
           strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
           last_value(hr.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM grid g LEFT JOIN hourly hr ON hr.user_id = g.user_id AND hr.h = g.h
    ORDER BY g.user_id, hour
    """,
    tags=("temporal", "resample", "gap-fill"),
)
def q73_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of each user's event value (exact-cents sums) onto
    a gap-free per-key grid with forward fill, hash-matched against the
    generate_series + IGNORE NULLS window oracle."""
    e = table(spark, sf_dir, "events")
    out = resample_ffill(
        e, key="user_id", ts_col="ts",
        value_col=(F.sum(to_cents("value")) / 100.0),
    )
    return out.select(
        "user_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "value",
    ).orderBy("user_id", "hour")


@query(
    "q74_funnel_stages",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ), c AS (
        SELECT p.user_id, p.t_view,
               MIN(CASE WHEN e.event_type = 'click' AND e.ts > p.t_view
                        THEN e.ts END) AS t_click
        FROM per_user p JOIN events e USING (user_id)
        GROUP BY p.user_id, p.t_view
    ), pu AS (
        SELECT c.user_id, c.t_view, c.t_click,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click
                        THEN e.ts END) AS t_purchase
        FROM c JOIN events e USING (user_id)
        GROUP BY c.user_id, c.t_view, c.t_click
    )
    SELECT COUNT(t_view)     AS n_view,
           COUNT(t_click)    AS n_view_then_click,
           COUNT(t_purchase) AS n_full_funnel
    FROM pu
    """,
    tags=("temporal", "funnel", "sequence"),
)
def q74_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → click → purchase): how many users
    reach each stage IN ORDER. One shuffle total: three chained window
    mins over the same user partition (Spark reuses the partitioning —
    no orderBy needed, so no sorts), then a global conditional count.
    The oracle computes the same stage times via per-stage re-aggregation
    joins. Event timestamps are exact, so stage times hash-match."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    e = e.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    e = e.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    e = e.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = e.select("user_id", "t_view", "t_click", "t_purchase").distinct()
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_then_click"),
        F.count("t_purchase").alias("n_full_funnel"),
    )


@query(
    "q76_moving_average_range_frame",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS day_num,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS day_cents
        FROM orders
        GROUP BY 1, 2
    )
    SELECT priority, day_num,
           SUM(day_cents) OVER w / (100.0 * COUNT(*) OVER w) AS avg_7d
    FROM daily
    WINDOW w AS (PARTITION BY priority ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY priority, day_num
    """,
    tags=("temporal", "window", "range-frame", "E6"),
)
def q76_moving_average_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily order totals per priority,
    using a RANGE frame over day numbers — on sparse daily series a ROWS
    frame silently averages the wrong days; RANGE bounds by VALUE. The
    average is exact-cents total / count (integer sums in the frame), so
    summation order cannot move the hash. Scale shape: one shuffle for
    the daily aggregate, one per-priority sort for the window."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
            .cast("long")
            .alias("day_num"),
        )
        .agg(F.sum(to_cents("o_totalprice")).alias("day_cents"))
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return (
        daily.select(
            "priority",
            "day_num",
            (F.sum("day_cents").over(w) / (100.0 * F.count("*").over(w))).alias("avg_7d"),
        )
        .orderBy("priority", "day_num")
    )


@query(
    "q138_rollup_cascade",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('week', CAST(ts AS DATE)), '%Y-%m-%d') AS week,
           CAST(COUNT(*) AS BIGINT)                    AS n_events,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0  AS sum_value
    FROM events
    GROUP BY event_type, date_trunc('week', CAST(ts AS DATE))
    ORDER BY event_type, week
    """,
    tags=("temporal", "rollup", "continuous-aggregate", "hypertable"),
)
def q138_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup CASCADE (the hypertable continuous-
    aggregate shape): raw events fold once into HOURLY partials
    (count + exact-cents sum per (event_type, hour) — the only
    corpus-sized aggregate), dailies derive from the hourly PARTIALS,
    weeklies from the dailies — never rescanning raw data. At 100 TB
    this is the retention/serving pattern: the hourly partial table is
    ~10^4-10^5x smaller than raw, materialized incrementally per ingest
    window, and every coarser granularity (plus late-data re-rollup) is
    an aggregate over partials, exploiting that count/sum are MERGEABLE
    (the same linearity q136's Count-Min and q95's HLL union exploit —
    avg/distinct must instead carry (sum,count)/sketch partials).
    n_days (count of daily partials per week) is carried up the cascade
    so the hash also pins the intermediate level's cardinality, not
    just totals. Weeks are ISO Monday-start on both engines."""
    e = table(spark, sf_dir, "events").select(
        "event_type", "ts", to_cents("value").alias("c")
    )
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("cnt"), F.sum("c").alias("sc"))
    daily = hourly.groupBy("event_type", F.to_date("h").alias("d")).agg(
        F.sum("cnt").alias("cnt"), F.sum("sc").alias("sc")
    )
    weekly = (
        daily.groupBy("event_type", F.date_trunc("week", "d").alias("w"))
        .agg(
            F.sum("cnt").alias("n_events"),
            F.count("*").alias("n_days"),
            (F.sum("sc") / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            "event_type",
            F.date_format("w", "yyyy-MM-dd").alias("week"),
            "n_events",
            "n_days",
            "sum_value",
        )
        .orderBy("event_type", "week")
    )
    return weekly


@query(
    "q142_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ), t AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
    FROM t
    ORDER BY from_type, to_type
    """,
    tags=("temporal", "sequence", "markov", "transitions"),
)
def q142_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition (Markov) matrix: each user's event
    stream is ordered by (ts, event_id — the unique tiebreaker, since
    equal timestamps would otherwise make lead() nondeterministic and
    break the hash), consecutive pairs count into a from_type x to_type
    matrix, and row-normalized probabilities come out as a BIGINT/BIGINT
    double division (both engines divide the same exact integers — no
    float-sum drift). The 100 TB shape: one (user_id) shuffle for the
    per-user window, then the matrix aggregate is event_type^2-sized
    (tiny); the normalizing window runs on the matrix, never the corpus.
    This is the sequence-model feed (transition priors, anomaly scores)
    that q74's fixed-stage funnel cannot express."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    t = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count("*").alias("n"))
    row_tot = Window.partitionBy("from_type")
    return (
        t.select(
            "from_type", "to_type", F.col("n").cast("long").alias("n"),
            (F.col("n").cast("double") / F.sum("n").over(row_tot).cast("double")).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "q143_retention_cohorts",
    oracle="""
    WITH firstday AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort FROM events
        GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort,
               datediff('day', f.cohort, CAST(e.ts AS DATE)) AS day_n
        FROM events e JOIN firstday f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
           CAST(day_n AS BIGINT)        AS day_n,
           CAST(COUNT(*) AS BIGINT)     AS n_users
    FROM activity
    GROUP BY cohort, day_n
    ORDER BY cohort, day_n
    """,
    tags=("temporal", "retention", "cohort"),
)
def q143_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort matrix (the activation/retention readout of any
    event product, and the acceptance readout of a data-collection
    pipeline): users cohort by FIRST active day, every active (user,
    day_n-since-cohort) pair counts once, giving cohort x day_n active-
    user counts. Plan: one (user_id) aggregate for first-day, a
    broadcast-or-shuffle join back (Catalyst picks; both sides are
    user-keyed so the join co-locates with the aggregate's partitioning),
    a distinct on (user, cohort, day_n), then a cohort-sized final
    aggregate. At 100 TB the distinct is the only corpus-sized shuffle
    and it is key-local after the join."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firstday = e.groupBy("user_id").agg(F.min("d").alias("cohort"))
    activity = (
        e.join(firstday, "user_id")
        .select("user_id", "cohort", F.datediff("d", "cohort").alias("day_n"))
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            F.col("day_n").cast("long").alias("day_n"),
        )
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort", "day_n")
    )


@query(
    "q155_event_rate_anomalies",
    oracle="""
    WITH hourly AS (
        SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS h,
               CAST(SUM(n) AS BIGINT) AS t,
               CAST(SUM(n * n) AS BIGINT) AS ss
        FROM hourly GROUP BY event_type
    )
    SELECT hy.event_type, hy.hour, hy.n,
           CAST(hy.n * st.h - st.t AS DOUBLE)
             / sqrt(CAST(st.h * st.ss - st.t * st.t AS DOUBLE)) AS z
    FROM hourly hy JOIN stats st USING (event_type)
    WHERE st.h * st.ss > st.t * st.t
    ORDER BY abs(CAST(hy.n * st.h - st.t AS DOUBLE)
             / sqrt(CAST(st.h * st.ss - st.t * st.t AS DOUBLE))) DESC,
             hy.event_type, hy.hour
    LIMIT 20
    """,
    tags=("temporal", "anomaly", "zscore", "diagnostics"),
)
def q155_event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: top-20 |z-score| hours per event
    type against that type's own hourly distribution — the monitoring
    query every ingest pipeline runs over its event stream. Exact across
    engines WITHOUT fixed-point tricks: with μ = T/H and population σ,
    z = (n·H − T) / sqrt(H·Σn² − T²), so both numerator and the sqrt
    argument are exact BIGINTs; the only float ops are one sqrt and one
    divide of identical inputs — bit-identical results. Degenerate types
    (zero variance) are excluded by the integer guard H·Σn² > T²."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
        )
        .agg(F.count("*").alias("n"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("h"),
        F.sum("n").alias("t"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    z = (F.col("n") * F.col("h") - F.col("t")).cast("double") / F.sqrt(
        (F.col("h") * F.col("ss") - F.col("t") * F.col("t")).cast("double")
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .where(F.col("h") * F.col("ss") > F.col("t") * F.col("t"))
        .select("event_type", "hour", "n", z.alias("z"))
        .orderBy(F.abs(F.col("z")).desc(), "event_type", "hour")
        .limit(20)
    )


@query(
    "q156_ohlc_bars",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           first(value ORDER BY ts, event_id) AS open,
           MAX(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS high,
           MIN(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS low,
           last(value ORDER BY ts, event_id) AS close
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, hour
    """,
    tags=("temporal", "ohlc", "bars", "argmax"),
)
def q156_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars — the time-series downsampling aggregate (financial
    candles, metric roll-ups): per (event_type, hour), the first (open)
    and last (close) value by event time with a unique event_id
    tiebreak, plus exact-cents high/low. Open/close are single-pass
    ``min_by``/``max_by`` over a composite (ts, event_id) key — no
    window, no sort, one map-side-combinable shuffle; high/low are
    integer-cents so the hash is summation-order-proof. The oracle picks
    the same rows via ORDER BY-qualified MIN."""
    e = table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min_by("value", key).alias("open"),
            (F.max(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias("high"),
            (F.min(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias("low"),
            F.max_by("value", key).alias("close"),
        )
        .orderBy("event_type", "hour")
    )


_SEQ_MOTIFS = [
    ("view,click,purchase", "conversion path"),
    ("error,error", "repeated failure"),
    ("view,view,view", "browse burst"),
]

# Deterministic per-user event cap for the sequence-string queries. A
# user's sequence is its FIRST `_SEQ_CAP` events by (ts, event_id); the
# cap is what keeps a hot key (skew.py's null-ish default user owning 1%
# of a 100 TB fact table) from materializing a multi-GB single string on
# one task — the round-6 verdict's one perf-weak item. Test-scale max is
# 99 events/user (sf0.1), so at test SFs the cap is semantically inert;
# tests/test_temporal_ext.py proves a synthetic 10^5-event hot user is
# clipped to exactly _SEQ_CAP entries on both engines.
_SEQ_CAP = 1000

# Oracle-side mirror of `_capped_user_sequences` (DuckDB): QUALIFY
# row_number applies the identical (ts, event_id) cap before string_agg.
_SEQS_ORACLE = f"""
    capped AS (
        SELECT user_id, event_type, ts, event_id
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) <= {_SEQ_CAP}
    ), seqs AS (
        SELECT user_id,
               string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
        FROM capped
        GROUP BY user_id
    )"""


def _capped_user_sequences(e: DataFrame, cap: int = _SEQ_CAP) -> DataFrame:
    """Per-user time-ordered event-type sequence strings, capped at the
    user's first ``cap`` events by (ts, event_id). The row_number
    pre-filter bounds BOTH the collect_list aggregation buffer and the
    output row to ``cap`` entries per key; the window's user_id hash
    partitioning is reused by the following groupBy (one shuffle
    total)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap)
    )
    return capped.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ",",
        ).alias("seq")
    )


@query(
    "q157_sequence_motif_match",
    oracle=f"""
    WITH {_SEQS_ORACLE}, motifs(motif) AS (
        VALUES {", ".join(f"('{m}')" for m, _ in _SEQ_MOTIFS)}
    )
    SELECT m.motif,
           CAST(SUM(CASE WHEN len(regexp_extract_all(s.seq, m.motif)) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_users_with,
           CAST(SUM(len(regexp_extract_all(s.seq, m.motif))) AS BIGINT)
               AS total_occurrences
    FROM seqs s CROSS JOIN motifs m
    GROUP BY m.motif
    ORDER BY m.motif
    """,
    tags=("temporal", "sequence", "motif", "match-recognize"),
)
def q157_sequence_motif_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-MOTIF matching — the MATCH_RECOGNIZE stand-in: each
    user's event types are assembled into one time-ordered string (the
    sequence representation behind clickstream mining), and fixed motifs
    of CONSECUTIVE events (view→click→purchase conversion, error,error
    repeat, view bursts) are counted by non-overlapping left-to-right
    regex scan — both engines' regex engines scan identically for these
    literal patterns, so user counts and occurrence totals hash-match.
    Adjacency is what distinguishes this from the eventually-ordered
    funnel (q74) and the bigram transition matrix (q142). Sequences are
    capped at the user's first ``_SEQ_CAP`` events (identically in the
    oracle), so a hot key can never materialize an unbounded row; one
    shuffle on user_id, then a tiny motifs-crossJoin of |users| × 3
    rows."""
    e = table(spark, sf_dir, "events")
    seqs = _capped_user_sequences(e)
    motifs = F.array(*[F.lit(m) for m, _ in _SEQ_MOTIFS])
    exploded = seqs.select("seq", F.explode(motifs).alias("motif"))
    n_occ = F.regexp_count(F.col("seq"), F.col("motif"))
    return (
        exploded.groupBy("motif")
        .agg(
            F.sum((n_occ > 0).cast("long")).alias("n_users_with"),
            F.sum(n_occ.cast("long")).alias("total_occurrences"),
        )
        .orderBy("motif")
    )


# (first, last, max intervening events) — gap-constrained motifs: "A then
# B within N events". gap=0 is strict adjacency (q157's shape); gap>0 is
# the shape between q74's eventually-ordered funnel and q157. The gap
# quantifier is LAZY ({0,N}?) so each A matches its EARLIEST qualifying B
# — a greedy gap would swallow an intervening A,B pair as "gap" events
# and undercount (view,purchase,view,purchase must be 2 occurrences, not
# one 4-event match). Both engines (Java regex, RE2) implement lazy
# bounded repetition with identical leftmost-first minimal semantics and
# non-overlapping continuation, so counts hash-match.
_GAP_MOTIFS = [
    ("view", "purchase", 0),
    ("view", "purchase", 2),
    ("signup", "purchase", 3),
    ("error", "error", 1),
]


def _gap_pattern(first: str, last: str, gap: int) -> str:
    return f"{first}(,[a-z]+){{0,{gap}}}?,{last}"


@query(
    "q158_gap_constrained_motif",
    oracle=f"""
    WITH {_SEQS_ORACLE}, motifs(motif, pattern) AS (
        VALUES {", ".join(f"('{a}->{b}<={g}', '{_gap_pattern(a, b, g)}')" for a, b, g in _GAP_MOTIFS)}
    )
    SELECT m.motif,
           CAST(SUM(CASE WHEN len(regexp_extract_all(s.seq, m.pattern)) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_users_with,
           CAST(SUM(len(regexp_extract_all(s.seq, m.pattern))) AS BIGINT)
               AS total_occurrences
    FROM seqs s CROSS JOIN motifs m
    GROUP BY m.motif
    ORDER BY m.motif
    """,
    tags=("temporal", "sequence", "motif", "gap", "match-recognize"),
)
def q158_gap_constrained_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-constrained sequence motifs — "A then B within ≤N intervening
    events", the windowed-adjacency MATCH_RECOGNIZE shape between q74's
    eventually-ordered funnel (any gap) and q157's strict adjacency
    (zero gap). Each motif compiles to a bounded LAZY regex
    ``first(,[a-z]+){{0,N}}?,last`` over the same capped per-user
    sequence strings as q157 (shared ``_capped_user_sequences`` /
    ``_SEQS_ORACLE``); occurrences are counted by non-overlapping
    left-to-right scan where each A matches its EARLIEST qualifying B —
    identical leftmost-first minimal semantics under Java regex and RE2
    (unit-tested against a hand-computed corpus in
    tests/test_temporal_ext.py).
    Same scale shape as q157: capped rows, one user_id shuffle, a
    |users| × 4 motif explode."""
    e = table(spark, sf_dir, "events")
    seqs = _capped_user_sequences(e)
    motifs = F.array(
        *[
            F.struct(
                F.lit(f"{a}->{b}<={g}").alias("motif"),
                F.lit(_gap_pattern(a, b, g)).alias("pattern"),
            )
            for a, b, g in _GAP_MOTIFS
        ]
    )
    exploded = seqs.select("seq", F.explode(motifs).alias("m")).select(
        "seq", F.col("m.motif").alias("motif"), F.col("m.pattern").alias("pattern")
    )
    n_occ = F.regexp_count(F.col("seq"), F.col("pattern"))
    return (
        exploded.groupBy("motif")
        .agg(
            F.sum((n_occ > 0).cast("long")).alias("n_users_with"),
            F.sum(n_occ.cast("long")).alias("total_occurrences"),
        )
        .orderBy("motif")
    )


@query(
    "q159_time_window_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id AS v_id, ts AS v_ts
        FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ), per_view AS (
        SELECT v.user_id, v.v_id, v.v_ts,
               MIN(p.p_ts) AS first_p
        FROM v LEFT JOIN p
          ON v.user_id = p.user_id
         AND p.p_ts > v.v_ts
         AND p.p_ts <= v.v_ts + INTERVAL 5 MINUTE
        GROUP BY v.user_id, v.v_id, v.v_ts
    )
    SELECT strftime(v_ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(COUNT(first_p) AS BIGINT) AS n_converted,
           CAST(COALESCE(SUM((epoch_us(first_p) - epoch_us(v_ts)) // 1000000),
                         0) AS BIGINT) AS sum_delay_s,
           CAST(COUNT(first_p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS conv_rate
    FROM per_view
    GROUP BY 1
    ORDER BY day
    """,
    tags=("temporal", "funnel", "time-window", "conversion"),
)
def q159_time_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-window funnel — "view converts iff a purchase follows within
    5 minutes": the wall-clock-bounded conversion metric, completing the
    gap ladder (q74 any-gap order, q158 event-count gap, here real-time
    gap). Per anchor view, the earliest qualifying purchase via a
    user_id equi-join with a range post-filter (never a time-cross
    join); daily rollup of views, conversions, total delay seconds
    (exact integer micros DIV), and the conversion rate (one
    double division of identical BIGINTs per engine). Per-user pair
    fan-out is views×purchases within the key — the same bounded-key
    shape as q52's range join; AQE's skew split handles a hot user."""
    e = table(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("v_id"), F.col("ts").alias("v_ts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    per_view = (
        v.join(
            p,
            (v["user_id"] == p["user_id"])
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 5 MINUTE")),
            "left",
        )
        .groupBy(v["user_id"], "v_id", "v_ts")
        .agg(F.min("p_ts").alias("first_p"))
    )
    delay_s = F.expr(
        "(unix_micros(first_p) - unix_micros(v_ts)) DIV 1000000"
    )
    return (
        per_view.groupBy(F.date_format("v_ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_views"),
            F.count("first_p").alias("n_converted"),
            F.coalesce(F.sum(delay_s), F.lit(0)).cast("long").alias("sum_delay_s"),
            (
                F.count("first_p").cast("double") / F.count("*").cast("double")
            ).alias("conv_rate"),
        )
        .orderBy("day")
    )


@query(
    "q160_time_weighted_value",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts, value,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS t2
        FROM events
    ), closed AS (
        SELECT user_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               (epoch_us(t2) - epoch_us(ts)) // 1000000 AS dur_s
        FROM iv WHERE t2 IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_s) AS BIGINT) AS active_seconds,
           CAST(SUM(cents * dur_s) AS DOUBLE)
               / CAST(SUM(dur_s) * 100 AS BIGINT) AS twap
    FROM closed
    GROUP BY user_id
    HAVING SUM(dur_s) > 0
    ORDER BY user_id
    """,
    tags=("temporal", "twap", "time-weighted", "exact"),
)
def q160_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED average value (TWAP — the metric for irregularly
    sampled series, where a plain mean over-weights bursts): each event's
    value holds until the user's next event (lead interval); the mean
    weights by exact integer seconds. All accumulation is BIGINT
    (cents × seconds; bounds: |cents| ≤ 2^17 and a century is < 2^32
    seconds, so a key needs > 2^14 ≈ 16K century-long intervals to
    overflow 2^63 — not a real corpus), and the single double division
    at the end divides identical integers on both engines, so the report
    hash-matches. One user_id shuffle shared by the lead window and the
    groupBy."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = e.select("user_id", "ts", "value", "event_id").withColumn(
        "t2", F.lead("ts").over(w)
    )
    closed = iv.where(F.col("t2").isNotNull()).select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("(unix_micros(t2) - unix_micros(ts)) DIV 1000000").alias("dur_s"),
    )
    return (
        closed.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dur_s").alias("active_seconds"),
            (
                F.sum(F.col("cents") * F.col("dur_s")).cast("double")
                / (F.sum("dur_s") * F.lit(100)).cast("double")
            ).alias("twap"),
        )
        .where(F.col("active_seconds") > 0)
        .orderBy("user_id")
    )


_ATTR_WINDOW_US = 30 * 60 * 1_000_000  # 30-minute attribution lookback


@query(
    "q163_last_touch_attribution",
    oracle=f"""
    WITH t AS (
        SELECT user_id, ts, event_type, value,
               last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                          IGNORE NULLS) OVER w AS t_ts,
               last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                          IGNORE NULLS) OVER w AS ch
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN t_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(t_ts) <= {_ATTR_WINDOW_US}
                THEN ch ELSE 'direct' END AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS credited_value
    FROM t
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY channel
    """,
    tags=("temporal", "attribution", "last-touch", "marketing"),
)
def q163_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH attribution — the marketing-analytics standard: each
    purchase credits its revenue to the user's most recent preceding
    non-purchase event (the touch channel) if it happened within a
    30-minute lookback, else to 'direct'. One user_id shuffle: a single
    last(ignorenulls) window over a (ts, event_type) struct with a
    1-PRECEDING frame picks the touch (both fields from the SAME row —
    two separate IGNORE NULLS last_values in the oracle agree because
    they null out on exactly the same rows), then a tiny channel
    aggregate with exact-cents revenue."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(F.col("ts").alias("t_ts"), F.col("event_type").alias("ch")),
        ),
        ignorenulls=True,
    ).over(w)
    marked = e.select("user_id", "ts", "event_id", "event_type", "value").withColumn(
        "touch", touch
    )
    within = F.col("touch").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros(F.col("touch.t_ts"))
        <= F.lit(_ATTR_WINDOW_US)
    )
    return (
        marked.where(F.col("event_type") == "purchase")
        .select(
            F.when(within, F.col("touch.ch")).otherwise(F.lit("direct")).alias("channel"),
            to_cents("value").alias("cents"),
        )
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            (F.sum("cents") / F.lit(100.0)).alias("credited_value"),
        )
        .orderBy("channel")
    )


@query(
    "q166_concurrent_sessions",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM marked
    ), sess AS (
        SELECT user_id, session_id, MIN(ts) AS s_start, MAX(ts) AS s_end
        FROM numbered GROUP BY 1, 2
    ), marks AS (
        SELECT s_start AS ts, 1 AS d, user_id, session_id FROM sess
        UNION ALL
        SELECT s_end, -1, user_id, session_id FROM sess
    ), run AS (
        SELECT ts, d,
               SUM(d) OVER (ORDER BY ts, d DESC, user_id, session_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM marks
    )
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent,
           CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions_started
    FROM run
    GROUP BY 1
    ORDER BY day
    """,
    tags=("temporal", "concurrency", "sweep-line", "prefix-sum", "sessions"),
)
def q166_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day MAXIMUM concurrent sessions — the capacity-planning sweep:
    sessions (q24's 30-min gap rule) become ±1 marks at their first/last
    event, and concurrency is the running sum over the global
    (ts, start-before-end, user, session) order. The running sum is the
    repo's TWO-LEVEL PREFIX SUM (q94/q125): level 1 cumsums within
    hour buckets (parallel across 720 hour tasks — monotone in the
    global order since the bucket is a ts truncation), level 2 gives
    each hour its base offset via a window over the BOUNDED hour-total
    table (the only single-partition window, on ~720 rows) broadcast
    back — bit-identical to the single-window answer the oracle
    computes, with no corpus-wide sort anywhere. Starts sort before
    ends at the same instant (a single-event session counts as 1;
    the tiebreak chain makes the order total, so the per-row sum —
    not just the max — matches the oracle's)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    sess = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1)
            .otherwise(0)
            .alias("new_session"),
        )
        .select(
            "user_id",
            "ts",
            F.sum("new_session").over(run_w).cast("long").alias("session_id"),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    marks = sess.select(
        F.explode(
            F.array(
                F.struct(F.col("s_start").alias("ts"), F.lit(1).alias("d")),
                F.struct(F.col("s_end").alias("ts"), F.lit(-1).alias("d")),
            )
        ).alias("m"),
        "user_id",
        "session_id",
    ).select(F.col("m.ts").alias("ts"), F.col("m.d").alias("d"), "user_id", "session_id")
    bucket = F.date_trunc("hour", "ts").alias("_b")
    marks = marks.withColumn("_b", bucket)
    order_cols = [F.col("ts"), F.col("d").desc(), F.col("user_id"), F.col("session_id")]
    w_local = (
        Window.partitionBy("_b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = marks.withColumn("_local", F.sum("d").over(w_local))
    w_hours = (
        Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    )  # bounded: one row per hour (~720) — the only single-partition window
    hour_base = (
        marks.groupBy("_b")
        .agg(F.sum("d").alias("_ht"))
        .withColumn("_base", F.coalesce(F.sum("_ht").over(w_hours), F.lit(0)))
        .select("_b", "_base")
    )
    conc = local.join(F.broadcast(hour_base), "_b").withColumn(
        "conc", (F.col("_base") + F.col("_local")).cast("long")
    )
    return (
        conc.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.max("conc").alias("max_concurrent"),
            F.sum((F.col("d") == 1).cast("long")).alias("n_sessions_started"),
        )
        .orderBy("day")
    )


@query(
    "q169_top_session_paths",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM marked
    ), capped AS (
        SELECT user_id, session_id, event_type, ts, event_id
        FROM numbered
        QUALIFY row_number() OVER (PARTITION BY user_id, session_id
                                   ORDER BY ts, event_id) <= 5
    ), paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM capped
        GROUP BY 1, 2
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 15
    """,
    tags=("temporal", "sessions", "paths", "clickstream"),
)
def q169_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 session PATHS — the clickstream report behind every "how
    do users move through the product" dashboard: sessions (q24's 30-min
    gap rule) are represented by their first 5 event types joined with
    '>' (the cap bounds every row, q157's discipline), then counted.
    One user_id shuffle chain (gap window → session ids → per-session
    row_number cap → path groupBy reuse the same hash partitioning),
    a path-keyed count, and a total ORDER BY with the path itself as
    the unique tiebreaker on the LIMIT."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    numbered = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_session").over(run_w).cast("long").alias("session_id"),
    )
    w_sess = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    capped = numbered.withColumn("__rn", F.row_number().over(w_sess)).where(
        F.col("__rn") <= 5
    )
    paths = capped.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


# Densified (hour × event_type) count grid with explicit zeros — the
# shared substrate of q170 (correlation), q171 (forecast eval) and q172
# (EWMA). BOUNDED (~720 hours × 5 types per month of data), but naively
# re-deriving it per branch re-SCANS the corpus per reference (measured:
# q171's three lag-join branches × {hours, types, counts} = 9 full scans
# — Catalyst does not reuse the aggregate exchange because each branch
# projects it differently). So it is the session substrate "dense",
# materialized ONCE per session as a localCheckpoint — the corpus is
# touched exactly once no matter how many consumers run; the ~3,600-row
# checkpoint is free.
@substrate("dense", "events")
def dense_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    counts = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # corpus touched once, here
    )
    hours = counts.select("h").distinct()
    types = counts.select("event_type").distinct()
    return (
        hours.crossJoin(F.broadcast(types))
        .join(F.broadcast(counts), ["h", "event_type"], "left")
        .select("h", "event_type", F.coalesce("c", F.lit(0)).alias("c"))
        .localCheckpoint(eager=True)
    )


_DENSE_HOURLY_ORACLE = """
    hours AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h FROM events
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), counts AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), dense AS (
        SELECT hours.h, types.event_type, COALESCE(counts.c, 0) AS c
        FROM hours CROSS JOIN types
        LEFT JOIN counts ON counts.h = hours.h
                        AND counts.event_type = types.event_type
    )"""


@query(
    "q171_seasonal_naive_forecast",
    oracle=f"""
    WITH {_DENSE_HOURLY_ORACLE}
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(abs(a.c - d.c)) AS BIGINT) AS abs_err_daily,
           CAST(SUM(abs(a.c - p.c)) AS BIGINT) AS abs_err_hourly,
           CAST(SUM(abs(a.c - d.c)) AS DOUBLE) / COUNT(*) AS mae_daily,
           CAST(SUM(abs(a.c - p.c)) AS DOUBLE) / COUNT(*) AS mae_hourly
    FROM dense a
    JOIN dense d ON d.event_type = a.event_type
                AND d.h = a.h - INTERVAL 24 HOUR
    JOIN dense p ON p.event_type = a.event_type
                AND p.h = a.h - INTERVAL 1 HOUR
    GROUP BY a.event_type
    ORDER BY a.event_type
    """,
    tags=("temporal", "forecast", "seasonal-naive", "evaluation", "dense-hourly"),
    checkpointed_substrate=True,
)
def q171_seasonal_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-BASELINE evaluation — the report every capacity model is
    judged against: per event type, the mean absolute error of the
    seasonal-naive predictor (this hour yesterday) vs the naive
    predictor (previous hour) over the DENSIFIED hourly grid (explicit
    zeros, q170's discipline — skipping empty hours would flatter both
    baselines). Error totals are exact BIGINTs; each MAE is one double
    division of identical integers. The grid is bounded (~720 h × 5
    types), so every join is broadcast-sized at any corpus scale — the
    corpus is touched exactly once for the hourly counts (the shared
    ``dense_hourly_counts`` checkpoint; re-deriving it per lag branch
    measured 9 full scans)."""
    dense = dense_hourly_counts(spark, sf_dir)
    a = dense.select("event_type", "h", F.col("c").alias("ca"))
    d24 = dense.select(
        "event_type", (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("c").alias("cd"),
    )
    p1 = dense.select(
        "event_type", (F.col("h") + F.expr("INTERVAL 1 HOURS")).alias("h"),
        F.col("c").alias("cp"),
    )
    j = a.join(F.broadcast(d24), ["event_type", "h"]).join(
        F.broadcast(p1), ["event_type", "h"]
    )
    abs_d = F.abs(F.col("ca") - F.col("cd"))
    abs_p = F.abs(F.col("ca") - F.col("cp"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(abs_d).alias("abs_err_daily"),
            F.sum(abs_p).alias("abs_err_hourly"),
            (F.sum(abs_d).cast("double") / F.count("*")).alias("mae_daily"),
            (F.sum(abs_p).cast("double") / F.count("*")).alias("mae_hourly"),
        )
        .orderBy("event_type")
    )


@query(
    "q172_ewma_control_chart",
    oracle=f"""
    WITH RECURSIVE {_DENSE_HOURLY_ORACLE}, idx AS (
        SELECT event_type, h, c,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
        FROM dense
    ), rec(event_type, i, e) AS (
        SELECT event_type, i, c FROM idx WHERE i = 1
        UNION ALL
        SELECT idx.event_type, idx.i, (7 * rec.e + idx.c) // 8
        FROM rec JOIN idx ON idx.event_type = rec.event_type
                         AND idx.i = rec.i + 1
    )
    SELECT x.event_type,
           strftime(x.h, '%Y-%m-%d %H:00') AS hour,
           x.c AS n,
           CAST(r.e AS BIGINT) AS ewma_prev
    FROM idx x
    JOIN rec r ON r.event_type = x.event_type AND r.i = x.i - 1
    WHERE 2 * x.c > 3 * r.e OR 2 * x.c < r.e
    ORDER BY x.event_type, hour
    """,
    tags=("temporal", "ewma", "control-chart", "anomaly", "iterative", "dense-hourly"),
    checkpointed_substrate=True,
)
def q172_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart — the smoothed anomaly monitor (q155's z-score
    is global; EWMA adapts to drift): per event type, hourly counts are
    folded through the INTEGER recurrence e ← (7·e + x) DIV 8
    (α = 1/8 as an exact rational, floor division — bit-identical on
    both engines; 7·e + x stays exact far past any hourly volume), and
    an hour is flagged when its count breaks the ±band around the
    PRE-UPDATE smoothed level (x > 1.5·e or x < 0.5·e, both integer
    cross-multiplications). The fold runs over the per-type DENSIFIED
    hour array (bounded, ~720 elements — collected per type from the
    shared ``dense_hourly_counts`` checkpoint; the oracle replays it as
    a recursive CTE, the q106/q110 integer-iteration pattern)."""
    dense = dense_hourly_counts(spark, sf_dir)
    series = dense.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("h", "c"))).alias("xs")
    )
    out_t = "array<struct<h:timestamp,c:bigint,ep:bigint>>"
    init = F.struct(
        F.lit(-1).cast("long").alias("prev"),
        F.lit(None).cast(out_t).alias("out"),
    )
    folded = F.aggregate(
        F.col("xs"),
        init,
        lambda acc, x: F.struct(
            F.when(acc["prev"] < 0, x["c"])
            .otherwise(int_div(F.lit(7) * acc["prev"] + x["c"], 8))
            .alias("prev"),
            F.concat(
                F.coalesce(acc["out"], F.expr(f"CAST(array() AS {out_t})")),
                F.array(
                    F.struct(
                        x["h"].alias("h"), x["c"].alias("c"), acc["prev"].alias("ep")
                    )
                ),
            ).alias("out"),
        ),
        lambda acc: acc["out"],
    )
    rows = series.select("event_type", F.explode(folded).alias("r")).select(
        "event_type",
        F.col("r.h").alias("h"),
        F.col("r.c").alias("n"),
        F.col("r.ep").alias("ewma_prev"),
    )
    return (
        rows.where(F.col("ewma_prev") >= 0)
        .where(
            (2 * F.col("n") > 3 * F.col("ewma_prev"))
            | (2 * F.col("n") < F.col("ewma_prev"))
        )
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            "n",
            "ewma_prev",
        )
        .orderBy("event_type", "hour")
    )


@query(
    "q175_uninterrupted_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id AS v_id, ts AS v_ts
        FROM events WHERE event_type = 'view'
    ), bc AS (
        SELECT user_id, event_type, ts AS b_ts
        FROM events WHERE event_type IN ('purchase', 'error')
    ), per_view AS (
        SELECT v.user_id, v.v_id, v.v_ts,
               MIN(b_ts) FILTER (WHERE event_type = 'purchase') AS first_b,
               MIN(b_ts) FILTER (WHERE event_type = 'error') AS first_c
        FROM v LEFT JOIN bc
          ON v.user_id = bc.user_id
         AND bc.b_ts > v.v_ts
         AND bc.b_ts <= v.v_ts + INTERVAL 12 HOUR
        GROUP BY 1, 2, 3
    ), flagged AS (
        SELECT v_ts,
               first_b IS NOT NULL
                   AND (first_c IS NULL OR first_c >= first_b) AS matched,
               first_b IS NOT NULL AND first_c < first_b AS blocked,
               (epoch_us(first_b) - epoch_us(v_ts)) // 1000000 AS delay_s
        FROM per_view
    )
    SELECT strftime(v_ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(COALESCE(SUM(CASE WHEN matched THEN 1 END), 0) AS BIGINT)
               AS n_matched,
           CAST(COALESCE(SUM(CASE WHEN blocked THEN 1 END), 0) AS BIGINT)
               AS n_blocked,
           CAST(COALESCE(SUM(CASE WHEN matched THEN delay_s END), 0) AS BIGINT)
               AS sum_delay_s,
           CAST(COALESCE(SUM(CASE WHEN matched THEN 1 END), 0) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS match_rate
    FROM flagged
    GROUP BY 1
    ORDER BY day
    """,
    tags=("temporal", "funnel", "motif", "negative-condition", "match-recognize"),
)
def q175_uninterrupted_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-condition time-bounded motif — "view, then purchase
    within 12 hours, with NO error strictly between": the
    MATCH_RECOGNIZE shape the gap ladder (q74 any-gap, q158 event-count
    gap, q159 wall-clock gap) was still missing. (r14: the window was
    originally 5 minutes, but at ~0.03 events/user/hour a 5-minute
    window NEVER contained both a purchase and an earlier error —
    n_blocked was identically 0 at every SF, hash-green, and the
    negative condition this query exists to demonstrate was dead code;
    12 hours gives blocked counts 4/42/421 at sf0.001/0.01/0.1 while
    matched funnels stay dominant.) The negative condition
    cannot be a sequence-string regex here: DuckDB's RE2 has no
    lookahead, so "intervening token != error" is inexpressible as a
    cross-engine pattern — instead each anchor meets the purchase AND
    error streams through ONE user_id-keyed left join (5-minute range
    post-filter, never a time-cross join) and a combinable conditional-
    MIN aggregate. A view converts iff its earliest purchase exists and
    no error precedes that purchase (an error AT the purchase timestamp
    is not "between" — both engines use the same >= tie rule); views
    whose purchase was pre-empted by an error are reported as blocked.
    Per-user fan-out is views x (purchases+errors) within the key —
    q159's bounded-key join shape; AQE's skew split handles a hot user.
    Daily rollup: exact BIGINT counts and delay seconds (integer micros
    DIV), one identical double division for the rate."""
    return _uninterrupted_funnel(table(spark, sf_dir, "events"))


def _uninterrupted_funnel(e: DataFrame) -> DataFrame:
    """q175 core over any events frame (unit-tested on a hand corpus)."""
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("v_id"), F.col("ts").alias("v_ts")
    )
    bc = e.where(F.col("event_type").isin("purchase", "error")).select(
        "user_id", F.col("event_type").alias("et"), F.col("ts").alias("b_ts")
    )
    per_view = (
        v.join(
            bc,
            (v["user_id"] == bc["user_id"])
            & (F.col("b_ts") > F.col("v_ts"))
            & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 12 HOUR")),
            "left",
        )
        .groupBy(v["user_id"], "v_id", "v_ts")
        .agg(
            F.min(F.when(F.col("et") == "purchase", F.col("b_ts"))).alias("first_b"),
            F.min(F.when(F.col("et") == "error", F.col("b_ts"))).alias("first_c"),
        )
    )
    matched = F.col("first_b").isNotNull() & (
        F.col("first_c").isNull() | (F.col("first_c") >= F.col("first_b"))
    )
    blocked = F.col("first_b").isNotNull() & (F.col("first_c") < F.col("first_b"))
    delay_s = F.expr("(unix_micros(first_b) - unix_micros(v_ts)) DIV 1000000")
    return (
        per_view.groupBy(F.date_format("v_ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_views"),
            F.coalesce(F.sum(matched.cast("long")), F.lit(0)).cast("long").alias("n_matched"),
            F.coalesce(F.sum(blocked.cast("long")), F.lit(0)).cast("long").alias("n_blocked"),
            F.coalesce(F.sum(F.when(matched, delay_s)), F.lit(0))
            .cast("long")
            .alias("sum_delay_s"),
            (
                F.coalesce(F.sum(matched.cast("long")), F.lit(0)).cast("double")
                / F.count("*").cast("double")
            ).alias("match_rate"),
        )
        .orderBy("day")
    )


@query(
    "q177_hourly_autocorrelation",
    oracle=f"""
    WITH {_DENSE_HOURLY_ORACLE}, totals AS (
        SELECT h, CAST(SUM(c) AS BIGINT) AS c FROM dense GROUP BY h
    ), lags AS (
        SELECT unnest(generate_series(1, 24)) AS lag
    ), pairs AS (
        SELECT l.lag,
               CAST(COUNT(*) AS BIGINT)       AS n_pairs,
               CAST(SUM(a.c) AS BIGINT)       AS sx,
               CAST(SUM(b.c) AS BIGINT)       AS sy,
               CAST(SUM(a.c * b.c) AS BIGINT) AS sxy,
               CAST(SUM(a.c * a.c) AS BIGINT) AS sxx,
               CAST(SUM(b.c * b.c) AS BIGINT) AS syy
        FROM lags l
        CROSS JOIN totals a
        JOIN totals b ON b.h = a.h + INTERVAL 1 HOUR * l.lag
        GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           CAST(ROUND(
               CAST(n_pairs * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
               * 1000000000) AS BIGINT) / 1000000000.0 AS acf
    FROM pairs
    WHERE n_pairs * sxx > sx * sx AND n_pairs * syy > sy * sy
    ORDER BY lag
    """,
    tags=("temporal", "autocorrelation", "seasonality", "dense-hourly"),
    checkpointed_substrate=True,
)
def q177_hourly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of total hourly event volume at lags
    1–24 h — the seasonality detector behind q171's seasonal-naive
    choice (a 24 h peak says daily cycle; fast decay says noise). Built
    entirely on BOUNDED derived tables: the shared dense hourly grid
    (one corpus scan, amortized with q170–q172) collapses to ~720 hour
    totals, a 24-row lag dimension cross-joins, and each lag's pairs
    come from an equi-join on the precomputed shifted hour — exact
    BIGINT sums (q170's recipe: n·Σxy − ΣxΣy over identical integers,
    1e-9 fixed-point rounding of the one double expression). Missing
    hours drop the pair identically on both engines. Integer bounds
    match q170: ~3M events/hour for a month stays under 2^63."""
    dense = dense_hourly_counts(spark, sf_dir)
    totals = dense.groupBy("h").agg(F.sum("c").alias("c"))
    lags = spark.range(1, 25).select(F.col("id").cast("int").alias("lag"))
    a = (
        totals.crossJoin(F.broadcast(lags))
        .withColumn("h2", F.col("h") + F.make_interval(hours=F.col("lag")))
        .select("lag", "h2", F.col("c").alias("ca"))
    )
    b = totals.select(F.col("h").alias("h2"), F.col("c").alias("cb"))
    pairs = (
        a.join(F.broadcast(b), "h2")
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("ca").alias("sx"),
            F.sum("cb").alias("sy"),
            F.sum(F.col("ca") * F.col("cb")).alias("sxy"),
            F.sum(F.col("ca") * F.col("ca")).alias("sxx"),
            F.sum(F.col("cb") * F.col("cb")).alias("syy"),
        )
    )
    acf = (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (
        F.sqrt((F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
        * F.sqrt((F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    )
    return (
        pairs.where(
            (F.col("n_pairs") * F.col("sxx") > F.col("sx") * F.col("sx"))
            & (F.col("n_pairs") * F.col("syy") > F.col("sy") * F.col("sy"))
        )
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            (F.round(acf * F.lit(1e9)).cast("long") / F.lit(1e9)).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "q183_theil_sen_trend",
    oracle=f"""
    WITH {_DENSE_HOURLY_ORACLE}, series AS (
        SELECT event_type,
               epoch_us(h) // 3600000000 AS t,
               c
        FROM dense
    ), pairs AS (
        SELECT a.event_type,
               (1000000000 * (b.c - a.c)) // (b.t - a.t) AS s9,
               b.c - a.c AS dy,
               b.t - a.t AS dx
        FROM series a
        JOIN series b ON b.event_type = a.event_type AND b.t > a.t
    ), ranked AS (
        SELECT event_type, s9,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY s9, dy, dx) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM pairs
    )
    SELECT event_type,
           (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) FROM dense) AS n_hours,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(s9 AS BIGINT) / 1000000000.0 AS slope_per_hour
    FROM ranked
    WHERE rn = (np + 1) // 2
    ORDER BY event_type
    """,
    tags=("temporal", "theil-sen", "robust", "trend", "dense-hourly"),
    checkpointed_substrate=True,
)
def q183_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of each event type's hourly volume — the
    median of all pairwise slopes, the outlier-immune alternative to a
    least-squares rate fit (one traffic spike cannot move it). Runs
    entirely on BOUNDED tables: the shared dense hourly grid gives each
    type a ~720-point series, the pairwise self-join is an event_type
    equi-join with ~260k pairs per type (time-span-bound, INDEPENDENT
    of corpus size — the one regime where a quadratic pair table is the
    honest design), and the median is the (K+1) DIV 2-th row under a
    TOTAL cross-engine order: slopes compare as exact 1e-9 fixed-point
    integers (signed — both Spark DIV and DuckDB // truncate toward
    zero, measured) with (dy, dx) tiebreak. Hour indices are exact epoch
    hours; counts are exact BIGINTs; the only double is the final
    fixed-point display division."""
    dense = dense_hourly_counts(spark, sf_dir)
    series = dense.select(
        "event_type",
        F.expr("unix_micros(h) DIV 3600000000").alias("t"),
        "c",
    )
    n_hours = dense.agg(F.countDistinct("h").alias("n_hours"))
    return (
        theil_sen_median_slopes(series)
        .crossJoin(F.broadcast(n_hours))
        .select(
            "event_type",
            "n_hours",
            F.col("np").cast("long").alias("n_pairs"),
            (F.col("s9").cast("long") / F.lit(1e9)).alias("slope_per_hour"),
        )
        .orderBy("event_type")
    )


def theil_sen_median_slopes(series: DataFrame) -> DataFrame:
    """(event_type, np, s9): the exact fixed-point Theil-Sen median
    pairwise slope per key over an (event_type, t, c) series — q183's
    core, factored out for the planted-trend unit test.  The full-corpus
    median is legitimately 0.0 at every SF (the synthetic hourly series
    is stationary, and most integer count pairs tie), which would mask a
    sign or ordering bug in the recurrence — the unit test feeds a
    planted linear + outlier series and pins the known slope instead
    (the r14 audit's verification-hole finding)."""
    from pyspark.sql import Window

    from database_migrator_spark.sources import spread_for_cpu

    # r14 optimization (guide §2.3/§2.4): the former implementation ranked
    # ALL ~260k pairs/type with two windows partitioned by event_type —
    # a full sort + two passes over the pair table in ≤|types| tasks. The
    # median slope only needs the pair count and the s9 value at position
    # k = (np+1) DIV 2 under (s9, dy, dx) order — and because rows are
    # ordered by s9 FIRST, the k-th row's s9 is simply the histogram cell
    # where the cumulative count crosses k (the q279 exact-median-from-
    # histogram recipe); the (dy, dx) tiebreak only permutes rows WITHIN
    # an s9 cell and cannot change which s9 holds position k. So: partial
    # map-side aggregation collapses the pair table to a bounded
    # (event_type, s9) histogram inside the pair-generating tasks (never
    # shuffling or sorting the pairs), and the windows run on the
    # histogram. The time-span-bounded series side is broadcast and the
    # stream side spread across cores so pair generation parallelizes.
    a = series.select("event_type", F.col("t").alias("ta"), F.col("c").alias("ca"))
    b = series.select("event_type", F.col("t").alias("tb"), F.col("c").alias("cb"))
    pairs = (
        spread_for_cpu(a)
        .join(F.broadcast(b), "event_type")
        .where(F.col("tb") > F.col("ta"))
        .select(
            "event_type",
            F.expr("(1000000000 * (cb - ca)) DIV (tb - ta)").alias("s9"),
        )
    )
    hist = pairs.groupBy("event_type", "s9").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("s9")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "s9",
        "c",
        F.sum("c").over(wcum).alias("cum_c"),
        F.sum("c").over(wtot).alias("np"),
    )
    return (
        cum.withColumn("k", F.expr("(np + 1) DIV 2"))
        .where((F.col("cum_c") - F.col("c") < F.col("k")) & (F.col("k") <= F.col("cum_c")))
        .select("event_type", "np", "s9")
    )


@query(
    "q193_cusum_changepoint",
    oracle=f"""
    WITH {_DENSE_HOURLY_ORACLE}
    , seq AS (
        SELECT event_type, h, c,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
                    AS BIGINT) AS i,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY h
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx
        FROM dense
    ), tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS t
        FROM dense GROUP BY 1
    ), s AS (
        SELECT seq.event_type, seq.h, seq.i,
               abs(tot.n * seq.pfx - seq.i * tot.t) AS abs_s,
               tot.n, tot.t
        FROM seq JOIN tot USING (event_type)
    )
    SELECT event_type, n AS n_hours, t AS total_events,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS cp_hour,
           i AS cp_index,
           CAST(abs_s AS BIGINT) AS max_abs_s,
           CAST(ROUND(CAST(abs_s AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
                      * 1000000000) AS BIGINT) / 1000000000.0 AS cusum_stat
    FROM s
    QUALIFY row_number() OVER (PARTITION BY event_type
                               ORDER BY abs_s DESC, i) = 1
    ORDER BY event_type
    """,
    tags=("temporal", "changepoint", "cusum", "monitoring", "dense-hourly"),
    checkpointed_substrate=True,
)
def q193_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type — WHERE the hourly
    rate shifted, completing the drift family (q164/q173/q174 say THAT
    two windows differ; q172 flags single outliers): the hour i
    maximizing |S_i|, S_i = Σ_{j<=i}(c_j − mean).  Scaled by n to stay
    in exact integers: n·S_i = n·prefix_i − i·T, so the argmax is a
    pure BIGINT comparison — no float drift can move the reported hour.
    The normalized statistic |S|/(n·T) (one double division of exact
    integers, 1e-9-rounded) is the comparable shift-magnitude score.
    Shape at scale: everything runs on the shared bounded
    dense_hourly_counts checkpoint (~720 h x types; the corpus was
    touched once at artifact build) — per-type windows over a bounded
    grid, a broadcast-sized totals join, and a WindowGroupLimit top-1
    for the argmax."""
    dense = dense_hourly_counts(spark, sf_dir)
    w_seq = Window.partitionBy("event_type").orderBy("h")
    seq = dense.select(
        "event_type",
        "h",
        F.row_number().over(w_seq).cast("long").alias("i"),
        F.sum("c").over(w_seq.rowsBetween(Window.unboundedPreceding, 0)).alias("pfx"),
    )
    tot = dense.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("c").alias("t")
    )
    s = seq.join(F.broadcast(tot), "event_type").withColumn(
        "abs_s", F.abs(F.col("n") * F.col("pfx") - F.col("i") * F.col("t"))
    )
    w_top = Window.partitionBy("event_type").orderBy(F.col("abs_s").desc(), "i")
    stat = F.col("abs_s").cast("double") / (
        F.col("n").cast("double") * F.col("t").cast("double")
    )
    return (
        s.withColumn("__rn", F.row_number().over(w_top))
        .where(F.col("__rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.col("t").alias("total_events"),
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("cp_hour"),
            F.col("i").alias("cp_index"),
            F.col("abs_s").alias("max_abs_s"),
            (F.round(stat * F.lit(1e9)).cast("long") / F.lit(1e9)).alias("cusum_stat"),
        )
        .orderBy("event_type")
    )


@query(
    "q201_conversion_delay_quartiles",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), v AS (
        SELECT user_id, ts FROM events WHERE event_type = 'view'
    ), delays AS (
        SELECT p.event_id,
               MIN(CAST(date_diff('second', v.ts, p.ts) AS BIGINT)) AS delay_s
        FROM p JOIN v ON v.user_id = p.user_id
        WHERE v.ts <= p.ts
          AND date_diff('second', v.ts, p.ts) <= 1800
        GROUP BY p.event_id
    ), hist AS (
        SELECT delay_s, CAST(COUNT(*) AS BIGINT) AS c FROM delays GROUP BY 1
    ), cum AS (
        SELECT delay_s, c,
               CAST(SUM(c) OVER (ORDER BY delay_s ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_c
        FROM hist
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(delay_s * c) AS BIGINT) AS s
        FROM hist
    )
    SELECT tot.n AS n_conversions,
           (SELECT MIN(delay_s) FROM cum WHERE cum_c >= (tot.n + 3) // 4)
               AS p25_s,
           (SELECT MIN(delay_s) FROM cum WHERE cum_c >= (tot.n + 1) // 2)
               AS p50_s,
           (SELECT MIN(delay_s) FROM cum WHERE cum_c >= (3 * tot.n + 3) // 4)
               AS p75_s,
           (SELECT MIN(delay_s) FROM cum WHERE cum_c >= (9 * tot.n + 9) // 10)
               AS p90_s,
           CAST(ROUND(CAST(tot.s AS DOUBLE) / tot.n * 1000000000) AS BIGINT)
               / 1000000000.0 AS mean_s
    FROM tot
    """,
    tags=("temporal", "funnel", "percentiles", "bounded-histogram"),
    checkpointed_substrate=True,
)
def q201_conversion_delay_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long does conversion take?  Exact p25/p50/p75/p90 and mean of
    the view->purchase delay (each purchase credited to the user's most
    recent view at most 30 minutes prior — q163's lookback rule,
    q159's time-bounded join) — the latency distribution behind funnel
    SLOs.  Percentiles are EXACT but sort-free: delays land in a
    bounded [0, 1800]-second histogram (checkpoint), and percentile_disc
    = the smallest delay whose cumulative count reaches ceil(q*n),
    computed with pure-integer ceilings ((q_num*n + q_den-1) DIV q_den)
    on both engines — no engine quantile function whose boundary
    convention could differ.  The only corpus-sized work is one
    user-keyed purchase x view join (conditional-MIN aggregate, the
    q175 shape); the histogram window is single-partition over <= 1801
    rows (the bounded-derived-table exception)."""
    e = table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts")
    )
    delay = F.unix_timestamp("pts") - F.unix_timestamp("vts")
    delays = (
        p.join(v, "user_id")
        .where((F.col("vts") <= F.col("pts")) & (delay <= 1800))
        .groupBy("event_id")
        .agg(F.min(delay).alias("delay_s"))
    )
    hist = (
        delays.groupBy("delay_s")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # bounded: <= 1801 rows
    )
    w = Window.orderBy("delay_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("delay_s", "c", F.sum("c").over(w).alias("cum_c"))
    tot = hist.agg(
        F.sum("c").alias("n"), F.sum(F.col("delay_s") * F.col("c")).alias("s")
    )
    cum_n = cum.crossJoin(F.broadcast(tot))
    def pick(num: int, den: int, alias: str) -> DataFrame:
        k = F.expr(f"({num} * n + {den} - 1) DIV {den}")
        return (
            cum_n.where(F.col("cum_c") >= k)
            .agg(F.min("delay_s").alias(alias))
        )
    return (
        tot.select(F.col("n").alias("n_conversions"), "n", "s")
        .crossJoin(F.broadcast(pick(1, 4, "p25_s")))
        .crossJoin(F.broadcast(pick(1, 2, "p50_s")))
        .crossJoin(F.broadcast(pick(3, 4, "p75_s")))
        .crossJoin(F.broadcast(pick(9, 10, "p90_s")))
        .select(
            "n_conversions",
            "p25_s",
            "p50_s",
            "p75_s",
            "p90_s",
            (
                F.round((F.col("s").cast("double") / F.col("n").cast("double")) * F.lit(1e9)).cast(
                    "long"
                )
                / F.lit(1e9)
            ).alias("mean_s"),
        )
    )


@query(
    "q202_circular_peak_hour",
    oracle="""
    WITH hh AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), trig AS (
        SELECT event_type, h, c,
               CAST(ROUND(sin(pi() * h / 12) * 1000000) AS BIGINT) AS s6,
               CAST(ROUND(cos(pi() * h / 12) * 1000000) AS BIGINT) AS c6
        FROM hh
    ), sums AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * s6) AS BIGINT) AS sfp,
               CAST(SUM(c * c6) AS BIGINT) AS cfp
        FROM trig GROUP BY 1
    ), disc AS (
        SELECT event_type, h AS peak_hour
        FROM hh QUALIFY row_number() OVER (PARTITION BY event_type
                                           ORDER BY c DESC, h) = 1
    ), ang AS (
        SELECT s.event_type, s.n, d.peak_hour,
               atan2(CAST(s.sfp AS DOUBLE) / 1000000.0,
                     CAST(s.cfp AS DOUBLE) / 1000000.0) AS a,
               sqrt(CAST(s.sfp AS DOUBLE) * s.sfp + CAST(s.cfp AS DOUBLE) * s.cfp)
                   / 1000000.0 / s.n AS r
        FROM sums s JOIN disc d USING (event_type)
    )
    SELECT event_type, n, peak_hour,
           CAST(ROUND((CASE WHEN a < 0 THEN a + 2 * pi() ELSE a END)
                      / (2 * pi()) * 24 * 1000000) AS BIGINT)
               / 1000000.0 AS circular_mean_hour,
           CAST(ROUND(r * 1000000) AS BIGINT) / 1000000.0 AS resultant_length
    FROM ang ORDER BY event_type
    """,
    tags=("temporal", "circular-statistics", "seasonality", "bounded-histogram"),
    checkpointed_substrate=True,
)
def q202_circular_peak_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) statistics of WHEN each event type
    happens: the hour-of-day lives on a 24-hour circle, so the naive
    arithmetic mean of hours is wrong across midnight — the correct
    peak estimate is the circular mean atan2(Σ sin, Σ cos), and the
    resultant length R in [0,1] is the concentration (1 = perfectly
    periodic, 0 = uniform) — the one-number "is this diurnal?" read
    next to q177's ACF.  Determinism: sin/cos are evaluated at only 24
    distinct angles and 1e-6 fixed-pointed to BIGINTs per CELL, so the
    corpus-weighted sums Σ c_h·s_h are EXACT integers (AQE-proof); only
    the final atan2/sqrt run on identical doubles.  The discrete peak
    hour (argmax cell, tie -> earliest) is pure-integer.  One corpus
    scan folds to the bounded 24 x types histogram; everything after is
    scale-free."""
    e = table(spark, sf_dir, "events")
    hh = (
        e.groupBy("event_type", F.hour("ts").cast("long").alias("h"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # bounded: 24 x types
    )
    pi = 3.141592653589793
    trig = hh.select(
        "event_type",
        "h",
        "c",
        F.round(F.sin(F.col("h") * F.lit(pi) / 12) * F.lit(1e6))
        .cast("long")
        .alias("s6"),
        F.round(F.cos(F.col("h") * F.lit(pi) / 12) * F.lit(1e6))
        .cast("long")
        .alias("c6"),
    )
    sums = trig.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("s6")).alias("sfp"),
        F.sum(F.col("c") * F.col("c6")).alias("cfp"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("c").desc(), "h")
    disc = (
        hh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("event_type", F.col("h").alias("peak_hour"))
    )
    a = F.atan2(
        F.col("sfp").cast("double") / F.lit(1e6),
        F.col("cfp").cast("double") / F.lit(1e6),
    )
    r = (
        F.sqrt(
            F.col("sfp").cast("double") * F.col("sfp")
            + F.col("cfp").cast("double") * F.col("cfp")
        )
        / F.lit(1e6)
        / F.col("n")
    )
    a_pos = F.when(a < 0, a + F.lit(2 * pi)).otherwise(a)
    return (
        sums.join(F.broadcast(disc), "event_type")
        .select(
            "event_type",
            "n",
            "peak_hour",
            (F.round(a_pos / F.lit(2 * pi) * 24 * F.lit(1e6)).cast("long") / F.lit(1e6)).alias(
                "circular_mean_hour"
            ),
            (F.round(r * F.lit(1e6)).cast("long") / F.lit(1e6)).alias(
                "resultant_length"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q208_leadlag_xcorrelation",
    oracle=f"""
    WITH {_DENSE_HOURLY_ORACLE}, lags AS (
        SELECT unnest(generate_series(1, 6)) AS lag
    ), xc AS (
        SELECT a.event_type AS type_lead, b.event_type AS type_follow, l.lag,
               CAST(COUNT(*) AS BIGINT)       AS n_pairs,
               CAST(SUM(a.c) AS BIGINT)       AS sx,
               CAST(SUM(b.c) AS BIGINT)       AS sy,
               CAST(SUM(a.c * b.c) AS BIGINT) AS sxy,
               CAST(SUM(a.c * a.c) AS BIGINT) AS sxx,
               CAST(SUM(b.c * b.c) AS BIGINT) AS syy
        FROM lags l
        CROSS JOIN dense a
        JOIN dense b ON b.event_type <> a.event_type
                    AND b.h = a.h + INTERVAL 1 HOUR * l.lag
        GROUP BY 1, 2, 3
    ), scored AS (
        SELECT type_lead, type_follow, lag, n_pairs,
               CAST(ROUND(
                   CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
                   * 1000000000) AS BIGINT) AS r9
        FROM xc
        WHERE n_pairs * sxx > sx * sx AND n_pairs * syy > sy * sy
    ), best AS (
        SELECT type_lead, type_follow, lag, n_pairs, r9,
               row_number() OVER (PARTITION BY type_lead, type_follow
                                  ORDER BY abs(r9) DESC, lag) AS rn
        FROM scored
    )
    SELECT type_lead, type_follow,
           CAST(lag AS BIGINT) AS best_lag, n_pairs,
           r9 / 1000000000.0 AS xcorr
    FROM best WHERE rn = 1
    ORDER BY type_lead, type_follow
    """,
    tags=("temporal", "cross-correlation", "lead-lag", "dense-hourly"),
    checkpointed_substrate=True,
)
def q208_leadlag_xcorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between event types — 'does a surge in
    views PRECEDE a surge in purchases, and by how many hours?': for
    every ORDERED type pair (lead, follow) and lag 1-6 h, the Pearson
    correlation of lead(h) vs follow(h+lag) over the densified hourly
    grid, reporting each pair's best lag by |r| (tie -> smallest lag —
    deterministic because the comparison runs on the 1e-9 fixed-point
    INTEGER r9 on both engines, never on raw doubles). Completes the
    correlation tier: q170 is lag-0, q177 is self-vs-self; this is the
    directional leading-indicator matrix capacity planning reads.

    Everything after the shared dense_hourly_counts checkpoint (one
    corpus scan, amortized across q170-q172/q177/q183/q193) is bounded:
    ~720 h x 5 types x 6 lags, exact BIGINT moment sums (n.Sxy - Sx.Sy
    over identical integers), one double division 1e-9-rounded, and the
    argmax window runs over the <=150-row scored table."""
    dense = dense_hourly_counts(spark, sf_dir)
    lags = spark.range(1, 7).select(F.col("id").cast("int").alias("lag"))
    a = (
        dense.crossJoin(F.broadcast(lags))
        .withColumn("h2", F.col("h") + F.make_interval(hours=F.col("lag")))
        .select(
            F.col("event_type").alias("type_lead"), "lag", "h2", F.col("c").alias("ca")
        )
    )
    b = dense.select(
        F.col("event_type").alias("type_follow"),
        F.col("h").alias("h2"),
        F.col("c").alias("cb"),
    )
    xc = (
        a.join(F.broadcast(b), "h2")
        .where(F.col("type_follow") != F.col("type_lead"))
        .groupBy("type_lead", "type_follow", "lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("ca").alias("sx"),
            F.sum("cb").alias("sy"),
            F.sum(F.col("ca") * F.col("cb")).alias("sxy"),
            F.sum(F.col("ca") * F.col("ca")).alias("sxx"),
            F.sum(F.col("cb") * F.col("cb")).alias("syy"),
        )
    )
    r = (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (
        F.sqrt(
            (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        )
        * F.sqrt(
            (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        )
    )
    scored = xc.where(
        (F.col("n_pairs") * F.col("sxx") > F.col("sx") * F.col("sx"))
        & (F.col("n_pairs") * F.col("syy") > F.col("sy") * F.col("sy"))
    ).withColumn("r9", F.round(r * F.lit(1e9)).cast("long"))
    w = Window.partitionBy("type_lead", "type_follow").orderBy(
        F.abs(F.col("r9")).desc(), F.col("lag")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "type_lead",
            "type_follow",
            F.col("lag").cast("long").alias("best_lag"),
            "n_pairs",
            (F.col("r9") / F.lit(1e9)).alias("xcorr"),
        )
        .orderBy("type_lead", "type_follow")
    )


@query(
    "q211_diurnal_variance_explained",
    oracle=f"""
    WITH {_DENSE_HOURLY_ORACLE}, complete AS (
        SELECT event_type, CAST(h AS DATE) AS d
        FROM dense GROUP BY 1, 2 HAVING COUNT(*) = 24
    ), rows_c AS (
        SELECT dense.event_type, hour(dense.h) AS g,
               CAST(dense.h AS DATE) AS d, dense.c
        FROM dense
        JOIN complete ON complete.event_type = dense.event_type
                     AND complete.d = CAST(dense.h AS DATE)
    ), per_g AS (
        SELECT event_type, g, CAST(SUM(c) AS BIGINT) AS sg
        FROM rows_c GROUP BY 1, 2
    ), per_t AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT d) AS BIGINT) AS nd,
               CAST(SUM(c) AS BIGINT)            AS s,
               CAST(SUM(c * c) AS BIGINT)        AS q
        FROM rows_c GROUP BY 1
    ), g2 AS (
        SELECT event_type, CAST(SUM(sg * sg) AS BIGINT) AS g2
        FROM per_g GROUP BY 1
    ), ranked AS (
        SELECT event_type, g, sg,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY sg DESC, g) AS rp,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY sg ASC, g) AS rt
        FROM per_g
    )
    SELECT t.event_type, t.nd AS n_days,
           CAST(ROUND(CAST(24 * g2.g2 - t.s * t.s AS DOUBLE)
                      / CAST(24 * t.nd * t.q - t.s * t.s AS DOUBLE)
                      * 1000000000) AS BIGINT) / 1000000000.0
               AS r2_diurnal,
           CAST(p.g AS BIGINT) AS peak_hour,
           CAST(tr.g AS BIGINT) AS trough_hour
    FROM per_t t
    JOIN g2 USING (event_type)
    JOIN ranked p  ON p.event_type = t.event_type AND p.rp = 1
    JOIN ranked tr ON tr.event_type = t.event_type AND tr.rt = 1
    WHERE 24 * t.nd * t.q - t.s * t.s > 0
    ORDER BY t.event_type
    """,
    tags=("temporal", "anova", "seasonality", "variance", "dense-hourly"),
    checkpointed_substrate=True,
)
def q211_diurnal_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each event type's hourly variance is the DAILY CYCLE?
    One-way ANOVA R² with hour-of-day as the factor: SSB/SST over the
    densified grid restricted to COMPLETE days (every hour-of-day group
    then has exactly n_days members, which is what makes the ratio a
    pure integer expression — R² = (24·Σ S_g² − S²) / (24·D·Σx² − S²)
    with S_g the per-hour-of-day sums; unbalanced groups would force
    per-group rationals). The actionable read next to q177's ACF
    (which detects the cycle) and q202's resultant length (which
    measures timing concentration): R² says what fraction of capacity
    variance a per-hour-of-day model explains, i.e. whether diurnal
    scheduling is worth anything for this stream. Peak/trough hours
    are integer argmax/argmin (tie → earliest hour).

    Everything downstream of the shared dense_hourly_counts checkpoint
    is bounded (≤ 24 × types × days rows collapse immediately to 24 ×
    types); exact BIGINT sums under a 2^53 guard, one 1e-9-rounded
    division per type."""
    dense = dense_hourly_counts(spark, sf_dir)
    rows_c = dense.select(
        "event_type",
        F.hour("h").alias("g"),
        F.to_date("h").alias("d"),
        "c",
    )
    complete = (
        rows_c.groupBy("event_type", "d")
        .agg(F.count("*").alias("nh"))
        .where(F.col("nh") == 24)
        .drop("nh")
    )
    rows_c = rows_c.join(F.broadcast(complete), ["event_type", "d"])
    per_g = rows_c.groupBy("event_type", "g").agg(F.sum("c").alias("sg"))
    per_t = rows_c.groupBy("event_type").agg(
        F.countDistinct("d").alias("nd"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    g2 = per_g.groupBy("event_type").agg(F.sum(F.col("sg") * F.col("sg")).alias("g2"))
    wp = Window.partitionBy("event_type").orderBy(F.col("sg").desc(), "g")
    wt = Window.partitionBy("event_type").orderBy(F.col("sg").asc(), "g")
    ranked = per_g.select(
        "event_type",
        "g",
        "sg",
        F.row_number().over(wp).alias("rp"),
        F.row_number().over(wt).alias("rt"),
    )
    peak = ranked.where(F.col("rp") == 1).select(
        "event_type", F.col("g").cast("long").alias("peak_hour")
    )
    trough = ranked.where(F.col("rt") == 1).select(
        "event_type", F.col("g").cast("long").alias("trough_hour")
    )
    num = F.lit(24) * F.col("g2") - F.col("s") * F.col("s")
    den = F.lit(24) * F.col("nd") * F.col("q") - F.col("s") * F.col("s")
    # the long products themselves must stay exact: S < sqrt(2^63),
    # 24·D·Q under 2^53 keeps the final double division lossless too
    in_bound = (F.col("s").cast("double") < F.lit(3.0e9)) & (
        F.lit(24.0) * F.col("nd").cast("double") * F.col("q").cast("double")
        < F.lit(EXACT_DOUBLE_BOUND)
    )
    return (
        per_t.join(F.broadcast(g2), "event_type")
        .join(F.broadcast(peak), "event_type")
        .join(F.broadcast(trough), "event_type")
        .where(
            exactness_guard(
                in_bound,
                "q211: ANOVA moment sums past exact-integer bounds — R² "
                "would silently lose precision",
            )
        )
        .where(den > 0)
        .select(
            "event_type",
            F.col("nd").alias("n_days"),
            (F.round(num.cast("double") / den.cast("double") * F.lit(1e9)).cast("long") / F.lit(1e9)).alias("r2_diurnal"),
            "peak_hour",
            "trough_hour",
        )
        .orderBy("event_type")
    )


@query(
    "q215_interarrival_burstiness",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               (epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id))) // 1000000 AS gap_s
        FROM events
    ), g AS (
        SELECT event_type, gap_s FROM gaps WHERE gap_s IS NOT NULL
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)              AS n_gaps,
               CAST(SUM(gap_s) AS BIGINT)            AS s,
               CAST(SUM(gap_s * gap_s) AS BIGINT)    AS q
        FROM g GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
           CAST(ROUND((CAST(n_gaps AS DOUBLE) * CAST(q AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      * 1000000000) AS BIGINT)
               / 1000000000.0 AS cv_squared,
           CAST(ROUND((CAST(n_gaps AS DOUBLE) * CAST(q AS DOUBLE)
                       - 2.0 * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n_gaps AS DOUBLE) * CAST(q AS DOUBLE))
                      * 1000000000) AS BIGINT)
               / 1000000000.0 AS burstiness
    FROM agg
    WHERE s > 0 AND q > 0
    ORDER BY event_type
    """,
    tags=("temporal", "burstiness", "interarrival", "statistics"),
)
def q215_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of per-user inter-arrival times by event type — the
    INTER-ARRIVAL-domain companion of the count-domain seasonality tier
    (q177 ACF / q211 ANOVA): CV² of the gap distribution and a
    burstiness index B = (σ²−μ²)/(σ²+μ²) = (n·Q−2·S²)/(n·Q) — the
    SQUARED variant of Goh-Barabási's (σ−μ)/(σ+μ), same sign and fixed
    points, chosen because it is a pure ratio of exact BIGINTs:
    B=−1 periodic heartbeat, B=0 Poisson, B→1 bursty sessions. Tells a capacity
    planner whether per-user load smooths out or arrives in spikes —
    and a bot detector which event types tick like machines.

    Gaps are computed per (user, event_type) — the window partitions by
    the natural key, never corpus-wide — in integer SECONDS (identical
    floor division both engines); the moment SUMS (S, Q = Σgap²) are
    exact BIGINTs, and the n·Q / S² products — which overflow int64 at
    corpus scale — run in doubles on both engines (q77's recipe:
    identical exact inputs, identical IEEE ops, 1e-9-rounded)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    g = (
        e.select("event_type", gap_us.alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
        .select("event_type", int_div(F.col("gap_us"), F.lit(1_000_000)).alias("gap_s"))
    )
    agg = g.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap_s").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("q"),
    )
    # q77's recipe: the moment SUMS stay exact BIGINTs, the n·Q / S²
    # PRODUCTS (which overflow int64 at scale) run in doubles — both
    # engines multiply the identical IEEE doubles, so the 1e-9-rounded
    # ratios stay bit-identical without 2^53-bounded integer products.
    nd = F.col("n_gaps").cast("double")
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    cv2 = (nd * qd - sd * sd) / (sd * sd)
    burst = (nd * qd - F.lit(2.0) * sd * sd) / (nd * qd)
    return (
        agg.where((F.col("s") > 0) & (F.col("q") > 0))
        .select(
            "event_type",
            "n_gaps",
            (F.col("s").cast("double") / F.col("n_gaps").cast("double")).alias(
                "mean_gap_s"
            ),
            (F.round(cv2 * F.lit(1e9)).cast("long") / F.lit(1e9)).alias("cv_squared"),
            (F.round(burst * F.lit(1e9)).cast("long") / F.lit(1e9)).alias(
                "burstiness"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q225_position_attribution",
    oracle="""
    WITH p AS (
        SELECT event_id AS pid, user_id, ts AS pts FROM events
        WHERE event_type = 'purchase'
    ), v AS (
        SELECT event_id AS vid, user_id, ts AS vts,
               COALESCE(CAST(json_extract(props, '$.k') AS BIGINT) % 4, -1)
                   AS channel
        FROM events WHERE event_type = 'view'
    ), path AS (
        SELECT p.pid, v.vid, v.channel,
               row_number() OVER (PARTITION BY p.pid
                                  ORDER BY v.vts, v.vid) AS pos,
               COUNT(*) OVER (PARTITION BY p.pid) AS n
        FROM p JOIN v ON v.user_id = p.user_id
        WHERE v.vts <= p.pts
          AND date_diff('second', v.vts, p.pts) <= 1800
    ), credit AS (
        SELECT channel, pid,
               CASE WHEN n = 1 THEN 10000
                    WHEN n = 2 THEN 5000
                    WHEN pos = 1 THEN 4000
                    WHEN pos = n THEN 4000
                    ELSE 2000 // (n - 2)
                         + CASE WHEN pos - 1 <= 2000 % (n - 2)
                                THEN 1 ELSE 0 END
               END AS bp
        FROM path
    ), by_channel AS (
        SELECT channel,
               CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_conversions_touched,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(bp) AS BIGINT) AS credit_bp
        FROM credit GROUP BY 1
    )
    SELECT channel, n_conversions_touched, n_touches, credit_bp,
           CAST(credit_bp AS DOUBLE)
               / (SELECT CAST(SUM(credit_bp) AS BIGINT) FROM by_channel)
               AS credit_share
    FROM by_channel
    ORDER BY channel
    """,
    tags=("temporal", "attribution", "funnel", "marketing"),
    checkpointed_substrate=True,
)
def q225_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the
    industry-standard refinement of q163's last-touch: every view in
    the purchase's 30-minute lookback path earns credit in INTEGER
    BASIS POINTS that sum to exactly 10000 per conversion (first and
    last touch 40% each, the middle 20% split by integer division with
    the remainder assigned to the earliest middle touches — a
    deterministic exact split both engines reproduce digit for digit;
    1-touch and 2-touch paths degenerate to 100% / 50-50). Touches are
    bucketed into four channel surrogates (props.k % 4, COALESCEd to
    the explicit -1 bucket when props lacks k — a NULL group would sort
    NULLS FIRST in Spark but NULLS LAST in DuckDB and break the hash;
    the synthetic
    stand-in for utm_source). Report per channel: conversions touched,
    touches, total credit, and credit share. Shape at scale: one
    user-keyed purchase x view join bounded by the lookback window
    (q175's shape), one per-conversion window for position/length
    (purchase-keyed — millions of tiny partitions, never one big one),
    then a 4-row rollup; the share division is one exact-integer
    ratio."""
    e = table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"),
        "user_id",
        F.col("ts").alias("vts"),
        F.coalesce(
            F.get_json_object("props", "$.k").cast("long") % 4, F.lit(-1)
        ).alias("channel"),
    )
    gap = F.unix_timestamp("pts") - F.unix_timestamp("vts")
    path = (
        p.join(v, "user_id")
        .where((F.col("vts") <= F.col("pts")) & (gap <= 1800))
        .select("pid", "vid", "channel", "vts")
    )
    w = Window.partitionBy("pid").orderBy("vts", "vid")
    wn = Window.partitionBy("pid")
    ranked = path.select(
        "pid",
        "channel",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(wn).alias("n"),
    )
    mid_base = F.expr("2000 DIV (n - 2)")
    mid_rem = F.expr("2000 % (n - 2)")
    bp = (
        F.when(F.col("n") == 1, 10000)
        .when(F.col("n") == 2, 5000)
        .when(F.col("pos") == 1, 4000)
        .when(F.col("pos") == F.col("n"), 4000)
        .otherwise(mid_base + F.when(F.col("pos") - 1 <= mid_rem, 1).otherwise(0))
    )
    by_channel = (
        ranked.select("pid", "channel", bp.alias("bp"))
        .groupBy("channel")
        .agg(
            F.countDistinct("pid").alias("n_conversions_touched"),
            F.count("*").alias("n_touches"),
            F.sum("bp").alias("credit_bp"),
        )
        # bounded (4 rows); read twice (report + grand total) — without
        # this Catalyst re-derives the whole join+window pipeline under
        # the broadcast total
        .localCheckpoint(eager=True)
    )
    tot = by_channel.agg(F.sum("credit_bp").alias("tot_bp"))
    return (
        by_channel.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_conversions_touched",
            "n_touches",
            "credit_bp",
            (F.col("credit_bp").cast("double") / F.col("tot_bp").cast("double")).alias(
                "credit_share"
            ),
        )
        .orderBy("channel")
    )


@query(
    "q226_nearest_event_join",
    oracle="""
    WITH p AS (
        SELECT event_id AS pid, user_id, ts AS pts,
               CAST(date_part('hour', ts) AS BIGINT) AS hr
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT event_id AS cid, user_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ), cand AS (
        SELECT p.pid, p.hr,
               abs(date_diff('second', c.cts, p.pts)) AS gap_s,
               epoch_us(c.cts) AS cus, c.cid
        FROM p JOIN c ON c.user_id = p.user_id
        WHERE abs(date_diff('second', c.cts, p.pts)) <= 3600
    ), best AS (
        SELECT pid, hr, gap_s FROM (
            SELECT pid, hr, gap_s,
                   row_number() OVER (PARTITION BY pid
                                      ORDER BY gap_s, cus, cid) AS rn
            FROM cand
        ) WHERE rn = 1
    ), hours AS (
        SELECT hr, CAST(COUNT(*) AS BIGINT) AS n_purchases FROM p GROUP BY 1
    ), matched AS (
        SELECT hr, CAST(COUNT(*) AS BIGINT) AS n_matched,
               CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s
        FROM best GROUP BY 1
    )
    SELECT h.hr AS hour, h.n_purchases,
           COALESCE(m.n_matched, 0) AS n_matched,
           CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / h.n_purchases
               AS match_rate,
           CASE WHEN COALESCE(m.n_matched, 0) > 0
                THEN CAST(ROUND(CAST(m.sum_gap_s AS DOUBLE) / m.n_matched
                                * 1000000) AS BIGINT) / 1000000.0
                ELSE 0.0 END AS mean_abs_gap_s
    FROM hours h LEFT JOIN matched m ON m.hr = h.hr
    ORDER BY hour
    """,
    tags=("temporal", "asof", "nearest", "range-join", "custom-operator"),
)
def q226_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIDIRECTIONAL nearest-event join (pandas merge_asof
    direction='nearest') — completes the as-of family: q23 looks only
    BACKWARD; sensor/stream alignment wants the nearest same-user click
    to each purchase in EITHER direction within ±1h, |gap| minimized,
    ties to the earlier event. Spark has no native nearest join; the
    scale shape is q52's bucketized range join made symmetric — the
    probe explodes into its 3 candidate hour-cells {t−1, t, t+1}, a
    plain (user, cell) equi hash join finds candidates, the exact
    |gap| <= 1h filter prunes, and the per-purchase argmin is ONE
    min-of-struct aggregate (gap, ts, id — no window). Report per
    purchase hour-of-day: purchases, matched count/rate, and the mean
    |gap| as an exact-integer-seconds ratio. O(N · rows-per-cell),
    never a quadratic theta join."""
    e = table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        F.hour("ts").cast("long").alias("hr"),
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), "user_id", F.col("ts").alias("cts")
    )
    cell = 3600 * 1_000_000
    p_cell = F.expr(f"unix_micros(pts) DIV {cell}")
    px = p.withColumn(
        "__cell", F.explode(F.array(p_cell - 1, p_cell, p_cell + 1))
    )
    cx = c.withColumn("__cell", F.expr(f"unix_micros(cts) DIV {cell}"))
    gap_s = F.abs(F.unix_timestamp("pts") - F.unix_timestamp("cts"))
    best = (
        px.join(cx, ["user_id", "__cell"])
        .where(gap_s <= 3600)
        .select(
            "pid",
            "hr",
            gap_s.alias("gap_s"),
            F.unix_micros("cts").alias("cus"),
            "cid",
        )
        # each (pid, cid) pair matches exactly once (a click has ONE
        # cell; the probe's 3 cells are distinct) — the argmin below is
        # pure per-purchase selection, not dedup
        .groupBy("pid", "hr")
        .agg(F.min(F.struct("gap_s", "cus", "cid")).alias("m"))
        .select("pid", "hr", F.col("m.gap_s").alias("gap_s"))
    )
    hours = p.groupBy("hr").agg(F.count("*").alias("n_purchases"))
    matched = best.groupBy("hr").agg(
        F.count("*").alias("n_matched"), F.sum("gap_s").alias("sum_gap_s")
    )
    return (
        hours.join(matched, "hr", "left")
        .select(
            F.col("hr").alias("hour"),
            "n_purchases",
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            (
                F.coalesce("n_matched", F.lit(0)).cast("double")
                / F.col("n_purchases").cast("double")
            ).alias("match_rate"),
            F.when(
                F.coalesce("n_matched", F.lit(0)) > 0,
                F.round(
                    F.col("sum_gap_s").cast("double")
                    / F.col("n_matched").cast("double")
                    * 1000000
                ).cast("long")
                / F.lit(1000000.0),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_abs_gap_s"),
        )
        .orderBy("hour")
    )


@query(
    "q231_point_in_time_features",
    oracle="""
    WITH pur AS (
        SELECT user_id, ts, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), feat0 AS (
        SELECT user_id, ts,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT)
                   AS n_so_far,
               CAST(SUM(cents) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cents_so_far
        FROM pur
    ), feat AS (
        -- one version per (user, ts): the LAST running state at that ts
        SELECT user_id, ts, MAX(n_so_far) AS n_so_far,
               MAX(cents_so_far) AS cents_so_far
        FROM feat0 GROUP BY 1, 2
    ), v AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ), cand AS (
        SELECT v.event_id, f.n_so_far, f.cents_so_far,
               row_number() OVER (PARTITION BY v.event_id
                                  ORDER BY f.ts DESC) AS rn
        FROM v JOIN feat f
          ON f.user_id = v.user_id AND f.ts < v.ts
    ), joined AS (
        SELECT v.event_id,
               COALESCE(c.n_so_far, 0) AS n_so_far,
               COALESCE(c.cents_so_far, 0) AS cents_so_far
        FROM v LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
          ON c.event_id = v.event_id
    )
    SELECT LEAST(n_so_far, 5) AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(cents_so_far) AS BIGINT) AS sum_cents_so_far,
           CAST(ROUND(CAST(SUM(cents_so_far) AS DOUBLE) / COUNT(*)
                      * 1000000) AS BIGINT) / 1000000.0
               AS mean_cents_so_far
    FROM joined
    GROUP BY 1
    ORDER BY tier
    """,
    tags=("temporal", "asof", "feature-store", "point-in-time", "leakage", "llm-pipeline"),
)
def q231_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-STORE point-in-time join — the leakage-free enrichment
    every training pipeline needs (and the #1 way feature pipelines
    silently cheat): each view event is enriched with the per-user
    running purchase state (count, integer-cents total) AS OF STRICTLY
    BEFORE the view's timestamp — a feature version stamped at exactly
    the view's own instant is EXCLUDED, because at serving time it
    would not have been visible yet. The versioned dimension is derived
    in-query (running stats at each purchase, collapsed to one version
    per (user, ts)); the join is q23's single-shuffle as-of shape: one
    union of version rows and probe rows, one user-partitioned window
    ordered by (ts, flag) with PROBES SORTING BEFORE same-ts versions
    (flag 0 < 1 — that ordering IS the strictness rule), and one
    last(ignoreNulls) carry-forward. No per-probe candidate scan, no
    range join: O(N log N) in the partition, one shuffle. Report per
    prior-purchase tier (capped at 5; tier 0 = cold-start views with no
    history): view count and mean carried feature, exact-integer
    ratio."""
    e = table(spark, sf_dir, "events")
    pur = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", to_cents("value").alias("cents")
    )
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    feat = (
        pur.select(
            "user_id",
            "ts",
            F.count("*").over(wrun).alias("n_so_far"),
            F.sum("cents").over(wrun).alias("cents_so_far"),
        )
        .groupBy("user_id", "ts")
        .agg(
            F.max("n_so_far").alias("n_so_far"),
            F.max("cents_so_far").alias("cents_so_far"),
        )
    )
    v = e.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    unioned = feat.select(
        "user_id",
        "ts",
        F.lit(1).alias("flag"),
        F.struct("n_so_far", "cents_so_far").alias("st"),
        F.lit(None).cast("long").alias("event_id"),
    ).unionByName(
        v.select(
            "user_id",
            "ts",
            F.lit(0).alias("flag"),
            F.lit(None).cast("struct<n_so_far:bigint,cents_so_far:bigint>").alias("st"),
            "event_id",
        )
    )
    wasof = (
        Window.partitionBy("user_id")
        .orderBy("ts", "flag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "flag",
        "event_id",
        F.last("st", ignorenulls=True).over(wasof).alias("st"),
    ).where(F.col("flag") == 0)
    joined = carried.select(
        F.coalesce(F.col("st.n_so_far"), F.lit(0)).alias("n_so_far"),
        F.coalesce(F.col("st.cents_so_far"), F.lit(0)).alias("cents_so_far"),
    )
    return (
        joined.groupBy(F.least(F.col("n_so_far"), F.lit(5)).alias("tier"))
        .agg(
            F.count("*").alias("n_views"),
            F.sum("cents_so_far").alias("sum_cents_so_far"),
            (
                F.round(
                    F.sum("cents_so_far").cast("double")
                    / F.count("*").cast("double")
                    * 1000000
                ).cast("long")
                / F.lit(1000000.0)
            ).alias("mean_cents_so_far"),
        )
        .orderBy("tier")
    )


@query(
    "q232_conversion_wilson_ci",
    oracle="""
    WITH v AS (
        SELECT event_id, user_id, ts,
               COALESCE(CAST(json_extract(props, '$.k') AS BIGINT) % 4, -1)
                   AS channel
        FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), conv AS (
        SELECT v.event_id, v.channel,
               MAX(CASE WHEN p.ts >= v.ts
                         AND date_diff('second', v.ts, p.ts) <= 1800
                        THEN 1 ELSE 0 END) AS converted
        FROM v LEFT JOIN p ON p.user_id = v.user_id
        GROUP BY 1, 2
    ), agg AS (
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_views,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM conv GROUP BY 1
    )
    SELECT channel, n_views, n_converted,
           CAST(ROUND(CAST(n_converted AS DOUBLE) / n_views * 1000000000)
                AS BIGINT) / 1000000000.0 AS rate,
           GREATEST(0.0, CAST(ROUND(
               ((CAST(n_converted AS DOUBLE) / n_views
                 + 1.9208 / n_views
                 - 1.96 * sqrt((CAST(n_converted AS DOUBLE) / n_views)
                               * (1.0 - CAST(n_converted AS DOUBLE) / n_views)
                               / n_views
                               + 0.9604 / (CAST(n_views AS DOUBLE)
                                           * n_views)))
                / (1.0 + 3.8416 / n_views)) * 1000000000) AS BIGINT)
               / 1000000000.0) AS wilson_lo,
           LEAST(1.0, CAST(ROUND(
               ((CAST(n_converted AS DOUBLE) / n_views
                 + 1.9208 / n_views
                 + 1.96 * sqrt((CAST(n_converted AS DOUBLE) / n_views)
                               * (1.0 - CAST(n_converted AS DOUBLE) / n_views)
                               / n_views
                               + 0.9604 / (CAST(n_views AS DOUBLE)
                                           * n_views)))
                / (1.0 + 3.8416 / n_views)) * 1000000000) AS BIGINT)
               / 1000000000.0) AS wilson_hi
    FROM agg
    ORDER BY channel
    """,
    tags=("temporal", "funnel", "statistics", "confidence-interval", "marketing"),
)
def q232_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate per channel WITH 95% Wilson score interval — the
    statistical-inference tier the funnel family (q74/q159/q225) was
    missing: a point rate without an interval over-reads small
    channels, and the Wilson interval (unlike the naive Wald) stays
    inside [0,1] and behaves at rate 0 or 1. A view converts if the
    same user purchases within 30 minutes at-or-after it (q163's
    lookback mirrored forward, MAX-folded per view so multiple
    purchases count once). Determinism: n and x are exact BIGINTs and
    every double op is the SAME literal expression on both engines —
    z=1.96 enters as the constants z²/2=1.9208, z²=3.8416 and
    z²/4=0.9604, so there is no engine-evaluated z arithmetic — then
    1e-9 rounding and a [0,1] clamp (at x=0 the analytic lower bound is
    exactly 0; the clamp absorbs the last-ulp float residue). Shape at scale: one user-keyed view×purchase
    join folded by MAX (the q175 conditional-aggregate shape), a 4-row
    channel rollup, and per-row double math on the bounded result."""
    e = table(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").select(
        "event_id",
        "user_id",
        F.col("ts").alias("vts"),
        F.coalesce(
            F.get_json_object("props", "$.k").cast("long") % 4, F.lit(-1)
        ).alias("channel"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    gap = F.unix_timestamp("pts") - F.unix_timestamp("vts")
    conv = (
        v.join(p, "user_id", "left")
        .groupBy("event_id", "channel")
        .agg(
            F.max(
                F.when(
                    (F.col("pts") >= F.col("vts")) & (gap <= 1800), 1
                ).otherwise(0)
            ).alias("converted")
        )
    )
    agg = conv.groupBy("channel").agg(
        F.count("*").alias("n_views"), F.sum("converted").alias("n_converted")
    )
    n_d = F.col("n_views").cast("double")
    ph = F.col("n_converted").cast("double") / n_d
    center = ph + F.lit(1.9208) / n_d
    margin = F.lit(1.96) * F.sqrt(
        ph * (F.lit(1.0) - ph) / n_d + F.lit(0.9604) / (n_d * n_d)
    )
    denom = F.lit(1.0) + F.lit(3.8416) / n_d

    def r9(c):
        return F.round(c * F.lit(1e9)).cast("long") / F.lit(1e9)

    return agg.select(
        "channel",
        "n_views",
        "n_converted",
        r9(ph).alias("rate"),
        F.greatest(F.lit(0.0), r9((center - margin) / denom)).alias("wilson_lo"),
        F.least(F.lit(1.0), r9((center + margin) / denom)).alias("wilson_hi"),
    ).orderBy("channel")


@query(
    "q233_cuped_adjusted_lift",
    oracle="""
    WITH bounds AS (
        SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
        FROM events
    ), per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(SUM(CASE WHEN epoch_us(ts) < b.mid
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN epoch_us(ts) >= b.mid
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events, bounds b
        GROUP BY 1, 2
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM per_user
    ), th AS (
        SELECT n, sx, sy,
               CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                         / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    ELSE 0.0 END AS theta,
               CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                         * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                         > 0
                    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                         * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                         / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                            * (CAST(n AS DOUBLE) * syy
                               - CAST(sy AS DOUBLE) * sy))
                    ELSE 0.0 END AS var_reduction
        FROM m
    ), arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(x) AS BIGINT) AS sxa, CAST(SUM(y) AS BIGINT) AS sya
        FROM per_user GROUP BY 1
    )
    SELECT a.arm, a.n_users,
           CAST(ROUND(CAST(a.sya AS DOUBLE) / a.n_users * 1000000) AS BIGINT)
               / 1000000.0 AS mean_post_cents,
           CAST(ROUND((CAST(a.sya AS DOUBLE) / a.n_users
                       - t.theta * (CAST(a.sxa AS DOUBLE) / a.n_users
                                    - CAST(t.sx AS DOUBLE) / t.n))
                      * 1000000) AS BIGINT) / 1000000.0
               AS mean_post_cents_cuped,
           CAST(ROUND(t.theta * 1000000000) AS BIGINT) / 1000000000.0
               AS theta,
           CAST(ROUND(t.var_reduction * 1000000000) AS BIGINT)
               / 1000000000.0 AS var_reduction
    FROM arms a CROSS JOIN th t
    ORDER BY a.arm
    """,
    tags=("temporal", "experimentation", "cuped", "statistics", "ab-testing"),
    checkpointed_substrate=True,
)
def q233_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout — the modern A/B
    technique q232's intervals feed into (Deng et al. 2013: regress the
    experiment metric on a PRE-EXPERIMENT covariate and report the
    adjusted means; same lift, much tighter variance): users split into
    arms by user_id parity, the time range split at its exact integer
    midpoint (epoch-micros (min+max) DIV 2 — identical arithmetic both
    engines), x = pre-period spend, y = post-period spend in integer
    cents. theta = cov(x,y)/var(x) from EXACT pooled BIGINT moments
    (n, Σx, Σy, Σxy, Σxx, Σyy; n·Σ products evaluated in double because
    they exceed int64 — each factor is an exactly-converted BIGINT, so
    both engines compute identical doubles in identical order); the
    per-arm CUPED mean uses the closed form ȳ_a − θ(x̄_a − x̄) — no
    second per-row pass. Also reports θ and the achieved variance
    reduction (corr²(x,y)). Zero-variance degenerate cases fall back to
    θ=0 identically on both sides. Shape at scale: one user-keyed
    conditional-sum aggregate (map-side combinable) + bounded 1-row/
    2-row frames broadcast — the whole readout is two shuffles."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), to_cents("value").alias("cents")
    )
    bounds = e.agg(
        ((F.min("us") + F.max("us")) - F.pmod(F.min("us") + F.max("us"), F.lit(2)))
        .cast("long")
        .alias("mid2")
    ).select((F.col("mid2") / 2).cast("long").alias("mid"))
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid"), F.col("cents")).otherwise(0)).alias("x"),
            F.sum(F.when(F.col("us") >= F.col("mid"), F.col("cents")).otherwise(0)).alias("y"),
        )
        .localCheckpoint(eager=True)  # read by pooled moments AND per-arm sums
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    den_x = n_d * F.col("sxx") - sx_d * F.col("sx")
    den_y = n_d * F.col("syy") - sy_d * F.col("sy")
    num = n_d * F.col("sxy") - sx_d * F.col("sy")
    th = m.select(
        "n",
        "sx",
        F.when(den_x > 0, num / den_x).otherwise(F.lit(0.0)).alias("theta"),
        F.when(den_x * den_y > 0, num * num / (den_x * den_y))
        .otherwise(F.lit(0.0))
        .alias("var_reduction"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("sxa"),
        F.sum("y").alias("sya"),
    )

    def r(c, scale):
        return F.round(c * F.lit(float(scale))).cast("long") / F.lit(float(scale))

    ya = F.col("sya").cast("double") / F.col("n_users").cast("double")
    xa = F.col("sxa").cast("double") / F.col("n_users").cast("double")
    xbar = F.col("sx").cast("double") / F.col("n").cast("double")
    return (
        arms.crossJoin(F.broadcast(th))
        .select(
            "arm",
            "n_users",
            r(ya, 1_000_000).alias("mean_post_cents"),
            r(ya - F.col("theta") * (xa - xbar), 1_000_000).alias(
                "mean_post_cents_cuped"
            ),
            r(F.col("theta"), 1_000_000_000).alias("theta"),
            r(F.col("var_reduction"), 1_000_000_000).alias("var_reduction"),
        )
        .orderBy("arm")
    )


@query(
    "q239_nelson_aalen_hazard",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t0,
               MAX(epoch_us(ts)) AS last_us
        FROM events GROUP BY 1
    ), fp AS (
        SELECT p.user_id, p.t0, p.last_us,
               MIN(CASE WHEN e.event_type = 'purchase'
                         AND epoch_us(e.ts) >= p.t0
                        THEN epoch_us(e.ts) END) AS p0
        FROM pu p LEFT JOIN events e ON e.user_id = p.user_id
        WHERE p.t0 IS NOT NULL
        GROUP BY 1, 2, 3
    ), d AS (
        SELECT CASE WHEN p0 IS NOT NULL THEN (p0 - t0) // 3600000000
                    ELSE (last_us - t0) // 3600000000 END AS duration_h,
               CASE WHEN p0 IS NOT NULL THEN 1 ELSE 0 END AS converted
        FROM fp
    ), hist AS (
        SELECT duration_h, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_events
        FROM d GROUP BY 1
    ), risk AS (
        SELECT duration_h, n_users, n_events,
               CAST(SUM(n_users) OVER (ORDER BY duration_h
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS BIGINT) AS n_risk
        FROM hist
    ), haz AS (
        SELECT duration_h, n_risk, n_events,
               CAST(SUM(n_events * 1000000000000 // n_risk)
                    OVER (ORDER BY duration_h) AS BIGINT) AS h_fp
        FROM risk
    )
    SELECT duration_h, n_risk, n_events,
           CAST(h_fp AS DOUBLE) / 1000000000000.0 AS cum_hazard
    FROM haz WHERE n_events > 0
    ORDER BY duration_h
    """,
    tags=("temporal", "survival", "statistics", "funnel"),
)
def q239_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator for time-to-conversion —
    the survival-analysis tier the funnel family lacks: q201's delay
    quartiles describe only users who DID convert, silently biased low;
    the hazard estimator handles right-censoring correctly (a user with
    no purchase contributes to every risk set up to their last
    observation, then censors out). Duration = first 'view' to first
    at-or-after 'purchase', in HOURS — the time-domain bound (~720
    cells over the 30-day window) that keeps the life table a bounded
    derived table regardless of corpus size, the q179 histogram
    discipline. H(t) = sum over event times t' <= t of d_t'/n_t'
    (Aalen's sum — chosen over Kaplan-Meier's PRODUCT, which has no
    shuffle-free exact form; S(t) = exp(-H(t)) recovers survival).

    Determinism: d and n are exact BIGINTs; each increment enters as
    d*1e12 DIV n (integer floor division on both engines) and the
    cumulative sum is an integer window sum — bit-exact, order-free.
    Shape at scale: one user-keyed aggregate, one user-keyed join back
    to events folded by MIN (the q232 conditional-aggregate shape), then
    every later table is life-table-sized; the only single-partition
    window runs over the bounded hour histogram."""
    e = table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        ).alias("t0"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    ).where(F.col("t0").isNotNull())
    pur = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("pus")
    )
    fp = (
        pu.join(pur, "user_id", "left")
        .groupBy("user_id", "t0", "last_us")
        .agg(F.min(F.when(F.col("pus") >= F.col("t0"), F.col("pus"))).alias("p0"))
    )
    d = fp.select(
        F.when(
            F.col("p0").isNotNull(), int_div(F.col("p0") - F.col("t0"), 3_600_000_000)
        )
        .otherwise(int_div(F.col("last_us") - F.col("t0"), 3_600_000_000))
        .alias("duration_h"),
        F.when(F.col("p0").isNotNull(), 1).otherwise(0).alias("converted"),
    )
    hist = d.groupBy("duration_h").agg(
        F.count("*").alias("n_users"), F.sum("converted").alias("n_events")
    )
    # suffix window sum gives the risk set directly — one lineage, no
    # totals branch that would re-derive the aggregate pipeline (the
    # q220 doubled-FileScan failure mode)
    w_suffix = Window.orderBy("duration_h").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("duration_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = hist.select(
        "duration_h",
        "n_events",
        F.sum("n_users").over(w_suffix).alias("n_risk"),
    )
    haz = risk.select(
        "duration_h",
        "n_risk",
        "n_events",
        F.sum(
            int_div(F.col("n_events") * F.lit(1_000_000_000_000), F.col("n_risk"))
        )
        .over(w_cum)
        .alias("h_fp"),
    )
    return (
        haz.where(F.col("n_events") > 0)
        .select(
            "duration_h",
            "n_risk",
            "n_events",
            (F.col("h_fp").cast("double") / F.lit(1e12)).alias("cum_hazard"),
        )
        .orderBy("duration_h")
    )


@query(
    "q247_calibration_report",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               COUNT(*) FILTER (WHERE event_type = 'view')  AS v,
               COUNT(*) FILTER (WHERE event_type = 'click') AS c,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT (1000000 * (c + 1)) // (v + c + 2) AS conf_fp, y FROM u
    ), b AS (
        SELECT conf_fp // 100000 AS bin,
               CAST(COUNT(*) AS BIGINT)      AS n,
               CAST(SUM(y) AS BIGINT)        AS n_pos,
               CAST(SUM(conf_fp) AS BIGINT)  AS sum_conf_fp
        FROM s GROUP BY 1
    ), g AS (
        SELECT bin, n, n_pos,
               sum_conf_fp // n AS mean_conf_fp,
               (1000000 * n_pos) // n AS acc_fp,
               abs((1000000 * n_pos) // n - sum_conf_fp // n) AS gap_fp
        FROM b
    )
    SELECT CAST(bin AS BIGINT) AS bin, n AS n_units, n_pos,
           CAST(mean_conf_fp AS DOUBLE) / 1000000.0 AS mean_conf,
           CAST(acc_fp AS DOUBLE) / 1000000.0       AS frac_pos,
           CAST(gap_fp AS DOUBLE) / 1000000.0       AS gap
    FROM g
    UNION ALL
    SELECT -1,
           CAST(SUM(n) AS BIGINT),
           CAST(SUM(n_pos) AS BIGINT),
           CAST(CAST(SUM(n * mean_conf_fp) AS BIGINT)
                // CAST(SUM(n) AS BIGINT) AS DOUBLE) / 1000000.0,
           CAST((1000000 * CAST(SUM(n_pos) AS BIGINT))
                // CAST(SUM(n) AS BIGINT) AS DOUBLE) / 1000000.0,
           CAST(CAST(SUM(n * gap_fp) AS BIGINT)
                // CAST(SUM(n) AS BIGINT) AS DOUBLE) / 1000000.0
    FROM g
    ORDER BY bin
    """,
    tags=("statistics", "calibration", "monitoring", "experimentation"),
    checkpointed_substrate=True,
)
def q247_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for a propensity
    score — the CALIBRATION half of classifier monitoring that the drift
    family (q177/q208) and rank tests (q179/q240) don't cover: a score
    can discriminate perfectly yet be badly calibrated, and miscalibrated
    data-quality classifiers silently skew threshold-filtered corpora.
    Unit = (user, day); score = Laplace-smoothed click share
    (c+1)/(v+c+2) — a deterministic integer-ratio propensity (no exp():
    libm transcendentals aren't bit-portable across engines); outcome =
    purchased that day. Ten equal-width bins; per bin the mean
    confidence, empirical positive rate and |gap|; the bin=-1 row is the
    whole-corpus readout whose gap column IS the ECE (the n-weighted
    mean |gap| — Naeini/Guo et al.'s estimator).

    Exactness: scores live in 1e-6 fixed point via non-negative integer
    floor division (Spark int_div == DuckDB // on non-negatives), bin =
    conf_fp DIV 1e5 (strictly < 1e6, so bins 0..9 with no clamp), every
    per-bin statistic is a BIGINT, and the ECE numerator Σ n_b·gap_fp_b
    stays under 1e6·N — exact past 2^53 units. The ≤10-row per-bin frame
    is checkpointed once and feeds both the per-bin projection and the
    ALL-row re-aggregate (the q220 doubled-FileScan lesson)."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("v"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    s = u.select(
        int_div(
            F.lit(1_000_000) * (F.col("c") + 1), F.col("v") + F.col("c") + 2
        ).alias("conf_fp"),
        "y",
    )
    b = s.groupBy(int_div(F.col("conf_fp"), 100_000).alias("bin")).agg(
        F.count("*").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("conf_fp").alias("sum_conf_fp"),
    )
    g = b.select(
        "bin",
        "n",
        "n_pos",
        int_div(F.col("sum_conf_fp"), F.col("n")).alias("mean_conf_fp"),
        int_div(F.lit(1_000_000) * F.col("n_pos"), F.col("n")).alias("acc_fp"),
    ).withColumn(
        "gap_fp", F.abs(F.col("acc_fp") - F.col("mean_conf_fp"))
    ).localCheckpoint(eager=True)  # <= 10 rows; per-bin projection + ALL row
    per_bin = g.select(
        "bin",
        F.col("n").alias("n_units"),
        "n_pos",
        (F.col("mean_conf_fp").cast("double") / F.lit(1e6)).alias("mean_conf"),
        (F.col("acc_fp").cast("double") / F.lit(1e6)).alias("frac_pos"),
        (F.col("gap_fp").cast("double") / F.lit(1e6)).alias("gap"),
    )
    all_row = g.agg(
        F.sum("n").alias("N"),
        F.sum("n_pos").alias("P"),
        F.sum(F.col("n") * F.col("mean_conf_fp")).alias("SC"),
        F.sum(F.col("n") * F.col("gap_fp")).alias("SG"),
    ).select(
        F.lit(-1).cast("long").alias("bin"),
        F.col("N").alias("n_units"),
        F.col("P").alias("n_pos"),
        (int_div(F.col("SC"), F.col("N")).cast("double") / F.lit(1e6)).alias(
            "mean_conf"
        ),
        (
            int_div(F.lit(1_000_000) * F.col("P"), F.col("N")).cast("double")
            / F.lit(1e6)
        ).alias("frac_pos"),
        (int_div(F.col("SG"), F.col("N")).cast("double") / F.lit(1e6)).alias("gap"),
    )
    return per_bin.unionByName(all_row).orderBy("bin")


@query(
    "q250_groupwise_auc",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               COUNT(*) FILTER (WHERE event_type = 'view')  AS v,
               COUNT(*) FILTER (WHERE event_type = 'click') AS c,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT isodow(d) - 1 AS dow,
               (1000000 * (c + 1)) // (v + c + 2) AS conf_fp, y
        FROM u
    ), h AS (
        SELECT dow, conf_fp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT)   AS np
        FROM s GROUP BY 1, 2
    ), r AS (
        SELECT dow, n, np,
               CAST(COALESCE(SUM(n) OVER (
                   PARTITION BY dow ORDER BY conf_fp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cb
        FROM h
    ), g AS (
        SELECT dow,
               CAST(SUM(n) AS BIGINT)  AS nn,
               CAST(SUM(np) AS BIGINT) AS p,
               CAST(SUM(np * (2 * cb + n + 1)) AS BIGINT) AS s2
        FROM r GROUP BY 1
    ), ha AS (
        SELECT conf_fp, CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(np) AS BIGINT) AS np
        FROM h GROUP BY 1
    ), ra AS (
        SELECT n, np,
               CAST(COALESCE(SUM(n) OVER (
                   ORDER BY conf_fp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cb
        FROM ha
    ), ga AS (
        SELECT CAST(SUM(n) AS BIGINT)  AS nn,
               CAST(SUM(np) AS BIGINT) AS p,
               CAST(SUM(np * (2 * cb + n + 1)) AS BIGINT) AS s2
        FROM ra
    )
    SELECT * FROM (
        SELECT CAST(dow AS BIGINT) AS dow, p AS n_pos, nn - p AS n_neg,
               CAST(s2 - p * (p + 1) AS DOUBLE)
                   / CAST(2 * p * (nn - p) AS DOUBLE) AS auc
        FROM g WHERE p > 0 AND nn - p > 0
        UNION ALL
        SELECT -1, p, nn - p,
               CAST(s2 - p * (p + 1) AS DOUBLE)
                   / CAST(2 * p * (nn - p) AS DOUBLE)
        FROM ga WHERE p > 0 AND nn - p > 0
    ) ORDER BY dow
    """,
    tags=("statistics", "auc", "evaluation", "monitoring"),
    checkpointed_substrate=True,
)
def q250_groupwise_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the q247 propensity score, per weekday and
    pooled — the DISCRIMINATION half of classifier monitoring next to
    q247's calibration (the two fail independently: a perfectly
    calibrated score can rank at chance, a perfect ranker can be
    mis-scaled; per-slice AUC is the fairness/segment readout). AUC is
    computed by the Mann-Whitney identity with tie-average ranks —
    exactly the q240 histogram-rank machinery: per (weekday, score) cell
    counts, an exclusive cumulative window over the BOUNDED score
    histogram (≤1e6 distinct fixed-point scores per slice — never a
    corpus-wide per-row rank), and AUC = (2·ΣR⁺ − P(P+1)) / (2·P·N) from
    DOUBLED rank sums so every intermediate is an exact BIGINT; the one
    division is a single IEEE op over exactly-converted integers.
    Slices with no positives or no negatives drop (AUC undefined); the
    dow=-1 row pools the histogram across slices — derived from the same
    checkpointed cell table, never a corpus re-scan."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("v"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    s = u.select(
        F.weekday("d").cast("long").alias("dow"),
        int_div(
            F.lit(1_000_000) * (F.col("c") + 1), F.col("v") + F.col("c") + 2
        ).alias("conf_fp"),
        "y",
    )
    h = (
        s.groupBy("dow", "conf_fp")
        .agg(F.count("*").alias("n"), F.sum("y").cast("long").alias("np"))
        .localCheckpoint(eager=True)  # per-dow ranks + pooled ALL branch
    )

    def auc_of(hist: DataFrame, keys: list[str]) -> DataFrame:
        w = (
            Window.partitionBy(*keys)
            .orderBy("conf_fp")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        r = hist.select(
            *keys,
            "n",
            "np",
            F.coalesce(F.sum("n").over(w), F.lit(0).cast("long")).alias("cb"),
        )
        g = r.groupBy(*keys).agg(
            F.sum("n").alias("nn"),
            F.sum("np").alias("p"),
            F.sum(
                F.col("np") * (F.lit(2) * F.col("cb") + F.col("n") + 1)
            ).alias("s2"),
        )
        return g.where((F.col("p") > 0) & (F.col("nn") - F.col("p") > 0)).select(
            *keys,
            F.col("p").alias("n_pos"),
            (F.col("nn") - F.col("p")).alias("n_neg"),
            (
                (F.col("s2") - F.col("p") * (F.col("p") + 1)).cast("double")
                / (F.lit(2) * F.col("p") * (F.col("nn") - F.col("p"))).cast(
                    "double"
                )
            ).alias("auc"),
        )

    per_dow = auc_of(h, ["dow"])
    pooled = auc_of(
        h.groupBy("conf_fp").agg(
            F.sum("n").alias("n"), F.sum("np").alias("np")
        ).withColumn("dow", F.lit(-1).cast("long")),
        ["dow"],
    )
    return per_dow.unionByName(pooled).orderBy("dow")


@query(
    "q251_isotonic_calibration",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               COUNT(*) FILTER (WHERE event_type = 'view')  AS v,
               COUNT(*) FILTER (WHERE event_type = 'click') AS c,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT ((1000000 * (c + 1)) // (v + c + 2)) // 100000 AS bin, y
        FROM u
    ), b AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS np
        FROM s GROUP BY 1
    ), pre AS (
        SELECT bin, n, np,
               CAST(SUM(n)  OVER (ORDER BY bin) AS BIGINT) AS pp,
               CAST(SUM(np) OVER (ORDER BY bin) AS BIGINT) AS qq
        FROM b
    ), ivl AS (
        SELECT j.bin AS jb, k.bin AS kb,
               ((k.qq - (j.qq - j.np)) * 1000000000000)
                   // (k.pp - (j.pp - j.n)) AS rate_fp
        FROM pre j JOIN pre k ON j.bin <= k.bin
    ), mn AS (
        SELECT i.bin, ivl.jb, MIN(ivl.rate_fp) AS r
        FROM pre i JOIN ivl ON ivl.jb <= i.bin AND i.bin <= ivl.kb
        GROUP BY 1, 2
    ), fit AS (
        SELECT bin, MAX(r) AS iso_fp FROM mn GROUP BY 1
    )
    SELECT b.bin, b.n AS n_units, b.np AS n_pos,
           CAST((b.np * 1000000000000) // b.n AS DOUBLE)
               / 1000000000000.0 AS raw_rate,
           CAST(f.iso_fp AS DOUBLE) / 1000000000000.0 AS iso_rate
    FROM b JOIN fit f USING (bin)
    ORDER BY bin
    """,
    tags=("statistics", "calibration", "isotonic", "monitoring"),
    checkpointed_substrate=True,
)
def q251_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression calibration map over the q247 reliability
    bins — the RECALIBRATION step after q247 diagnoses miscalibration:
    the monotone-nondecreasing fit of empirical positive rate vs score
    (Zadrozny & Elkan's method; what sklearn's
    CalibratedClassifierCV(method='isotonic') fits), learned here as a
    per-bin lookup a serving pipeline applies to raw scores. Computed by
    the MINIMAX identity iso_i = max_{j≤i} min_{k≥i} pooledrate(j..k) —
    equivalent to pool-adjacent-violators (unit-tested against a
    from-scratch PAV) but expressible as joins/aggregates with NO
    sequential merge loop.

    Scale shape: ONE corpus pass reduces to the ≤10-row bin histogram
    (checkpointed; prefix sums, the ≤55-row interval table and the
    interval-membership join are all bounded-by-bin-count — the only
    nested-loop joins are over bounded frames, the q233 regime — so the
    100 TB cost is exactly the q247 scan). Determinism: pooled rates are
    1e-12 fixed-point integer floor divisions over exact prefix-sum
    differences; min/max over identical integers on both engines."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("v"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    s = u.select(
        int_div(
            int_div(
                F.lit(1_000_000) * (F.col("c") + 1), F.col("v") + F.col("c") + 2
            ),
            100_000,
        ).alias("bin"),
        "y",
    )
    b = (
        s.groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("y").cast("long").alias("np"))
        .localCheckpoint(eager=True)  # bounded ≤10 rows; 4 consumers below
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = b.select(
        "bin",
        "n",
        "np",
        F.sum("n").over(w).alias("pp"),
        F.sum("np").over(w).alias("qq"),
    ).localCheckpoint(eager=True)  # j side, k side, i side all read it
    j = pre.select(
        F.col("bin").alias("jb"),
        (F.col("pp") - F.col("n")).alias("p0"),
        (F.col("qq") - F.col("np")).alias("q0"),
    )
    k = pre.select(
        F.col("bin").alias("kb"), F.col("pp").alias("pk"), F.col("qq").alias("qk")
    )
    ivl = (
        j.join(k, F.col("jb") <= F.col("kb"))
        .select(
            "jb",
            "kb",
            int_div(
                (F.col("qk") - F.col("q0")) * F.lit(1_000_000_000_000),
                F.col("pk") - F.col("p0"),
            ).alias("rate_fp"),
        )
    )
    i = pre.select(F.col("bin").alias("ib"))
    fit = (
        i.join(ivl, (F.col("jb") <= F.col("ib")) & (F.col("ib") <= F.col("kb")))
        .groupBy("ib", "jb")
        .agg(F.min("rate_fp").alias("r"))
        .groupBy("ib")
        .agg(F.max("r").alias("iso_fp"))
    )
    return (
        b.join(fit, b["bin"] == fit["ib"])
        .select(
            "bin",
            F.col("n").alias("n_units"),
            F.col("np").alias("n_pos"),
            (
                int_div(F.col("np") * F.lit(1_000_000_000_000), F.col("n")).cast(
                    "double"
                )
                / F.lit(1e12)
            ).alias("raw_rate"),
            (F.col("iso_fp").cast("double") / F.lit(1e12)).alias("iso_rate"),
        )
        .orderBy("bin")
    )


_MARKOV_ITERS = 16  # 16-step absorption probability (both engines replay it)


@query(
    "q252_markov_removal_attribution",
    oracle=f"""
    WITH RECURSIVE ev AS (
        SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id,
               event_type IN ('view', 'click') AS is_touch,
               event_type = 'purchase' AS is_conv,
               COALESCE(CAST(json_extract(props, '$.k') AS BIGINT) % 4, -1)
                   AS ch
        FROM events
    ), seq AS (
        SELECT user_id, d, ts, event_id, is_touch, ch,
               last_value(CASE WHEN is_touch THEN ch END IGNORE NULLS)
                   OVER (PARTITION BY user_id, d ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev,
               MAX(CASE WHEN is_conv THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id, d) AS y,
               SUM(CASE WHEN is_touch THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id, d ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS after
        FROM ev
    ), edges0 AS (
        SELECT COALESCE(prev, -10) AS f, ch AS t FROM seq WHERE is_touch
        UNION ALL
        SELECT ch AS f, CASE WHEN y = 1 THEN 100 ELSE 101 END AS t
        FROM seq WHERE is_touch AND COALESCE(after, 0) = 0
    ), cnt AS (
        SELECT f, t, CAST(COUNT(*) AS BIGINT) AS c FROM edges0 GROUP BY 1, 2
    ), variants AS (
        SELECT CAST(-99 AS BIGINT) AS v
        UNION ALL
        SELECT DISTINCT f FROM cnt WHERE f <> -10
    ), vedges AS (
        SELECT v.v, cnt.f,
               CASE WHEN cnt.t = v.v THEN 101 ELSE cnt.t END AS t,
               CAST(SUM(cnt.c) AS BIGINT) AS c
        FROM variants v JOIN cnt ON cnt.f <> v.v
        GROUP BY 1, 2, 3
    ), outd AS (
        SELECT v, f, CAST(SUM(c) AS BIGINT) AS o FROM vedges GROUP BY 1, 2
    ), prob AS (
        SELECT ve.v, ve.f, ve.t, (ve.c * 1000000) // o.o AS pfp
        FROM vedges ve JOIN outd o ON o.v = ve.v AND o.f = ve.f
    ), init AS (
        SELECT v, f AS s, CAST(0 AS BIGINT) AS p FROM outd
        UNION ALL
        SELECT v, CAST(100 AS BIGINT), CAST(1000000 AS BIGINT) FROM variants
        UNION ALL
        SELECT v, CAST(101 AS BIGINT), CAST(0 AS BIGINT) FROM variants
    ), it AS (
        SELECT v, s, p, 0 AS i FROM init
        UNION ALL
        (
            SELECT prob.v, prob.f AS s,
                   CAST(CAST(SUM(prob.pfp * it.p) AS BIGINT)
                        // 1000000 AS BIGINT) AS p,
                   MIN(it.i) + 1 AS i
            FROM it JOIN prob ON prob.v = it.v AND prob.t = it.s
            WHERE it.i < {_MARKOV_ITERS}
            GROUP BY prob.v, prob.f
            UNION ALL
            SELECT v, s, p, i + 1 FROM it
            WHERE i < {_MARKOV_ITERS} AND s IN (100, 101)
        )
    ), fin AS (
        SELECT v, p FROM it WHERE i = {_MARKOV_ITERS} AND s = -10
    ), base AS (
        SELECT p AS bp FROM fin WHERE v = -99
    ), re AS (
        SELECT v, p, GREATEST(bp - p, 0) AS r FROM fin, base WHERE v <> -99
    ), tot AS (
        SELECT CAST(SUM(r) AS BIGINT) AS tr FROM re
    )
    SELECT * FROM (
        SELECT CAST(-99 AS BIGINT) AS channel,
               CAST(bp AS DOUBLE) / 1000000.0 AS conv_prob,
               0.0 AS removal_effect, 0.0 AS share
        FROM base
        UNION ALL
        SELECT v, CAST(p AS DOUBLE) / 1000000.0,
               CAST(r AS DOUBLE) / 1000000.0,
               CASE WHEN tr > 0 THEN CAST(r AS DOUBLE) / CAST(tr AS DOUBLE)
                    ELSE 0.0 END
        FROM re, tot
    ) ORDER BY channel
    """,
    tags=("temporal", "attribution", "markov", "marketing", "iterative"),
    checkpointed_substrate=True,
)
def q252_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution (Anderl et al.) — the
    data-driven model that completes the attribution ladder above
    last-touch (q163) and position-based (q225): build the first-order
    channel-transition chain from daily user journeys (START → touches →
    CONVERSION/NULL absorbing states), and credit each channel by how
    much the chain's absorption probability DROPS when that channel is
    removed (its visits redirected to NULL) — channels that merely
    appear on converting paths but are causally bypassable earn little.

    Scale shape: ONE corpus scan/shuffle — each touch row emits its 1-2
    edges as an exploded array (prev-touch edge always; the →CONV/NULL
    edge from the last touch, all from one (user, day) window pass) —
    reduced to the ≤(channels+1)² transition-count table, checkpointed;
    every variant chain (base + one per channel) then iterates IN
    PARALLEL: because the per-variant chain is bounded (≤ channels+2
    states), the {_MARKOV_ITERS} synchronous value-iteration rounds run
    as one integer fold over per-variant state/edge arrays — a single
    job, replacing the former 16 driver-looped join rounds whose tiny
    checkpoint jobs were pure scheduler latency (r14 optimization; the
    q110 per-round-checkpoint discipline remains the rule for
    corpus-scale iteration state).
    Determinism: transition probabilities and absorption masses are
    1e-6 fixed-point BIGINTs with per-term floor division mirrored in
    the oracle's recursive CTE; products stay ≤1e12·terms, overflow-free
    past 2^53 corpus rows; both engines replay the identical
    {_MARKOV_ITERS} steps (the unit test asserts step-to-step movement
    has converged below the displayed precision)."""
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        F.to_date("ts").alias("d"),
        "ts",
        "event_id",
        F.col("event_type").isin("view", "click").alias("is_touch"),
        (F.col("event_type") == "purchase").alias("is_conv"),
        F.coalesce(
            F.get_json_object("props", "$.k").cast("long") % 4, F.lit(-1)
        ).alias("ch"),
    )
    pw = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    seq = ev.select(
        "is_touch",
        "ch",
        F.last(
            F.when(F.col("is_touch"), F.col("ch")), ignorenulls=True
        ).over(pw.rowsBetween(Window.unboundedPreceding, -1)).alias("prev"),
        F.max(F.when(F.col("is_conv"), 1).otherwise(0))
        .over(Window.partitionBy("user_id", "d"))
        .alias("y"),
        F.sum(F.when(F.col("is_touch"), 1).otherwise(0))
        .over(pw.rowsBetween(1, Window.unboundedFollowing))
        .alias("after"),
    )
    edge1 = F.struct(
        F.coalesce(F.col("prev"), F.lit(-10)).cast("long").alias("f"),
        F.col("ch").cast("long").alias("t"),
    )
    edge2 = F.when(
        F.coalesce(F.col("after"), F.lit(0)) == 0,
        F.struct(
            F.col("ch").cast("long").alias("f"),
            F.when(F.col("y") == 1, F.lit(100))
            .otherwise(F.lit(101))
            .cast("long")
            .alias("t"),
        ),
    )
    cnt = (
        seq.where("is_touch")
        .select(
            F.explode(
                F.filter(F.array(edge1, edge2), lambda x: x.isNotNull())
            ).alias("e")
        )
        .groupBy(F.col("e.f").alias("f"), F.col("e.t").alias("t"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # bounded ≤(channels+1)·(channels+2)
    )
    variants = (
        cnt.where(F.col("f") != -10)
        .select(F.col("f").alias("v"))
        .distinct()
        .unionByName(
            cnt.sparkSession.range(1).select(F.lit(-99).cast("long").alias("v"))
        )
        .localCheckpoint(eager=True)  # bounded ≤ channels+1; 3 consumers
    )
    vedges = (
        variants.join(cnt, F.col("f") != F.col("v"))
        .groupBy(
            "v",
            "f",
            F.when(F.col("t") == F.col("v"), F.lit(101).cast("long"))
            .otherwise(F.col("t"))
            .alias("t2"),
        )
        .agg(F.sum("c").alias("c"))
        .withColumnRenamed("t2", "t")
    )
    outd = vedges.groupBy("v", "f").agg(F.sum("c").alias("o"))
    prob = vedges.join(outd, ["v", "f"]).select(
        "v", "f", "t", int_div(F.col("c") * F.lit(1_000_000), F.col("o")).alias("pfp")
    )
    absorbing = variants.select(
        "v", F.lit(100).cast("long").alias("s"), F.lit(1_000_000).cast("long").alias("p")
    ).unionByName(
        variants.select(
            "v", F.lit(101).cast("long").alias("s"), F.lit(0).cast("long").alias("p")
        )
    )
    p = outd.select("v", F.col("f").alias("s"), F.lit(0).cast("long").alias("p")).unionByName(
        absorbing
    )
    # The per-variant chain is BOUNDED by construction — ≤ channels+2
    # states and ≤ (channels+1)·(channels+2) edges, independent of corpus
    # size — so the {_MARKOV_ITERS} synchronous rounds run as ONE
    # interpreted fold over per-variant arrays instead of the former
    # driver loop of 16 join+aggregate rounds with per-round
    # localCheckpoints: those were ~12 scheduler-bound jobs over ≤36-row
    # frames (pure fixed latency at ANY scale; guide §1.2 "algorithm
    # first"). Arithmetic is unchanged and order-independent: each round
    # computes p'(v,f) = (Σ_t pfp·p(t)) DIV 1e6 in exact BIGINTs
    # (|Σ| ≤ (channels+2)·1e12 < 2^53, so int_div stays exact), absorbing
    # states carry through, and an edge whose target has no state row
    # contributes 0 — identical to the former inner join dropping it.
    estates = prob.groupBy("v").agg(F.collect_list(F.struct("f", "t", "pfp")).alias("E"))
    s0 = p.groupBy("v").agg(F.collect_list(F.struct("s", "p")).alias("S"))
    zero = F.lit(0).cast("long")

    def _mass_at(states, t):  # Σ of the one matching state (s unique per array)
        return F.aggregate(
            states, zero, lambda a, st: a + F.when(st["s"] == t, st["p"]).otherwise(zero)
        )

    def _round(states, _i):
        return F.transform(
            states,
            lambda st: F.struct(
                st["s"].alias("s"),
                F.when(st["s"].isin(100, 101), st["p"])
                .otherwise(
                    int_div(
                        F.aggregate(
                            F.col("E"),
                            zero,
                            lambda a, e: a
                            + F.when(
                                e["f"] == st["s"], e["pfp"] * _mass_at(states, e["t"])
                            ).otherwise(zero),
                        ),
                        F.lit(1_000_000),
                    )
                )
                .alias("p"),
            ),
        )

    fin = (
        estates.join(F.broadcast(s0), "v")
        .select(
            "v",
            F.aggregate(
                F.sequence(F.lit(1), F.lit(_MARKOV_ITERS)), F.col("S"), _round
            ).alias("S"),
        )
        .select("v", F.explode("S").alias("st"))
        .where(F.col("st.s") == -10)
        .select("v", F.col("st.p").alias("p"))
        .localCheckpoint(eager=True)  # bounded; read by base AND re
    )
    base = fin.where(F.col("v") == -99).select(F.col("p").alias("bp"))
    re = (
        fin.where(F.col("v") != -99)
        .crossJoin(F.broadcast(base))
        .select(
            "v", "p", F.greatest(F.col("bp") - F.col("p"), F.lit(0).cast("long")).alias("r")
        )
        .localCheckpoint(eager=True)  # bounded; read by tot + final
    )
    tot = re.agg(F.sum("r").alias("tr"))
    base_row = base.select(
        F.lit(-99).cast("long").alias("channel"),
        (F.col("bp").cast("double") / F.lit(1e6)).alias("conv_prob"),
        F.lit(0.0).alias("removal_effect"),
        F.lit(0.0).alias("share"),
    )
    ch_rows = re.crossJoin(F.broadcast(tot)).select(
        F.col("v").alias("channel"),
        (F.col("p").cast("double") / F.lit(1e6)).alias("conv_prob"),
        (F.col("r").cast("double") / F.lit(1e6)).alias("removal_effect"),
        F.when(
            F.col("tr") > 0, F.col("r").cast("double") / F.col("tr").cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("share"),
    )
    return base_row.unionByName(ch_rows).orderBy("channel")


@query(
    "q253_ipw_conversion_lift",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               COUNT(*) FILTER (WHERE event_type = 'view')  AS v,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)    AS t,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT LEAST(v, 5) AS stratum, t, y FROM u
    ), g AS (
        SELECT stratum,
               CAST(COUNT(*) AS BIGINT)                        AS n,
               CAST(SUM(t) AS BIGINT)                          AS nt,
               CAST(SUM(t * y) AS BIGINT)                      AS yt,
               CAST(SUM((1 - t) * y) AS BIGINT)                AS yc
        FROM s GROUP BY 1
    ), r AS (
        SELECT stratum, n, nt, n - nt AS nc, yt, yc,
               (yt * 1000000000000) // nt            AS rt_fp,
               (yc * 1000000000000) // (n - nt)      AS rc_fp
        FROM g WHERE nt > 0 AND n - nt > 0
    ), allr AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(n * (rt_fp - rc_fp)) AS BIGINT) AS wsum,
               CAST(SUM(nt) AS BIGINT) AS tnt, CAST(SUM(yt) AS BIGINT) AS tyt,
               CAST(SUM(nc) AS BIGINT) AS tnc, CAST(SUM(yc) AS BIGINT) AS tyc
        FROM r
    ), viol AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped
        FROM g WHERE nt = 0 OR n - nt = 0
    )
    SELECT * FROM (
        SELECT CAST(stratum AS BIGINT) AS stratum, n AS n_units,
               nt AS n_treated,
               CAST(rt_fp AS DOUBLE) / 1000000000000.0 AS rate_treated,
               CAST(rc_fp AS DOUBLE) / 1000000000000.0 AS rate_control,
               CAST(rt_fp - rc_fp AS DOUBLE) / 1000000000000.0 AS lift
        FROM r
        UNION ALL
        SELECT -1, nn, tnt,
               CAST((tyt * 1000000000000) // tnt AS DOUBLE) / 1000000000000.0,
               CAST((tyc * 1000000000000) // tnc AS DOUBLE) / 1000000000000.0,
               CAST(wsum // nn AS DOUBLE) / 1000000000000.0
        FROM allr, viol WHERE nn > 0
    ) ORDER BY stratum
    """,
    tags=("statistics", "causal", "ipw", "experimentation"),
    checkpointed_substrate=True,
)
def q253_ipw_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confounding-adjusted conversion lift of clicking via
    STRATIFICATION — the observational-causal tier next to q233's
    randomized-experiment CUPED: treated = (user, day) units that
    clicked, outcome = purchased, confounder = view volume (heavy
    browsers both click more and buy more, so the naive treated-minus-
    control difference is biased). With a DISCRETE propensity stratum
    (views clamped to 0..5) the Horvitz-Thompson IPW estimator
    collapses algebraically to the stratified estimator ATE =
    Σ_s (n_s/N)·(rate_t,s − rate_c,s) — per-stratum exact integer
    counts, rates in 1e-12 fixed point, the weighted sum Σ n·Δfp an
    exact BIGINT floor-divided by N. Strata violating POSITIVITY (no
    treated or no control — where IPW is undefined) drop from the
    estimate, the stratum=-1 ALL row carries the adjusted ATE in
    `lift` next to the NAIVE pooled rates whose difference shows the
    confounding bias. One corpus pass → bounded ≤6-row stratum
    checkpoint feeding the per-stratum and ALL branches."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("v"),
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("t"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    g = (
        u.select(F.least(F.col("v"), F.lit(5)).alias("stratum"), "t", "y")
        .groupBy("stratum")
        .agg(
            F.count("*").alias("n"),
            F.sum("t").cast("long").alias("nt"),
            F.sum(F.col("t") * F.col("y")).cast("long").alias("yt"),
            F.sum((F.lit(1) - F.col("t")) * F.col("y")).cast("long").alias("yc"),
        )
        .localCheckpoint(eager=True)  # ≤6 rows; per-stratum + ALL branches
    )
    r = g.where((F.col("nt") > 0) & (F.col("n") - F.col("nt") > 0)).select(
        "stratum",
        "n",
        "nt",
        (F.col("n") - F.col("nt")).alias("nc"),
        "yt",
        "yc",
        int_div(F.col("yt") * F.lit(1_000_000_000_000), F.col("nt")).alias("rt_fp"),
        int_div(
            F.col("yc") * F.lit(1_000_000_000_000), F.col("n") - F.col("nt")
        ).alias("rc_fp"),
    )
    per = r.select(
        F.col("stratum").cast("long").alias("stratum"),
        F.col("n").alias("n_units"),
        F.col("nt").alias("n_treated"),
        (F.col("rt_fp").cast("double") / F.lit(1e12)).alias("rate_treated"),
        (F.col("rc_fp").cast("double") / F.lit(1e12)).alias("rate_control"),
        ((F.col("rt_fp") - F.col("rc_fp")).cast("double") / F.lit(1e12)).alias(
            "lift"
        ),
    )
    allr = (
        r.agg(
            F.sum("n").alias("nn"),
            F.sum(F.col("n") * (F.col("rt_fp") - F.col("rc_fp"))).alias("wsum"),
            F.sum("nt").alias("tnt"),
            F.sum("yt").alias("tyt"),
            F.sum("nc").alias("tnc"),
            F.sum("yc").alias("tyc"),
        )
        .where(F.col("nn") > 0)
        .select(
            F.lit(-1).cast("long").alias("stratum"),
            F.col("nn").alias("n_units"),
            F.col("tnt").alias("n_treated"),
            (
                int_div(
                    F.col("tyt") * F.lit(1_000_000_000_000), F.col("tnt")
                ).cast("double")
                / F.lit(1e12)
            ).alias("rate_treated"),
            (
                int_div(
                    F.col("tyc") * F.lit(1_000_000_000_000), F.col("tnc")
                ).cast("double")
                / F.lit(1e12)
            ).alias("rate_control"),
            # wsum can be NEGATIVE (adverse lift) — use TRUNCATING `div`
            # (== DuckDB //), not the flooring int_div (q246's lesson)
            (F.expr("wsum div nn").cast("double") / F.lit(1e12)).alias("lift"),
        )
    )
    return per.unionByName(allr).orderBy("stratum")


@query(
    "q258_woe_information_value",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               COUNT(*) FILTER (WHERE event_type = 'view') AS v,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY 1, 2
    ), b AS (
        SELECT LEAST(v, 5) AS bin,
               CAST(SUM(y) + 1 AS BIGINT)            AS ps,
               CAST(SUM(1 - y) + 1 AS BIGINT)        AS ns,
               CAST(SUM(y) AS BIGINT)                AS n_pos,
               CAST(SUM(1 - y) AS BIGINT)            AS n_neg
        FROM u GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(ps) AS BIGINT) AS p, CAST(SUM(ns) AS BIGINT) AS n
        FROM b
    ), w AS (
        SELECT bin, n_pos, n_neg,
               CAST(ROUND(ln((CAST(ps AS DOUBLE) / CAST(p AS DOUBLE))
                             * (CAST(n AS DOUBLE) / CAST(ns AS DOUBLE)))
                          * 1000000000) AS BIGINT) AS woe_fp,
               CAST(ROUND((CAST(ps AS DOUBLE) / CAST(p AS DOUBLE)
                           - CAST(ns AS DOUBLE) / CAST(n AS DOUBLE))
                          * ln((CAST(ps AS DOUBLE) / CAST(p AS DOUBLE))
                               * (CAST(n AS DOUBLE) / CAST(ns AS DOUBLE)))
                          * 1000000000) AS BIGINT) AS iv_fp
        FROM b, tot
    )
    SELECT * FROM (
        SELECT CAST(bin AS BIGINT) AS bin, n_pos, n_neg,
               CAST(woe_fp AS DOUBLE) / 1000000000.0 AS woe,
               CAST(iv_fp AS DOUBLE) / 1000000000.0 AS iv_contrib
        FROM w
        UNION ALL
        SELECT -1, CAST(SUM(n_pos) AS BIGINT), CAST(SUM(n_neg) AS BIGINT),
               0.0, CAST(CAST(SUM(iv_fp) AS BIGINT) AS DOUBLE) / 1000000000.0
        FROM w
    ) ORDER BY bin
    """,
    tags=("statistics", "woe", "feature-diagnostics", "monitoring"),
    checkpointed_substrate=True,
)
def q258_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence encoding + Information Value for the
    view-volume feature against purchase — the feature-SELECTION
    diagnostic (credit-scoring's standard screen; IV < 0.02 = useless,
    > 0.5 = suspiciously strong/leaky) that complements q253's causal
    read of the SAME substrate and q224's structural FDs: WoE_b =
    ln((pos_b/P)/(neg_b/N)) with +1 Laplace smoothing (zero-proof),
    IV = Σ_b (pos share − neg share)·WoE_b. A leaky feature screams
    here before it poisons a quality classifier.

    Determinism: the ln argument is assembled from EXACTLY-converted
    BIGINT counts via a fixed IEEE op sequence mirrored verbatim in the
    oracle ((ps/P)·(N/ns) — never the ps·N product, which overflows
    int64 at corpus scale); per-bin WoE/IV land as 1e-9 fixed-point
    BIGINTs BEFORE the total-IV sum, so the ALL row's Σ is
    order-independent. One corpus pass → ≤6-row bin checkpoint feeding
    the per-bin and ALL branches."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("v"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    b = (
        u.groupBy(F.least(F.col("v"), F.lit(5)).alias("bin"))
        .agg(
            (F.sum("y") + 1).cast("long").alias("ps"),
            (F.sum(F.lit(1) - F.col("y")) + 1).cast("long").alias("ns"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg"),
        )
        # ≤6 rows; the totals branch and the WoE projection both read it —
        # without this the corpus aggregate pipeline runs twice (the q220
        # doubled-FileScan failure mode)
        .localCheckpoint(eager=True)
    )
    tot = b.agg(F.sum("ps").alias("p"), F.sum("ns").alias("n"))
    ratio = (F.col("ps").cast("double") / F.col("p").cast("double")) * (
        F.col("n").cast("double") / F.col("ns").cast("double")
    )
    diff = F.col("ps").cast("double") / F.col("p").cast("double") - F.col(
        "ns"
    ).cast("double") / F.col("n").cast("double")
    w = (
        b.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_pos",
            "n_neg",
            F.round(F.log(ratio) * F.lit(1_000_000_000)).cast("long").alias("woe_fp"),
            F.round(diff * F.log(ratio) * F.lit(1_000_000_000))
            .cast("long")
            .alias("iv_fp"),
        )
        .localCheckpoint(eager=True)  # ≤6 rows; per-bin + ALL branches
    )
    per = w.select(
        F.col("bin").cast("long").alias("bin"),
        "n_pos",
        "n_neg",
        (F.col("woe_fp").cast("double") / F.lit(1e9)).alias("woe"),
        (F.col("iv_fp").cast("double") / F.lit(1e9)).alias("iv_contrib"),
    )
    allr = w.agg(
        F.sum("n_pos").alias("n_pos"),
        F.sum("n_neg").alias("n_neg"),
        F.sum("iv_fp").alias("iv_fp"),
    ).select(
        F.lit(-1).cast("long").alias("bin"),
        "n_pos",
        "n_neg",
        F.lit(0.0).alias("woe"),
        (F.col("iv_fp").cast("double") / F.lit(1e9)).alias("iv_contrib"),
    )
    return per.unionByName(allr).orderBy("bin")


# --- q273: split-conformal prediction coverage ------------------------------
#
# Fixed-point scale for nonconformity scores (cents · 1e4) and the
# bucket width of the two-level order-statistic (1e7 fp units = 1000
# currency units per cell) — the score domain is bounded by the order
# price list, so the bucket frame is a value-domain-bounded few-1e4 rows.
_CONF_FP = 10_000
_CONF_BUCKET = 10_000_000
_CONF_LEVEL_NUM = 9  # nominal coverage 9/10


@query(
    "q273_split_conformal_coverage",
    oracle=f"""
    WITH pop AS (
        SELECT o_orderkey, c_mktsegment AS segment,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
               substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) AS h2
        FROM orders JOIN customer ON c_custkey = o_custkey
    ), train AS (
        SELECT segment, COUNT(*) AS n_train,
               (SUM(price_c) * {_CONF_FP}) // COUNT(*) AS mu_fp
        FROM pop WHERE h2 < '9a' GROUP BY segment
    ), calib AS (
        SELECT p.o_orderkey, p.segment,
               ABS(p.price_c * {_CONF_FP} - t.mu_fp) AS s
        FROM pop p JOIN train t ON p.segment = t.segment
        WHERE p.h2 >= '9a' AND p.h2 < 'cd'
    ), k AS (
        SELECT segment, COUNT(*) AS n_calib,
               ({_CONF_LEVEL_NUM} * (COUNT(*) + 1) + 9) // 10 AS k
        FROM calib GROUP BY segment
    ), ranked AS (
        SELECT segment, s,
               ROW_NUMBER() OVER (PARTITION BY segment ORDER BY s, o_orderkey)
                   AS rn
        FROM calib
    ), qhat AS (
        SELECT r.segment, r.s AS qhat_fp
        FROM ranked r JOIN k ON r.segment = k.segment AND r.rn = k.k
    ), test AS (
        SELECT p.segment,
               CASE WHEN ABS(p.price_c * {_CONF_FP} - t.mu_fp) <= q.qhat_fp
                    THEN 1 ELSE 0 END AS covered
        FROM pop p
        JOIN train t ON p.segment = t.segment
        JOIN qhat q ON p.segment = q.segment
        WHERE p.h2 >= 'cd'
    ), cov AS (
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(covered) AS BIGINT) AS n_covered
        FROM test GROUP BY segment
    )
    SELECT t.segment AS segment, t.n_train, k.n_calib, cov.n_test, k.k,
           q.qhat_fp / 1000000.0 AS qhat,
           cov.n_covered,
           CAST(cov.n_covered AS DOUBLE) / CAST(cov.n_test AS DOUBLE)
               AS coverage
    FROM train t
    JOIN k ON t.segment = k.segment
    JOIN qhat q ON t.segment = q.segment
    JOIN cov ON t.segment = cov.segment
    ORDER BY segment
    """,
    tags=("statistics", "conformal", "calibration", "uncertainty"),
    checkpointed_substrate=True,
)
def q273_split_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction audit — the distribution-free coverage
    guarantee check a model-serving pipeline runs before trusting
    prediction intervals: a deterministic md5 three-way split
    (60% train / 20% calibration / 20% test, reproducible across
    engines and retries), a per-segment fixed-point mean predictor fit
    on train, nonconformity scores |y − ŷ| on calibration, the exact
    finite-sample quantile q̂ = s₍ₖ₎ with k = ⌈0.9·(n+1)⌉, and the
    realized test coverage of ŷ ± q̂ (theory: ≥ 0.9 in expectation).
    The k-th order statistic over corpus-scale calibration scores uses
    the two-level pattern (q94/q125): per-(segment, bucket) counts over
    the VALUE-DOMAIN-BOUNDED score histogram, a prefix sum on that
    bounded frame locates q̂'s bucket, and only the ≤5 candidate buckets'
    rows are ranked — no corpus-wide single-partition window. All score
    arithmetic is BIGINT fixed point (guarded against the 10⁴-scaled
    2^63 sum bound), so q̂ and the coverage counts hash bit-for-bit."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    h2 = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    pop = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey",
            "segment",
            to_cents("o_totalprice").alias("price_c"),
            h2.alias("h2"),
        )
        .localCheckpoint(eager=True)  # one corpus join feeds all three splits
    )
    train = (
        pop.where(F.col("h2") < "9a")
        .groupBy("segment")
        .agg(F.count("*").alias("n_train"), F.sum("price_c").alias("sum_c"))
        .where(
            exactness_guard(
                F.col("sum_c").cast("double") * _CONF_FP < F.lit(float(2**63 - 2**10)),
                "q273: 1e4-scaled train sum must stay inside int64",
            )
        )
        .select(
            "segment",
            "n_train",
            F.expr(f"(sum_c * {_CONF_FP}L) DIV n_train").alias("mu_fp"),
        )
        .localCheckpoint(eager=True)  # 5 rows, referenced by three passes
    )
    calib = (
        pop.where((F.col("h2") >= "9a") & (F.col("h2") < "cd"))
        .join(F.broadcast(train), "segment")
        .select(
            "segment",
            "o_orderkey",
            F.abs(F.col("price_c") * F.lit(_CONF_FP) - F.col("mu_fp")).alias("s"),
            F.expr(
                f"ABS(price_c * {_CONF_FP}L - mu_fp) DIV {_CONF_BUCKET}L"
            ).alias("bucket"),
        )
        .localCheckpoint(eager=True)  # scored once; histogram + rank re-read it
    )
    cnt = (
        calib.groupBy("segment", "bucket")
        .agg(F.count("*").alias("cb"))
        .localCheckpoint(eager=True)  # bounded histogram; k frame + prefix share it
    )
    kf = cnt.groupBy("segment").agg(F.sum("cb").alias("n_calib")).select(
        "segment",
        "n_calib",
        F.expr(f"({_CONF_LEVEL_NUM} * (n_calib + 1) + 9) DIV 10").alias("k"),
    )
    w_pre = (
        Window.partitionBy("segment")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cand = (
        cnt.withColumn("cum_prev", F.coalesce(F.sum("cb").over(w_pre), F.lit(0)))
        .join(F.broadcast(kf), "segment")
        .where((F.col("cum_prev") < F.col("k")) & (F.col("cum_prev") + F.col("cb") >= F.col("k")))
        .select("segment", "bucket", "cum_prev", "k")
    )
    w_rn = Window.partitionBy("segment").orderBy("s", "o_orderkey")
    qhat = (
        calib.join(F.broadcast(cand), ["segment", "bucket"])
        .withColumn("rn", F.row_number().over(w_rn))
        .where(F.col("cum_prev") + F.col("rn") == F.col("k"))
        .select("segment", F.col("s").alias("qhat_fp"))
        .localCheckpoint(eager=True)  # 5 rows, read by coverage + final select
    )
    cov = (
        pop.where(F.col("h2") >= "cd")
        .join(F.broadcast(train), "segment")
        .join(F.broadcast(qhat), "segment")
        .select(
            "segment",
            (
                F.abs(F.col("price_c") * F.lit(_CONF_FP) - F.col("mu_fp"))
                <= F.col("qhat_fp")
            )
            .cast("long")
            .alias("covered"),
        )
        .groupBy("segment")
        .agg(F.count("*").alias("n_test"), F.sum("covered").alias("n_covered"))
    )
    return (
        train.select("segment", "n_train")
        .join(F.broadcast(kf), "segment")
        .join(F.broadcast(qhat), "segment")
        .join(F.broadcast(cov), "segment")
        .select(
            "segment",
            "n_train",
            "n_calib",
            "n_test",
            "k",
            (F.col("qhat_fp") / F.lit(1000000.0)).alias("qhat"),
            "n_covered",
            (
                F.col("n_covered").cast("double") / F.col("n_test").cast("double")
            ).alias("coverage"),
        )
        .orderBy("segment")
    )


# --- q280: gaps-and-islands activity streaks --------------------------------


@query(
    "q280_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        FROM events
    ), isl AS (
        SELECT user_id, d,
               d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                   AS island
        FROM days
    ), streaks AS (
        SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
        FROM isl GROUP BY user_id, island
    ), per_user AS (
        SELECT user_id, MAX(len) AS max_streak,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(len) AS BIGINT) AS n_days
        FROM streaks GROUP BY user_id
    )
    SELECT CAST(max_streak AS BIGINT) AS max_streak,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_islands) AS BIGINT) AS n_islands,
           CAST(SUM(n_days) AS BIGINT) AS n_active_days
    FROM per_user
    GROUP BY max_streak
    ORDER BY max_streak
    """,
    tags=("temporal", "gaps-and-islands", "streaks", "engagement"),
)
def q280_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-active-day STREAKS per user — the
    classic SQL pattern (engagement streaks, uptime islands, sensor
    continuity) done the canonical way: distinct active days, then
    island id = day_number − row_number (constant within a run of
    consecutive days, jumps at every gap), then streak lengths per
    island. Every window is partitioned per user (fully parallel — no
    corpus-wide sort), aggregates are map-side combinable, and the
    result is the per-max-streak user histogram. Day arithmetic is pure
    integer epoch-days, so both engines agree exactly."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
    )
    days = e.distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id", "d", (F.col("d") - F.row_number().over(w)).alias("island")
    )
    streaks = isl.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    per_user = streaks.groupBy("user_id").agg(
        F.max("len").alias("max_streak"),
        F.count("*").alias("n_islands"),
        F.sum("len").alias("n_days"),
    )
    return (
        per_user.groupBy("max_streak")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n_islands").alias("n_islands"),
            F.sum("n_days").alias("n_active_days"),
        )
        .select(
            F.col("max_streak").cast("long").alias("max_streak"),
            "n_users",
            "n_islands",
            "n_active_days",
        )
        .orderBy("max_streak")
    )


# --- q281: watermark lateness audit -----------------------------------------
#
# The events file is perfectly time-ordered, so ARRIVAL is simulated as
# event time + a bounded md5 jitter (≤ 2 minutes — the engine-reproducible
# stand-in for network/queue delay; a full random shuffle would be an
# unrealistic month-long disorder). Lateness of an arrival = how far its
# event time sits behind the max event time already arrived — exactly
# what a withWatermark() bound must cover. The global running max over
# arrival order decomposes two-level (q270's prefix-max): 10-minute
# arrival cells (value-domain bounded), a bounded cell-prefix frame, and
# per-cell running maxima in parallel windows.
_LATE_JITTER_US = 120_000_000  # max simulated delivery delay: 120 s
_LATE_CELL_US = 600_000_000  # 10-minute arrival cells


@query(
    "q281_watermark_lateness_audit",
    oracle=f"""
    WITH arr AS (
        SELECT event_id, epoch_us(ts) AS tus,
               epoch_us(ts)
                 + CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % {_LATE_JITTER_US} AS atus
        FROM events
    ), cells AS (
        SELECT atus // {_LATE_CELL_US} AS cell, MAX(tus) AS cmax
        FROM arr GROUP BY 1
    ), pc AS (
        SELECT cell, MAX(cmax) OVER (ORDER BY cell
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_cell_max
        FROM cells
    ), x AS (
        SELECT a.tus,
               GREATEST(
                   COALESCE(pc.prev_cell_max, a.tus),
                   COALESCE(MAX(a.tus) OVER (PARTITION BY a.atus // {_LATE_CELL_US}
                       ORDER BY a.atus, a.event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       a.tus)) AS seen_max
        FROM arr a JOIN pc ON a.atus // {_LATE_CELL_US} = pc.cell
    ), late AS (
        SELECT GREATEST(0, seen_max - tus) AS lus FROM x
    ), classed AS (
        SELECT CASE WHEN lus = 0 THEN 0
                    WHEN lus <= 1000000 THEN 1
                    WHEN lus <= 10000000 THEN 2
                    WHEN lus <= 60000000 THEN 3
                    WHEN lus <= 600000000 THEN 4
                    ELSE 5 END AS lateness_class,
               lus
        FROM late
    )
    SELECT CAST(lateness_class AS BIGINT) AS lateness_class,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS DOUBLE)
               / CAST((SELECT COUNT(*) FROM arr) AS DOUBLE) AS share,
           MAX(lus) / 1000000.0 AS max_lateness_sec
    FROM classed
    GROUP BY lateness_class
    ORDER BY lateness_class
    """,
    tags=("temporal", "watermark", "lateness", "ops"),
    checkpointed_substrate=True,
)
def q281_watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness audit — the measurement that justifies a
    streaming job's withWatermark() bound (q38/q59's knob): arrivals are
    simulated as event time + a bounded md5 jitter (engine-reproducible
    network-delay stand-in, ≤ 2 min), and each arrival's lateness is the
    gap between the max event time already seen and its own event time;
    the histogram over operational classes (on-time, ≤1 s/10 s/60 s/600 s,
    beyond) says exactly how much state a candidate bound retains and
    what it would drop. The global 'max seen so far' is two-level
    (q270's prefix-max): 10-minute arrival cells (value-domain bounded),
    a bounded cell-prefix frame, and per-cell running maxima in parallel
    windows — no corpus-wide single-partition window. A missing prefix
    (the very first arrivals of a cell) coalesces to the row's own time,
    so no sentinel can overflow under ANSI. Exact integer microseconds
    throughout."""
    jit = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _LATE_JITTER_US
    )
    e = (
        table(spark, sf_dir, "events")
        .select("event_id", F.unix_micros("ts").alias("tus"))
        .withColumn("atus", F.col("tus") + jit)
        .withColumn("cell", F.expr(f"atus DIV {_LATE_CELL_US}L"))
        .localCheckpoint(eager=True)
    )
    cells = e.groupBy("cell").agg(F.max("tus").alias("cmax"))
    pc = cells.select(
        "cell",
        F.max("cmax")
        .over(Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_cell_max"),
    )
    w_in = (
        Window.partitionBy("cell")
        .orderBy("atus", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = (
        e.join(F.broadcast(pc), "cell")
        .withColumn(
            "seen_max",
            F.greatest(
                F.coalesce(F.col("prev_cell_max"), F.col("tus")),
                F.coalesce(F.max("tus").over(w_in), F.col("tus")),
            ),
        )
        .select(
            F.greatest(F.lit(0).cast("long"), F.col("seen_max") - F.col("tus")).alias(
                "lus"
            )
        )
    )
    classed = x.select(
        F.when(F.col("lus") == 0, 0)
        .when(F.col("lus") <= 1_000_000, 1)
        .when(F.col("lus") <= 10_000_000, 2)
        .when(F.col("lus") <= 60_000_000, 3)
        .when(F.col("lus") <= 600_000_000, 4)
        .otherwise(5)
        .cast("long")
        .alias("lateness_class"),
        "lus",
    )
    tot = e.agg(F.count("*").alias("n_total"))
    return (
        classed.groupBy("lateness_class")
        .agg(F.count("*").alias("n_events"), F.max("lus").alias("max_lus"))
        .crossJoin(F.broadcast(tot))
        .select(
            "lateness_class",
            "n_events",
            (F.col("n_events").cast("double") / F.col("n_total").cast("double")).alias(
                "share"
            ),
            (F.col("max_lus") / F.lit(1000000.0)).alias("max_lateness_sec"),
        )
        .orderBy("lateness_class")
    )


# --- q289: incremental sessionization with boundary stitching ---------------
#
# The q165 invariant (incremental == full recompute, hash-proven) for
# SESSIONS: sessionize each batch independently, then merge the one
# boundary pair per user whose gap across the cutoff is within the
# inactivity threshold. The oracle sessionizes the WHOLE stream.
_STITCH_CUTOFF = "2024-01-16 00:00:00"
_STITCH_GAP_US = 1800 * 1_000_000  # q24's 30-minute inactivity gap


@query(
    "q289_incremental_sessionize_stitch",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {_STITCH_GAP_US}
                    THEN 1 ELSE 0 END AS new_session,
               CASE WHEN ts < TIMESTAMP '{_STITCH_CUTOFF}' THEN 0 ELSE 1
                    END AS half
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, half,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM marked
    ), sess AS (
        SELECT user_id, session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(half) - MIN(half) AS BIGINT) AS straddles
        FROM numbered GROUP BY user_id, session_id
    ), per_user AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(MAX(straddles) AS BIGINT) AS merged
        FROM sess GROUP BY user_id
    )
    SELECT n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(merged) AS BIGINT) AS n_merged_users,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM per_user
    GROUP BY n_sessions
    ORDER BY n_sessions
    """,
    tags=("temporal", "session", "incremental", "ivm"),
)
def q289_incremental_sessionize_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL sessionization — the batch-boundary correctness every
    nightly pipeline needs (q24 sessionizes one batch; q165 proves
    incremental aggregates; this proves incremental SESSIONS): each
    half of the stream (split at the refresh cutoff) is sessionized
    INDEPENDENTLY with q24's exact 30-minute-gap rule, then per user
    the single candidate boundary pair — last old-half session, first
    new-half session — merges iff its cross-cutoff gap is within the
    threshold. The oracle sessionizes the whole stream at once; the
    per-user session-count histogram (with merged-user and event
    totals) hash-matching proves stitch(sessionize(A), sessionize(B)) ≡
    sessionize(A ∪ B) exactly — at most ONE session can straddle the
    cutoff per user, and it merges iff its straddling gap obeys the
    same rule the full pass applies. Scale shape: two partition-pruned
    half scans, per-user parallel windows, bounded per-user boundary
    frames (no cross-user traffic beyond the one user-keyed shuffle)."""
    cutoff = F.lit(_STITCH_CUTOFF).cast("timestamp")
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    def sessions(batch: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        marked = batch.select(
            "user_id",
            "ts",
            "event_id",
            F.when(gap_us.isNull() | (gap_us > _STITCH_GAP_US), 1)
            .otherwise(0)
            .alias("new_session"),
        )
        return (
            marked.select(
                "user_id",
                F.unix_micros("ts").alias("tus"),
                F.sum("new_session").over(run).cast("long").alias("session_id"),
            )
            .groupBy("user_id", "session_id")
            .agg(
                F.count("*").alias("n_events"),
                F.min("tus").alias("s_start"),
                F.max("tus").alias("s_end"),
            )
        )

    s1 = sessions(e.where(F.col("ts") < cutoff))
    s2 = sessions(e.where(F.col("ts") >= cutoff))
    u1 = s1.groupBy("user_id").agg(
        F.count("*").alias("n1"),
        F.sum("n_events").alias("ev1"),
        F.max("s_end").alias("last_end"),
    )
    u2 = s2.groupBy("user_id").agg(
        F.count("*").alias("n2"),
        F.sum("n_events").alias("ev2"),
        F.min("s_start").alias("first_start"),
    )
    per_user = (
        u1.join(u2, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n1", F.lit(0)).alias("n1"),
            F.coalesce("n2", F.lit(0)).alias("n2"),
            F.coalesce("ev1", F.lit(0)).alias("ev1"),
            F.coalesce("ev2", F.lit(0)).alias("ev2"),
            F.when(
                F.col("last_end").isNotNull()
                & F.col("first_start").isNotNull()
                & (F.col("first_start") - F.col("last_end") <= _STITCH_GAP_US),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("merged"),
        )
        .select(
            "user_id",
            (F.col("n1") + F.col("n2") - F.col("merged")).alias("n_sessions"),
            (F.col("ev1") + F.col("ev2")).alias("n_events"),
            "merged",
        )
    )
    return (
        per_user.groupBy("n_sessions")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("merged").alias("n_merged_users"),
            F.sum("n_events").alias("total_events"),
        )
        .orderBy("n_sessions")
    )


# --- q295: histogram decision-stump split search ----------------------------


@query(
    "q295_decision_stump_split",
    oracle="""
    WITH base AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y
        FROM orders
    ), mm AS (
        SELECT MIN(cents) AS minc, MAX(cents) AS maxc FROM base
    ), hist AS (
        SELECT ((b.cents - mm.minc) * 256) // (mm.maxc - mm.minc + 1) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(b.y) AS BIGINT) AS npos,
               MAX(b.cents) AS threshold_cents
        FROM base b, mm
        GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(SUM(npos) AS BIGINT) AS pos_tot
        FROM hist
    ), cum AS (
        SELECT bin, threshold_cents,
               CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS n_left,
               CAST(SUM(npos) OVER (ORDER BY bin) AS BIGINT) AS pos_left
        FROM hist
    ), cand AS (
        SELECT c.bin AS split_bin, c.threshold_cents, c.n_left, c.pos_left,
               t.n_tot - c.n_left AS n_right,
               t.pos_tot - c.pos_left AS pos_right,
               (c.pos_left * c.pos_left
                + (c.n_left - c.pos_left) * (c.n_left - c.pos_left))
                   * 1000000 // c.n_left
               + ((t.pos_tot - c.pos_left) * (t.pos_tot - c.pos_left)
                  + ((t.n_tot - c.n_left) - (t.pos_tot - c.pos_left))
                    * ((t.n_tot - c.n_left) - (t.pos_tot - c.pos_left)))
                   * 1000000 // (t.n_tot - c.n_left) AS score_fp
        FROM cum c, tot t
        WHERE c.n_left < t.n_tot
    )
    SELECT split_bin, threshold_cents, n_left, pos_left, n_right, pos_right,
           CAST(score_fp AS DOUBLE) / 1000000.0 AS purity_score,
           CAST(CASE WHEN row_number()
                          OVER (ORDER BY score_fp DESC, split_bin) = 1
                     THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM cand
    ORDER BY split_bin
    """,
    tags=("statistics", "ml", "decision-stump", "supervised-binning", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q295_decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based DECISION-STUMP split search — the exact split
    step every histogram GBDT (LightGBM/XGBoost-hist) runs per feature
    per node, and the supervised-discretization screen next to q258's
    WoE/IV: bin o_totalprice into 256 equi-width integer-cents bins
    (ONE corpus aggregate — the map-side histogram is the whole corpus
    pass), then score every bin boundary as a binary split of the
    urgent-priority label by the summed one-vs-rest Gini purity
    Σ_side (pos² + neg²)/n — maximizing it minimizes weighted Gini
    impurity — and mark the argmax. Per candidate: left/right sizes,
    positives, the 1e-6 fixed-point purity, and is_best.

    Scale shape: corpus work is ONE scan → 256-row histogram (+ one
    broadcast min/max pre-pass); the prefix sums, totals join, scoring,
    and argmax all run on the bounded ≤256-row checkpointed frame —
    single-partition windows are legal exactly here (bounded derived
    table, the q94/q111 rule). At 100 TB the histogram is the same
    map-side partial aggregate; only the guard bound on the SCORE
    arithmetic changes (drop SCALE or widen to DECIMAL).

    Determinism: counts are exact BIGINTs; the purity is
    (pos²+neg²)·10⁶ intdiv n per side — all operands provably
    non-negative, so Spark's floor-div and DuckDB's truncating //
    agree; an exactness_guard pins n_tot ≤ 3·10⁶ so the numerator
    (≤ n²·10⁶) stays under 2⁶³; the argmax tiebreak is (score_fp
    DESC, split_bin), a total order on exact integers."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        to_cents("o_totalprice").alias("cents"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("y"),
    )
    mm = base.agg(F.min("cents").alias("minc"), F.max("cents").alias("maxc"))
    hist = (
        base.crossJoin(F.broadcast(mm))
        .groupBy(
            int_div(
                (F.col("cents") - F.col("minc")) * F.lit(256),
                F.col("maxc") - F.col("minc") + F.lit(1),
            ).alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("y").cast("long").alias("npos"),
            F.max("cents").alias("threshold_cents"),
        )
        # ≤256 rows; totals + cumulative branches both read it — without
        # this the corpus histogram pipeline runs twice (q258's rule)
        .localCheckpoint(eager=True)
    )
    tot = hist.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("npos").cast("long").alias("pos_tot"),
    )
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        "threshold_cents",
        F.sum("n").over(wcum).cast("long").alias("n_left"),
        F.sum("npos").over(wcum).cast("long").alias("pos_left"),
    )
    neg_l = F.col("n_left") - F.col("pos_left")
    pos_r = F.col("pos_tot") - F.col("pos_left")
    n_r = F.col("n_tot") - F.col("n_left")
    neg_r = n_r - pos_r
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .where(
            exactness_guard(
                F.col("n_tot").cast("double") <= F.lit(3.0e6),
                "q295: corpus too large for the 1e-6 fixed-point purity "
                "numerator (n_tot^2 * 1e6 must stay under 2^63)",
            )
        )
        .where(F.col("n_left") < F.col("n_tot"))
        .select(
            F.col("bin").alias("split_bin"),
            "threshold_cents",
            "n_left",
            "pos_left",
            n_r.alias("n_right"),
            pos_r.alias("pos_right"),
            (
                int_div(
                    (F.col("pos_left") * F.col("pos_left") + neg_l * neg_l)
                    * F.lit(1_000_000),
                    F.col("n_left"),
                )
                + int_div(
                    (pos_r * pos_r + neg_r * neg_r) * F.lit(1_000_000), n_r
                )
            ).alias("score_fp"),
        )
    )
    wbest = Window.orderBy(F.col("score_fp").desc(), "split_bin")
    return (
        cand.withColumn(
            "is_best",
            F.when(F.row_number().over(wbest) == 1, 1).otherwise(0).cast("long"),
        )
        .select(
            "split_bin",
            "threshold_cents",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            (F.col("score_fp").cast("double") / F.lit(1e6)).alias("purity_score"),
            "is_best",
        )
        .orderBy("split_bin")
    )


# --- q305: difference-in-differences purchase lift ---------------------------

_DID_SPLIT_DAY = 15  # pre: day-of-month <= 15, post: > 15
_DID_TREAT_CLICKS = 7  # treated cohort: >= this many PRE-period clicks


@query(
    "q305_difference_in_differences",
    oracle=f"""
    WITH grp AS (
        SELECT user_id,
               CASE WHEN SUM(CASE WHEN event_type = 'click'
                                   AND day(ts) <= {_DID_SPLIT_DAY}
                             THEN 1 ELSE 0 END) >= {_DID_TREAT_CLICKS}
                    THEN 1 ELSE 0 END AS treat
        FROM events GROUP BY user_id
    ), ud AS (
        SELECT e.user_id,
               CASE WHEN day(e.ts) <= {_DID_SPLIT_DAY} THEN 0 ELSE 1 END
                   AS post,
               CAST(e.ts AS DATE) AS d,
               MAX(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS y
        FROM events e GROUP BY 1, 2, 3
    ), cells AS (
        SELECT g.treat, u.post,
               CAST(COUNT(*) AS BIGINT) AS user_days,
               CAST(SUM(u.y) AS BIGINT) AS purchases
        FROM ud u JOIN grp g USING (user_id)
        GROUP BY 1, 2
    ), wide AS (
        SELECT
          MAX(CASE WHEN treat=1 AND post=0 THEN user_days END) AS tpre_n,
          MAX(CASE WHEN treat=1 AND post=0 THEN purchases END) AS tpre_y,
          MAX(CASE WHEN treat=1 AND post=1 THEN user_days END) AS tpost_n,
          MAX(CASE WHEN treat=1 AND post=1 THEN purchases END) AS tpost_y,
          MAX(CASE WHEN treat=0 AND post=0 THEN user_days END) AS cpre_n,
          MAX(CASE WHEN treat=0 AND post=0 THEN purchases END) AS cpre_y,
          MAX(CASE WHEN treat=0 AND post=1 THEN user_days END) AS cpost_n,
          MAX(CASE WHEN treat=0 AND post=1 THEN purchases END) AS cpost_y
        FROM cells
    )
    SELECT CAST(tpre_n AS BIGINT) AS treat_pre_days,
           CAST(tpre_y AS BIGINT) AS treat_pre_purchases,
           CAST(tpost_n AS BIGINT) AS treat_post_days,
           CAST(tpost_y AS BIGINT) AS treat_post_purchases,
           CAST(cpre_n AS BIGINT) AS ctrl_pre_days,
           CAST(cpre_y AS BIGINT) AS ctrl_pre_purchases,
           CAST(cpost_n AS BIGINT) AS ctrl_post_days,
           CAST(cpost_y AS BIGINT) AS ctrl_post_purchases,
           (CAST(tpost_y AS DOUBLE) / CAST(tpost_n AS DOUBLE)
            - CAST(tpre_y AS DOUBLE) / CAST(tpre_n AS DOUBLE))
           - (CAST(cpost_y AS DOUBLE) / CAST(cpost_n AS DOUBLE)
              - CAST(cpre_y AS DOUBLE) / CAST(cpre_n AS DOUBLE)) AS did
    FROM wide
    """,
    tags=("temporal", "causal", "did", "statistics"),
    checkpointed_substrate=True,
)
def q305_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES purchase-rate lift — the third member
    of the causal family, the panel estimator next to q253's
    stratified-IPW (cross-sectional confounding) and q233's CUPED
    (randomized variance reduction): the heavy-early-clicker cohort
    (>= {_DID_TREAT_CLICKS} PRE-period clicks — exposure defined
    entirely pre-boundary, so post outcomes cannot leak into group
    assignment) vs everyone else, pre- vs post-month-midpoint,
    outcome = per-user-day purchase indicator. DiD = (treated post − pre) −
    (control post − pre) removes every time-invariant group difference
    AND every group-invariant time shock — the parallel-trends
    workhorse of observational product analytics.

    Determinism: the four cells are exact BIGINT (user_days,
    purchases) counts; the estimate is assembled from four SINGLE
    divisions of exact integers with the identical expression tree on
    both engines (the q258 rule — no ordering freedom, no
    transcendental). Shape: one (user, post, day) aggregate + one
    user-keyed join against the bounded per-user cohort frame, reduced
    to 4 cells before any arithmetic; one corpus scan feeds both via
    the checkpointed substrate."""
    e = table(spark, sf_dir, "events")
    grp = e.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.dayofmonth("ts") <= _DID_SPLIT_DAY),
                    1,
                ).otherwise(0)
            )
            >= _DID_TREAT_CLICKS,
            1,
        )
        .otherwise(0)
        .alias("treat")
    )
    ud = e.groupBy(
        "user_id",
        F.when(F.dayofmonth("ts") <= _DID_SPLIT_DAY, 0).otherwise(1).alias("post"),
        F.to_date("ts").alias("d"),
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y")
    )
    # the cohort frame is USER-scale (unbounded at 100 TB): pinned
    # shuffle-merge, never broadcast
    cells = (
        ud.join(grp.hint("shuffle_merge"), "user_id")
        .groupBy("treat", "post")
        .agg(
            F.count("*").alias("user_days"),
            F.sum("y").cast("long").alias("purchases"),
        )
        .localCheckpoint(eager=True)  # 4 rows; every pivot column reads it
    )

    def cell(t, p, col):
        return F.max(
            F.when((F.col("treat") == t) & (F.col("post") == p), F.col(col))
        )

    wide = cells.agg(
        cell(1, 0, "user_days").alias("treat_pre_days"),
        cell(1, 0, "purchases").alias("treat_pre_purchases"),
        cell(1, 1, "user_days").alias("treat_post_days"),
        cell(1, 1, "purchases").alias("treat_post_purchases"),
        cell(0, 0, "user_days").alias("ctrl_pre_days"),
        cell(0, 0, "purchases").alias("ctrl_pre_purchases"),
        cell(0, 1, "user_days").alias("ctrl_post_days"),
        cell(0, 1, "purchases").alias("ctrl_post_purchases"),
    )
    rate = lambda y, n: F.col(y).cast("double") / F.col(n).cast("double")  # noqa: E731
    return wide.select(
        "*",
        (
            (rate("treat_post_purchases", "treat_post_days")
             - rate("treat_pre_purchases", "treat_pre_days"))
            - (rate("ctrl_post_purchases", "ctrl_post_days")
               - rate("ctrl_pre_purchases", "ctrl_pre_days"))
        ).alias("did"),
    )
