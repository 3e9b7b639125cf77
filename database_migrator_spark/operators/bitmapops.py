"""Exact mergeable distinct-count structures: 64-bit-word user bitmaps.

The scale problem these solve: COUNT(DISTINCT user) per hour AND per day
AND per week normally means one full shuffle of the raw corpus per
granularity (or ``count_distinct`` re-aggregation that cannot reuse finer
levels).  A roaring-style bitmap — here the minimal dense variant: one
BIGINT word per 63-user block, bit i set when user (word*63 + i) was seen
— is an EXACT distinct sketch with an associative, commutative merge
(bitwise OR).  The corpus is shuffled once to the finest granularity;
every coarser rollup merges the bounded word table, never rescans raw
events.  HLL (q14/q95) gives the same mergeability with ~2% error; the
bitmap is the exact-tier answer when user-id space is dense enough
(100 TB-scale: 1e9 users ≈ 16M words/day ≈ 127 MB/day — a small shuffle).

Bits 0..62 only (block size 63, not 64): the BIGINT sign bit is never
set, so cross-engine ``bit_count`` / ``&`` / ``|`` semantics on signed
64-bit values never meet a negative number.

Reference scope note: the reference (Database::Migrator, Perl) has no
analytics surface; these operators belong to the SURVEY §2B mandated
extension tier (E10 distinct-count family: exact + approx + mergeable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_migrator_spark.plans.registry import query
from database_migrator_spark.sources import substrate, table


def user_bitmap_words(events: DataFrame, *keys) -> DataFrame:
    """Fold ``events`` into one row per (*keys, word): bm = OR of the
    per-user bits.  The ONE corpus-sized shuffle of the bitmap family;
    every coarser granularity merges this output with ``merge_words``."""
    return (
        events.select(
            *keys,
            F.expr("user_id DIV 63").alias("w"),
            F.expr("shiftleft(1L, CAST(user_id % 63 AS INT))").alias("bit"),
        )
        .groupBy(*keys, "w")
        .agg(F.bit_or("bit").alias("bm"))
    )


def merge_words(words: DataFrame, *keys) -> DataFrame:
    """Merge a finer word table to coarser ``keys`` (bitwise-OR union) —
    bounded input, no raw-event rescan."""
    return words.groupBy(*keys, "w").agg(F.bit_or("bm").alias("bm"))


def popcount(words: DataFrame, *keys) -> DataFrame:
    """Exact distinct count per ``keys``: sum of per-word popcounts."""
    return words.groupBy(*keys).agg(F.sum(F.bit_count("bm")).alias("n_distinct"))


# (day, word) bitmap fold shared by q190 (retention) and q198
# (stickiness) — one corpus shuffle per session, the dense_hourly_counts /
# doc_term_frequencies substrate pattern.
@substrate("daywords", "events")
def day_user_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return user_bitmap_words(
        e.select(F.date_trunc("day", "ts").alias("d"), "user_id"), "d"
    ).localCheckpoint(eager=True)  # corpus shuffled once, here


@query(
    "q189_bitmap_distinct_rollup",
    oracle="""
    WITH hd AS (
        SELECT date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), dd AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS c
        FROM events GROUP BY 1
    )
    SELECT strftime(hd.d, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(hd.c) AS BIGINT) AS hourly_distinct_sum,
           MAX(dd.c) AS daily_distinct,
           CAST(ROUND(CAST(SUM(hd.c) AS DOUBLE) / MAX(dd.c) * 1000000000)
                AS BIGINT) / 1000000000.0 AS avg_hours_per_user
    FROM hd JOIN dd USING (d)
    GROUP BY 1 ORDER BY 1
    """,
    tags=("distinct", "bitmap", "rollup", "E10", "mergeable"),
    checkpointed_substrate=True,
)
def q189_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hourly AND daily distinct users from ONE corpus shuffle —
    the daily tier merges the hourly word bitmaps (bitwise OR, the
    module-docstring structure), it never re-reads events.  The oracle
    states the semantics (two independent COUNT(DISTINCT) passes); the
    Spark plan is the mergeable formulation a 100 TB pipeline needs:
    raw events are shuffled once to (day, hour, word) granularity, the
    day/week/… rollups are word-table merges whose input is bounded by
    user-space/63 words per day.  ``avg_hours_per_user`` =
    Σ hourly-distinct / daily-distinct — the engagement-intensity read
    (1.0 = every user appears in exactly one hour).  Exact integers
    except the final single division of two exact BIGINTs (1e-9
    fixed-point round on both engines)."""
    e = table(spark, sf_dir, "events")
    hourly_words = user_bitmap_words(
        e.select(
            F.date_trunc("day", "ts").alias("d"),
            F.date_trunc("hour", "ts").alias("h"),
            "user_id",
        ),
        "d",
        "h",
    ).localCheckpoint(eager=True)  # corpus shuffled once; both tiers read this
    hourly = popcount(hourly_words, "d", "h")
    daily = popcount(merge_words(hourly_words, "d"), "d").withColumnRenamed(
        "n_distinct", "daily_distinct"
    )
    per_day = hourly.groupBy("d").agg(
        F.count("*").alias("n_hours"),
        F.sum("n_distinct").alias("hourly_distinct_sum"),
    )
    ratio = F.col("hourly_distinct_sum").cast("double") / F.col(
        "daily_distinct"
    ).cast("double")
    return (
        per_day.join(daily, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_hours",
            "hourly_distinct_sum",
            "daily_distinct",
            (F.round(ratio * F.lit(1e9)).cast("long") / F.lit(1e9)).alias(
                "avg_hours_per_user"
            ),
        )
        .orderBy("day")
    )


@query(
    "q190_bitmap_retention",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), dau AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY d
    ), ret AS (
        SELECT a.d, CAST(COUNT(*) AS BIGINT) AS returning
        FROM du a JOIN du b
          ON b.user_id = a.user_id AND b.d = a.d + INTERVAL 1 DAY
        GROUP BY a.d
    )
    SELECT strftime(a.d, '%Y-%m-%d') AS day, a.dau,
           b.dau AS next_dau,
           COALESCE(r.returning, 0) AS returning,
           CAST(ROUND(CAST(COALESCE(r.returning, 0) AS DOUBLE) / a.dau
                      * 1000000000) AS BIGINT) / 1000000000.0 AS retention
    FROM dau a
    JOIN dau b ON b.d = a.d + INTERVAL 1 DAY
    LEFT JOIN ret r ON r.d = a.d
    ORDER BY day
    """,
    tags=("distinct", "bitmap", "retention", "E10", "mergeable"),
    checkpointed_substrate=True,
)
def q190_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day returning users via bitmap INTERSECTION — the
    audience-overlap op (DAU retention, cross-dataset user overlap)
    computed as bitwise AND of two days' word bitmaps + popcount,
    instead of a corpus-sized user-level self-join: after the one
    (day, word) fold, each day-pair intersection touches only
    user-space/63 words, joined on the SAME word key the fold shuffled
    on.  The oracle states the semantics as the naive distinct-user
    self-join.  retention = returning / dau — one exact-integer
    division, 1e-9-rounded."""
    day_words = day_user_words(spark, sf_dir)
    dau = popcount(day_words, "d").withColumnRenamed("n_distinct", "dau")
    nxt = day_words.select(
        (F.col("d") - F.expr("INTERVAL 1 DAY")).alias("d"),
        "w",
        F.col("bm").alias("bm_next"),
    )
    # the word table scales with user-space/63 — an unbounded derived
    # table, so the day-pair intersection is pinned to a shuffle join on
    # the SAME (d, w) key the fold shuffled on (never broadcast)
    returning = (
        day_words.join(nxt.hint("shuffle_merge"), ["d", "w"])
        .select("d", F.bit_count(F.col("bm").bitwiseAND(F.col("bm_next"))).alias("rc"))
        .groupBy("d")
        .agg(F.sum("rc").alias("returning"))
    )
    dau_next = dau.select(
        (F.col("d") - F.expr("INTERVAL 1 DAY")).alias("d"), F.col("dau").alias("next_dau")
    )
    ret0 = F.coalesce("returning", F.lit(0))
    rate = ret0.cast("double") / F.col("dau").cast("double")
    return (
        dau.join(dau_next, "d")
        .join(returning, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "next_dau",
            ret0.alias("returning"),
            (F.round(rate * F.lit(1e9)).cast("long") / F.lit(1e9)).alias("retention"),
        )
        .orderBy("day")
    )


@query(
    "q198_bitmap_stickiness",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), dau AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM du GROUP BY d
    ), days AS (
        SELECT DISTINCT d FROM du
    ), wau AS (
        SELECT a.d, CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS c
        FROM days a JOIN du b
          ON b.d BETWEEN a.d - INTERVAL 6 DAY AND a.d
        GROUP BY a.d
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day,
           dau.c AS dau, wau.c AS wau,
           CAST(ROUND(CAST(dau.c AS DOUBLE) / wau.c * 1000000000)
                AS BIGINT) / 1000000000.0 AS stickiness
    FROM dau JOIN wau ON wau.d = dau.d
    ORDER BY day
    """,
    tags=("distinct", "bitmap", "stickiness", "rolling-window", "E10"),
    checkpointed_substrate=True,
)
def q198_bitmap_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio every product
    dashboard tracks — with the trailing-7-day WAU computed as a
    ROLLING BITMAP UNION: each day's word bitmaps are replayed into the
    7 target days they contribute to (explode over offsets 0..6, the
    windowed-sketch-merge pattern), then OR-merged per (target day,
    word) and popcounted.  The raw corpus is shuffled once (the shared
    day_user_words checkpoint, reused by q190); the rolling union runs
    entirely on the bounded word table — the oracle's day x user
    self-join over the raw corpus, which a naive COUNT(DISTINCT) over a
    7-day window implies, never happens.  Partial leading windows are
    included (WAU over however many of the 7 days exist), matching the
    oracle's BETWEEN semantics."""
    day_words = day_user_words(spark, sf_dir)
    days = day_words.select("d").distinct()
    targets = (
        day_words.select(
            "d", "w", "bm", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
        )
        .select(
            F.expr("d + make_dt_interval(off)").alias("d"), "w", "bm"
        )
        .join(F.broadcast(days), "d", "left_semi")
    )
    wau = popcount(merge_words(targets, "d"), "d").withColumnRenamed(
        "n_distinct", "wau"
    )
    dau = popcount(day_words, "d").withColumnRenamed("n_distinct", "dau")
    ratio = F.col("dau").cast("double") / F.col("wau").cast("double")
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.round(ratio * F.lit(1e9)).cast("long") / F.lit(1e9)).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# q223's HLL constant: alpha_256 * m^2 * 2^49 with alpha_256 =
# 0.7213/(1 + 1.079/256) (Flajolet et al.'s bias correction for m=256),
# precomputed in Python and inlined as the SAME double literal in both
# engines so the raw estimate K/S is one identical double division.
_HLL_M = 256
_HLL_K_NUM = 0.7213 / (1 + 1.079 / 256) * (_HLL_M * _HLL_M) * float(2**49)


def hll_registers(frame: DataFrame, id_col: str, *keys: str) -> DataFrame:
    """Per-``keys`` portable-HLL register partials over ``id_col``:
    md5-based bucket (first byte, m=256) and rank rho = leading-zero
    bits of the next 48 bits + 1 via pure hex-string arithmetic (q223's
    construction — any engine with md5 agrees bit-for-bit), reduced to
    MAX(rho) per (keys, bucket). One map-side-combinable aggregate, NO
    pre-distinct (duplicates cannot move a MAX); registers are the
    mergeable sketch — register-wise MAX across partials IS the
    lossless HLL union (q255's streaming merge relies on this)."""
    h = F.md5(F.col(id_col).cast("string"))
    parts = frame.select(
        *keys,
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
        F.substring(h, 3, 12).alias("h12"),
    )
    rest = F.expr("trim(LEADING '0' FROM h12)")
    d = F.substring(rest, 1, 1)
    extra = (
        F.when(d == "1", 3)
        .when(d.isin("2", "3"), 2)
        .when(d.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = F.when(rest == "", 49).otherwise(
        4 * (12 - F.length(rest)) + extra + 1
    )
    return (
        parts.select(*keys, "bucket", rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").cast("long").alias("m_j"))
    )


def hll_scoped_sums(regs: DataFrame, scope_col: str) -> DataFrame:
    """From per-``scope_col`` registers to the exact per-scope harmonic
    sum S = Σ 2^(49−M_j) (one BIGINT ≤ 2^57) and empty-register count,
    with an 'ALL' scope produced BY MERGING the per-scope registers
    (register-wise MAX — the lossless HLL union). Missing buckets are
    spine-filled with 0 so every scope sums over exactly m registers."""
    spark = regs.sparkSession
    types = regs.select(scope_col).distinct()
    spine = types.crossJoin(
        F.broadcast(
            spark.range(_HLL_M).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    full_regs = spine.join(regs, [scope_col, "bucket"], "left").select(
        scope_col,
        "bucket",
        F.coalesce("m_j", F.lit(0).cast("long")).alias("m_j"),
    )
    merged = full_regs.groupBy("bucket").agg(F.max("m_j").alias("m_j")).select(
        F.lit("ALL").alias("scope"), "bucket", "m_j"
    )
    scoped = full_regs.select(
        F.col(scope_col).alias("scope"), "bucket", "m_j"
    ).unionByName(merged)
    return scoped.groupBy("scope").agg(
        F.sum(F.expr("shiftright(562949953421312L, cast(m_j AS int))")).alias("s"),
        F.sum((F.col("m_j") == 0).cast("long")).alias("n_empty"),
    )


def hll_estimate6(s: Column, n_empty: Column) -> Column:
    """The 1e-6 fixed-point HLL estimate from an exact harmonic sum:
    alpha·m²·2^49 / S (one identical double division on both engines)
    with Flajolet's small-range linear-counting correction m·ln(m/V)
    when the raw estimate ≤ 2.5m and empty registers exist."""
    raw = F.lit(_HLL_K_NUM) / s.cast("double")
    return F.when(
        (raw <= 640.0) & (n_empty > 0),
        F.round(
            F.lit(float(_HLL_M))
            * F.log(F.lit(float(_HLL_M)) / n_empty.cast("double"))
            * 1000000
        ).cast("long"),
    ).otherwise(F.round(raw * 1000000).cast("long"))


@query(
    "q223_hll_register_fidelity",
    oracle=f"""
    WITH hx AS (
        SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events
    ), parts AS (
        SELECT event_type,
               (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
               substr(h, 3, 12) AS h12
        FROM hx
    ), rho AS (
        SELECT event_type, bucket,
               CASE WHEN trim(LEADING '0' FROM h12) = '' THEN 49
                    ELSE 4 * (12 - length(trim(LEADING '0' FROM h12)))
                         + CASE substr(trim(LEADING '0' FROM h12), 1, 1)
                               WHEN '1' THEN 3
                               WHEN '2' THEN 2 WHEN '3' THEN 2
                               WHEN '4' THEN 1 WHEN '5' THEN 1
                               WHEN '6' THEN 1 WHEN '7' THEN 1
                               ELSE 0 END
                         + 1 END AS rho
        FROM parts
    ), regs AS (
        SELECT event_type, bucket, CAST(MAX(rho) AS BIGINT) AS m_j
        FROM rho GROUP BY 1, 2
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), spine AS (
        SELECT event_type, j AS bucket
        FROM types, unnest(range(0, {_HLL_M})) AS u(j)
    ), full_regs AS (
        SELECT s.event_type, s.bucket, COALESCE(r.m_j, 0) AS m_j
        FROM spine s LEFT JOIN regs r
          ON r.event_type = s.event_type AND r.bucket = s.bucket
    ), merged AS (
        SELECT 'ALL' AS scope, bucket, CAST(MAX(m_j) AS BIGINT) AS m_j
        FROM full_regs GROUP BY 2
    ), scoped AS (
        SELECT event_type AS scope, bucket, m_j FROM full_regs
        UNION ALL
        SELECT scope, bucket, m_j FROM merged
    ), ssum AS (
        SELECT scope,
               CAST(SUM(562949953421312 >> m_j) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_empty
        FROM scoped GROUP BY 1
    ), ex AS (
        SELECT event_type AS scope,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY 1
        UNION ALL
        SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
    ), est AS (
        SELECT ssum.scope, ex.n_exact, ssum.n_empty,
               CASE WHEN ({_HLL_K_NUM!r} / CAST(s AS DOUBLE)) <= 640.0
                         AND n_empty > 0
                    THEN CAST(ROUND({_HLL_M}.0 * ln({_HLL_M}.0 / n_empty)
                                    * 1000000) AS BIGINT)
                    ELSE CAST(ROUND({_HLL_K_NUM!r} / CAST(s AS DOUBLE)
                                    * 1000000) AS BIGINT) END AS est6
        FROM ssum JOIN ex USING (scope)
    )
    SELECT scope, n_exact, est6 / 1000000.0 AS hll_estimate,
           n_empty AS n_empty_registers,
           CAST(est6 - n_exact * 1000000 AS DOUBLE)
               / (n_exact * 1000000) AS rel_err
    FROM est
    ORDER BY scope
    """,
    tags=("sketch", "hll", "distinct", "mergeable", "fidelity", "E10", "bounded-artifact"),
    checkpointed_substrate=True,
)
def q223_hll_register_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch PORTABLE HyperLogLog with hash-matched registers —
    upgrades the HLL tier from q95's rows-only engine sketch to the
    full E10 evidence standard (KMV q221 / bitmaps q189 already have
    it): md5-based bucket (first byte, m=256) and rank rho = leading
    zero bits of the next 48 bits + 1, computed by pure hex-string
    arithmetic on BOTH engines (leading-'0' trim + one CASE over the
    first nonzero digit — no float log2 whose boundary rounding could
    disagree); per-scope registers are MAX(rho) per bucket, the 'ALL'
    row is produced BY MERGING the per-type registers (register-wise
    MAX — the lossless HLL union), and the harmonic sum is EXACT:
    Σ 2^(49−M_j) as one BIGINT (≤ 2^57), so the raw estimate
    alpha·m²·2^49 / S is a single identical double division. Flajolet
    small-range correction (linear counting m·ln(m/V)) included and
    1e-6 fixed-pointed. The exact distinct counts are the ground-truth
    side a fidelity query exists for. Shape at scale: NO pre-distinct —
    duplicates cannot move a MAX, so the register build is one
    map-side-combinable aggregate over the raw stream into <=
    types×256 rows; everything after is bounded."""
    e = table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = hll_registers(e, "user_id", "event_type").localCheckpoint(
        eager=True
    )  # bounded: <= types x 256 rows
    ssum = hll_scoped_sums(regs, "event_type")
    ex = (
        e.groupBy(F.col("event_type").alias("scope"))
        .agg(F.countDistinct("user_id").alias("n_exact"))
        .unionByName(
            e.agg(F.countDistinct("user_id").alias("n_exact")).select(
                F.lit("ALL").alias("scope"), "n_exact"
            )
        )
    )
    est6 = hll_estimate6(F.col("s"), F.col("n_empty"))
    return (
        ssum.join(ex, "scope")
        .select(
            "scope",
            "n_exact",
            (est6 / F.lit(1000000.0)).alias("hll_estimate"),
            F.col("n_empty").alias("n_empty_registers"),
            (
                (est6 - F.col("n_exact") * 1000000).cast("double")
                / (F.col("n_exact") * 1000000).cast("double")
            ).alias("rel_err"),
        )
        .orderBy("scope")
    )
