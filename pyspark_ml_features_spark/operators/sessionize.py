"""Event-time and temporal family over the events table (SURVEY §2-E
E9/E10): sessionization, tumbling/sliding/session windows, as-of and
interval-overlap joins, time series (date spines, gap fill, OHLC bars),
funnels, cohorts and transition matrices, rolling audiences, and SCD2
temporal joins — batch twins with exact oracles; the Structured Streaming
twins live in pyspark_ml_features_spark/streaming/events.py.

Gap logic uses integer microseconds (unix_micros / epoch_us) — never
seconds-truncated unix_timestamp or float epochs — so both engines compare
identical integers. Session aggregation shuffles once on user_id; the
session-id assignment is a per-user running sum (window, no extra shuffle).
At 100 TB the events table is partitioned by date and bucketed/sorted by
(user_id, ts), which turns the window sort into a mergeable sorted scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def sessionized(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Assign batch session ids: a new session starts when the gap since the
    previous event of the same user exceeds ``gap_us``. Returns the input
    plus ``session_id`` (1-based per user)."""
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts"))
    new_session = F.when(
        us - F.lag(us).over(w) > gap_us, 1).otherwise(0)
    # first event per user: lag is NULL -> otherwise(0); cumulative sum + 1
    return events.withColumn(
        "session_id",
        (F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, 0)) + 1).cast("bigint"))


@register(
    "e9_sessionize",
    oracle=f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessions AS (
    SELECT user_id, event_id, ts, value,
           (sum(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) + 1)::BIGINT AS session_id
    FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       round(sum(value), 6) AS total_value
FROM sessions
GROUP BY user_id, session_id
""",
    tags=("north-star", "E9", "headline"),
)
def e9_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization: lag + running-sum session ids, then one
    aggregate per (user, session). total_value rounded to 6 dp (sum order
    across a session is engine-dependent in the last ulp)."""
    e = table(spark, sf_dir, "events")
    s = sessionized(e)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 6).alias("total_value"))


@register(
    "e10_tumbling_windows",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2, 3
""",
    tags=("north-star", "E10"),
)
def e10_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type — F.window is the
    same construct Structured Streaming uses, so the streaming twin
    (streaming/events.py) shares this exact plan plus a watermark."""
    e = table(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "n_users", "total_value"))


@register(
    "e10b_sliding_windows",
    oracle="""
WITH expanded AS (
    SELECT time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL '15 minutes')
               AS window_start,
           user_id, value
    FROM events, unnest([0, 1, 2, 3]) AS t(k)
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM expanded
GROUP BY 1, 2
""",
    tags=("north-star", "E10"),
)
def e10b_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 15 min slide): every event lands in 4
    overlapping windows. Spark's window() expands exactly like the oracle's
    unnest-of-offsets — epoch-aligned starts (time_bucket's 2000-01-01
    origin differs from the epoch by a whole number of slides)."""
    e = table(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_events", "total_value"))


@register(
    "e19_incremental_rollup",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("north-star", "E10", "incremental"),
)
def e19_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized rollup (continuous-aggregate pattern): the
    hourly rollup of an existing corpus (event_id < N/2) is MERGED with the
    rollup of a new batch (event_id >= N/2) by summing partial aggregates
    per (window, type) — never rescanning history. The oracle is the full
    recompute: merged partials must equal it. total_value rounded to 6 dp
    (partial-sum association differs from the direct sum in the last ulp).

    At 100 TB the stored rollup is partitioned by window date; a new batch
    touches only the partitions its watermark spans — the batch analogue of
    the streaming twin's state store."""
    e = table(spark, sf_dir, "events")
    half = e.agg((F.max("event_id") / 2).cast("bigint").alias("m")).first()["m"]

    def rollup(df):
        return (df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum("value").alias("sum_value")))

    existing = rollup(e.filter(F.col("event_id") < half))
    delta = rollup(e.filter(F.col("event_id") >= half))
    merged = (existing.unionByName(delta)
              .groupBy("w", "event_type")
              .agg(F.sum("n_events").alias("n_events"),
                   F.sum("sum_value").alias("sum_value")))
    return merged.select(
        F.col("w.start").alias("window_start"),
        "event_type", "n_events",
        F.round("sum_value", 6).alias("total_value"))


@register(
    "d42_funnel_stages",
    oracle="""
WITH v AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
    WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT '1_view' AS stage, (SELECT count(*) FROM v) AS n_users
UNION ALL
SELECT '2_view_click', (SELECT count(*) FROM c)
UNION ALL
SELECT '3_view_click_purchase', (SELECT count(*) FROM p)
""",
    tags=("north-star", "E9", "funnel"),
)
def d42_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel: users whose first view precedes a later click
    that precedes a later purchase — the min-timestamp cascade (each stage's
    anchor is the EARLIEST qualifying event, the standard product-analytics
    definition, immune to repeated events).

    100 TB shape: each stage scans the fact with its event_type pushed to
    parquet (selective → most row groups skip), and joins the previous
    stage's per-user anchors — user-cardinality, broadcastable after the
    first stage filter. Nothing user-unbounded shuffles. The alternative
    single-shuffle design (collect_list per user + fold) moves every event
    through one shuffle; at 100 TB three pruned scans beat one full
    shuffle."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage(prev, etype, tcol_prev, tcol):
        s = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            s = (s.join(F.broadcast(prev), "user_id")
                 .filter(F.col("ts") > F.col(tcol_prev)))
        return s.groupBy("user_id").agg(F.min("ts").alias(tcol))

    v = stage(None, "view", None, "t1")
    c = stage(v, "click", "t1", "t2")
    p = stage(c, "purchase", "t2", "t3")
    counts = [v.agg(F.count(F.lit(1)).alias("n_users"))
              .select(F.lit("1_view").alias("stage"), "n_users"),
              c.agg(F.count(F.lit(1)).alias("n_users"))
              .select(F.lit("2_view_click").alias("stage"), "n_users"),
              p.agg(F.count(F.lit(1)).alias("n_users"))
              .select(F.lit("3_view_click_purchase").alias("stage"),
                      "n_users")]
    out = counts[0]
    for c_ in counts[1:]:
        out = out.unionAll(c_)
    return out


@register(
    "d44_sequence_pattern",
    oracle="""
WITH j AS (
    SELECT user_id,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS journey
    FROM events GROUP BY user_id
)
SELECT user_id,
       len(journey)::BIGINT AS journey_len,
       len(regexp_extract_all(journey, 'vcp'))::BIGINT AS n_conversions
FROM j
""",
    tags=("north-star", "E9", "pattern"),
)
def d44_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining (the MATCH_RECOGNIZE family, composed
    from primitives): each user's events collapse — in (ts, event_id)
    order — into a journey string of event-type initials, and conversions
    are counted as non-overlapping ``view→click→purchase`` runs via
    ``regexp_count``. Event-type initials are unique in this schema, so
    the encoding is lossless.

    100 TB shape: one shuffle keyed on user_id; per-user state is the
    journey string (events-per-user bounded), and the regex runs once per
    user in codegen — no joins, no reshuffling, trivially
    watermark-windowable for the streaming twin."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts",
                                               "event_type")
    step = F.struct(F.col("ts"), F.col("event_id"),
                    F.substring("event_type", 1, 1).alias("c"))
    journey = F.concat_ws(
        "", F.transform(F.array_sort(F.collect_list(step)),
                        lambda x: x["c"]))
    return (ev.groupBy("user_id")
            .agg(journey.alias("journey"))
            .select("user_id",
                    F.length("journey").cast("bigint").alias("journey_len"),
                    F.regexp_count("journey", F.lit("vcp")).cast("bigint")
                    .alias("n_conversions")))


@register(
    "e28_session_funnel",
    oracle=f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessions AS (
    SELECT user_id, event_id, ts, event_type,
           (sum(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) + 1)::BIGINT
               AS session_id
    FROM flagged
), per_session AS (
    SELECT user_id, session_id,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS journey
    FROM sessions GROUP BY user_id, session_id
)
SELECT user_id,
       count(*) AS n_sessions,
       sum(CASE WHEN journey LIKE '%v%c%p%' THEN 1 ELSE 0 END)::BIGINT
           AS n_converted
FROM per_session
GROUP BY user_id
""",
    tags=("north-star", "E9", "funnel"),
)
def e28_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel WITHIN session bounds: a session converts when it contains a
    view, then a click, then a purchase in order (subsequence match on the
    per-session journey string — the sessionized refinement of d42's
    lifetime funnel).

    100 TB shape: sessionization shuffles once on user_id; the
    per-(user, session) aggregate and the final per-user rollup both
    reuse that partitioning (hash(user_id) co-locates every finer key),
    so the whole funnel is ONE shuffle + codegen string work."""
    e = table(spark, sf_dir, "events").select("user_id", "event_id", "ts",
                                              "event_type")
    s = sessionized(e)
    step = F.struct(F.col("ts"), F.col("event_id"),
                    F.substring("event_type", 1, 1).alias("c"))
    journey = F.concat_ws(
        "", F.transform(F.array_sort(F.collect_list(step)),
                        lambda x: x["c"]))
    per_session = (s.groupBy("user_id", "session_id")
                   .agg(journey.alias("journey")))
    return (per_session.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum(F.when(F.col("journey").like("%v%c%p%"), 1)
                       .otherwise(0)).cast("bigint").alias("n_converted")))


@register(
    "e37_retention_cohorts",
    oracle="""
WITH weekly AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
    FROM events
), first_wk AS (
    SELECT user_id, min(wk) AS cohort_week FROM weekly GROUP BY user_id
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, wk) / 7 AS BIGINT) AS week_offset,
       count(*) AS n_users
FROM weekly JOIN first_wk USING (user_id)
GROUP BY 1, 2
""",
    tags=("north-star", "E10", "retention"),
)
def e37_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by their FIRST active week
    (the cohort), counted in every subsequent week they return — the
    triangle chart behind every growth dashboard. All values are exact
    (timestamp truncation + integer week arithmetic; the offset divides
    whole days by 7, which is boundary-crossing-agnostic across engines
    because both dates are already week-truncated).

    100 TB shape: the distinct (user, week) activity set and the
    per-user min both shuffle on user_id — hash(user_id) co-locates the
    finer (user, week) key, so the self-join back is exchange-free on the
    activity side, and the final cohort × offset aggregate is tiny
    (|weeks|² cells). The events scan prunes to (user_id, ts). No window
    over a global ordering, no per-cohort recomputation of history."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk"))
    weekly = e.distinct()
    first = weekly.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    j = weekly.join(first, "user_id")
    offset = (F.datediff(F.col("wk"), F.col("cohort_week")) / 7) \
        .cast("bigint")
    return (j.groupBy("cohort_week", offset.alias("week_offset"))
            .agg(F.count(F.lit(1)).alias("n_users")))


@register(
    "e38_rollup_merge_upsert",
    oracle="""
WITH cutoff AS (
    SELECT date_trunc('day', max(ts)) AS c FROM events
), old AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           count(*) AS n, sum(value) AS sv
    FROM events, cutoff WHERE ts < c GROUP BY 1, 2
), delta AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           count(*) AS n, sum(value) AS sv
    FROM events, cutoff WHERE ts >= c GROUP BY 1, 2
)
SELECT coalesce(o.window_start, d.window_start) AS window_start,
       coalesce(o.event_type, d.event_type) AS event_type,
       CAST(coalesce(o.n, 0) + coalesce(d.n, 0) AS BIGINT) AS n_events,
       round(coalesce(o.sv, 0) + coalesce(d.sv, 0), 6) AS total_value,
       CASE WHEN o.window_start IS NULL THEN 'inserted'
            WHEN d.window_start IS NULL THEN 'carried'
            ELSE 'updated' END AS merge_action
FROM old o
FULL OUTER JOIN delta d
  ON o.window_start = d.window_start AND o.event_type = d.event_type
""",
    tags=("north-star", "E10", "incremental", "merge"),
)
def e38_rollup_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-shaped maintenance of e19's hourly rollup (VERDICT r3 task 3):
    the stored rollup (events before the last ingest day) FULL OUTER JOINs
    the new day's partial rollup on the rollup key, coalescing counts/sums
    and tagging each row carried / updated / inserted — e20's upsert plan
    applied to a continuous aggregate, which is exactly what a lakehouse
    MERGE INTO compiles to. The oracle recomputes both sides and merges
    identically; partial sums round 6 dp post-merge (association differs
    across engines — e19's rule).

    100 TB: the join keys are (hour, type) — the delta side only contains
    the ingest day's hours, so with the target partitioned by window date
    only those partitions rewrite; history is never rescanned (the n_events
    sum-merge is associative, which is what makes incremental == full
    recompute)."""
    e = table(spark, sf_dir, "events")
    # driver-side scalar (one tiny action): the ingest-day cutoff
    cutoff = e.agg(F.date_trunc("day", F.max("ts")).alias("c")).first()["c"]

    def rollup(df: DataFrame) -> DataFrame:
        return (df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("value").alias("sv"))
                .select(F.col("w.start").alias("window_start"),
                        "event_type", "n", "sv"))

    old = rollup(e.filter(F.col("ts") < F.lit(cutoff)))
    delta = rollup(e.filter(F.col("ts") >= F.lit(cutoff)))
    o, d = old.alias("o"), delta.alias("d")
    merged = o.join(
        d, (F.col("o.window_start") == F.col("d.window_start"))
        & (F.col("o.event_type") == F.col("d.event_type")), "full_outer")
    return merged.select(
        F.coalesce("o.window_start", "d.window_start").alias("window_start"),
        F.coalesce("o.event_type", "d.event_type").alias("event_type"),
        (F.coalesce("o.n", F.lit(0)) + F.coalesce("d.n", F.lit(0)))
        .cast("bigint").alias("n_events"),
        F.round(F.coalesce("o.sv", F.lit(0.0))
                + F.coalesce("d.sv", F.lit(0.0)), 6).alias("total_value"),
        F.when(F.col("o.window_start").isNull(), "inserted")
         .when(F.col("d.window_start").isNull(), "carried")
         .otherwise("updated").alias("merge_action"))


@register(
    "e14_asof_attribution",
    oracle="""
WITH tagged AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN event_type = 'click' THEN ts END AS click_ts
    FROM events WHERE event_type IN ('click', 'purchase')
), carried AS (
    SELECT user_id, event_id, ts, event_type,
           last_value(click_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS UNBOUNDED PRECEDING) AS last_click_ts
    FROM tagged
)
SELECT user_id, event_id, ts AS purchase_ts, last_click_ts,
       epoch_us(ts) - epoch_us(last_click_ts) AS us_since_click
FROM carried
WHERE event_type = 'purchase'
""",
    tags=("north-star", "asof-join"),
)
def e14_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed shuffle-once: attribute each purchase to the
    user's most recent prior click. Instead of an inequality join (which
    explodes at scale), both event streams union into one per-user ordered
    pass and the click timestamp is carried forward with
    last(ignorenulls) — O(n log n) per user partition, no pair blow-up."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase"))
    tagged = e.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts")))
    w = (Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = tagged.withColumn(
        "last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
    return (carried.filter(F.col("event_type") == "purchase")
            .select("user_id", "event_id",
                    F.col("ts").alias("purchase_ts"),
                    "last_click_ts",
                    (F.unix_micros("ts") - F.unix_micros("last_click_ts"))
                    .alias("us_since_click")))


@register(
    "d29_date_spine",
    oracle="""
WITH bounds AS (
    SELECT date_trunc('day', min(o_orderdate)) AS lo,
           date_trunc('day', max(o_orderdate)) AS hi
    FROM orders
), spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL '1 day')) AS day FROM bounds
), daily AS (
    SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n_orders
    FROM orders GROUP BY 1
)
SELECT s.day, coalesce(d.n_orders, 0)::BIGINT AS n_orders
FROM spine s LEFT JOIN daily d USING (day)
""",
    tags=("engine", "timeseries"),
)
def d29_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily time series: a generated date spine left-joined to
    the daily aggregate — the standard densification pattern (a training
    pipeline's per-day example counts must include empty days). sequence()
    generates the spine engine-side; no driver round-trip."""
    o = table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day"))
    daily = (o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
             .agg(F.count(F.lit(1)).alias("n_orders")))
    return (spine.join(daily, "day", "left")
            .select("day", F.coalesce("n_orders", F.lit(0)).alias("n_orders")))


@register(
    "d9b_range_frame",
    oracle="""
SELECT event_id, user_id, ts, value,
       count(*) OVER w AS n_last_hour,
       round(sum(value) OVER w, 6) AS value_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
    tags=("engine", "D9"),
)
def d9b_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: per-user trailing-hour count/sum keyed on the
    event-time VALUE (not row offsets — simultaneous and unevenly spaced
    events are handled correctly, unlike a ROWS frame). Ordering key is
    integer microseconds so the frame bounds are engine-exact; the trailing
    sum is rounded 6 dp (accumulation order within a frame differs across
    engines)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (Window.partitionBy("user_id").orderBy(us.cast("long"))
         .rangeBetween(-3_600_000_000, 0))
    return e.select(
        "event_id", "user_id", "ts", "value",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 6).alias("value_last_hour"))


@register(
    "d49_interpolate_gaps",
    oracle="""
WITH daily AS (
    SELECT user_id, date_trunc('day', ts) AS day, count(*) AS v
    FROM events GROUP BY user_id, date_trunc('day', ts)
), seg AS (
    SELECT user_id, day, v,
           lead(day) OVER w AS nday, lead(v) OVER w AS nv
    FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
), filled AS (
    SELECT user_id, day, v, nday, nv, u.d AS d
    FROM seg, unnest(CASE WHEN nday IS NULL THEN [day]
                     ELSE generate_series(day, nday - INTERVAL 1 DAY,
                                          INTERVAL 1 DAY) END) AS u(d)
)
SELECT user_id, d AS day,
       CASE WHEN nday IS NULL THEN v::DOUBLE
            ELSE v + (nv - v) * (date_diff('day', day, d)::DOUBLE
                                 / date_diff('day', day, nday)::DOUBLE)
       END AS interp_events
FROM filled
""",
    tags=("engine", "timeseries", "D14"),
)
def d49_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-series gap fill with LINEAR INTERPOLATION: daily event
    counts densified so every day between a user's first and last active
    day gets a value — observed days keep their count, gap days get the
    linear blend between the surrounding observations (the standard
    feature-store densification before sequence models). Counts are exact
    integers, so the single blend division is the only float op and is
    IEEE-identical across engines — exact oracle.

    100 TB shape: one shuffle to the (user, day) aggregate, one window
    (lead) reusing the user partitioning, then a shuffle-free generator
    whose fan-out is bounded by the gap length — history is never
    re-scanned and no driver-side spine materializes."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    daily = (e.groupBy("user_id", F.date_trunc("day", F.col("ts"))
                       .alias("day"))
             .agg(F.count(F.lit(1)).alias("v")))
    w = Window.partitionBy("user_id").orderBy("day")
    seg = daily.select(
        "user_id", "day", "v",
        F.lead("day").over(w).alias("nday"),
        F.lead("v").over(w).alias("nv"))
    days = F.when(
        F.col("nday").isNotNull(),
        F.sequence(F.col("day"),
                   F.col("nday") - F.expr("INTERVAL 1 DAY"),
                   F.expr("INTERVAL 1 DAY"))
    ).otherwise(F.array(F.col("day")))
    filled = seg.select("user_id", "day", "v", "nday", "nv",
                        F.explode(days).alias("d"))
    k = F.datediff(F.col("d"), F.col("day")).cast("double")
    n = F.datediff(F.col("nday"), F.col("day")).cast("double")
    interp = (F.when(F.col("nday").isNull(), F.col("v").cast("double"))
              .otherwise(F.col("v") + (F.col("nv") - F.col("v")) * (k / n)))
    return filled.select("user_id", F.col("d").alias("day"),
                         interp.alias("interp_events"))


SESSION_GAP_45M_US = 45 * 60 * 1_000_000


@register(
    "d67_session_window_batch",
    oracle=f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                     >= {SESSION_GAP_45M_US}
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
    SELECT user_id, ts, value,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 45 MINUTES AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM s
GROUP BY user_id, sid
""",
    tags=("north-star", "E9", "session-window"),
)
def d67_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` in BATCH mode (45 min gap — deliberately a
    second gap parameter next to e9's 30 min lag+cumsum form): Spark merges
    per-user [ts, ts+gap) intervals into sessions inside one aggregate,
    with session_end = last event + gap. The oracle is the gap-and-islands
    rewrite — new session when the gap is >= 45 min, matching
    session_window's half-open interval semantics (an event exactly gap
    after its predecessor starts a NEW session on both engines).

    100 TB: one shuffle on user_id; session state never exceeds one open
    session per user — the same operator Structured Streaming uses (s2), so
    batch backfill and the live stream share a plan."""
    e = table(spark, sf_dir, "events")
    return (e.groupBy(F.session_window("ts", "45 minutes").alias("w"),
                      "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "total_value"))


ASOF_NEAREST_BAND_US = 30 * 60 * 1_000_000


@register(
    "d79_asof_nearest",
    oracle=f"""
WITH p AS (
    SELECT event_id AS purchase_id, user_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
), c AS (
    SELECT event_id AS click_id, user_id, ts AS c_ts
    FROM events WHERE event_type = 'click'
), cand AS (
    SELECT p.purchase_id, p.user_id, p.p_ts, c.click_id,
           abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) AS diff_us,
           row_number() OVER (
               PARTITION BY p.purchase_id
               ORDER BY abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) ASC,
                        c.c_ts ASC, c.click_id ASC) AS rn
    FROM p JOIN c ON p.user_id = c.user_id
     AND abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) <= {ASOF_NEAREST_BAND_US}
)
SELECT purchase_id, user_id, p_ts, click_id, diff_us
FROM cand WHERE rn = 1
""",
    tags=("north-star", "asof-join", "nearest"),
)
def d79_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-match as-of join (e14 is the backward variant): each
    purchase attributed to the temporally closest click by the same user
    within ±30 min, ties preferring the earlier click. SQL ASOF JOIN only
    looks backward; nearest needs the banded candidate join + rank shape
    declared here.

    100 TB: the candidate join is an equi-join on user_id with the band
    predicate evaluated post-join (one shuffle, bounded candidates per
    purchase because the band is finite); the rank window re-shuffles only
    the candidate set, which is ∝ matches, not ∝ events."""
    e = table(spark, sf_dir, "events")
    p = (e.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("p_ts")))
    c = (e.filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts")))
    diff = F.abs(F.unix_micros("p_ts") - F.unix_micros("c_ts"))
    cand = (p.join(c, (p["user_id"] == c["c_user"])
                   & (diff <= ASOF_NEAREST_BAND_US))
            .withColumn("diff_us", diff))
    w = (Window.partitionBy("purchase_id")
         .orderBy(F.asc("diff_us"), F.asc("c_ts"), F.asc("click_id")))
    return (cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("purchase_id", "user_id", "p_ts", "click_id", "diff_us"))


@register(
    "d81_forward_fill",
    oracle="""
SELECT event_id, user_id, ts,
       last_value(CASE WHEN event_type = 'purchase' THEN event_id END
                  IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS UNBOUNDED PRECEDING) AS last_purchase_id
FROM events
""",
    tags=("engine", "D9", "ignore-nulls"),
)
def d81_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill / last-observation-carried-forward via IGNORE NULLS:
    each event carries the most recent purchase id of the same user — the
    point-in-time enrichment shape (sparse attribute → dense timeline)
    that otherwise needs a self-join against the purchase subset. NULL
    until the user's first purchase, on both engines.

    100 TB: one shuffle on user_id, running state is one value per
    partition row — same cost envelope as any cumulative window; with the
    events table bucketed/sorted by (user_id, ts) the sort collapses."""
    e = table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    purchase_id = F.when(F.col("event_type") == "purchase", F.col("event_id"))
    return e.select(
        "event_id", "user_id", "ts",
        F.last(purchase_id, ignorenulls=True).over(w)
         .alias("last_purchase_id"))


@register(
    "d93_cumulative_distinct_users",
    oracle="""
WITH firsts AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
), by_day AS (
    SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
    FROM firsts GROUP BY first_day
)
SELECT CAST(day AS TIMESTAMP) AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_users
FROM by_day
""",
    tags=("engine", "D8", "window", "distinct", "incremental"),
)
def d93_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count (cumulative users ever seen, by day) via the
    first-seen rewrite: a naive count(DISTINCT) over a growing window
    re-scans every prefix (quadratic); instead each user contributes once
    on their first day (one groupBy-min), days aggregate to new-user
    counts, and a running sum over the |days| rows finishes it. The
    single-partition window is over the DAY relation (thousands of rows
    at any corpus age), never over events. Dates surface as TIMESTAMP on
    both sides (the d74 dtype rule).

    100 TB: two uniformly-keyed shuffles (user_id, then day) with full
    map-side combine; the unbounded-window input is bounded by calendar
    days, so it broadcasts trivially. This is also the incremental shape:
    firsts is a MERGE-maintainable table (e19/e38 pattern)."""
    e = table(spark, sf_dir, "events")
    firsts = (e.groupBy("user_id")
              .agg(F.min(F.col("ts").cast("date")).alias("first_day")))
    by_day = (firsts.groupBy(F.col("first_day").alias("day"))
              .agg(F.count(F.lit(1)).alias("new_users")))
    w = Window.orderBy(F.col("day").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (by_day.select(
        F.col("day").cast("timestamp").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users")))


@register(
    "d95_interval_overlap_join",
    oracle="""
WITH incidents AS (
    SELECT event_id AS incident_id, ts AS t_start,
           ts + INTERVAL 2 HOUR AS t_end
    FROM events WHERE event_type = 'error'
), activity AS (
    SELECT ts, CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT i.incident_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(sum(a.cents) AS BIGINT) AS hit_cents
FROM incidents i JOIN activity a
  ON a.ts >= i.t_start AND a.ts < i.t_end
GROUP BY i.incident_id
""",
    tags=("engine", "join", "range-join", "temporal"),
)
def d95_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap (range) join via BANDED candidate generation: every
    'error' event opens a 2-hour incident window ``[ts, ts+2h)``; count the
    click/purchase activity falling inside each window. A naive inequality
    join is a BroadcastNestedLoopJoin (O(n·m)); instead each incident
    explodes into the ≤3 hour-bands its window can touch and activity joins
    on its OWN hour band — an equi-join, so Spark picks a hash join. Each
    (incident, activity) pair meets in exactly one band (the activity row's
    band), so no pair-dedup distinct() is needed; the exact ``[start, end)``
    containment filter then drops band-only false candidates.

    The oracle is the naive inequality join — DuckDB's IEJoin handles it at
    sf0.01 scale — proving banded candidates + exact filter ≡ the true
    range join.

    100 TB: candidates are bounded by (events per hour-band) x (incidents
    touching that band), never n·m; both sides shuffle once on the band key
    and AQE handles band skew (a hot incident hour salts like any hot hash
    key). Money is summed as floor-cents BIGINT — order-independent, so the
    partial aggregate is exact."""
    ev = table(spark, sf_dir, "events")
    band = lambda c: (F.unix_timestamp(c) / F.lit(3600)).cast("bigint")  # noqa: E731
    inc = (ev.filter(F.col("event_type") == "error")
           .select(F.col("event_id").alias("incident_id"),
                   F.col("ts").alias("t_start"),
                   (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("t_end")))
    inc_b = inc.withColumn(
        "band", F.explode(F.sequence(band(F.col("t_start")),
                                     band(F.col("t_end")))))
    act = (ev.filter(F.col("event_type").isin("click", "purchase"))
           .select(F.col("ts").alias("a_ts"),
                   F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
                   band(F.col("ts")).alias("band")))
    j = inc_b.join(act, "band").filter(
        (F.col("a_ts") >= F.col("t_start")) & (F.col("a_ts") < F.col("t_end")))
    return (j.groupBy("incident_id")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.sum("cents").alias("hit_cents")))


@register(
    "d97_ohlc_bars",
    oracle="""
WITH ranked AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           row_number() OVER (PARTITION BY date_trunc('day', ts)
                              ORDER BY ts, event_id) AS rn_asc,
           row_number() OVER (PARTITION BY date_trunc('day', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn_desc
    FROM events WHERE event_type = 'purchase'
)
SELECT day,
       max(CASE WHEN rn_asc = 1 THEN value END)  AS open,
       max(value)                                AS high,
       min(value)                                AS low,
       max(CASE WHEN rn_desc = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT)                  AS n_trades,
       CAST(sum(cents) AS BIGINT)                AS volume_cents
FROM ranked
GROUP BY day
""",
    tags=("engine", "window", "timeseries", "rollup"),
)
def d97_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars — the classic hypertable time-bucket rollup:
    per day, the first (open) / max (high) / min (low) / last (close)
    purchase value plus trade count and exact cent volume. First/last are
    pinned to the UNIQUE ordering key (ts, event_id) via two row_number
    windows — never ``first()``/``last()`` aggregates, whose result is
    partition-arrival order, i.e. nondeterministic under shuffle. Open,
    high, low, close are single row values (bit-exact across engines);
    volume is floor-cents BIGINT.

    100 TB: day-partitioned windows and the final aggregate share the same
    day key, so Catalyst reuses one Exchange; each day's window sort is
    local to its partition. For market-scale data you'd bucket the sink by
    day — this is exactly e10's tumbling rollup with ordered endpoints
    added."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    day = F.date_trunc("day", "ts")
    base = ev.select(day.alias("day"), "value", "ts", "event_id",
                     F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
    w_asc = Window.partitionBy("day").orderBy(F.col("ts"), F.col("event_id"))
    w_desc = Window.partitionBy("day").orderBy(F.col("ts").desc(),
                                               F.col("event_id").desc())
    ranked = base.select(
        "day", "value", "cents",
        F.row_number().over(w_asc).alias("rn_asc"),
        F.row_number().over(w_desc).alias("rn_desc"))
    return (ranked.groupBy("day")
            .agg(F.max(F.when(F.col("rn_asc") == 1, F.col("value"))).alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max(F.when(F.col("rn_desc") == 1, F.col("value"))).alias("close"),
                 F.count(F.lit(1)).alias("n_trades"),
                 F.sum("cents").alias("volume_cents")))


@register(
    "d98_asof_backward",
    oracle="""
WITH quotes AS (
    SELECT user_id, ts, max(value) AS quote_value
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
), trades AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'purchase'
)
SELECT t.event_id, t.user_id,
       t.value AS trade_value,
       q.quote_value,
       q.ts AS quote_ts
FROM trades t ASOF JOIN quotes q
  ON t.user_id = q.user_id AND t.ts >= q.ts
""",
    tags=("engine", "join", "asof", "temporal"),
)
def d98_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKWARD as-of join — for each trade (purchase), the most recent
    quote (view) by the same user at or before the trade's timestamp —
    checked against DuckDB's NATIVE ``ASOF JOIN`` (d79 covers the NEAREST
    variant SQL ASOF cannot express). Quotes are first deduped to one row
    per (user, ts) (max value), making the as-of match well-defined.

    The Spark plan is the union-merge rewrite, not a join at all: tag
    quotes 0 / trades 1, union, and take ``last(quote_value, ignorenulls)``
    over a per-user window ordered by (ts, tag) — the tag tiebreak sorts a
    quote BEFORE a trade at the same instant, which is exactly ASOF's
    inclusive ``>=``. One shuffle on user_id replaces a join whose
    inequality key would otherwise force per-user sort-merge + backward
    scan.

    100 TB: the union-merge as-of is the canonical point-in-time-correct
    feature join (market data, feature stores). It shuffles each row ONCE
    on the entity key, state per user is a single carried value, and skewed
    users cost a bigger local sort, never a blowup in pairs."""
    ev = table(spark, sf_dir, "events")
    quotes = (ev.filter(F.col("event_type") == "view")
              .groupBy("user_id", "ts")
              .agg(F.max("value").alias("quote_value"))
              .select("user_id", "ts", "quote_value",
                      F.lit(None).cast("long").alias("event_id"),
                      F.lit(None).cast("double").alias("trade_value"),
                      F.lit(0).alias("tag")))
    trades = (ev.filter(F.col("event_type") == "purchase")
              .select("user_id", "ts",
                      F.lit(None).cast("double").alias("quote_value"),
                      "event_id",
                      F.col("value").alias("trade_value"),
                      F.lit(1).alias("tag")))
    u = quotes.unionByName(trades)
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts"), F.col("tag"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    quote_ts = F.when(F.col("tag") == 0, F.col("ts"))
    merged = u.select(
        "user_id", "ts", "tag", "event_id", "trade_value",
        F.last("quote_value", ignorenulls=True).over(w).alias("quote_value"),
        F.last(quote_ts, ignorenulls=True).over(w).alias("quote_ts"))
    return (merged.filter((F.col("tag") == 1)
                          & F.col("quote_value").isNotNull())
            .select("event_id", "user_id", "trade_value",
                    "quote_value", "quote_ts"))


@register(
    "e74_transition_matrix",
    oracle="""
WITH nxt AS (
    SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
    FROM events
), cnt AS (
    SELECT from_type, to_type, count(*) AS n_trans
    FROM nxt WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_trans,
       n_trans * 1000000
           // CAST(sum(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
           AS prob_ppm
FROM cnt
""",
    tags=("engine", "behavioral", "markov"),
)
def e74_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams
    (view→click→purchase...): per user, pair each event with its
    successor via lead() ordered by (ts, event_id); count each
    (from, to) pair; row-normalize into transition probabilities with a
    window sum over the TINY aggregated matrix (|event_types|² rows), not
    the raw events. The behavioral-modeling counterpart of e26's text
    bigram LM, computed on the events table.

    100 TB: one shuffle on user_id for the lead() window (each user's
    stream sorts within its partition), then the (from, to) count
    combines map-side into at most |types|² cells — the normalization
    window touches only those cells. Counts are integers and the
    probability is emitted as fixed-point parts-per-million via
    truncating integer division (the d112 rule)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"))
    cnt = (nxt.filter(F.col("to_type").isNotNull())
           .groupBy("from_type", "to_type").count()
           .withColumnRenamed("count", "n_trans"))
    tot = Window.partitionBy("from_type")
    return (cnt.withColumn("tot", F.sum("n_trans").over(tot))
            .select("from_type", "to_type", "n_trans",
                    F.expr("n_trans * 1000000L DIV tot").alias("prob_ppm")))


@register(
    "d124_sliding_distinct_users",
    oracle="""
WITH du AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), spine AS (SELECT DISTINCT d FROM du)
SELECT CAST(s.d AS TIMESTAMP) AS win_end,
       CAST(count(DISTINCT du.user_id) AS BIGINT) AS distinct_users_7d
FROM spine s JOIN du
  ON datediff('day', du.d, s.d) BETWEEN 0 AND 6
GROUP BY s.d
""",
    tags=("engine", "window", "distinct", "scale"),
)
def d124_sliding_distinct_users(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """SLIDING 7-DAY DISTINCT USERS (rolling audience / WAU): the classic
    metric that canNOT be a window function — count(DISTINCT) over a
    sliding frame isn't frame-decomposable — and canNOT be a per-day
    cumulative (d93's shape) because users leave the window. The
    scale-safe construction: pre-aggregate to DISTINCT (day, user) rows
    (one shuffle, output bounded by days × active users, NOT by event
    volume), then a banded join against the bounded day spine fans each
    row out ≤ 7× before the final distinct aggregate. The event stream
    is touched exactly once.

    100 TB: the pre-aggregate is the whole story — 10^12 events
    collapse to days × users before any windowing. The banded join is
    rewritten as an EQUI-join: each (day, user) row explodes to its ≤ 7
    candidate window ends (`sequence(d, d+6)` — exact 7× fan-out,
    JVM-side), then a broadcast SEMI join against the active-day spine
    keeps real window ends — a hash join, where the naive
    `datediff BETWEEN 0 AND 6` condition has no equi component and
    degrades to a BroadcastNestedLoopJoin (caught by the registry scale
    audit on first registration). Window ends with no activity in
    [d-6, d] don't appear (spine = active days — matches the oracle).
    Day boundary is the session timezone (UTC, pinned by tune_session);
    output day cast to TIMESTAMP on both engines (the d74 rule)."""
    e = table(spark, sf_dir, "events")
    du = (e.select(F.to_date("ts").alias("d"), "user_id").distinct())
    spine = du.select(F.col("d").alias("win_end")).distinct()
    cand = du.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6)))
        .alias("win_end"))
    return (cand.join(F.broadcast(spine), "win_end", "semi")
            .groupBy("win_end")
            .agg(F.count_distinct("user_id").cast("bigint")
                 .alias("distinct_users_7d"))
            .select(F.col("win_end").cast("timestamp").alias("win_end"),
                    "distinct_users_7d"))


@register(
    "d125_scd2_temporal_join",
    oracle="""
WITH dim AS (
    SELECT user_id, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT)
               AS version
    FROM events WHERE event_type = 'view'
)
SELECT f.event_id, f.user_id,
       CAST(f.ts AS TIMESTAMP) AS purchase_ts,
       d.version AS segment_version,
       CAST(d.valid_from AS TIMESTAMP) AS valid_from
FROM events f JOIN dim d
  ON f.user_id = d.user_id
 AND f.ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
WHERE f.event_type = 'purchase'
""",
    tags=("engine", "scd2", "asof", "stewardship"),
)
def d125_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 TEMPORAL FACT-TO-DIMENSION JOIN — the canonical warehouse
    pattern the as-of family (d79/d98/e14 event-to-event) doesn't cover:
    each fact row (purchases) joins the dimension SEGMENT (d66's
    lead-built validity intervals over 'view' status changes) that was
    valid AT ITS TIMESTAMP. The two classic pitfalls are pinned by the
    oracle: half-open intervals (ts >= valid_from AND ts < valid_to — a
    fact exactly on a boundary belongs to the NEW segment), and the
    current segment's NULL valid_to (open-ended, must match). Facts
    before a user's first segment are dropped (inner-join semantics —
    no state existed yet).

    100 TB: the join has an EQUI component (user_id), so it is a plain
    hash/sort-merge join with the interval predicate as a post-join
    filter — never a nested-loop; each user's segment list is bounded
    by their change count, so the per-key fan-out before filtering is
    the dim's per-key cardinality, not the fact count. This is also
    why SCD2 beats snapshot-per-day dims at scale: validity intervals
    keep the dimension linear in CHANGES."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (e.filter(F.col("event_type") == "view")
           .select("user_id", F.col("ts").alias("valid_from"),
                   F.lead("ts").over(w).alias("valid_to"),
                   F.row_number().over(w).cast("bigint").alias("version")))
    facts = (e.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id",
                     F.col("ts").alias("purchase_ts")))
    return (facts.join(dim, "user_id")
            .filter((F.col("purchase_ts") >= F.col("valid_from"))
                    & (F.col("valid_to").isNull()
                       | (F.col("purchase_ts") < F.col("valid_to"))))
            .select("event_id", "user_id",
                    F.col("purchase_ts").cast("timestamp")
                    .alias("purchase_ts"),
                    F.col("version").alias("segment_version"),
                    F.col("valid_from").cast("timestamp")
                    .alias("valid_from")))


@register(
    "d126_time_to_convert",
    oracle="""
WITH su AS (
    SELECT user_id, min(ts) AS t0 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
), pu AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'purchase' GROUP BY user_id
), conv AS (
    SELECT date_trunc('week', t0) AS cohort_week,
           CAST(date_diff('second', t0, t1) AS DOUBLE) AS sec
    FROM su JOIN pu USING (user_id) WHERE t1 > t0
)
SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
       CAST(count(*) AS BIGINT) AS n_converted,
       median(sec) AS median_seconds,
       quantile_cont(sec, 0.9) AS p90_seconds
FROM conv GROUP BY cohort_week
""",
    tags=("engine", "funnel", "temporal", "stats"),
)
def d126_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT distribution per signup cohort: for users whose
    first purchase FOLLOWS their first signup, the median and p90
    seconds from signup to conversion, grouped by signup week — the
    timing half of the funnel family (d42/e28 count WHO converts; this
    measures HOW FAST, which is what activation experiments move).

    Parity mechanics: the interval is whole SECONDS as exact integers
    (Spark's unix_timestamp floors both endpoints; DuckDB's
    date_diff('second') counts the same boundary crossings), cast to
    DOUBLE once before the order statistics — Spark median/percentile
    bit-match DuckDB median/quantile_cont on doubles (the d51 probe).
    Users converting at-or-before signup (data glitches) are excluded
    on both sides.

    100 TB: two per-user min-aggregates (one shuffle each, map-side
    combined), a user-key join, then a cohort-sized aggregate — event
    volume collapses at the first aggregate."""
    e = table(spark, sf_dir, "events")
    su = (e.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min("ts").alias("t0")))
    pu = (e.filter(F.col("event_type") == "purchase")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    conv = (su.join(pu, "user_id")
            .filter(F.col("t1") > F.col("t0"))
            .select(F.date_trunc("week", "t0").alias("cohort_week"),
                    (F.unix_timestamp("t1") - F.unix_timestamp("t0"))
                    .cast("double").alias("sec")))
    return (conv.groupBy("cohort_week")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_converted"),
                 F.median("sec").alias("median_seconds"),
                 F.percentile("sec", 0.9).alias("p90_seconds"))
            .select(F.col("cohort_week").cast("timestamp")
                    .alias("cohort_week"),
                    "n_converted", "median_seconds", "p90_seconds"))


@register(
    "e106_session_pack_unpack_roundtrip",
    oracle="""
WITH flagged AS (
    SELECT event_id, user_id, ts, event_type,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
    SELECT event_id, user_id, ts, event_type,
           (sum(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) + 1)::BIGINT
               AS session_id
    FROM flagged
)
SELECT event_id, user_id, ts, event_type,
       min(ts) OVER (PARTITION BY user_id, session_id) AS session_start
FROM s
""",
    tags=("north-star", "E9", "sessionize", "integration"),
)
def e106_session_pack_unpack_roundtrip(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """SESSION-CONTAINER round-trip — e9's gap sessionization run FORWARD
    into MATERIALIZED session rows (one row per session carrying the
    sorted event array, the form a session store or replay log persists)
    then INVERTED (explode the containers back to events), with each
    event annotated by its session's start taken FROM THE CONTAINER. The
    oracle recomputes the gap-and-islands assignment + per-session min
    independently, so the hash pins:

    - the session assignment is a PARTITION of events — an event dropped,
      duplicated, or torn across sessions by the pack/unpack breaks the
      row set;
    - the container's internal order/extent is right — session_start
      comes from element 0 of the packed array, not a window over the
      original rows, so a mis-sorted or mis-bounded container surfaces
      as a wrong session_start even when the event rows survive.

    100 TB: one shuffle on user_id (the e9 window), one on the
    (user, session) container key; per-container state is bounded by
    session length (the gap bound), never user history. JVM-pure."""

    ev = (table(spark, sf_dir, "events")
          .select("event_id", "user_id", "ts", "event_type"))
    s = sessionized(ev)
    # PACK: one row per session; struct order (ts, event_id) makes the
    # sorted array's element 0 the session's first event.
    packed = (s.groupBy("user_id", "session_id")
              .agg(F.array_sort(F.collect_list(
                  F.struct("ts", "event_id", "event_type"))).alias("evs")))
    # UNPACK: explode the container; session_start read from the
    # container itself (element 0), not recomputed from raw rows.
    return (packed
            .select("user_id",
                    F.element_at("evs", 1)["ts"].alias("session_start"),
                    F.explode("evs").alias("e"))
            .select(F.col("e.event_id").alias("event_id"),
                    "user_id",
                    F.col("e.ts").alias("ts"),
                    F.col("e.event_type").alias("event_type"),
                    "session_start"))


@register(
    "d149_scd2_build_probe_roundtrip",
    oracle="""
WITH dedup AS (
    SELECT user_id, ts, max_by(event_type, event_id) AS event_type
    FROM events GROUP BY user_id, ts
), iv AS (
    SELECT user_id, epoch_us(ts) AS from_us, event_type,
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts))
               AS to_us
    FROM dedup
)
SELECT user_id, (from_us + to_us) // 2 AS probe_us,
       event_type AS recovered_type
FROM iv
WHERE to_us IS NOT NULL
""",
    tags=("engine", "temporal", "scd2", "asof", "integration"),
)
def d149_scd2_build_probe_roundtrip(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """SCD2 BUILD-THEN-PROBE round-trip — construct a type-2 dimension
    from the event stream (one validity interval per (user, ts) state
    change, valid_to = next change, the d66/d125 machinery) and then
    POINT-IN-TIME-PROBE it at every interval's midpoint through a real
    as-of join (d98's union-merge rewrite). The oracle derives each
    midpoint's answer BY CONSTRUCTION (the midpoint lies inside its own
    interval), while Spark derives it BY EXECUTING the as-of machinery
    against the built dimension — so the hash pins the entire temporal
    stack at once: the state dedup (max_by on the unique event_id), the
    interval construction (lead over the change sequence: gap-free,
    non-overlapping), and the as-of semantics (backward-inclusive match,
    state-before-probe tag ordering at equal timestamps — midpoints of
    1-µs intervals collapse onto valid_from, which the tag tiebreak must
    resolve to the interval's OWN state).

    100 TB: the union-merge as-of shuffles each row ONCE on the entity
    key (no inequality join, no per-user pair blowup — d98's economics);
    the built dimension is materialized once (probe_checkpoint) because
    both the state side and the probe side read it and AQE does not
    reuse cross-branch exchanges. Micros arithmetic end to end (the
    sessionize rule: integer epoch_us on both engines)."""
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    ev = table(spark, sf_dir, "events")
    # 1. BUILD: state changes (dedup to one type per (user, ts)) ->
    # validity intervals [from_us, to_us).
    dedup = (ev.groupBy("user_id", "ts")
             .agg(F.max_by("event_type", "event_id").alias("event_type")))
    wu = Window.partitionBy("user_id").orderBy("from_us")
    scd2 = probe_checkpoint(
        dedup.select("user_id",
                     F.unix_micros("ts").alias("from_us"),
                     "event_type")
        .withColumn("to_us", F.lead("from_us").over(wu)),
        "d149.scd2")

    # 2. PROBE SET: every closed interval's midpoint.
    probes = (scd2.filter(F.col("to_us").isNotNull())
              .select("user_id",
                      F.expr("(from_us + to_us) DIV 2").alias("t_us")))

    # 3. AS-OF (union-merge, d98): states tag 0, probes tag 1; at equal
    # instants the state sorts first (backward-INCLUSIVE match).
    states = scd2.select("user_id", F.col("from_us").alias("t_us"),
                         F.lit(0).alias("tag"), "event_type")
    p = probes.select("user_id", "t_us", F.lit(1).alias("tag"),
                      F.lit(None).cast("string").alias("event_type"))
    w = (Window.partitionBy("user_id").orderBy("t_us", "tag")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = states.unionByName(p).select(
        "user_id", "t_us", "tag",
        F.last("event_type", ignorenulls=True).over(w).alias("recovered"))
    return (merged.filter(F.col("tag") == 1)
            .select("user_id", F.col("t_us").alias("probe_us"),
                    F.col("recovered").alias("recovered_type")))
