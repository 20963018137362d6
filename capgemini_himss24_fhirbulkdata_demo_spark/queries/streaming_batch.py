"""Batch equivalents of the streaming window operators (SURVEY §2B
Streaming row). The Structured Streaming layer
(:mod:`..streaming`) runs the *same* logical shapes via readStream;
these batch twins are the oracle-checkable contract (streaming output
== batch output on a replayed, completed source — asserted in
tests/test_streaming.py).

Reference anchor: the ``_since`` incremental cursor
(``FetchBulkData/__init__.py:609-613``) and the polling loop
(``:282-326``) are the reference's hand-rolled micro-batch trigger;
Spark's window()/session_window() + watermark subsume them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "x30_tumbling_window",
    oracle="""
    SELECT STRFTIME(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def x30_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows: window() groupBy — identical logical
    plan under readStream with a watermark (streaming layer)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "x31_sliding_window",
    oracle="""
    WITH exploded AS (
      SELECT UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
               AS w_start,
             event_type, user_id, value
      FROM events)
    SELECT STRFTIME(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM exploded
    GROUP BY 1
    ORDER BY window_start
    """,
)
def x31_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h size, 30 min slide): every event lands in
    two windows; the oracle materializes the window-assignment
    expansion explicitly (which is exactly what Spark's window()
    Expand node does)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start")
    )


@register(
    "x32_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events WHERE user_id <= 50),
    marked AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END
               AS new_session
      FROM ordered),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked)
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           STRFTIME(MAX(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def x32_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap): session_window() in batch; the
    oracle is the classic gaps-and-islands rewrite. Session end =
    last event + gap (Spark's session_window semantics).

    Note: STRFTIME second-truncates; the fixture's timestamps carry
    microseconds, so start/end strings still align because both
    engines truncate identically on format.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    return (
        ev.groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "x33_interval_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS view_id, b.event_id AS purchase_id,
           CAST(DATE_DIFF('second', a.ts, b.ts) AS BIGINT) AS lag_sec
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    ORDER BY a.user_id, view_id, purchase_id
    """,
)
def x33_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin: view→purchase
    attribution within a 1-hour window. Under readStream this is the
    watermarked stream-stream join (both sides bounded by the interval
    condition so state is evictable); in batch it is a plain
    range-bounded self-join shuffled on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("event_id").alias("view_id"), F.col("ts").alias("ts_a")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_b"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("ts_b"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a")).alias("lag_sec"),
        )
        .orderBy("user_id", "view_id", "purchase_id")
    )


@register(
    "q79_gap_fill",
    oracle="""
    WITH c AS (
      SELECT DATE_TRUNC('hour', ts) AS hb, COUNT(*) AS n_events
      FROM events WHERE event_type = 'click' GROUP BY hb),
    s AS (
      SELECT UNNEST(GENERATE_SERIES((SELECT MIN(hb) FROM c),
                                    (SELECT MAX(hb) FROM c),
                                    INTERVAL '1 hour')) AS hb)
    SELECT STRFTIME(s.hb, '%Y-%m-%d %H:%M:%S') AS hour_start,
           COALESCE(c.n_events, 0) AS n_events
    FROM s LEFT JOIN c ON s.hb = c.hb
    ORDER BY hour_start
    """,
)
def q79_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densify + zero-fill: hourly click counts with every
    missing hour materialized (the resample/gap-fill op reporting and
    feature pipelines need before window functions make sense).

    The dense hour spine comes from sequence() over the observed
    min/max — a 1-row aggregate exploded, never a driver action. At
    100 TB the spine is tiny (hours, not rows); the left join
    broadcasts it.
    """
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.date_trunc("hour", "ts").alias("hb"))
        .agg(F.count("*").alias("n_events"))
    )
    spine = (
        c.agg(F.min("hb").alias("lo"), F.max("hb").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hb")
        )
    )
    return (
        spine.join(c, "hb", "left")
        .select(
            F.date_format("hb", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .orderBy("hour_start")
    )


@register(
    "x35_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id),
    n AS (SELECT (SELECT COUNT(*) FROM v) AS n1,
                 (SELECT COUNT(*) FROM c) AS n2,
                 (SELECT COUNT(*) FROM p) AS n3)
    SELECT '1_view' AS step, CAST(n1 AS BIGINT) AS n_users,
           CAST(NULL AS DOUBLE) AS conv_from_prev FROM n
    UNION ALL
    SELECT '2_click', CAST(n2 AS BIGINT),
           FLOOR(CAST(n2 AS DOUBLE) / n1 * 1e4) / 1e4 FROM n
    UNION ALL
    SELECT '3_purchase', CAST(n3 AS BIGINT),
           FLOOR(CAST(n3 AS DOUBLE) / n2 * 1e4) / 1e4 FROM n
    ORDER BY step
    """,
)
def x35_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per user, each step
    counts only events strictly AFTER that user's previous step's
    first event — the product-analytics conversion query. Step
    conversion = n_step / n_prev, floor-truncated.

    Implementation (r11, guide §1.2/§2.4): the old stepwise
    min-aggregates re-joined forward re-derived the event scan for
    every stage and its count (six scans, two user-keyed joins).
    Each step's first-qualifying timestamp is now a chained
    conditional-min WINDOW over ONE user_id exchange — t2's
    condition reads t1 from the previous window over the SAME
    partitioning, so no further shuffle — and the three user counts
    come from one count-non-null aggregate. Step semantics are
    identical: a null previous step nulls the comparison, so the
    conditional min skips exactly the users the old join dropped.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    e = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    e = e.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    e = e.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = e.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )
    n = per_user.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    conv2 = F.floor(F.col("n2").cast("double") / F.col("n1") * F.lit(1e4)) / F.lit(1e4)
    conv3 = F.floor(F.col("n3").cast("double") / F.col("n2") * F.lit(1e4)) / F.lit(1e4)
    steps = n.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_view").alias("step"),
                    F.col("n1").alias("n_users"),
                    F.lit(None).cast("double").alias("conv_from_prev"),
                ),
                F.struct(
                    F.lit("2_click").alias("step"),
                    F.col("n2").alias("n_users"),
                    conv2.alias("conv_from_prev"),
                ),
                F.struct(
                    F.lit("3_purchase").alias("step"),
                    F.col("n3").alias("n_users"),
                    conv3.alias("conv_from_prev"),
                ),
            )
        ).alias("s")
    )
    return steps.select("s.step", "s.n_users", "s.conv_from_prev").orderBy("step")


@register(
    "x34_time_rollup",
    oracle="""
    SELECT COALESCE(STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           COALESCE(STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S'), 'ALL')
             AS hour,
           CAST(GROUPING(DATE_TRUNC('day', ts)) * 2
                + GROUPING(DATE_TRUNC('hour', ts)) AS BIGINT) AS grain,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id <= 200
    GROUP BY GROUPING SETS ((DATE_TRUNC('day', ts), DATE_TRUNC('hour', ts),
                             event_type),
                            (DATE_TRUNC('day', ts), event_type),
                            (event_type))
    ORDER BY grain, day, hour, event_type
    """,
)
def x34_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hour, day, and total
    grains of the same aggregate in ONE grouping-sets pass (one fact
    shuffle feeds every resolution — at 100 TB this replaces three
    separate scans with one, the continuous-aggregate pattern).
    ``grain`` disambiguates levels via GROUPING() exactly like q09.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 200)
    ev.createOrReplaceTempView("__x34_events")
    return spark.sql(
        """
        SELECT COALESCE(DATE_FORMAT(DATE_TRUNC('day', ts), 'yyyy-MM-dd'), 'ALL')
                 AS day,
               COALESCE(DATE_FORMAT(DATE_TRUNC('hour', ts),
                                    'yyyy-MM-dd HH:mm:ss'), 'ALL') AS hour,
               CAST(GROUPING(DATE_TRUNC('day', ts)) * 2
                    + GROUPING(DATE_TRUNC('hour', ts)) AS BIGINT) AS grain,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM __x34_events
        GROUP BY GROUPING SETS ((DATE_TRUNC('day', ts), DATE_TRUNC('hour', ts),
                                 event_type),
                                (DATE_TRUNC('day', ts), event_type),
                                (event_type))
        ORDER BY grain, day, hour, event_type
        """
    )


@register(
    "x36_ewma",
    oracle="""
    WITH ordered AS (
      SELECT user_id, LIST(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      FROM events
      WHERE user_id <= 50 AND event_type = 'click'
      GROUP BY user_id)
    SELECT user_id,
           CAST(LEN(vals) AS BIGINT) AS n_obs,
           ROUND(LIST_REDUCE(vals, (acc, x) -> acc * 0.5 + x * 0.5), 6)
             AS ewma_half
    FROM ordered
    ORDER BY user_id
    """,
)
def x36_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (alpha = 0.5),
    computed as a SEQUENTIAL fold over the time-ordered value list —
    the recurrence acc*(1-a) + x*a is order-sensitive, so it cannot be
    a plain window SUM; the ordered collect + fold makes evaluation
    order explicit and bit-identical across engines (0.5 is a binary-
    exact coefficient; both engines fold left-to-right over the same
    IEEE doubles).

    Scale: one shuffle on user_id; per-user state is that user's
    event list, bounded per key.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("user_id") <= 50) & (F.col("event_type") == "click"))
    )
    ordered = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ts"),
                    F.col("event_id"),
                    F.col("value").cast("double").alias("value"),
                )
            )
        ).alias("seq")
    )
    vals = F.transform(F.col("seq"), lambda s: s["value"])
    # seed with the first observation (DuckDB's LIST_REDUCE convention,
    # and the standard EWMA init: s_0 = x_0), fold the rest
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return (
        ordered.select(
            "user_id",
            F.size(vals).cast("bigint").alias("n_obs"),
            F.round(ewma, 6).alias("ewma_half"),
        )
        .orderBy("user_id")
    )


@register(
    "x71_interval_left_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS view_id, b.event_id AS purchase_id,
           CASE WHEN b.event_id IS NULL THEN 0 ELSE 1 END AS matched
    FROM (SELECT * FROM events WHERE event_type = 'view') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    ORDER BY a.user_id, view_id, purchase_id NULLS FIRST
    """,
)
def x71_interval_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, batch twin: every view
    appears — attributed to each purchase within the hour, or with a
    NULL purchase once the window closes empty. This is the streaming
    semantics where unmatched rows can only be emitted after the
    watermark passes the interval bound (state eviction = the NULL
    emission point); the batch form is the plain left range join.

    Scale: shuffles on user_id like x33; the left-outer adds no state
    beyond the inner form — in streaming both sides' state is still
    evictable at watermark - interval, in batch AQE sizes the join
    sides the same as the inner query.
    """
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("ts_a")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_b"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("ts_b"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            F.when(F.col("purchase_id").isNull(), 0).otherwise(1).alias("matched"),
        )
        .orderBy("user_id", "view_id", F.asc_nulls_first("purchase_id"))
    )


# ---- x110: cascaded re-aggregation (continuous-aggregate refresh) ----


@register(
    "x110_reaggregated_rollup",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def x110_reaggregated_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate refresh correctness: the DAY rollup is
    computed by RE-AGGREGATING hour-level partials (count + exact
    decimal sum), while the oracle aggregates the raw events
    directly — the hash match proves the partials are losslessly
    mergeable, which is the property a hypertable/materialized
    continuous aggregate depends on when it refreshes coarse grains
    from fine ones instead of re-scanning the fact table. Decimal
    addition is exactly associative, so cascade order cannot change
    the result (a double cascade would NOT hash-match — that is why
    the engine keeps partials in decimal until the final cast).

    Scale: the cascade reads |hours|·|types| partial rows instead of
    the raw facts — at 100 TB the refresh cost is proportional to
    the SUMMARY, not the corpus; x34 is the one-pass grouping-sets
    sibling, this is the incremental-maintenance sibling.
    """
    ev = load_table(spark, sf_dir, "events")
    hour = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        )
    )
    return (
        hour.groupBy(
            F.date_format(F.date_trunc("day", "hour_ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            "event_type",
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("s").cast("double").alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


# ---- x113: event-rate anomaly z-scores ----


@register(
    "x113_rate_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY hour),
    stats AS (
      SELECT COUNT(*) AS h,
             SUM(n_events) AS s1,
             SUM(n_events * n_events) AS s2
      FROM hourly)
    SELECT hour, n_events,
           ROUND((CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / h)
                 / SQRT((CAST(h * s2 - s1 * s1 AS DOUBLE))
                        / (CAST(h AS DOUBLE) * (h - 1))), 6) AS z,
           CASE WHEN ABS((CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / h)
                 / SQRT((CAST(h * s2 - s1 * s1 AS DOUBLE))
                        / (CAST(h AS DOUBLE) * (h - 1)))) > 2
                THEN 1 ELSE 0 END AS is_anomaly
    FROM hourly, stats
    ORDER BY hour
    """,
)
def x113_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-rate anomaly monitor: hourly event counts z-scored
    against the corpus of hours (sample variance from the explicit
    integer sums H/S1/S2 — the x89 regression trick, so the only
    float work is one fixed divide/sqrt sequence per row, identical
    on both engines), flagging |z| > 2 hours. The batch twin of the
    alert a streaming pipeline raises when a source stalls or
    floods.

    Scale: one time-bucket agg (uniform key), one 3-integer global
    rollup broadcast back; O(hours) output.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        )
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    stats = hourly.agg(
        F.count("*").alias("h"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    z = (
        F.col("n_events").cast("double")
        - F.col("s1").cast("double") / F.col("h")
    ) / F.sqrt(
        (F.col("h") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("h").cast("double") * (F.col("h") - 1))
    )
    return (
        hourly.crossJoin(F.broadcast(stats))
        .select(
            "hour",
            "n_events",
            F.round(z, 6).alias("z"),
            F.when(F.abs(z) > 2, 1).otherwise(0).alias("is_anomaly"),
        )
        .orderBy("hour")
    )


# ---- x116: inter-arrival latency percentiles per event type ----


@register(
    "x116_interarrival_latency",
    oracle="""
    WITH ordered AS (
      SELECT event_type,
             EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events),
    gaps AS (
      SELECT event_type, gap FROM ordered WHERE gap IS NOT NULL),
    ranked AS (
      SELECT event_type, gap,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY gap, event_type) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM gaps)
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN gap END)
                AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN gap END)
                AS BIGINT) AS p95_us,
           CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN gap END)
                AS BIGINT) AS p99_us,
           CAST(MAX(gap) AS BIGINT) AS max_us
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def x116_interarrival_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival latency distribution per event type — the ops
    dashboard's p50/p95/p99 over consecutive-event gaps. Gaps are
    exact INTEGER microseconds (``unix_micros`` ↔ ``EPOCH_US``), and
    the percentiles are exact rank statistics (rank = ceiling-
    rational ``(q·n + 99) DIV 100`` picked from a per-type
    row_number) — no float ever enters, so the whole op is
    bit-exact. Complements q29 (value percentiles) with the
    time-dimension form and x113 (rate z-scores) with tail behavior.

    Scale: one per-type lag window + one per-type rank window — both
    reuse the same (event_type) partitioning, so the second window
    adds no exchange; at 100 TB the sort inside each type is the
    honest cost of EXACT tail percentiles (x104's mergeable
    histogram is the constant-memory alternative).
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # timestampdiff works on TIMESTAMP_NTZ directly — no session-
    # timezone interpretation anywhere (unix_micros would force an
    # NTZ→TZ cast)
    gaps = (
        ev.select(
            "event_type",
            "ts",
            F.lag("ts").over(w_lag).alias("prev_ts"),
        )
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias("gap"),
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy("gap", "event_type")
    ranked = gaps.select(
        "event_type",
        "gap",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )

    def pick(q: int):
        return F.max(
            F.when(
                F.col("rn") == F.expr(f"({q} * n + 99) DIV 100"),
                F.col("gap"),
            )
        ).cast("bigint")

    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_gaps"),
            pick(50).alias("p50_us"),
            pick(95).alias("p95_us"),
            pick(99).alias("p99_us"),
            F.max("gap").cast("bigint").alias("max_us"),
        )
        .orderBy("event_type")
    )


# ---- x120: event-type Markov transition matrix ----


@register(
    "x120_event_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type AS cur,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    trans AS (
      SELECT prev, cur, COUNT(*) AS n
      FROM ordered WHERE prev IS NOT NULL
      GROUP BY prev, cur),
    totals AS (
      SELECT prev, SUM(n) AS row_total FROM trans GROUP BY prev)
    SELECT t.prev, t.cur, CAST(t.n AS BIGINT) AS n,
           CAST(tt.row_total AS BIGINT) AS row_total,
           ROUND(CAST(t.n AS DOUBLE) / tt.row_total, 6) AS p
    FROM trans t JOIN totals tt ON t.prev = tt.prev
    ORDER BY t.prev, t.cur
    """,
)
def x120_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next = b | current = a) estimated from consecutive
    event pairs within each user's timeline (ts, event_id order) —
    the sequence model behind next-action prediction, anomaly scoring
    (improbable transitions), and funnel design (x35 checks ONE
    prescribed path; this surfaces every empirical path). Integer
    counts, one final division per cell.

    Scale: one per-user lag window (uniform user_id partitioning) +
    one |types|²-bounded pair agg; the matrix and its row totals are
    constant-sized, so the estimate is one pass at any corpus size.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    trans = ordered.groupBy("prev", "cur").agg(F.count("*").alias("n"))
    totals = trans.groupBy("prev").agg(F.sum("n").alias("row_total"))
    return (
        trans.join(F.broadcast(totals), "prev")
        .select(
            "prev",
            "cur",
            F.col("n").cast("bigint").alias("n"),
            F.col("row_total").cast("bigint").alias("row_total"),
            F.round(
                F.col("n").cast("double") / F.col("row_total"), 6
            ).alias("p"),
        )
        .orderBy("prev", "cur")
    )


# ---- x121: RFM user segmentation ----


@register(
    "x121_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT user_id,
             MAX(CAST(ts AS DATE)) AS last_day,
             COUNT(*) AS freq,
             SUM(CAST(value AS DECIMAL(18,6))) AS monetary
      FROM events GROUP BY user_id),
    scored AS (
      SELECT user_id,
             NTILE(4) OVER (ORDER BY last_day DESC, user_id) AS r,
             NTILE(4) OVER (ORDER BY freq DESC, user_id) AS f,
             NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m
      FROM rfm)
    SELECT r, f, m,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def x121_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the product-analytics workhorse): every user
    scored into recency / frequency / monetary quartiles (NTILE over
    total orders — last-active day and counts are integers, monetary
    is the exact decimal sum, user_id breaks every tie, so the
    segment assignment is cross-engine deterministic) and the segment
    matrix reported as user counts per (r, f, m) cell.

    Scale: one per-user agg (uniform key); the three NTILEs are
    global-order windows over the USER table (not events — one row
    per user), the honest cost of global quartiles; per-segment
    rollup is ≤64 cells.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    rfm = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_day"),
        F.count("*").alias("freq"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("monetary"),
    )
    scored = rfm.select(
        F.ntile(4)
        .over(Window.orderBy(F.desc("last_day"), "user_id"))
        .alias("r"),
        F.ntile(4).over(Window.orderBy(F.desc("freq"), "user_id")).alias("f"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary"), "user_id"))
        .alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("r", "f", "m")
    )


# ---- x123: weekday x hour seasonality profile ----


@register(
    "x123_seasonality_profile",
    oracle="""
    WITH cells AS (
      SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) % 7 AS dow,
             CAST(FLOOR(EPOCH(ts - TIMESTAMP '2024-01-01 00:00:00') / 3600)
                  AS BIGINT) % 24 AS hod,
             COUNT(*) AS n
      FROM events GROUP BY dow, hod),
    tot AS (SELECT SUM(n) AS n_all FROM cells)
    SELECT dow, hod, CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(n AS DOUBLE) / (SELECT n_all FROM tot), 6) AS share
    FROM cells
    ORDER BY dow, hod
    """,
)
def x123_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour-of-day load profile over events — the capacity-
    planning heat map. Both axes are INTEGER arithmetic against the
    corpus epoch (days-since DIV, hours-since MOD 24) instead of
    engine weekday/hour functions, which disagree on week start and
    timezone interpretation across engines; `dow` 0 = the epoch's
    weekday (2024-01-01, a Monday). One cell agg + a 168-cell share
    division.

    Scale: single uniform-key agg to a constant 7×24 grid; the share
    join is a 1-row broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    dow = (
        F.expr(
            "CAST(DATEDIFF(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT)"
        )
        % 7
    )
    hod = (
        F.expr(
            "CAST(FLOOR(CAST(timestampdiff(SECOND, "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00', ts) AS DOUBLE) / 3600) "
            "AS BIGINT)"
        )
        % 24
    )
    cells = ev.groupBy(dow.alias("dow"), hod.alias("hod")).agg(
        F.count("*").alias("n")
    )
    tot = cells.agg(F.sum("n").alias("n_all"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hod",
            F.col("n").cast("bigint").alias("n_events"),
            F.round(
                F.col("n").cast("double") / F.col("n_all"), 6
            ).alias("share"),
        )
        .orderBy("dow", "hod")
    )


# ---- x124: CUSUM changepoint detection over hourly rates ----


@register(
    "x124_changepoint_cusum",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR(EPOCH(ts - TIMESTAMP '2024-01-01 00:00:00') / 3600)
                  AS BIGINT) AS hr,
             COUNT(*) AS n
      FROM events GROUP BY event_type, hr),
    stats AS (
      SELECT event_type, COUNT(*) AS h, SUM(n) AS s1
      FROM hourly GROUP BY event_type),
    cusum AS (
      SELECT h.event_type, h.hr,
             SUM(h.n) OVER (PARTITION BY h.event_type ORDER BY h.hr)
               * s.h
             - ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY h.hr)
               * s.s1 AS c_scaled,
             s.h AS n_hours
      FROM hourly h JOIN stats s ON h.event_type = s.event_type),
    best AS (
      SELECT event_type, hr, c_scaled, n_hours,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(c_scaled) DESC, hr) AS rn
      FROM cusum)
    SELECT event_type,
           CAST(hr AS BIGINT) AS change_hr,
           CAST(c_scaled AS BIGINT) AS cusum_scaled,
           CAST(n_hours AS BIGINT) AS n_hours
    FROM best WHERE rn = 1
    ORDER BY event_type
    """,
)
def x124_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the hour where the
    cumulative deviation from the mean rate peaks — the classic
    single-changepoint estimator (the max-|CUSUM| split point). Kept
    ENTIRELY in integers: CUSUM_t·H = prefix_t·H − t·S1 (H hours, S1
    total events), so the argmax compares exact integers — no float
    enters the operator at all, not even a final division.
    Complements x113 (pointwise outlier hours) with the
    level-shift-location question.

    Scale: one (type, hour) agg, a per-type prefix window over the
    hour grid (constant-bounded), and a per-type argmax — all reusing
    the event_type partitioning.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    hr = F.expr(
        "CAST(FLOOR(CAST(timestampdiff(SECOND, "
        "TIMESTAMP_NTZ '2024-01-01 00:00:00', ts) AS DOUBLE) / 3600) "
        "AS BIGINT)"
    )
    hourly = ev.groupBy("event_type", hr.alias("hr")).agg(
        F.count("*").alias("n")
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("h"), F.sum("n").alias("s1")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    cusum = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "hr",
        (
            F.sum("n").over(w) * F.col("h")
            - F.row_number().over(w) * F.col("s1")
        ).alias("c_scaled"),
        F.col("h").alias("n_hours"),
    )
    wb = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("c_scaled"))), "hr"
    )
    return (
        cusum.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("hr").cast("bigint").alias("change_hr"),
            F.col("c_scaled").cast("bigint").alias("cusum_scaled"),
            F.col("n_hours").cast("bigint").alias("n_hours"),
        )
        .orderBy("event_type")
    )


# ---- x127: Kaplan-Meier churn survival curve ----

_X127_CHURN_GAP = 1  # inactive >= 1 day at corpus end => churned
# (fixture events are near-uniform per user, so day-level gaps are the
# only churn signal present; a production pipeline would use 7/30)


@register(
    "x127_km_survival",
    oracle=f"""
    WITH span AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS first_day,
             MAX(CAST(ts AS DATE)) AS last_day
      FROM events GROUP BY user_id),
    horizon AS (SELECT MAX(last_day) AS t_end FROM span),
    obs AS (
      SELECT user_id,
             DATEDIFF('day', first_day, last_day) AS dur,
             CASE WHEN DATEDIFF('day', last_day,
                                (SELECT t_end FROM horizon))
                       >= {_X127_CHURN_GAP}
                  THEN 1 ELSE 0 END AS churned
      FROM span),
    n_tot AS (SELECT COUNT(*) AS n0 FROM obs),
    times AS (
      SELECT dur AS t, COUNT(*) AS d
      FROM obs WHERE churned = 1 GROUP BY dur),
    adj AS (
      SELECT t, d,
             (SELECT n0 FROM n_tot)
             - COALESCE(SUM(d) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             - (SELECT COUNT(*) FROM obs o WHERE o.churned = 0
                AND o.dur < t) AS n_risk
      FROM times),
    surv AS (
      SELECT t, d, n_risk,
             LIST_REDUCE(
               LIST(CAST(n_risk - d AS DOUBLE) / n_risk)
                 OVER (ORDER BY t),
               (x, y) -> x * y) AS s
      FROM adj)
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_churned,
           ROUND(s, 6) AS survival
    FROM surv
    ORDER BY t_days
    """,
)
def x127_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for user churn: a user churns when
    inactive ≥ {g} days at the corpus horizon (else censored);
    duration = active-span days. At each distinct churn time t, the
    at-risk count n_t = users whose observation reaches t (integer
    arithmetic from cumulative churn counts and censored spans), and
    S(t) = Π_{{u ≤ t}} (1 − d_u/n_u) — the product folds in ascending-t
    order on both engines (LIST_REDUCE over an ordered window list ↔
    fold over the sorted collect), so the float sequence is
    bit-identical. The retention curve product teams read, with
    censoring handled properly (naive churn-rate-by-cohort
    understates survival when observation windows differ).

    Scale: one per-user agg, a churn-time rollup (bounded by the day
    grid), and a single ordered fold over that constant-sized grid —
    the event table is touched once.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        F.max(F.col("ts").cast("date")).alias("last_day"),
    )
    t_end = span.agg(F.max("last_day").alias("t_end"))
    obs = span.crossJoin(F.broadcast(t_end)).select(
        F.datediff("last_day", "first_day").alias("dur"),
        F.when(
            F.datediff("t_end", "last_day") >= _X127_CHURN_GAP, 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    n0 = obs.count()
    times = (
        obs.filter(F.col("churned") == 1)
        .groupBy(F.col("dur").alias("t"))
        .agg(F.count("*").alias("d"))
    )
    # censored users leave the risk set when their (shorter) span
    # ends: subtract censored spans strictly below t
    censored = obs.filter(F.col("churned") == 0).select(
        F.col("dur").alias("cdur")
    )
    cens_below = times.join(
        F.broadcast(censored), F.col("cdur") < F.col("t"), "left"
    ).groupBy("t", "d").agg(F.count("cdur").alias("n_cens_below"))
    w_prev = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    adj = cens_below.select(
        "t",
        "d",
        (
            F.lit(n0)
            - F.coalesce(F.sum("d").over(w_prev), F.lit(0))
            - F.col("n_cens_below")
        ).alias("n_risk"),
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = adj.select(
        "t",
        "d",
        "n_risk",
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "t",
                            (
                                (F.col("n_risk") - F.col("d")).cast("double")
                                / F.col("n_risk")
                            ).alias("f"),
                        )
                    ).over(w_cum)
                ),
                lambda s: s["f"],
            ),
            F.lit(1.0),
            lambda acc, x: acc * x,
        ).alias("s"),
    )
    return surv.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_churned"),
        F.round("s", 6).alias("survival"),
    ).orderBy("t_days")


# ---- x137: time-weighted average value (TWAP) ----


@register(
    "x137_twap",
    oracle="""
    WITH ordered AS (
      SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
             DATEDIFF('microsecond', ts,
               LEAD(ts) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id)) AS dt
      FROM events),
    seg AS (
      SELECT event_type, v, dt FROM ordered WHERE dt IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           ROUND(CAST(SUM(v * dt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE), 6)
             AS twap,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS plain_mean
    FROM seg
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def x137_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (the TWAP/metrics
    convention: each observation holds until the next one, so its
    weight is its holding interval) next to the plain mean — the gap
    between them measures sampling-rate bias, the error naive
    averaging commits when observations arrive unevenly. Weights are
    exact integer microseconds (tz-free timestampdiff), v·dt
    accumulates as exact DECIMAL×BIGINT, and each reported average is
    one final division.

    Scale: one per-type lead window + one per-type agg reusing the
    same partitioning; nothing beyond the event scan.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seg = (
        ev.select(
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("v"),
            "ts",
            F.lead("ts").over(w).alias("next_ts"),
        )
        .filter(F.col("next_ts").isNotNull())
        .select(
            "event_type",
            "v",
            F.expr("timestampdiff(MICROSECOND, ts, next_ts)").alias("dt"),
        )
    )
    return (
        seg.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.round(
                F.sum(F.col("v") * F.col("dt")).cast("double")
                / F.sum("dt").cast("double"),
                6,
            ).alias("twap"),
            F.round(
                F.sum("v").cast("double") / F.count("*"), 6
            ).alias("plain_mean"),
        )
        .orderBy("event_type")
    )


# ---- x143: frequent 3-step event paths ----

_X143_TOP = 15


@register(
    "x143_event_paths",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_type AS c,
             LAG(event_type) OVER w AS b,
             LAG(event_type, 2) OVER w AS a
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    paths AS (
      SELECT a, b, c, COUNT(*) AS n
      FROM ordered WHERE a IS NOT NULL
      GROUP BY a, b, c),
    tot AS (SELECT SUM(n) AS n_all FROM paths),
    ranked AS (
      SELECT a, b, c, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, a, b, c) AS rnk
      FROM paths)
    SELECT rnk, a || '>' || b || '>' || c AS path,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / (SELECT n_all FROM tot), 6) AS share
    FROM ranked WHERE rnk <= {_X143_TOP}
    ORDER BY rnk
    """,
)
def x143_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step behavioral paths: consecutive event-type
    triples within each user's timeline, top-{k} by count with
    corpus share — x120's first-order transitions extended one step
    (second-order structure surfaces loops and detours a Markov-1
    model cannot represent). Two lags share ONE window spec; integer
    counts, one division.

    Scale: one per-user window pass + a |types|³-bounded triple agg
    — constant-sized however large the corpus.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("c"),
        F.lag("event_type").over(w).alias("b"),
        F.lag("event_type", 2).over(w).alias("a"),
    ).filter(F.col("a").isNotNull())
    paths = ordered.groupBy("a", "b", "c").agg(F.count("*").alias("n"))
    tot = paths.agg(F.sum("n").alias("n_all"))
    ranked = paths.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("n"), "a", "b", "c")),
    ).filter(F.col("rnk") <= _X143_TOP)
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rnk",
            F.concat_ws(">", "a", "b", "c").alias("path"),
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("n").cast("double") / F.col("n_all"), 6
            ).alias("share"),
        )
        .orderBy("rnk")
    )


# ---- x148: dormancy reactivations per week ----

_X148_GAP_DAYS = 2  # dormancy threshold (fixture activity is dense)


@register(
    "x148_reactivations",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             LAG(CAST(ts AS DATE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_d
      FROM events),
    re AS (
      SELECT user_id, d
      FROM ev
      WHERE prev_d IS NOT NULL
        AND DATEDIFF('day', prev_d, d) >= {_X148_GAP_DAYS}),
    weekly AS (
      SELECT CAST(DATEDIFF('day', DATE '2024-01-01', d) AS BIGINT) // 7
               AS week,
             COUNT(*) AS n_reactivations,
             COUNT(DISTINCT user_id) AS n_users
      FROM re GROUP BY week)
    SELECT week,
           CAST(n_reactivations AS BIGINT) AS n_reactivations,
           CAST(n_users AS BIGINT) AS n_users
    FROM weekly
    ORDER BY week
    """,
)
def x148_reactivations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reactivation tracking: an event is a reactivation when the
    user's previous activity was ≥ {g} days earlier (threshold
    matched to the dense fixture; production uses 7/30) — weekly
    counts of reactivation events and distinct reactivated users,
    the win-back metric between x101's retention (did they stay) and
    x127's churn curve (when did they leave). Integer day arithmetic
    on x101's epoch weeks.

    Scale: one per-user lag window + a week-keyed rollup; nothing
    beyond the event scan.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.lag(F.col("ts").cast("date")).over(w).alias("prev_d"),
    )
    re = lagged.filter(
        F.col("prev_d").isNotNull()
        & (F.datediff("d", "prev_d") >= _X148_GAP_DAYS)
    )
    return (
        re.select(
            F.expr(
                "CAST(DATEDIFF(d, DATE '2024-01-01') AS BIGINT) DIV 7"
            ).alias("week"),
            "user_id",
        )
        .groupBy("week")
        .agg(
            F.count("*").cast("bigint").alias("n_reactivations"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("week")
    )


x148_reactivations.__doc__ = x148_reactivations.__doc__.format(
    g=_X148_GAP_DAYS
)


# ---- x149: DAU/MAU stickiness per month ----


@register(
    "x149_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    dau AS (
      SELECT STRFTIME(DATE_TRUNC('month', d), '%Y-%m') AS month,
             CAST(COUNT(*) AS BIGINT) AS day_user_pairs,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS n_days
      FROM du GROUP BY month),
    mau AS (
      SELECT STRFTIME(DATE_TRUNC('month', d), '%Y-%m') AS month,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM du GROUP BY month)
    SELECT d.month, d.n_days, m.mau,
           ROUND(CAST(d.day_user_pairs AS DOUBLE) / d.n_days, 4)
             AS avg_dau,
           ROUND(CAST(d.day_user_pairs AS DOUBLE)
                 / (d.n_days * m.mau), 6) AS stickiness
    FROM dau d JOIN mau m ON d.month = m.month
    ORDER BY d.month
    """,
)
def x149_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement ratio product
    teams watch (how much of the monthly audience shows up on an
    average day). avg DAU = distinct (day, user) pairs over days in
    month; stickiness divides by the monthly distinct users —
    integer counts, each ratio one division.

    Scale: one distinct (day, user) agg feeds both legs; monthly
    rollups are calendar-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    month = F.date_format(F.date_trunc("month", "d"), "yyyy-MM")
    dau = du.groupBy(month.alias("month")).agg(
        F.count("*").cast("bigint").alias("day_user_pairs"),
        F.countDistinct("d").cast("bigint").alias("n_days"),
    )
    mau = du.groupBy(month.alias("month")).agg(
        F.countDistinct("user_id").cast("bigint").alias("mau")
    )
    return (
        dau.join(mau, "month")
        .select(
            "month",
            "n_days",
            "mau",
            F.round(
                F.col("day_user_pairs").cast("double") / F.col("n_days"), 4
            ).alias("avg_dau"),
            F.round(
                F.col("day_user_pairs").cast("double")
                / (F.col("n_days") * F.col("mau")),
                6,
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


# ---- x150: power-user activity curve ----


@register(
    "x150_power_user_curve",
    oracle="""
    WITH ad AS (
      SELECT user_id, COUNT(DISTINCT CAST(ts AS DATE)) AS active_days
      FROM events GROUP BY user_id),
    tot AS (SELECT COUNT(*) AS n_users FROM ad)
    SELECT CAST(active_days AS BIGINT) AS active_days,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT n_users FROM tot), 6) AS user_share
    FROM ad
    GROUP BY active_days
    ORDER BY active_days
    """,
)
def x150_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user curve (the L30-style histogram): users bucketed by
    how many distinct days they were active — a right-leaning curve
    is a habit product, a left spike is drive-by traffic. Integer
    distinct-day counts; one share division per bucket.

    Scale: one per-user distinct-day agg + a day-count histogram
    bounded by the calendar, with a 1-row total broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    ad = ev.groupBy("user_id").agg(
        F.countDistinct(F.col("ts").cast("date")).alias("active_days")
    )
    tot = ad.agg(F.count("*").alias("n_users"))
    return (
        ad.groupBy("active_days")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .crossJoin(F.broadcast(tot.withColumnRenamed("n_users", "nt")))
        .select(
            F.col("active_days").cast("bigint").alias("active_days"),
            "n_users",
            F.round(
                F.col("n_users").cast("double") / F.col("nt"), 6
            ).alias("user_share"),
        )
        .orderBy("active_days")
    )
