"""Window-function surface (SURVEY §2B Window functions, Sort/limit/top-k).

ranking (row_number/rank/dense_rank/ntile/percent_rank), offsets
(lag/lead), frames (rowsBetween running aggregates), per-group top-k.

Scale note: every window here partitions by a real key (nation,
order, user) — never an empty OVER () on a fact table, which would
serialize into one task. Per-group top-k uses row_number + filter,
which AQE executes as a partial sort per shuffle partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import top_k_per_group
from .registry import register


@register(
    "q30_rank_in_nation",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ROW_NUMBER()  OVER w AS rn,
           RANK()        OVER w AS rnk,
           DENSE_RANK()  OVER w AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_nationkey, rn
    """,
)
def q30_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking trio over a keyed partition; c_custkey tiebreak makes
    row_number deterministic."""
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_nationkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .orderBy("c_nationkey", "rn")
    )


@register(
    "q31_topk_per_group",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM ranked WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def q31_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k through :func:`operators.top_k_per_group`.

    Catalyst plans a WindowGroupLimit (rank-limit pushdown) before the
    full sort at this shape — verified via .explain in tests.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return top_k_per_group(
        orders,
        ["o_custkey"],
        [F.desc("o_totalprice"), "o_orderkey"],
        k=3,
        rank_col="rn",
    ).orderBy("o_custkey", "rn")


@register(
    "q32_running_sum",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_value,
           COUNT(*) OVER (
                PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far,
           FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / COUNT(*) OVER (
                PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000) / 10000
             AS running_avg
    FROM events
    WHERE user_id <= 25
    ORDER BY user_id, event_id
    """,
)
def q32_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with an explicit ROWS frame; decimal-exact so
    the cumulative sum is order-of-evaluation-proof."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 25)
        .select(
            "user_id",
            "event_id",
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias(
                "running_value"
            ),
            F.count("*").over(w).alias("n_so_far"),
            # floor-truncate, not round: sum/count lands on exact .5
            # rounding ties (e.g. 532.43/8) where HALF_UP engines
            # disagree; floor of the identical double is bit-stable
            (
                F.floor(
                    F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
                    / F.count("*").over(w)
                    * 10000
                )
                / 10000
            ).alias("running_avg"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "q33_lag_lead",
    oracle="""
    SELECT user_id, event_id, event_type,
           LAG(event_type)  OVER w AS prev_type,
           LEAD(event_type) OVER w AS next_type,
           LAG(event_id, 2, CAST(-1 AS BIGINT)) OVER w AS prev2_id
    FROM events
    WHERE user_id <= 25
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ORDER BY user_id, event_id
    """,
)
def q33_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD offsets incl. a defaulted 2-step lag."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 25)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
            F.lag("event_id", 2, -1).over(w).cast("bigint").alias("prev2_id"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "q34_ntile_percentiles",
    oracle="""
    WITH rk AS (
      SELECT c_custkey,
             NTILE(4) OVER w AS quartile,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM customer
      WINDOW w AS (ORDER BY c_acctbal, c_custkey))
    SELECT c_custkey, quartile,
           CASE WHEN n = 1 THEN 0.0
                ELSE ((2*(rn-1)*1000000 + (n-1)) // (2*(n-1))) / 1000000.0
           END AS pct_rank,
           ((2*rn*1000000 + n) // (2*n)) / 1000000.0 AS cume
    FROM rk
    ORDER BY c_custkey
    """,
)
def q34_ntile_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE / PERCENT_RANK / CUME_DIST over a global order.

    Global-order windows don't scale (single partition); declared for
    surface completeness and run on the non-scaling customer dim only.

    The percentile columns are computed as EXACT integer millionths
    (half-up: round(k/n, 6) = (2k·10⁶ + n) DIV 2n) followed by ONE
    double division by 10⁶ — the engine float policy applied
    strictly. The builtin-double form (`round(cume_dist(), 6)`) is
    cross-engine UNSTABLE at rounding boundaries: the r10 16×-corpus
    differential caught it at n = 240 000 customers, where
    cume = k/240000 lands EXACTLY on 5·10⁻⁷ half-way points for
    k ≡ 3 (mod 6) and Spark's round (BigDecimal on the double's
    shortest decimal repr, HALF_UP) disagrees with DuckDB's rounding
    of the same binary double by 1 ulp in the 6th decimal (SCALE.md
    §"Corpus-differential ladder"). Because (c_acctbal, c_custkey)
    is a TOTAL order, percent_rank ≡ (rn−1)/(n−1) and
    cume_dist ≡ rn/n with rn = row_number. Integer path is exact to
    n ≈ 4.6·10¹² (2n·10⁶ < 2⁶³).
    """
    w = Window.orderBy("c_acctbal", "c_custkey")
    rk = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    return rk.select(
        "c_custkey",
        "quartile",
        F.when(F.col("n") == 1, F.lit(0.0))
        .otherwise(
            F.expr("(2*(rn-1)*1000000 + (n-1)) DIV (2*(n-1))")
            / F.lit(1000000.0)
        )
        .alias("pct_rank"),
        (F.expr("(2*rn*1000000 + n) DIV (2*n)") / F.lit(1000000.0)).alias(
            "cume"
        ),
    ).orderBy("c_custkey")


@register(
    "q35_first_last_frame",
    oracle="""
    SELECT user_id, event_id,
           FIRST_VALUE(event_type) OVER w AS first_type,
           LAST_VALUE(event_type)  OVER w AS last_type,
           NTH_VALUE(event_type, 2) OVER w AS second_type
    FROM events
    WHERE user_id <= 25
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY user_id, event_id
    """,
)
def q35_first_last_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST/LAST/NTH_VALUE over an unbounded frame (full-partition)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 25)
        .select(
            "user_id",
            "event_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w).alias("last_type"),
            F.nth_value("event_type", 2).over(w).alias("second_type"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "q36_range_frame",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           COUNT(*) OVER (ORDER BY o_totalprice
                          RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING) AS n_similar
    FROM orders
    WHERE o_orderkey <= 300
    ORDER BY o_orderkey
    """,
)
def q36_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based) — count of orders within ±100 price."""
    w = Window.orderBy("o_totalprice").rangeBetween(-100, 100)
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 300)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.count("*").over(w).alias("n_similar"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q37_dedup_first_wins",
    oracle="""
    WITH ranked AS (
      SELECT l_orderkey, l_linenumber, l_partkey,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
      FROM lineitem)
    SELECT l_orderkey, l_linenumber, l_partkey
    FROM ranked WHERE rn = 1
    ORDER BY l_orderkey
    """,
)
def q37_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates: first-row-per-key via explicit
    order (SURVEY §7.c — never rely on nondeterministic
    dropDuplicates for oracle-checked results).

    r11 (guide §2.3): first-row-by-(l_linenumber, l_partkey) is
    exactly MIN over the struct (lexicographic field-by-field
    comparison on non-null TPC-H keys), so the row_number window —
    whose partial WindowGroupLimit still sorted every scan partition
    — becomes a hash aggregate with map-side partial MIN: no sort
    before the exchange, and the shuffle carries one row per key per
    task either way."""
    m = F.min(F.struct("l_linenumber", "l_partkey"))
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(m.alias("m"))
        .select(
            "l_orderkey",
            F.col("m.l_linenumber").alias("l_linenumber"),
            F.col("m.l_partkey").alias("l_partkey"),
        )
        .orderBy("l_orderkey")
    )


@register(
    "q90_interpolate",
    oracle="""
    WITH series AS (
      SELECT user_id, event_id,
             EPOCH_US(ts) AS ts_us,
             (event_type = 'view') AS masked,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v,
             CASE WHEN event_type = 'view' THEN NULL
                  ELSE EPOCH_US(ts) END AS tv
      FROM events),
    bracketed AS (
      SELECT user_id, event_id, ts_us, masked,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             LAST_VALUE(tv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pts,
             FIRST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(tv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nts
      FROM series)
    SELECT user_id, event_id, ts_us, pv, nv,
           pv + (nv - pv) * (CAST(ts_us - pts AS DOUBLE)
                             / CAST(nts - pts AS DOUBLE)) AS interp
    FROM bracketed
    WHERE masked AND pv IS NOT NULL AND nv IS NOT NULL
    ORDER BY user_id, event_id
    """,
)
def q90_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of masked points in a per-user time
    series — the IGNORE NULLS window surface (last/first with
    ignorenulls over asymmetric frames), the standard gap-repair op
    time-series stores ship as ``interpolate()``. 'view' events play
    the masked points; each gets pv/nv (bracketing observed values)
    and the time-weighted linear fill.

    Determinism: pv/nv are raw parquet doubles and the fill is the
    same IEEE op sequence on both engines (one int subtraction pair,
    one double division, one multiply, one add) — bit-identical, no
    rounding step needed.

    Scale: ONE shuffle on user_id serves all four window functions
    (same partitioning + frame family); series length per user is
    bounded, so no skew beyond the key distribution itself.
    """
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    masked = F.col("event_type") == "view"
    series = ev.select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        masked.alias("masked"),
        F.when(~masked, F.col("value")).alias("v"),
        F.when(~masked, ts_us).alias("tv"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    wn = w.rowsBetween(1, Window.unboundedFollowing)
    br = series.select(
        "user_id",
        "event_id",
        "ts_us",
        "masked",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last("tv", ignorenulls=True).over(wp).alias("pts"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first("tv", ignorenulls=True).over(wn).alias("nts"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("ts_us") - F.col("pts")).cast("double")
        / (F.col("nts") - F.col("pts")).cast("double")
    )
    return (
        br.filter(F.col("masked") & F.col("pv").isNotNull() & F.col("nv").isNotNull())
        .select("user_id", "event_id", "ts_us", "pv", "nv", interp.alias("interp"))
        .orderBy("user_id", "event_id")
    )


@register(
    "x37_rolling_median",
    oracle="""
    SELECT user_id, event_id,
           ROUND(MEDIAN(CAST(value AS DOUBLE))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
             AS med5
    FROM events
    WHERE user_id <= 50 AND event_type = 'view'
    ORDER BY user_id, event_id
    """,
)
def x37_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median over the trailing 5-row frame. Spark has
    no MEDIAN window function, so the engine collects the frame into
    an array, sorts it, and takes the middle (averaging the two
    middles on even frames — DuckDB's interpolation convention). The
    frame is O(1) rows, so the collect is bounded per row; at scale
    this is the standard small-frame pattern (a true streaming median
    would need per-key state across micro-batches).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") <= 50) & (F.col("event_type") == "view")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list(F.col("value").cast("double")).over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = (
        F.when(n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int")))
        .otherwise((F.element_at(arr, (n / 2).cast("int")) + mid_hi) / 2)
    )
    return (
        ev.select("user_id", "event_id", F.round(med, 6).alias("med5"))
        .orderBy("user_id", "event_id")
    )


@register(
    "x38_scd2_intervals",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderpriority AS prio, o_orderdate AS ts, o_orderkey,
             LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders WHERE o_custkey <= 200),
    chg AS (
      SELECT o_custkey, prio, ts, o_orderkey FROM seq
      WHERE prev IS NULL OR prio <> prev),
    iv AS (
      SELECT o_custkey, prio, ts AS f,
             LEAD(ts) OVER (PARTITION BY o_custkey
                            ORDER BY ts, o_orderkey) AS t,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY ts, o_orderkey) AS version
      FROM chg)
    SELECT o_custkey, version, prio AS priority,
           STRFTIME(f, '%Y-%m-%d') AS eff_from,
           COALESCE(STRFTIME(t, '%Y-%m-%d'), 'CURRENT') AS eff_to
    FROM iv
    ORDER BY o_custkey, version
    """,
)
def x38_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension build from an event log: collapse each
    customer's order stream to its priority *change points* (lag
    compare), then stitch validity intervals (effective_from = change
    date, effective_to = next change, open tail = 'CURRENT') with a
    version counter — the standard warehouse change-capture shape,
    expressed as two windows over one shuffle on the natural key.

    Scale: one shuffle on o_custkey serves the lag, the lead, and the
    version rank (same partitioning, Catalyst reuses the sort); change
    points shrink the stream before the interval pass.
    """
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = (
        orders.select(
            "o_custkey",
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderdate").alias("ts"),
            "o_orderkey",
            F.lag("o_orderpriority").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("prio") != F.col("prev")))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("ts", "o_orderkey")
    return (
        chg.select(
            "o_custkey",
            F.row_number().over(w2).alias("version"),
            F.col("prio").alias("priority"),
            F.date_format("ts", "yyyy-MM-dd").alias("eff_from"),
            F.coalesce(
                F.date_format(F.lead("ts").over(w2), "yyyy-MM-dd"), F.lit("CURRENT")
            ).alias("eff_to"),
        )
        .orderBy("o_custkey", "version")
    )


@register(
    "q101_null_ordering",
    oracle="""
    SELECT c_custkey,
           NULLIF(c_mktsegment, 'BUILDING') AS seg,
           ROW_NUMBER() OVER (ORDER BY NULLIF(c_mktsegment, 'BUILDING')
                              ASC NULLS FIRST, c_custkey) AS rn_nulls_first,
           ROW_NUMBER() OVER (ORDER BY NULLIF(c_mktsegment, 'BUILDING')
                              DESC NULLS LAST, c_custkey) AS rn_nulls_last,
           CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
                OVER () AS BIGINT) AS n_null
    FROM customer
    WHERE c_custkey <= 300
    ORDER BY c_custkey
    """,
)
def q101_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-ordering semantics made observable: ranks under ASC NULLS
    FIRST vs DESC NULLS LAST (engines DISAGREE on defaults — Spark
    puts nulls first ascending, DuckDB last — so the engine surface
    always spells the placement explicitly), plus a windowed count of
    the nulled rows.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    base = cust.select("c_custkey", seg.alias("seg"))
    w_nf = Window.orderBy(F.col("seg").asc_nulls_first(), "c_custkey")
    w_nl = Window.orderBy(F.col("seg").desc_nulls_last(), "c_custkey")
    return (
        base.select(
            "c_custkey",
            "seg",
            F.row_number().over(w_nf).alias("rn_nulls_first"),
            F.row_number().over(w_nl).alias("rn_nulls_last"),
            F.sum(F.when(F.col("seg").isNull(), 1).otherwise(0))
            .over(Window.partitionBy())
            .cast("bigint")
            .alias("n_null"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q102_running_distinct",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(COUNT(DISTINCT c_mktsegment)
                  OVER (PARTITION BY c_nationkey ORDER BY c_custkey)
                AS BIGINT) AS segs_seen
    FROM customer
    ORDER BY c_nationkey, c_custkey
    """,
)
def q102_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over an ordered window. Spark forbids
    DISTINCT aggregates in windows, so the engine uses the standard
    rewrite: mark each (partition, value)'s first occurrence with a
    per-value row_number, then running-sum the marks — same one
    shuffle on the partition key, no extra pass. (DuckDB runs the
    native DISTINCT window as the oracle.)
    """
    cust = load_table(spark, sf_dir, "customer")
    w_first = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("c_custkey")
    w_run = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    first_seen = (F.row_number().over(w_first) == 1).cast("bigint")
    return (
        cust.select(
            "c_custkey",
            "c_nationkey",
            F.sum(first_seen).over(w_run).alias("segs_seen"),
        )
        .orderBy("c_nationkey", "c_custkey")
    )


@register(
    "q107_interval_range",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WHERE user_id <= 25
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def q107_interval_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE window frame (the trailing-hour rolling
    aggregate): per user, events and decimal-exact value sum within
    the hour ending at each event — the frame type ROWS can't express
    (peers at equal ts are included; gaps widen/narrow the frame).

    Scale: one shuffle on user_id, in-partition ordered scan with a
    sliding frame — the same plan shape as every keyed window here;
    decimal sum keeps the rolling total order-of-evaluation-proof.
    """
    frame = (
        "PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW"
    )
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 25)
        .select(
            "event_id",
            "user_id",
            F.expr(f"COUNT(*) OVER ({frame})").alias("n_1h"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,6))) "
                f"OVER ({frame}) AS DOUBLE)"
            ).alias("sum_1h"),
        )
        .orderBy("event_id")
    )
