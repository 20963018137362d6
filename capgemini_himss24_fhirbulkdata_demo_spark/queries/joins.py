"""Join surface: equi (broadcast/SMJ), semi, anti, outer, cross/theta,
range and as-of joins (SURVEY §2B Joins).

Reference anchors: the removed-ids anti-join
(``FetchBulkData/__init__.py:533`` — O(N·R) list scan, re-expressed as
a broadcast ``left_anti``) and the RxNav enrichment lookup join
(``__init__.py:504-522`` — per-record HTTP, re-expressed as distinct →
broadcast left join; see transforms/).

Scale notes per query in docstrings; the common theme: non-scaling
dims (FIXTURES.md row counts) are broadcast explicitly so the only
shuffles left are fact↔fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import asof_join
from .registry import register
from .relational import _SQL_DISC_PRICE, _dec, _disc_price


@register(
    "q04_semi_join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: LEFT SEMI with an extra non-equi conjunct.

    The semi join carries the equi key (l_orderkey = o_orderkey) so the
    planner uses shuffled-hash/SMJ on the key, with the date conjunct
    evaluated as a join-side filter — not a nested-loop.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q05_regional_revenue",
    oracle=f"""
    SELECT n_name, CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q05_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join.

    All four dims broadcast; the only shuffle is lineitem↔orders.
    The region filter reaches the nation/customer side before the fact
    join (Catalyst pushes it through the broadcasts), so the fact scan
    is joined against an already-pruned build side.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q20_anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def q20_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI — the Spark-native form of the reference's removed-ids
    filter (``__init__.py:533``, O(N·R) list membership → hash anti)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q21_outer_join",
    oracle="""
    SELECT n_nationkey, n_name, COUNT(c_custkey) AS n_customers,
           COALESCE(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS sum_bal
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name
    ORDER BY n_nationkey
    """,
)
def q21_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER preserving unmatched dim rows; COUNT(col) null-skip."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(cust, cust.c_nationkey == nation.n_nationkey, "left")
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.coalesce(F.sum(_dec("c_acctbal")).cast("double"), F.lit(0.0)).alias("sum_bal"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "q22_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS k, COUNT(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS k, COUNT(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.k, sn.k) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.k = sn.k
    ORDER BY nationkey
    """,
)
def q22_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides."""
    cn = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_cust"))
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cn.join(sn, cn.k == sn.k, "full_outer")
        .select(
            F.coalesce(cn.k, sn.k).alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@register(
    "q23_theta_join",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n_richer_customers
    FROM supplier s JOIN customer c ON c.c_acctbal > s.s_acctbal
    GROUP BY s.s_suppkey
    ORDER BY s.s_suppkey
    """,
)
def q23_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join → BroadcastNestedLoopJoin with the 10-row
    supplier side broadcast; per-supplier count of richer customers.

    Scale note: pure theta joins are inherently O(N·M); the engine only
    plans them when one side is broadcastable (here supplier, which
    does not scale with sf). For scaling theta shapes use the range
    join (q24) which buckets into an equi prefix.
    """
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    cust = load_table(spark, sf_dir, "customer").select("c_acctbal")
    return (
        cust.join(F.broadcast(supp), cust.c_acctbal > supp.s_acctbal)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_richer_customers"))
        .orderBy("s_suppkey")
    )


@register(
    "q24_range_join",
    oracle="""
    SELECT o_orderkey, COUNT(*) AS n_sameday_events
    FROM orders JOIN events
      ON events.user_id = orders.o_custkey
     AND EXTRACT(DOY FROM events.ts) = EXTRACT(DOY FROM orders.o_orderdate)
    GROUP BY o_orderkey
    ORDER BY o_orderkey
    """,
)
def q24_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/point-in-bucket join expressed with an equi prefix.

    The raw shape "e.ts within o's window" is a range join; the engine
    rewrites it to (equi key, bucket) = (user_id, day-of-year) so the
    planner gets a hash join instead of a nested loop — the standard
    bucketed-range-join strategy that survives 100× scale-up.
    """
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    return (
        orders.join(
            ev,
            (ev.user_id == orders.o_custkey)
            & (F.dayofyear(ev.ts) == F.dayofyear(orders.o_orderdate)),
        )
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_sameday_events"))
        .orderBy("o_orderkey")
    )


@register(
    "q25_asof_join",
    oracle="""
    SELECT o_orderkey, o_custkey,
           (SELECT MAX(e.event_id)
            FROM events e
            WHERE e.user_id = o_custkey
              AND e.event_id <= o_orderkey) AS asof_event_id
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY o_orderkey
    """,
)
def q25_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (latest event at-or-before a point, per key).

    Runs :func:`operators.asof_join`; the oracle uses an equivalent
    correlated MAX subquery.

    Scale note: candidates are bounded per key by the equi join before
    the window sort, so the shuffle is on user_id — skew-prone keys are
    handled by AQE skew-join; for a true time-series asof at 100 TB the
    engine would pre-bucket both sides by (key, time-bucket).
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 500)
        .select("o_orderkey", "o_custkey")
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    return (
        asof_join(
            orders,
            ev,
            on=[("o_custkey", "user_id")],
            ordinal=("o_orderkey", "event_id"),
            how="left",
        )
        .select("o_orderkey", "o_custkey", F.col("event_id").alias("asof_event_id"))
        .orderBy("o_orderkey")
    )


@register(
    "q26_cross_join",
    oracle="""
    SELECT r1.r_name AS r_from, r2.r_name AS r_to
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey <> r2.r_regionkey
    ORDER BY r_from, r_to
    """,
)
def q26_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN (tiny×tiny only — guarded surface)."""
    r1 = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k1"), F.col("r_name").alias("r_from")
    )
    r2 = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k2"), F.col("r_name").alias("r_to")
    )
    return (
        r1.crossJoin(r2)
        .filter(F.col("k1") != F.col("k2"))
        .select("r_from", "r_to")
        .orderBy("r_from", "r_to")
    )


@register(
    "q27_in_subquery",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
    ORDER BY p_partkey
    """,
)
def q27_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (decorrelated by Catalyst to a left-semi join)."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        ORDER BY p_partkey
        """
    )


_Q28_SQL = """
    SELECT c_custkey, c_name,
           ROUND(c_acctbal -
                 (SELECT ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                               / COUNT(*), 4)
                  FROM customer), 4) AS bal_delta
    FROM customer
    WHERE c_custkey <= 20
    ORDER BY c_custkey
    """


@register("q28_scalar_subquery", oracle=_Q28_SQL)
def q28_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (mean-centered balance).

    The same ANSI text runs on both engines; the inner mean is an
    exact decimal sum over an int count with one deterministic double
    division, so the subtraction inputs are bit-identical.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_Q28_SQL)


@register(
    "q49_right_join",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM nation RIGHT JOIN supplier ON s_nationkey = n_nationkey
    ORDER BY s_suppkey
    """,
)
def q49_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (SURVEY §2B Joins row; planner mirrors it to a
    left join with sides swapped)."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        nation.join(supp, supp.s_nationkey == nation.n_nationkey, "right")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )
