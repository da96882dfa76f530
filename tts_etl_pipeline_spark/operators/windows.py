"""Window-function operators (SURVEY.md §2.2-B7 + the primitive behind W1).

Windows shuffle once on partitionBy keys, then sort within partitions. At
100 TB the partition key must be high-cardinality (supplier, customer) so no
single window partition exceeds executor memory; none of these use a global
(unpartitioned) window, which would serialize on one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.checkpoints import materialize
from tts_etl_pipeline_spark.functions.exact import SQL_DISC_PRICE, disc_price
from tts_etl_pipeline_spark.sources.tables import scaled_broadcast, table


# ---------------------------------------------------------------------------
# Top-k per group: top-3 suppliers by revenue within each nation.
# row_number (not rank) + unique tiebreak => deterministic across engines.
# ---------------------------------------------------------------------------
@registry.query(
    "w1_topk_suppliers_per_nation",
    f"""
    SELECT n_name, s_name, revenue, rn
    FROM (
      SELECT n_name, s_name, revenue,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY revenue DESC, s_name) AS rn
      FROM (
        SELECT n_name, s_name, CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        GROUP BY n_name, s_name
      ) rev
    ) ranked
    WHERE rn <= 3
    ORDER BY n_name, rn
    """,
)
def w1_topk_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    # pre-aggregate on the bigint fact key BEFORE the dimension joins: the
    # shuffle carries |suppliers| partial sums keyed by long, and the
    # broadcast joins touch supplier-grain rows, not fact rows. Equivalent to
    # grouping by (n_name, s_name) because supplier names are unique per key.
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .join(scaled_broadcast(supp, sf_dir, "supplier"), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("n_name", "s_name", "revenue")
    )
    w = W.partitionBy("n_name").orderBy(F.desc("revenue"), "s_name")
    return (
        rev.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# Running/cumulative frame + lag: monthly revenue per supplier with a
# running total and month-over-month delta. Exercises RANGE-free ROWS frames,
# lag(), and date truncation.
# ---------------------------------------------------------------------------
@registry.query(
    "w2_supplier_monthly_running",
    f"""
    SELECT l_suppkey, month,
           revenue,
           CAST(SUM(revenue_dec) OVER (PARTITION BY l_suppkey ORDER BY month
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_revenue,
           CAST(COALESCE(LAG(revenue_dec) OVER (PARTITION BY l_suppkey ORDER BY month),
                         CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS prev_revenue
    FROM (
      SELECT l_suppkey, strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
             CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
             SUM({SQL_DISC_PRICE}) AS revenue_dec
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, date_trunc('month', l_shipdate)
    ) m
    ORDER BY l_suppkey, month
    """,
)
def w2_supplier_monthly_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    monthly = (
        li.groupBy("l_suppkey", F.date_trunc("month", "l_shipdate").alias("mon"))
        .agg(F.sum(disc_price()).alias("revenue_dec"))
        .select(
            "l_suppkey",
            F.date_format("mon", "yyyy-MM").alias("month"),
            "revenue_dec",
        )
    )
    w = W.partitionBy("l_suppkey").orderBy("month")
    return (
        monthly.select(
            "l_suppkey",
            "month",
            F.col("revenue_dec").cast("double").alias("revenue"),
            F.sum("revenue_dec")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("double")
            .alias("running_revenue"),
            F.coalesce(F.lag("revenue_dec").over(w), F.lit(0).cast("decimal(12,2)"))
            .cast("double")
            .alias("prev_revenue"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# Rank with gaps + dense rank + ntile over customer balances per segment —
# the full ranking-function family in one deterministic query.
# ---------------------------------------------------------------------------
@registry.query(
    "w3_customer_balance_ranks",
    """
    SELECT c_mktsegment, c_custkey,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS bal_rank,
           DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS bal_dense,
           NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS bal_quartile
    FROM customer
    ORDER BY c_mktsegment, bal_rank
    """,
)
def w3_customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        cust.select(
            "c_mktsegment",
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            F.rank().over(w).cast("bigint").alias("bal_rank"),
            F.dense_rank().over(w).cast("bigint").alias("bal_dense"),
            F.ntile(4).over(w).cast("bigint").alias("bal_quartile"),
        )
        .orderBy("c_mktsegment", "bal_rank")
    )


# ---------------------------------------------------------------------------
# RANGE frame (value-based, not row-count-based): 30-day trailing revenue
# per supplier. The window input is pre-aggregated to (supplier, day) grain
# first — at 100 TB the window sort sees |suppliers| x |days| rows, not raw
# lineitem rows, and the day key is numeric (days since epoch) so the RANGE
# frame is engine-portable. Decimal sums keep the trailing total exact.
# ---------------------------------------------------------------------------
@registry.query(
    "w5_range_frame_revenue",
    f"""
    SELECT l_suppkey, ship_day,
           CAST(day_rev AS DOUBLE) AS day_revenue,
           CAST(SUM(day_rev) OVER (PARTITION BY l_suppkey ORDER BY ship_day
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rev_30d
    FROM (
      SELECT l_suppkey,
             CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00', l_shipdate) AS BIGINT)
               AS ship_day,
             SUM({SQL_DISC_PRICE}) AS day_rev
      FROM lineitem
      WHERE l_suppkey <= 10
      GROUP BY 1, 2
    ) daily
    ORDER BY l_suppkey, ship_day
    """,
)
def w5_range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    daily = li.groupBy(
        "l_suppkey",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("ship_day"),
    ).agg(F.sum(disc_price()).alias("day_rev"))
    w = W.partitionBy("l_suppkey").orderBy("ship_day").rangeBetween(-29, 0)
    return (
        daily.select(
            "l_suppkey",
            "ship_day",
            F.col("day_rev").cast("double").alias("day_revenue"),
            F.sum("day_rev").over(w).cast("double").alias("rev_30d"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# lead() + first/last_value with explicit frames over order history per
# customer — the sequential-adjacency primitive behind the reference's W1
# overlap flag (process_audio.py:311-330), exercised on relational data.
# ---------------------------------------------------------------------------
@registry.query(
    "w4_order_gaps",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           COALESCE(CAST(date_diff('day',
               LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS BIGINT), -1) AS days_since_prev,
           CAST(FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT)
             AS first_orderkey
    FROM orders
    WHERE o_custkey <= 20
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def w4_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 20)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.coalesce(
                F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("bigint"),
                F.lit(-1).cast("bigint"),
            ).alias("days_since_prev"),
            F.first("o_orderkey").over(wfull).cast("bigint").alias("first_orderkey"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Distribution window functions: percent_rank + cume_dist over customer
# balances per market segment. The ORDER BY carries a unique tiebreak
# (c_custkey) so ranks are total and both ratios are deterministic integer
# divisions — bit-identical across engines.
# ---------------------------------------------------------------------------
@registry.query(
    "w6_distribution_ranks",
    """
    SELECT c_mktsegment, c_custkey,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_mktsegment, c_custkey
    """,
)
def w6_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select(
            "c_mktsegment",
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# w7 — calendar gap-fill + forward fill (time-series densification): every
# supplier gets a complete daily calendar between its first and last
# shipment; missing days carry the last observed revenue forward
# (last(ignorenulls) over an ordered window). The calendar is generated
# per-supplier with sequence()+explode from the supplier's own bounds —
# dimension-grain work, never a fact-table blowup; the daily pre-aggregate
# is checkpointed so the fact table is scanned once, not once per reuse.
# ---------------------------------------------------------------------------
@registry.query(
    "w7_gap_fill_forward",
    f"""
    WITH daily AS (
      SELECT l_suppkey,
             CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00', l_shipdate) AS BIGINT)
               AS ship_day,
             SUM({SQL_DISC_PRICE}) AS day_rev
      FROM lineitem
      WHERE l_suppkey <= 5
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT l_suppkey, MIN(ship_day) AS d0, MAX(ship_day) AS d1
      FROM daily GROUP BY l_suppkey
    ),
    cal AS (
      SELECT l_suppkey, unnest(generate_series(d0, d1)) AS ship_day FROM bounds
    )
    SELECT c.l_suppkey AS l_suppkey, c.ship_day AS ship_day,
           d.day_rev IS NOT NULL AS is_observed,
           CAST(LAST_VALUE(d.day_rev IGNORE NULLS) OVER (
                PARTITION BY c.l_suppkey ORDER BY c.ship_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rev_filled
    FROM cal c LEFT JOIN daily d
      ON c.l_suppkey = d.l_suppkey AND c.ship_day = d.ship_day
    ORDER BY l_suppkey, ship_day
    """,
)
def w7_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 5)
    daily = materialize(  # reused by bounds + join: one fact scan
        li.groupBy(
            "l_suppkey",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
            )
            .cast("bigint")
            .alias("ship_day"),
        ).agg(F.sum(disc_price()).alias("day_rev"))
    )
    cal = (
        daily.groupBy("l_suppkey")
        .agg(F.min("ship_day").alias("d0"), F.max("ship_day").alias("d1"))
        .select("l_suppkey", F.explode(F.sequence("d0", "d1")).alias("ship_day"))
    )
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("ship_day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        cal.join(daily, ["l_suppkey", "ship_day"], "left")
        .select(
            "l_suppkey",
            "ship_day",
            F.col("day_rev").isNotNull().alias("is_observed"),
            F.last("day_rev", ignorenulls=True).over(w).cast("double").alias("rev_filled"),
        )
        .orderBy("l_suppkey", "ship_day")
    )
