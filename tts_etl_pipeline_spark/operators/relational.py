"""Relational core (SURVEY.md §2.2-B7): scans, filters, projections, joins,
aggregations, windows, sorts/limits, set ops over the TPC-H-ish star schema.

The reference implements none of these (SURVEY.md §2.3) — their semantics are
ANSI SQL, verified per-query against DuckDB oracles. Every builder returns a
lazy DataFrame; Catalyst handles pushdown/pruning/join strategy. Join sides
are broadcast-hinted so the plan keeps the fact-table scan shuffle-free
wherever possible — but only nation/region and 1-row/bounded aggregates get
an UNCONDITIONAL hint; customer/supplier/part scale linearly with SF, so
their hints go through tables.scaled_broadcast, which hints only while the
base table's measured bytes stay under BROADCAST_LIMIT_BYTES and otherwise
leaves the strategy to AQE's runtime size check (a hard hint would bypass it
and OOM at 100x).

Each query registers oracle SQL with identical column aliases —
the driver sorts columns by name and value-hashes, so aliases and numeric
representations (see functions/exact.py) must match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.bands import (
    USER_STATE_HIST_CTES,
    user_state_hist_ctes,
    user_state_hist_ctes_where,
)
from tts_etl_pipeline_spark.functions.checkpoints import materialize, scratch_dir
from tts_etl_pipeline_spark.functions.exact import (
    FRAC,
    SQL_CHARGE,
    SQL_DISC_PRICE,
    charge,
    disc_price,
    frac,
    money,
)
from tts_etl_pipeline_spark.sources.tables import rebalance_scan, scaled_broadcast, table


# ---------------------------------------------------------------------------
# q1 — pricing summary (flagship): scan -> filter -> hash agg -> sort.
# TPC-H Q1 shape adapted to the driver schema. Filter + projection push into
# the parquet scan; aggregation is a partial+final hash agg (map-side combine)
# so the shuffle carries only 6 groups x 8 aggregates.
# ---------------------------------------------------------------------------
@registry.query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE)                       AS sum_disc_price,
           CAST(SUM({SQL_CHARGE}) AS DOUBLE)                           AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*)       AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    flt = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    ).select(  # narrow projection BEFORE the rebalance: the exchange must
        # not carry (or the scan decode) the 4 unused fact columns
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax",
    )
    return (
        # the decimal partial aggregates are the scan stage's cost; rebalance
        # parallelizes them when the file layout cannot (no-op at scale)
        rebalance_scan(flt, spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(charge()).cast("double").alias("sum_charge"),
            (F.sum(money("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(money("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.sum(frac("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive;
        # guide §2.4 — a global sort of the result is a pure extra exchange)
    )


# ---------------------------------------------------------------------------
# q3 — shipping priority: 3-way join (customer ⋈ orders ⋈ lineitem), agg,
# top-10. customer is broadcast (small dim); orders⋈lineitem is the only
# shuffle pair, and the revenue agg happens on the join keys so AQE can
# coalesce. Deterministic top-k via unique o_orderkey tiebreak.
# ---------------------------------------------------------------------------
@registry.query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    # pre-aggregate lineitem to order grain BEFORE the orders join: the SMJ
    # probe side shrinks ~4x (lines per order), the agg's l_orderkey shuffle
    # doubles as the join partitioning, and no post-join re-aggregation is
    # needed (o_orderdate/o_orderpriority are functionally dependent on the
    # key, and orders joins 1:1)
    rev = li.groupBy("l_orderkey").agg(F.sum(disc_price()).alias("rev_dec"))
    return (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(scaled_broadcast(cust, sf_dir, "customer"), orders.o_custkey == cust.c_custkey)
        .select(
            "l_orderkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q4 — order priority check: EXISTS semi-join. Spark: left_semi join, which
# shuffles only the distinct join keys of the probe side after AQE.
# ---------------------------------------------------------------------------
@registry.query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q5 — local supplier volume: 6-way star join. region/nation/supplier/customer
# all broadcast; lineitem⋈orders is the single big shuffle. The c_nationkey =
# s_nationkey constraint is applied as a post-join filter exactly like TPC-H.
# ---------------------------------------------------------------------------
@registry.query(
    "q5_local_supplier",
    f"""
    SELECT n_name, CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(scaled_broadcast(cust, sf_dir, "customer"), orders.o_custkey == cust.c_custkey)
        .join(scaled_broadcast(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# q6 — forecast revenue: pure scan-side filters + single global sum (no
# shuffle beyond the 1-row final agg). All three predicates push into parquet.
# ---------------------------------------------------------------------------
@registry.query(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(money("l_extendedprice") * frac("l_discount")).cast("double").alias("revenue")
    )


# ---------------------------------------------------------------------------
# q7 — volume shipping between nation pairs: self-joined broadcast dim
# (nation as n1/n2) around the fact join; year extraction on the ship date.
# ---------------------------------------------------------------------------
@registry.query(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l_shipdate) AS l_year,
             {SQL_DISC_PRICE} AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp_ntz"))
    )
    # resolve each side's nation and restrict to the two relevant ones
    # BEFORE the fact-fact join: the inner broadcast joins against the
    # 2-nation supplier/customer subsets drop ~(1 - 2/|nations|) of both
    # fact inputs, so the orders SMJ probes ~12x fewer rows. The cross-pair
    # filter (1-2 / 2-1, excluding same-nation) applies after the join.
    supp_n = supp.join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")).filter(
        F.col("supp_nation").isin("NATION_1", "NATION_2")
    )
    cust_n = cust.join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")).filter(
        F.col("cust_nation").isin("NATION_1", "NATION_2")
    )
    li_f = li.join(scaled_broadcast(supp_n, sf_dir, "supplier"), li.l_suppkey == F.col("s_suppkey"))
    ord_f = orders.join(scaled_broadcast(cust_n, sf_dir, "customer"), orders.o_custkey == F.col("c_custkey"))
    return (
        li_f.join(ord_f, li_f.l_orderkey == F.col("o_orderkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            disc_price().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# q9-style — product-type profit by supplier nation and order year (adapted:
# no partsupp table in this schema, so profit = disc_price over a p_name
# substring filter). part/supplier/nation broadcast; one fact shuffle.
# ---------------------------------------------------------------------------
@registry.query(
    "q9_product_profit",
    f"""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
             {SQL_DISC_PRICE} AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_type = 'PROMO'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(scaled_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(scaled_broadcast(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            disc_price().alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# q10 — returned items: top-20 customers by lost revenue. Aggregation keyed on
# the customer attributes after broadcasting customer/nation onto the fact.
# ---------------------------------------------------------------------------
@registry.query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # pre-aggregate the returned-lines revenue to order grain before the
    # orders join (decimal sum-of-sums stays exact through the custkey
    # re-aggregation): the fact-fact SMJ probes order-grain rows, and the
    # second agg shuffles customer-grain partials only
    rev = li.groupBy("l_orderkey").agg(F.sum(disc_price()).alias("rev_dec"))
    return (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(scaled_broadcast(cust, sf_dir, "customer"), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum("rev_dec").cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q13 — customer order-count distribution: LEFT OUTER join + two-level agg.
# Scale note: we pre-aggregate orders by o_custkey BEFORE joining customer, so
# the join input is one row per customer, not one per order — at 100 TB this
# turns a fact-sized shuffle into a dimension-sized one.
# ---------------------------------------------------------------------------
@registry.query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COALESCE(o.cnt, 0) AS c_count
      FROM customer LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS cnt
        FROM orders
        WHERE o_orderpriority <> '1-URGENT'
        GROUP BY o_custkey
      ) o ON c_custkey = o.o_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    per_cust = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# q14 — promo revenue share: conditional aggregation (CASE inside SUM).
# Identical double-division shape on both sides keeps bits equal.
# ---------------------------------------------------------------------------
@registry.query(
    "q14_promo_revenue",
    f"""
    SELECT (100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {SQL_DISC_PRICE}
                                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE))
           / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp_ntz"))
    )
    dp = disc_price()
    promo = F.when(F.col("p_type") == "PROMO", dp).otherwise(F.lit(0).cast("decimal(12,2)"))
    return (
        li.join(scaled_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double")) / F.sum(dp).cast("double")
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# q18 — large-volume customers: the HAVING aggregate IS the output aggregate
# (both are sum(l_quantity) per order), so one per-order aggregation serves
# as filter and projection — a single fact scan and a single fact-grain
# shuffle. The surviving key set is tiny (HAVING > 170 is highly selective),
# so AQE broadcasts it to the orders join; customer joins by broadcast.
# The textbook form (IN-subquery + re-join + re-GROUP BY) would scan and
# shuffle lineitem twice.
# ---------------------------------------------------------------------------
@registry.query(
    "q18_large_volume_customer",
    """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 170
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(money("l_quantity")).alias("q"))
        .filter(F.col("q") > 170)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(scaled_broadcast(cust, sf_dir, "customer"), orders.o_custkey == cust.c_custkey)
        .withColumn("sum_qty", F.col("q").cast("double"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q19 — bracketed OR-of-ANDs predicate join (brand/size/quantity brackets).
# Catalyst extracts the common l_partkey = p_partkey equi-condition and keeps
# the OR as a post-join residual on the broadcast join.
# ---------------------------------------------------------------------------
@registry.query(
    "q19_discounted_revenue",
    f"""
    SELECT CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey AND (
        (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
     OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
     OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    )
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    joined = li.join(scaled_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
    brackets = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return joined.filter(brackets).agg(
        F.sum(disc_price()).cast("double").alias("revenue")
    )


# ---------------------------------------------------------------------------
# q22 — customers with above-average balance and no orders: scalar subquery
# (broadcast single-row) + LEFT ANTI join, grouped by nation prefix.
# ---------------------------------------------------------------------------
@registry.query(
    "q22_global_sales_opportunity",
    """
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                              / COUNT(*)
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg((F.sum(money("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("ab"))
        .select("ab")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(money("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# q17 — small-quantity-order revenue: correlated scalar subquery (per-part
# average) decorrelated by hand into a pre-aggregation + broadcast join-back,
# which is exactly what Catalyst's decorrelation would produce — but explicit,
# so the plan is guaranteed: per-part avg is dimension-sized, broadcast onto
# the fact scan, zero correlated re-execution.
# ---------------------------------------------------------------------------
@registry.query(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                      / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single fact scan: broadcast-join the Brand#3 part subset FIRST (so the
    # per-part average is only ever computed for parts the query cares
    # about), then the decorrelated avg is a window over l_partkey on the
    # filtered rows — one scan + one part-keyed shuffle of the small subset,
    # instead of a second full-lineitem scan and aggregate.
    from pyspark.sql.window import Window as W

    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    w = W.partitionBy("l_partkey")
    avg_q = F.sum(money("l_quantity")).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return (
        li.join(scaled_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .withColumn("avg_q", avg_q)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_q"))
        .agg(
            (F.sum(money("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


# ---------------------------------------------------------------------------
# q2-style — cheapest supplier per nation: min-per-group + join-back on the
# (group, min) pair. Both the min table and supplier are broadcastable.
# ---------------------------------------------------------------------------
@registry.query(
    "q2_min_balance_supplier",
    """
    SELECT n_name, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s, nation n,
         (SELECT s_nationkey AS mk, MIN(s_acctbal) AS mb
          FROM supplier GROUP BY s_nationkey) m
    WHERE s.s_nationkey = n.n_nationkey
      AND s.s_nationkey = m.mk AND s.s_acctbal = m.mb
    ORDER BY n_name, s_name
    """,
)
def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    mins = supp.groupBy(F.col("s_nationkey").alias("mk")).agg(
        F.min("s_acctbal").alias("mb")
    )
    return (
        supp.join(
            F.broadcast(mins),
            (supp.s_nationkey == F.col("mk")) & (supp.s_acctbal == F.col("mb")),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("n_name", "s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("n_name", "s_name")
    )


# ---------------------------------------------------------------------------
# q15-style — top revenue supplier(s): agg -> global max -> equality join
# back (the view-based TPC-H Q15 shape without a view).
# ---------------------------------------------------------------------------
@registry.query(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    # Checkpoint the supplier-grain pre-agg so BOTH grains (per-supplier
    # revenue and the global max) read it without rescanning lineitem, then
    # fold the max as a real partial+final aggregate — an unpartitioned
    # window here would funnel every supplier row through ONE task, while
    # the aggregate moves one partial row per partition.
    revenue = materialize(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.sum(disc_price()).cast("double").alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(scaled_broadcast(supp, sf_dir, "supplier"), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q21-style exact percentiles: Spark percentile() and DuckDB quantile_cont
# share the linear-interpolation definition on doubles — verified bit-exact
# in the harness at sf0.001 and sf0.01.
# ---------------------------------------------------------------------------
@registry.query(
    "q21_price_percentiles",
    """
    SELECT o_orderpriority,
           quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS p50,
           quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9) AS p90,
           quantile_cont(CAST(o_totalprice AS DOUBLE), 0.99) AS p99,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q21_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    tp = F.col("o_totalprice").cast("double")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.percentile(tp, F.lit(0.5)).alias("p50"),
            F.percentile(tp, F.lit(0.9)).alias("p90"),
            F.percentile(tp, F.lit(0.99)).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q8 — market share: a target nation's share of regional revenue per order
# year. Nested conditional aggregation over the full star join; all dims
# broadcast, single fact shuffle for the (year) aggregation.
# ---------------------------------------------------------------------------
@registry.query(
    "q8_market_share",
    f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
             {SQL_DISC_PRICE} AS volume,
             n2.n_name AS nation
      FROM lineitem, orders, customer, supplier, nation n1, nation n2, region
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND l_suppkey = s_suppkey
        AND s_nationkey = n2.n_nationkey
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # restrict orders to ASIA-region customers BEFORE the fact-fact join
    # (region -> nations -> customers -> orders, all broadcast): the SMJ
    # probe shrinks by the regional selectivity (~1/|regions|). The supplier
    # side must stay per-line — every supplier nation contributes to the
    # market-share denominator.
    cust_asia = (
        cust.join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .select("c_custkey")
    )
    ord_f = orders.join(scaled_broadcast(cust_asia, sf_dir, "customer"), orders.o_custkey == F.col("c_custkey"))
    vol = (
        li.join(ord_f, li.l_orderkey == F.col("o_orderkey"))
        .join(scaled_broadcast(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            disc_price().alias("volume"),
            "nation",
        )
    )
    target = F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        vol.groupBy("o_year")
        .agg(
            (F.sum(target).cast("double") / F.sum("volume").cast("double")).alias(
                "mkt_share"
            )
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# q12 — shipping-delay buckets (adapted: no l_shipmode/commit/receipt dates
# in this schema, so the bucket is ship-lag days): orders joined to their
# lineitems, bucketed by how long after the order date they shipped, with
# the TPC-H Q12 high/low-priority split.
# ---------------------------------------------------------------------------
@registry.query(
    "q12_shipping_delay",
    """
    SELECT delay_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 7 THEN 'week'
                  WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'month'
                  ELSE 'late' END AS delay_bucket
      FROM lineitem, orders
      WHERE l_orderkey = o_orderkey
        AND l_shipdate >= o_orderdate
    ) lagged
    GROUP BY delay_bucket
    ORDER BY delay_bucket
    """,
)
def q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lag_days <= 7, "week").when(lag_days <= 30, "month").otherwise("late")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(bucket.alias("delay_bucket"), high.alias("is_high"))
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~F.col("is_high"), 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


# ---------------------------------------------------------------------------
# q16 — parts/supplier relationship (adapted: supplier-part pairs come from
# lineitem, no partsupp table): distinct supplier count per part attribute
# group, excluding a NOT-IN subquery of suppliers (negative balance).
# Equivalence note: the DataFrame side uses a PLAIN anti join, which matches
# SQL NOT IN only because both key columns are non-null in this schema
# (s_suppkey is a key; l_suppkey is a non-null FK). With nullable keys,
# NOT IN's three-valued logic would need a null-aware anti join instead.
# ---------------------------------------------------------------------------
@registry.query(
    "q16_parts_supplier_relationship",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25)
    )
    bad_supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("bad_key"))
    )
    return (
        li.join(scaled_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .join(scaled_broadcast(bad_supp, sf_dir, "supplier"), li.l_suppkey == F.col("bad_key"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# q11-style — important parts (adapted: part value comes from lineitem
# revenue, no partsupp table): parts whose revenue exceeds 1.2x the average
# per-part revenue. Exercises the scalar-aggregate-subquery shape. Plan note:
# a naive crossJoin(broadcast(part_rev.agg(total))) would recompute part_rev
# — Spark has no DAG reuse without caching, so the fact table would be
# scanned and shuffled TWICE. materialize() checkpoints the part-grain
# aggregate once; the global total then folds as an ordinary parallel
# aggregate (one partial row per partition) rather than an unpartitioned
# window that drags the whole part grain through a single task.
# ---------------------------------------------------------------------------
@registry.query(
    "q11_important_parts",
    f"""
    WITH part_rev AS (
      SELECT l_partkey, SUM({SQL_DISC_PRICE}) AS rev_dec
      FROM lineitem GROUP BY l_partkey
    ),
    total AS (
      SELECT SUM(rev_dec) AS total_dec, COUNT(*) AS nparts FROM part_rev
    )
    SELECT p_name,
           CAST(rev_dec AS DOUBLE) AS part_revenue,
           CAST(rev_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) AS revenue_share
    FROM part_rev, total, part
    WHERE p_partkey = l_partkey
      AND CAST(rev_dec AS DOUBLE)
          > 1.2 * (CAST(total_dec AS DOUBLE) / nparts)
    ORDER BY part_revenue DESC, p_name
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    # Checkpoint the part-grain pre-agg (one lineitem scan+shuffle), fold the
    # global total/count as a partial+final 1-row aggregate, and broadcast it
    # back. The previous unpartitioned-window version pushed every per-part
    # row through a single task — at 100 TB that grain is billions of rows;
    # the aggregate tree moves one partial row per partition instead, and
    # decimal sum-of-sums keeps the oracle hash exact.
    part_rev = materialize(
        li.groupBy("l_partkey").agg(F.sum(disc_price()).alias("rev_dec"))
    )
    totals = part_rev.agg(
        F.sum("rev_dec").alias("total_dec"), F.count(F.lit(1)).alias("nparts")
    )
    total_dbl = F.col("total_dec").cast("double")
    return (
        part_rev.withColumn("part_revenue", F.col("rev_dec").cast("double"))
        .join(
            F.broadcast(totals),
            F.col("part_revenue") > F.lit(1.2) * (total_dbl / F.col("nparts")),
        )
        .join(scaled_broadcast(part, sf_dir, "part"), F.col("l_partkey") == part.p_partkey)
        .select(
            "p_name",
            "part_revenue",
            (F.col("part_revenue") / total_dbl).alias("revenue_share"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# q20-style — dominant suppliers: suppliers providing more than 25% of a
# part's total shipped quantity (per-part share via pre-agg at two grains,
# both dimension-sized after aggregation -> broadcast join-back).
# ---------------------------------------------------------------------------
@registry.query(
    "q20_dominant_suppliers",
    """
    SELECT s_name, p_name,
           CAST(supp_qty AS DOUBLE) / part_qty AS share
    FROM (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS supp_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ) ps,
    (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS part_qty
      FROM lineitem GROUP BY l_partkey
    ) p_tot,
    supplier, part
    WHERE ps.l_partkey = p_tot.pk
      AND CAST(supp_qty AS DOUBLE) / part_qty > 0.25
      AND s_suppkey = ps.l_suppkey AND p_partkey = ps.l_partkey
    ORDER BY s_name, p_name
    """,
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single fact scan: the part-level total is a decimal window-sum over
    # the (part, supplier) pre-aggregate — sum-of-sums is exact, and the
    # window shuffles only the dimension-product-sized ps table instead of
    # rescanning and reshuffling lineitem for the second grain.
    from pyspark.sql.window import Window as W

    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(money("l_quantity")).alias("supp_qty_dec")
    )
    wpart = W.partitionBy("l_partkey")
    ps = ps.select(
        "l_partkey",
        "l_suppkey",
        F.col("supp_qty_dec").cast("double").alias("supp_qty"),
        F.sum("supp_qty_dec").over(wpart).cast("double").alias("part_qty"),
    )
    return (
        ps.withColumn("share", F.col("supp_qty") / F.col("part_qty"))
        .filter(F.col("share") > 0.25)
        .join(scaled_broadcast(supp, sf_dir, "supplier"), ps.l_suppkey == supp.s_suppkey)
        .join(scaled_broadcast(part, sf_dir, "part"), ps.l_partkey == part.p_partkey)
        .select("s_name", "p_name", "share")
        .orderBy("s_name", "p_name")
    )


# ---------------------------------------------------------------------------
# j2 — BUCKETED co-located fact-fact join, promoted from the pytest-only
# pattern (tests/test_scale_patterns.py) to the driver-checked surface:
# orders and lineitem are bucket-hashed on the order key at WRITE time
# (sources/bucketing.py — equal bucket counts, pre-sorted buckets, catalog
# write because the bucket spec lives in the catalog, not parquet), then the
# revenue-per-priority join reads matching buckets pairwise. At 100 TB this
# is the at-rest layout for the hottest join: the shuffle of both fact
# sides is paid ONCE at ingest, and every subsequent join/aggregation on
# the key runs with zero Exchange below the join
# (test_plans.py::test_j2 pins it with broadcast disabled). The plain-SQL
# oracle proves bucketing is semantically invisible. Table names are
# per-run uuids so concurrent sessions never collide in the shared
# catalog; the result is materialized before the tables are dropped.
# ---------------------------------------------------------------------------
def _j2_joined_bucketed(spark: SparkSession, sf_dir: str):
    """Build the bucketed tables and return (joined_df, drop_fn)."""
    import uuid

    from tts_etl_pipeline_spark.sources.bucketing import (
        drop_bucketed,
        read_bucketed,
        write_bucketed,
    )

    run = uuid.uuid4().hex[:12]
    li_name, o_name = f"__j2_li_{run}", f"__j2_orders_{run}"
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(li, li_name, ["l_orderkey"], 8)
    write_bucketed(orders, o_name, ["o_orderkey"], 8)
    joined = read_bucketed(spark, li_name).join(
        read_bucketed(spark, o_name),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )

    def drop() -> None:
        drop_bucketed(spark, li_name)
        drop_bucketed(spark, o_name)

    return joined, drop


@registry.query(
    "j2_bucketed_colocated_join",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def j2_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined, drop = _j2_joined_bucketed(spark, sf_dir)
    try:
        return materialize(
            joined.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .orderBy("o_orderpriority")
        )
    finally:
        drop()


# ---------------------------------------------------------------------------
# j3 — PARTITION-PRUNED scan over a date-partitioned layout: events are
# written partitionBy(event_date) — the at-rest layout every 100 TB event
# store uses — and the one-day query then touches exactly ONE partition
# directory: the plan's PartitionFilters prune at the METADATA level, so
# the other 29 days contribute zero I/O (data-level PushedFilters can only
# skip row groups after opening files; partition pruning never lists them).
# test_plans.py pins a populated PartitionFilters entry and an empty
# data-filter pushdown (the predicate is fully consumed by pruning). The
# write is the once-at-ingest cost; the oracle proves the layout is
# semantically invisible. Schema is passed explicitly on read-back so the
# empty-corpus vintage (no partition dirs at all) still returns a typed
# empty result.
# ---------------------------------------------------------------------------
J3_DAY = "2024-01-15"


def _j3_pruned_scan(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Write the partitioned layout under `tmp`; return the one-day scan."""
    path = f"{tmp}/events_by_day"
    ev = table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    ev.write.partitionBy("event_date").mode("overwrite").parquet(path)
    back = spark.read.schema(ev.schema).parquet(path)
    return back.filter(F.col("event_date") == F.lit(J3_DAY).cast("date"))


@registry.query(
    "j3_partition_pruned_scan",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '{J3_DAY}'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def j3_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_dir("j3_") as tmp:
        return materialize(
            _j3_pruned_scan(spark, sf_dir, tmp)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .orderBy("event_type")
        )


# ---------------------------------------------------------------------------
# r4 — RECURSIVE CTE linear recurrence (WITH RECURSIVE, new in Spark 4):
# quarterly carried-over revenue where each quarter keeps half the previous
# quarter's carry — carried(q) = carried(q-1) DIV 2 + inflow(q). A linear
# RECURRENCE is the shape window functions provably cannot express (a
# running SUM is associative; x_t = f(x_{t-1}) + a_t is not), so before
# recursive CTEs this required a driver-side loop or a sequential
# mapPartitions. Discipline: Spark's recursion only supports UNION ALL, so
# cyclic-graph traversals (pr3's BFS, where UNION's dedup keeps walk
# enumeration finite) stay on the iterative frontier loop; the sound
# recursive-CTE shapes are acyclic/calendar-bounded ladders like this one.
# The quarter pre-aggregate is materialized FIRST — recursing over the raw
# view would re-derive the orders aggregate on every loop iteration — so
# each of the ~28 UnionLoop steps joins a 28-row checkpointed relation
# (per-step cost is engine overhead, independent of data scale; depth is
# calendar-bounded, so 100 TB changes only the one pre-agg shuffle).
# Integer-cents state with DIV keeps the recurrence bit-exact in both
# engines (DuckDB's // is the integer-division twin).
# ---------------------------------------------------------------------------
@registry.query(
    "r4_recursive_carryover",
    """
    WITH RECURSIVE monthly AS (
      SELECT date_trunc('quarter', o_orderdate) AS q,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS BIGINT) AS inflow_cents
      FROM orders GROUP BY date_trunc('quarter', o_orderdate)
    ),
    idx AS (
      SELECT q, inflow_cents, ROW_NUMBER() OVER (ORDER BY q) AS i FROM monthly
    ),
    carry(i, q, inflow_cents, carried_cents) AS (
      SELECT i, q, inflow_cents, inflow_cents FROM idx WHERE i = 1
      UNION ALL
      SELECT x.i, x.q, x.inflow_cents, c.carried_cents // 2 + x.inflow_cents
      FROM idx x JOIN carry c ON x.i = c.i + 1
    )
    SELECT strftime(q, '%Y-%m') AS quarter, inflow_cents, carried_cents
    FROM carry ORDER BY quarter
    """,
)
def r4_recursive_carryover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("quarter", "o_orderdate").alias("q")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("inflow_cents")
    )
    # bounded: the window ranks ~28 quarter rows, never the fact table
    idx = materialize(
        monthly.withColumn("i", F.row_number().over(W.orderBy("q")))
    )
    idx.createOrReplaceTempView("__r4_idx")
    return spark.sql(
        """
        WITH RECURSIVE carry(i, q, inflow_cents, carried_cents) AS (
          SELECT i, q, inflow_cents, inflow_cents FROM __r4_idx WHERE i = 1
          UNION ALL
          SELECT x.i, x.q, x.inflow_cents,
                 c.carried_cents DIV 2 + x.inflow_cents
          FROM __r4_idx x JOIN carry c ON x.i = c.i + 1
        )
        SELECT date_format(q, 'yyyy-MM') AS quarter, inflow_cents,
               carried_cents
        FROM carry ORDER BY quarter
        """
    )


# ---------------------------------------------------------------------------
# j4 — DYNAMIC partition pruning (DPP): j3 proved static pruning, where the
# pruning predicate is a literal in the query text. The 100 TB norm is the
# OTHER case: the partition filter is only known at RUNTIME because it
# comes from a dimension join — "scan only the partitions whose key
# survives the dim filter". Spark plants a DPP subquery inside the fact
# scan's PartitionFilters (`dynamicpruning#...`): the filtered day-dim is
# evaluated first (reusing the join's broadcast exchange, so the subquery
# is free), and only the surviving partition directories are ever listed.
# Without DPP this join reads all ~30 day partitions and throws 5/7 of the
# rows away post-join; with it, weekend partitions are the only I/O — at
# 100 TB that is the difference between a 30-day scan and a 9-day scan
# decided by data, not by query text. test_plans.py pins the
# `dynamicpruning` entry in the fact scan's PartitionFilters. The write
# phase is the once-at-ingest cost (j3 discipline); the day-dim is derived
# from the same frame before the fact write so the layout build scans the
# source once. Oracle proves layout + DPP are semantically invisible.
# ---------------------------------------------------------------------------
def _j4_dpp_join(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Write the partitioned fact + day dim under `tmp`; return their join."""
    ev = table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    ev.write.partitionBy("event_date").mode("overwrite").parquet(
        f"{tmp}/j4_events_fact"
    )
    fact = spark.read.schema(ev.schema).parquet(f"{tmp}/j4_events_fact")
    # day dim: one row per calendar day present, with its day-of-week
    # (Spark dayofweek: 1=Sunday..7=Saturday). Derived from the WRITTEN
    # layout's partition column — a partition-column-only projection is a
    # directory listing, no data pages — so the source is scanned exactly
    # once (the fact write), not twice (review finding r7).
    fact.select("event_date").distinct().withColumn(
        "dow", F.dayofweek("event_date")
    ).write.mode("overwrite").parquet(f"{tmp}/j4_day_dim")
    dim = spark.read.parquet(f"{tmp}/j4_day_dim").filter(
        F.col("dow").isin(1, 7)  # weekend
    )
    return fact.join(dim, "event_date")


@registry.query(
    "j4_dynamic_partition_pruning",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE dayofweek(CAST(ts AS DATE)) IN (0, 6)  -- DuckDB dow: Sun=0, Sat=6
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def j4_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_dir("j4_") as tmp:
        return materialize(
            _j4_dpp_join(spark, sf_dir, tmp)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .orderBy("event_type")
        )


# ---------------------------------------------------------------------------
# j5 — custom Python DataSource WRITE path round-trip: documents stream
# out through `format("jsonl_docs")` — whose writer implements the REAL
# two-phase commit protocol (tasks stage uniquely-named files, only the
# driver's commit() renames them visible, abort() sweeps the staging
# dir; sources/pyds.py::JsonlWriter) — and come back through the same
# source's reader. The oracle aggregates the ORIGINAL table, so the
# driver-checked hash equality is the round-trip proof: the custom
# format's write+read pair is semantically invisible, the same
# layout-invisibility contract j2 (bucketing) and j3/j4 (partitioning)
# pin for the built-in formats. Executors write their partitions
# directly (payload never crosses the driver).
# Completes B14: read (batch + pushdown), stream (st11), and now write.
# ---------------------------------------------------------------------------
@registry.query(
    "j5_pyds_writer_roundtrip",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def j5_pyds_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.sources.pyds import register_sources

    register_sources(spark)
    with scratch_dir("j5_") as tmp:
        docs = table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "text"
        )
        docs.write.format("jsonl_docs").mode("append").option("path", tmp).save()
        back = spark.read.format("jsonl_docs").option("path", tmp).load()
        return materialize(
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text")).cast("bigint").alias("chars"),
                F.min("doc_id").cast("bigint").alias("min_doc"),
                F.max("doc_id").cast("bigint").alias("max_doc"),
            )
            .orderBy("lang")
        )


# ---------------------------------------------------------------------------
# j6 — SCHEMA-DRIFT scan (mergeSchema): a 100 TB lake's table is written
# by years of pipeline versions, and its parquet files disagree — early
# files lack columns later ones carry. `mergeSchema=true` unions the
# footer schemas at planning time and serves missing columns as NULLs,
# so one scan reads every vintage without a migration rewrite. The
# layout: vintage-1 orders files carry (o_orderkey, o_orderdate,
# o_totalprice); vintage-2 adds o_orderpriority — exactly s2's
# union-by-name drift, pushed down from the DataFrame layer into the
# SOURCE. Per-vintage aggregates keyed by whether the new column is
# NULL prove which rows came from which vintage with no file-name
# bookkeeping. Note the cost the docstring owes the 100 TB reader:
# mergeSchema reads EVERY file footer at planning time — fine per
# directory/partition, wrong as a default over a million-file table
# (that is what the round's versioned-table manifests are for).
# ---------------------------------------------------------------------------
@registry.query(
    "j6_mergeschema_scan",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_orderdate, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT COALESCE(o_orderpriority, '<pre-schema>') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS total_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM unioned
    GROUP BY 1
    ORDER BY priority
    """,
)
def j6_mergeschema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_dir("j6_") as tmp:
        orders = table(spark, sf_dir, "orders")
        v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        )
        v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"
        )
        v1.write.parquet(f"{tmp}/t/vintage=1")
        v2.write.parquet(f"{tmp}/t/vintage=2")
        back = spark.read.option("mergeSchema", "true").parquet(
            f"{tmp}/t/vintage=1", f"{tmp}/t/vintage=2"
        )
        return materialize(
            back.groupBy(
                F.coalesce("o_orderpriority", F.lit("<pre-schema>")).alias(
                    "priority"
                )
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                .cast("double")
                .alias("total_price"),
                F.min("o_orderkey").cast("bigint").alias("min_key"),
            )
            .orderBy("priority")
        )


# ---------------------------------------------------------------------------
# q23 — TPC-H Q21's shape ("suppliers who kept orders waiting") adapted to
# this fixture's columns: a line is LATE when it ships more than 60 days
# after o_orderdate, and a supplier "kept an order waiting" when, on a
# multi-supplier finalized ('F') order, they are the ONLY late supplier;
# numwait counts their late lines (the l1 grain of the textbook query).
# The oracle runs the textbook formulation — EXISTS + correlated NOT
# EXISTS, i.e. THREE lineitem scans; the Spark plan is the single-scan
# rewrite: lineitem joins the 'F' orders once on orderkey (fact-fact hash
# join, no broadcast hint — both sides scale), then ONE order-grain
# aggregation derives everything at once: n_suppliers (the EXISTS),
# n_late_suppliers (the NOT EXISTS), the sole late supplier (max of a
# when() — exact because the filter keeps only n_late_suppliers = 1) and
# their late-line count. The groupBy(l_orderkey) reuses the join's hash
# partitioning, so the fact data shuffles ONCE; supplier names join behind
# the broadcast size guard and the top-25 is a TakeOrdered, no global sort.
# ---------------------------------------------------------------------------
@registry.query(
    "q23_waiting_suppliers",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s, lineitem l1, orders o
    WHERE s.s_suppkey = l1.l_suppkey
      AND o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 25
    """,
)
def q23_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders_f = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    # Two chained aggregations instead of one with two countDistincts: the
    # distinct-agg form makes the planner Expand the joined fact rows x3
    # (one replica per distinct column plus one for the plain aggregates)
    # before the hash agg. Aggregating first at (orderkey, suppkey) grain
    # and then at orderkey grain computes the same four values with NO
    # Expand — and neither agg needs a new Exchange, because the join's
    # hash partitioning on orderkey already clusters both grains.
    per_supp = (
        li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .withColumn("late", late)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max("late").alias("supp_late"),
            F.sum("late").alias("supp_late_lines"),
        )
    )
    per_order = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("supp_late").alias("n_late_supp"),
            F.max(F.when(F.col("supp_late") == 1, F.col("l_suppkey"))).alias(
                "late_supp"
            ),
            F.sum("supp_late_lines").alias("n_late_lines"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(
            scaled_broadcast(supp, sf_dir, "supplier"),
            per_order.late_supp == supp.s_suppkey,
        )
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# j7 — Z-ORDER pruned scan, promoting sources/zorder.py from a pytest
# contract to a driver query (the j2/j3/j4 promotion pattern): orders is
# rewritten Z-ordered on (o_custkey, o_totalprice) — sampled quantile cuts,
# scan-side Morton key, ONE range exchange, no Window — and an interior
# 2-D rectangle (the 20-40% band of each dimension, integer-exact bounds
# both engines compute identically) is aggregated from the clustered
# layout. The query asserts IN-QUERY, from parquet footer stats alone,
# that the rectangle lets a reader skip at least a quarter of the files on
# at least one dimension — the multi-dimensional pruning that a linear
# sort cannot give both columns at once (the data-skipping contract
# Delta's OPTIMIZE ZORDER sells). The oracle aggregates the same rectangle
# straight off the raw table: layout must never change answers.
#
# The per-run Z-order write IS the rehearsal being measured — like j2's
# bucketed ingest and j3/j4's partitioned writes, the query's subject is
# the maintenance operation itself, so it deliberately does NOT use the
# (session, sf_dir) artifact cache the pr* family shares, and it stays out
# of the throughput headline for the same reason.
#
# The pruning contract is asserted only when it is well-posed: a layout
# with fewer than J7_FILES files (tiny table) or a near-constant key
# (spread below _J7_MIN_SPREAD on either dimension) cannot promise
# rectangle skipping, so the check is skipped rather than failed. A real
# regression raises PruningRegressionError — a typed layout-degradation
# signal, distinguishable from a query bug.
# ---------------------------------------------------------------------------
J7_FILES = 16
_J7_MIN_SPREAD = 100  # min (max-min) per dimension for the contract to bind


@registry.query(
    "j7_zorder_pruned_scan",
    """
    WITH b AS (
      SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
             MIN(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS pmin,
             MAX(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS pmax
      FROM orders
    )
    SELECT COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_custs,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders, b
    WHERE o_custkey BETWEEN b.cmin + (b.cmax - b.cmin) * 2 // 10
                        AND b.cmin + (b.cmax - b.cmin) * 4 // 10
      AND CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          BETWEEN b.pmin + (b.pmax - b.pmin) * 2 // 10
              AND b.pmin + (b.pmax - b.pmin) * 4 // 10
    """,
)
def j7_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.sources.zorder import (
        PruningRegressionError,
        file_column_ranges,
        zorder_write,
    )

    orders = table(spark, sf_dir, "orders").withColumn(
        "price_cents", (money("o_totalprice") * 100).cast("bigint")
    )
    # integer-exact interior rectangle: both engines compute the same
    # bounds from MIN/MAX with integer division (control-plane scalars)
    b = orders.agg(
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.min("price_cents").alias("pmin"),
        F.max("price_cents").alias("pmax"),
    ).collect()[0]
    empty = b.cmin is None  # empty-table sweep: no rows -> no rectangle
    clo = 0 if empty else b.cmin + (b.cmax - b.cmin) * 2 // 10
    chi = 0 if empty else b.cmin + (b.cmax - b.cmin) * 4 // 10
    plo = 0 if empty else b.pmin + (b.pmax - b.pmin) * 2 // 10
    phi = 0 if empty else b.pmin + (b.pmax - b.pmin) * 4 // 10
    with scratch_dir("j7_") as tmp:
        path = f"{tmp}/orders_zorder"
        cols = orders.select("o_custkey", "price_cents")
        if empty:  # nothing to cluster; keep the read/agg path identical
            cols.write.parquet(path)
        else:
            zorder_write(cols, ["o_custkey", "price_cents"], path, J7_FILES)
            # footer-stat data-skipping proof: at least a quarter of the
            # files must be skippable for the rectangle from min/max alone
            ranges = file_column_ranges(path, ["o_custkey", "price_cents"])
            skipped = sum(
                1
                for rec in ranges
                if (
                    rec.get("o_custkey") is not None
                    and (rec["o_custkey"][1] < clo or rec["o_custkey"][0] > chi)
                )
                or (
                    rec.get("price_cents") is not None
                    and (
                        rec["price_cents"][1] < plo
                        or rec["price_cents"][0] > phi
                    )
                )
            )
            contract_binds = (
                len(ranges) >= J7_FILES
                and (b.cmax - b.cmin) >= _J7_MIN_SPREAD
                and (b.pmax - b.pmin) >= _J7_MIN_SPREAD
            )
            if contract_binds and skipped < max(1, len(ranges) // 4):
                raise PruningRegressionError(
                    f"z-order pruning degraded: only {skipped}/{len(ranges)} "
                    "files skippable for the interior rectangle"
                )
        back = spark.read.parquet(path)
        return materialize(
            back.filter(
                F.col("o_custkey").between(clo, chi)
                & F.col("price_cents").between(plo, phi)
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_custs"),
                F.sum("price_cents").cast("bigint").alias("sum_cents"),
            )
        )


# ---------------------------------------------------------------------------
# j8 — MERGE INTO driver promotion (round-8 verdict task 1): the versioned
# table's flagship write path — sources/versioned.py::merge_upsert's
# matched-update / not-matched-insert / conditional-delete, expressed as
# ONE full-outer join and committed under the manifest CAS — proven by a
# driver-checked hash equality instead of pytest alone. The table is seeded
# from orders (keys % 7 != 0, price in integer cents), then a derived delta
# (keys % 3 == 0, price doubled) merges in: matched 'F' rows DELETE,
# matched others UPDATE to the doubled price, unmatched source rows INSERT
# (keys % 21 == 0 exercise the insert arm, including 'F' inserts — the
# delete condition only fires WHEN MATCHED, per the Delta contract). The
# read-back aggregate is layout- and protocol-invisible, like j5/j7: the
# oracle computes the same merge as a textbook FULL OUTER JOIN projection
# in DuckDB, so hash equality proves MERGE SEMANTICS, not a write detail.
# Scale shape: the merge is one key-partitioned shuffle join (the
# unavoidable cost of any merge) + an atomic manifest commit; the audit
# aggregate is one partial+final pass over the merged snapshot.
# ---------------------------------------------------------------------------
@registry.query(
    "j8_merge_upsert_audit",
    """
    WITH t AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    s AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 2
                  AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    merged AS (
      SELECT CASE WHEN s.k IS NOT NULL THEN s.st ELSE t.st END AS status,
             CASE WHEN s.k IS NOT NULL THEN s.cents ELSE t.cents END AS cents,
             COALESCE(s.k, t.k) AS k
      FROM t FULL OUTER JOIN s ON t.k = s.k
      -- COALESCE mirrors merge_upsert's Delta contract: a NULL delete
      -- predicate falls through to UPDATE, never deletes
      WHERE NOT (t.k IS NOT NULL AND s.k IS NOT NULL
                 AND COALESCE(s.st = 'F', FALSE))
    )
    SELECT status,
           COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(k) AS BIGINT) AS min_key,
           CAST(MAX(k) AS BIGINT) AS max_key
    FROM merged GROUP BY status ORDER BY status
    """,
)
def j8_merge_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.sources.versioned import (
        merge_upsert,
        read_version,
        write_version,
    )

    orders = table(spark, sf_dir, "orders")
    cents = (money("o_totalprice") * 100).cast("bigint")
    target = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", cents.alias("cents")
    )
    source = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_orderstatus", (cents * 2).cast("bigint").alias("cents")
    )
    with scratch_dir("j8_") as base:
        path = f"{base}/orders_tbl"
        write_version(target, path)  # v1: the seed commit
        merge_upsert(  # v2: THE MERGE under test
            spark, path, source, key="o_orderkey", delete_on="o_orderstatus = 'F'"
        )
        back = read_version(spark, path)
        return materialize(
            back.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
                F.min("o_orderkey").cast("bigint").alias("min_key"),
                F.max("o_orderkey").cast("bigint").alias("max_key"),
            )
            .orderBy("status")
        )


# ---------------------------------------------------------------------------
# j9 — MANIFEST-STATS pruned scan: the versioned table answers j6's own
# caveat. mergeSchema (and any footer-stat skipping, j7 included) reads
# every file footer at PLANNING time — fine per partition, the scalability
# bug at a million-file table. Here the per-file min/max is recorded ONCE,
# at commit time, into the KB-scale manifest (write_version collect_stats —
# Iceberg's manifest-entry column stats), and read_version_pruned plans the
# file set driver-side from the manifest alone: zero footer IO, zero
# listing. The layout: orders is range-partitioned on o_orderkey into
# J9_FILES files (disjoint key ranges per file), committed with stats, and
# an interior 20-40% key band (integer-exact bounds both engines compute
# identically — the j7 idiom) is read back pruned. The query asserts
# IN-QUERY that at least half the files were skipped from the manifest
# (typed PruningRegressionError, gated on well-posedness like j7); the
# oracle aggregates the same band straight off the raw table — the
# manifest, the protocol and the layout must never change answers.
# Scale shape: one range-exchange write rehearsal + an aggregation over
# ~1/5 of the data; the pruning decision costs O(files) driver-side JSON.
# ---------------------------------------------------------------------------
J9_FILES = 16
_J9_MIN_SPREAD = 100  # min key spread for the pruning contract to bind


@registry.query(
    "j9_manifest_pruned_scan",
    """
    WITH b AS (
      SELECT MIN(o_orderkey) AS kmin, MAX(o_orderkey) AS kmax FROM orders
    )
    SELECT COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_custs,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders, b
    WHERE o_orderkey BETWEEN b.kmin + (b.kmax - b.kmin) * 2 // 10
                         AND b.kmin + (b.kmax - b.kmin) * 4 // 10
    """,
)
def j9_manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_pruned,
        write_version,
    )
    from tts_etl_pipeline_spark.sources.zorder import PruningRegressionError

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (money("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    b = orders.agg(
        F.min("o_orderkey").alias("kmin"), F.max("o_orderkey").alias("kmax")
    ).collect()[0]
    empty = b.kmin is None  # empty-table sweep: no rows -> no band
    klo = 0 if empty else b.kmin + (b.kmax - b.kmin) * 2 // 10
    khi = 0 if empty else b.kmin + (b.kmax - b.kmin) * 4 // 10
    with scratch_dir("j9_") as base:
        path = f"{base}/orders_keyed"
        write_version(
            orders.repartitionByRange(J9_FILES, "o_orderkey"),
            path,
            collect_stats=("o_orderkey",),
        )
        pruned, skipped, total = read_version_pruned(
            spark, path, "o_orderkey", klo, khi
        )
        contract_binds = (
            not empty
            and total >= J9_FILES
            and (b.kmax - b.kmin) >= _J9_MIN_SPREAD
        )
        if contract_binds and skipped < total // 2:
            raise PruningRegressionError(
                f"manifest pruning degraded: only {skipped}/{total} files "
                "skipped for the interior key band"
            )
        return materialize(
            pruned.agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_custs"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )


# ---------------------------------------------------------------------------
# j10 — SCD TYPE-2 dimension history (sources/scd.py driver promotion): the
# warehouse "keep every historical value" pattern, folded batch-by-batch on
# the versioned table. The change stream is deterministic from `events`:
# the time axis splits into three equal epoch-micro bands (integer-exact
# cuts, the j7/j9 idiom), each band contributes per-user the LATEST
# (ts, event_id)-ordered event_type as that batch's state, and the three
# batches fold in order — matched-and-changed closes + opens (null-safe
# attr comparison), matched-and-same collapses (no version forked),
# new keys insert. The oracle rebuilds the SAME history with pure window
# functions (per-(user, band) ROW_NUMBER pick, LAG collapse with
# IS DISTINCT FROM, LEAD validity bounds), so the driver's hash equality
# proves the FOLD converges to the declarative history — the two
# formulations of SCD2 agreeing is the contract. The audit aggregate sums
# exact closed-interval spans in bigint micros: any mispaired
# valid_from/valid_to anywhere in the history shifts it. Scale shape: each
# fold is one current-x-batch full-outer join + an atomic overwrite
# commit; closed history passes through untouched (never rejoined).
# ---------------------------------------------------------------------------
@registry.query(
    "j10_scd2_history",
    f"""
    WITH {USER_STATE_HIST_CTES}
    SELECT state,
           COUNT(*) AS n_versions,
           CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_current,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(valid_to - valid_from) AS BIGINT) AS closed_span_us
    FROM hist GROUP BY state ORDER BY state
    """,
)
def j10_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.bands import N_BANDS, band_states
    from tts_etl_pipeline_spark.sources.scd import scd2_apply
    from tts_etl_pipeline_spark.sources.versioned import read_version

    states, _, _, _, _ = band_states(spark, sf_dir)
    with scratch_dir("j10_") as base:
        path = f"{base}/user_state_dim"
        for i in range(1, N_BANDS + 1):
            batch = states.filter(F.col("band") == i).select(
                "user_id",
                F.col("state").alias("event_type"),
                F.col("tss").alias("eff"),
            )
            scd2_apply(spark, path, batch, "user_id", ["event_type"], "eff")
        hist = read_version(spark, path)
        return materialize(
            hist.groupBy(F.col("event_type").alias("state"))
            .agg(
                F.count(F.lit(1)).alias("n_versions"),
                F.sum(F.col("is_current").cast("int"))
                .cast("bigint")
                .alias("n_current"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("valid_to") - F.col("valid_from"))
                .cast("bigint")
                .alias("closed_span_us"),
            )
            .orderBy("state")
        )


# ---------------------------------------------------------------------------
# j11 — RUNTIME BLOOM-FILTER join pruning (the optimizer surface next to
# j4's dynamic partition pruning): Spark's InjectRuntimeFilter rule builds
# a bloom filter over the CREATION side's join keys (the selective
# status='P' orders subset) and pushes `might_contain(xxhash64(key))` into
# the APPLICATION side's scan filter — fact rows that cannot join are
# dropped BEFORE the shuffle, the row-level analogue of j9's file-level
# skipping. At 100 TB the rule's own thresholds bind naturally
# (application side >= 10 GB, creation side <= 10 MB after its filter);
# at fixture scale the size gate is lowered INSIDE the query and restored
# in finally (conf leaks poison every later query — the u7 scripting-flag
# lesson), with the aggregate materialized while the scoped plan is
# live (physical planning is lazy; an unmaterialized return would re-plan
# AFTER the conf restore and silently lose the rehearsal). The broadcast
# threshold is scoped off for the same reason: orders('P') at 100 TB is
# not broadcastable, and the bloom filter only matters on a shuffle join.
# The filter is semantics-free (false positives only re-admit rows the
# join drops anyway), so the oracle is the plain join-aggregate; the plan
# contract (`might_contain` + `bloom_filter_agg` present) is asserted
# in-query with a typed error, gated on both sides being non-empty (the
# rule legitimately declines on empty statistics).
# ---------------------------------------------------------------------------
@registry.query(
    "j11_runtime_bloom_join",
    """
    SELECT l.l_returnflag AS returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'P'
    GROUP BY l.l_returnflag
    ORDER BY returnflag
    """,
)
def j11_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.plans.inspect import physical_plan

    _SCAN_GATE = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    _BCAST = "spark.sql.autoBroadcastJoinThreshold"
    old_gate = spark.conf.get(_SCAN_GATE, "10GB")
    old_bcast = spark.conf.get(_BCAST, "10MB")
    try:
        spark.conf.set(_SCAN_GATE, "0")
        spark.conf.set(_BCAST, "-1")
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
        )
        orders_p = (
            table(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "P")
            .select("o_orderkey")
        )
        out = (
            li.join(orders_p, li.l_orderkey == orders_p.o_orderkey)
            .groupBy(F.col("l_returnflag").alias("returnflag"))
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_quantity").cast("decimal(12,2)"))
                .cast("double")
                .alias("sum_qty"),
                F.sum((money("l_extendedprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("revenue_cents"),
            )
            .orderBy("returnflag")
        )
        plan = physical_plan(out)
        injected = "might_contain" in plan and "bloom_filter_agg" in plan
        populated = (  # control-plane 1-row probes: the rule may decline
            li.limit(1).count() == 1 and orders_p.limit(1).count() == 1
        )  # on empty-side statistics, and that is correct behavior
        if populated and not injected:
            from tts_etl_pipeline_spark.sources.zorder import (
                PruningRegressionError,
            )

            raise PruningRegressionError(
                "runtime bloom filter was not injected into the fact scan"
            )
        # materialize UNDER the scoped confs: planning is lazy, and the
        # driver collects after this function restored them
        return materialize(out)
    finally:
        spark.conf.set(_SCAN_GATE, old_gate)
        spark.conf.set(_BCAST, old_bcast)


# ---------------------------------------------------------------------------
# j12 — SCD2 INCREMENTAL FOLD protocol (the round-10 write-side contract,
# driver-promoted): j10 proves the fold's ANSWER converges to the
# declarative window-function history; j12 proves the fold's WRITE is
# O(current + batch) — every fold must carry the previous version's
# closed-history data files BY MANIFEST REFERENCE (same names, still on
# disk, never rewritten; classification from manifest is_current stats,
# zero file IO — sources/scd.py::closed_history_files). The protocol is
# asserted IN-QUERY across every committed version with a typed error, so
# a regression to history-rewriting folds fails the driver gate even
# though it would still hash-match. The returned aggregate is the per-user
# version-count histogram (a different projection of the same fold than
# j10's per-state rollup), oracle = the shared USER_STATE_HIST_CTES
# prefix + a per-user GROUP BY. Scale shape: each fold is one
# current-x-batch join + an O(changed) commit; closed bytes are never
# read or written again.
# ---------------------------------------------------------------------------
@registry.query(
    "j12_scd2_incremental_fold",
    f"""
    WITH {USER_STATE_HIST_CTES},
    per_user AS (
      SELECT user_id,
             COUNT(*) AS n_versions,
             CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_open,
             CAST(SUM(COALESCE(valid_to - valid_from, 0)) AS BIGINT)
               AS closed_span_us
      FROM hist GROUP BY user_id
    )
    SELECT n_versions,
           COUNT(*) AS n_users,
           CAST(SUM(n_open) AS BIGINT) AS n_open_rows,
           CAST(SUM(closed_span_us) AS BIGINT) AS sum_closed_span_us
    FROM per_user GROUP BY n_versions ORDER BY n_versions
    """,
)
def j12_scd2_incremental_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.functions.bands import N_BANDS, band_states
    from tts_etl_pipeline_spark.sources.scd import (
        closed_history_files,
        scd2_apply,
    )
    from tts_etl_pipeline_spark.sources.versioned import manifest, read_version

    states, _, _, _, _ = band_states(spark, sf_dir)
    with scratch_dir("j12_") as base:
        path = f"{base}/user_state_dim"
        for i in range(1, N_BANDS + 1):
            batch = states.filter(F.col("band") == i).select(
                "user_id",
                F.col("state").alias("event_type"),
                F.col("tss").alias("eff"),
            )
            head = scd2_apply(spark, path, batch, "user_id", ["event_type"], "eff")
        # THE PROTOCOL ASSERT, driver-checked every round: each fold must
        # have carried the previous version's closed-history files by
        # manifest reference (same names, still on disk — zero rewrite).
        for v in range(2, head + 1):
            prev_closed = set(closed_history_files(path, v - 1))
            now_files = set(manifest(path, v)["files"])
            if not prev_closed <= now_files:
                raise RuntimeError(
                    f"SCD2 fold v{v} stopped reusing closed-history files: "
                    f"{sorted(prev_closed - now_files)[:3]} were rewritten"
                )
            gone = [
                f
                for f in prev_closed
                if not _os.path.exists(_os.path.join(path, f))
            ]
            if gone:
                raise RuntimeError(
                    f"reused closed-history files missing on disk: {gone[:3]}"
                )
        hist = read_version(spark, path)
        per_user = hist.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.sum(F.col("is_current").cast("int")).cast("bigint").alias("n_open"),
            F.sum(
                F.coalesce(F.col("valid_to") - F.col("valid_from"), F.lit(0))
            )
            .cast("bigint")
            .alias("closed_span_us"),
        )
        return materialize(
            per_user.groupBy("n_versions")
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("n_open").cast("bigint").alias("n_open_rows"),
                F.sum("closed_span_us").cast("bigint").alias("sum_closed_span_us"),
            )
            .orderBy("n_versions")
        )


# ---------------------------------------------------------------------------
# j13 — TIME TRAVEL x SCD2 composition (round-9 verdict task 7, driver-
# promoted beyond the pytest invariant): after all three band folds commit,
# the dimension is read AS OF the MID-FOLD version (version 2 — the commit
# that closed band 2's batch), and that snapshot must equal the DECLARATIVE
# history of bands 1..2 alone — the window-function oracle with the band-3
# states never folded in (functions/bands.py::user_state_hist_ctes(2)).
# This is the composition a real warehouse leans on daily: "what did the
# dimension say last Tuesday" answered from manifest-pinned time travel,
# provably a consistent SCD2 prefix, not a torn mix. The in-query guard
# asserts the head actually advanced one version per fold (the protocol
# j12 checks file-identity for). Scale shape: identical to j10's folds;
# the AS OF read costs one manifest parse + the v2 file set.
# ---------------------------------------------------------------------------
@registry.query(
    "j13_scd2_asof_history",
    f"""
    WITH {user_state_hist_ctes(2)}
    SELECT state,
           COUNT(*) AS n_versions,
           CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_current,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(valid_to - valid_from) AS BIGINT) AS closed_span_us
    FROM hist GROUP BY state ORDER BY state
    """,
)
def j13_scd2_asof_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.bands import N_BANDS, band_states
    from tts_etl_pipeline_spark.sources.scd import scd2_apply
    from tts_etl_pipeline_spark.sources.versioned import read_version

    states, _, _, _, _ = band_states(spark, sf_dir)
    with scratch_dir("j13_") as base:
        path = f"{base}/user_state_dim"
        versions = []
        for i in range(1, N_BANDS + 1):
            batch = states.filter(F.col("band") == i).select(
                "user_id",
                F.col("state").alias("event_type"),
                F.col("tss").alias("eff"),
            )
            versions.append(
                scd2_apply(spark, path, batch, "user_id", ["event_type"], "eff")
            )
        if versions != list(range(1, N_BANDS + 1)):
            raise RuntimeError(
                f"SCD2 folds must commit one version each, got {versions}"
            )
        # THE COMPOSITION: time travel to the mid-fold commit; band 3's
        # states must be invisible, bands 1-2 a consistent SCD2 prefix
        hist_v2 = read_version(spark, path, versions[1])
        return materialize(
            hist_v2.groupBy(F.col("event_type").alias("state"))
            .agg(
                F.count(F.lit(1)).alias("n_versions"),
                F.sum(F.col("is_current").cast("int"))
                .cast("bigint")
                .alias("n_current"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("valid_to") - F.col("valid_from"))
                .cast("bigint")
                .alias("closed_span_us"),
            )
            .orderBy("state")
        )


# ---------------------------------------------------------------------------
# j14 — POINT-IN-TIME dimension join (AS OF event time): the operation SCD2
# history exists to serve — enrich every fact row with the dimension state
# that was valid AT that row's timestamp, not the current one (the
# train/serve-skew killer in feature pipelines, Delta/Feast's point-in-time
# correctness story). The dimension folds from the three epoch bands (the
# j10 substrate); every event then LEFT-joins its user's history on user_id
# EQUALITY plus the half-open validity predicate valid_from <= ts <
# coalesce(valid_to, +inf). Spans are disjoint per user by the SCD2
# invariant (pinned in test_scd2.py), so each event matches AT MOST one
# version — events before a user's first version (or with a NULL user)
# surface as matched=false, kept honest in the output grain. Scale shape:
# an EQUI join on user_id with the range conditions as residual filters —
# hash-partitionable, never a nested loop (each user's history is a few
# rows, so the residual scans a handful of candidates per fact row); the
# dimension side is SF-scaling, so no hard broadcast — AQE picks broadcast
# at fixture scale and shuffle at 100 TB. Oracle: the shared hist CTEs +
# the identical LEFT JOIN in SQL.
# ---------------------------------------------------------------------------
@registry.query(
    "j14_scd2_point_in_time_join",
    f"""
    WITH {USER_STATE_HIST_CTES},
    ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS tss,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    enriched AS (
      SELECT e.user_id, e.cents,
             h.state, h.valid_from IS NOT NULL AS matched
      FROM ev e
      LEFT JOIN hist h
        ON e.user_id = h.user_id
       AND e.tss >= h.valid_from
       AND (h.valid_to IS NULL OR e.tss < h.valid_to)
    )
    SELECT matched, state,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM enriched GROUP BY matched, state ORDER BY matched, state
    """,
)
def j14_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.bands import N_BANDS, band_states
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.scd import scd2_apply
    from tts_etl_pipeline_spark.sources.versioned import read_version

    states, _, _, _, _ = band_states(spark, sf_dir)
    with scratch_dir("j14_") as base:
        path = f"{base}/user_state_dim"
        for i in range(1, N_BANDS + 1):
            batch = states.filter(F.col("band") == i).select(
                "user_id",
                F.col("state").alias("event_type"),
                F.col("tss").alias("eff"),
            )
            scd2_apply(spark, path, batch, "user_id", ["event_type"], "eff")
        h = read_version(spark, path).select(
            F.col("user_id").alias("h_user"),
            F.col("event_type").alias("state"),
            "valid_from",
            "valid_to",
        )
        ev = table(spark, sf_dir, "events").select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("tss"),
            (money("value") * 100).cast("bigint").alias("cents"),
        )
        enriched = ev.join(
            h,
            (ev.user_id == h.h_user)
            & (ev.tss >= h.valid_from)
            & (h.valid_to.isNull() | (ev.tss < h.valid_to)),
            "left",
        )
        return materialize(
            enriched.groupBy(
                F.col("valid_from").isNotNull().alias("matched"),
                "state",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .orderBy("matched", "state")
        )


# ---------------------------------------------------------------------------
# j15 — KEY-CLUSTERED SCD2 fold (the round-10 "next rung" past j12's
# O(current + batch) write): with the current slice staged as key-range
# files and per-file key min/max in the manifest (scd2_apply
# cluster_files=N), a key-LOCALIZED batch must read and rewrite ONLY the
# current files whose range it touches — every other current file rides by
# manifest reference exactly like closed history does. The query folds
# band 1 for ALL users (clustered into 4 range files), then bands 2..3 for
# only the LOWER-HALF user ids (mid = integer midpoint of the events key
# range, computed identically in both engines); the protocol assert walks
# every committed version and requires each prior version's current-only
# files that lie entirely ABOVE mid to survive INTO the next manifest and
# on disk (typed error on regression — a fold that re-read the whole
# current slice would still hash-match, only this assert catches it).
# Well-posedness gate (the j9 idiom): the positive "something was actually
# pruned" arm is required only when band 1 produced >= 4 stat-bearing
# range files and its key range extends past mid; degenerate fixtures pass
# vacuously. Oracle: the shared hist CTEs with the states predicate
# `band = 1 OR user_id <= mid` (functions/bands.py
# user_state_hist_ctes_where) + j13's per-state projection. Scale shape:
# each fold is touched-files x batch, the clustered layout is what turns
# a 100 TB dimension's localized trickle updates from O(current) rewrites
# into O(touched) ones; sources/scd.py::recluster_current restores the
# layout when accumulated folds erode it.
# ---------------------------------------------------------------------------
@registry.query(
    "j15_scd2_clustered_fold",
    f"""
    WITH ub AS (
      SELECT (MIN(user_id) + MAX(user_id)) // 2 AS mid FROM events
    ),
    {user_state_hist_ctes_where(
        "band = 1 OR user_id <= (SELECT mid FROM ub)")}
    SELECT state,
           COUNT(*) AS n_versions,
           CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_current,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(valid_to - valid_from) AS BIGINT) AS closed_span_us
    FROM hist GROUP BY state ORDER BY state
    """,
)
def j15_scd2_clustered_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.functions.bands import N_BANDS, band_states
    from tts_etl_pipeline_spark.sources.scd import scd2_apply
    from tts_etl_pipeline_spark.sources.versioned import manifest, read_version

    states, _, _, _, _ = band_states(spark, sf_dir)
    bounds = table(spark, sf_dir, "events").agg(
        F.min("user_id").alias("mn"), F.max("user_id").alias("mx")
    ).collect()[0]
    # integer midpoint of the key RANGE — floor division in both engines
    mid = 0 if bounds["mn"] is None else (bounds["mn"] + bounds["mx"]) // 2
    with scratch_dir("j15_") as base:
        path = f"{base}/user_state_dim"
        versions = []
        for i in range(1, N_BANDS + 1):
            batch = states.filter(
                (F.col("band") == i)
                & (F.lit(i == 1) | (F.col("user_id") <= mid))
            ).select(
                "user_id",
                F.col("state").alias("event_type"),
                F.col("tss").alias("eff"),
            )
            versions.append(
                scd2_apply(
                    spark, path, batch, "user_id", ["event_type"], "eff",
                    cluster_files=4,
                )
            )
        if versions != list(range(1, N_BANDS + 1)):
            raise RuntimeError(
                f"SCD2 folds must commit one version each, got {versions}"
            )

        def _above_mid_current(v: int) -> list[str]:
            m = manifest(path, v)
            st = m.get("stats", {})
            return [
                f
                for f in m["files"]
                if st.get(f, {}).get("is_current") == [True, True]
                and st.get(f, {}).get("user_id") is not None
                and st[f]["user_id"][0] > mid
            ]

        # THE PROTOCOL ASSERT: prior-version current files entirely above
        # mid are untouchable by a lower-half batch — same manifest name,
        # still on disk, for EVERY later version
        for v in range(2, versions[-1] + 1):
            keep = _above_mid_current(v - 1)
            now = set(manifest(path, v)["files"])
            lost = [f for f in keep if f not in now]
            if lost:
                raise RuntimeError(
                    f"clustered SCD2 fold v{v} rewrote current files a "
                    f"lower-half batch never touched: {sorted(lost)[:3]}"
                )
            gone = [
                f for f in keep if not _os.path.exists(_os.path.join(path, f))
            ]
            if gone:
                raise RuntimeError(
                    f"range-pruned current files missing on disk: {gone[:3]}"
                )
        # well-posedness-gated positive arm: a healthy clustered band-1
        # layout whose key range extends past mid MUST yield >= 1 prunable
        # file, else the clustering itself regressed
        m1 = manifest(path, 1)
        stat_files = [
            f
            for f in m1["files"]
            if m1.get("stats", {}).get(f, {}).get("user_id") is not None
        ]
        kmax = max(
            (m1["stats"][f]["user_id"][1] for f in stat_files), default=None
        )
        if len(stat_files) >= 4 and kmax is not None and kmax > mid:
            if not _above_mid_current(1):
                raise RuntimeError(
                    "band-1 clustering produced no current file above mid: "
                    "key-range staging regressed"
                )
        hist = read_version(spark, path).select(
            F.col("event_type").alias("state"),
            "user_id",
            "valid_from",
            "valid_to",
        )
        return materialize(
            hist.groupBy("state")
            .agg(
                F.count(F.lit(1)).alias("n_versions"),
                F.sum(F.col("valid_to").isNull().cast("int"))
                .cast("bigint")
                .alias("n_current"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("valid_to") - F.col("valid_from"))
                .cast("bigint")
                .alias("closed_span_us"),
            )
            .orderBy("state")
        )


# ---------------------------------------------------------------------------
# j16 — row-level DELETE/UPDATE with MANIFEST-level file pruning (Delta's
# DELETE FROM / UPDATE ... WHERE, the lakehouse mutation surface j8's MERGE
# doesn't cover): orders is committed range-clustered on o_orderkey (8 files,
# key stats recorded), then (1) UPDATE zeroes o_totalprice in the FIRST
# eighth of the key range where o_orderstatus = 'O', and (2) DELETE removes
# the LAST quarter — each commit must rewrite ONLY the files whose recorded
# key range intersects its predicate, carrying every provably-disjoint file
# BY REFERENCE (same manifest name, still on disk — asserted with typed
# errors across both commits, with a well-posedness gate on the clustered
# layout). A regression to whole-table rewrites would still hash-match;
# only the protocol assert catches it. Bounds are integer-exact from
# MIN/MAX(o_orderkey) (the j7/j9/j15 idiom), so DuckDB reproduces the
# mutation declaratively: CASE for the update, WHERE NOT for the delete.
# Scale shape: a localized mutation on a range-clustered 100 TB table costs
# O(touched files) read+rewrite + one manifest commit — never O(table);
# unpruned mutations degrade to the full rewrite, never to a lost row.
# ---------------------------------------------------------------------------
@registry.query(
    "j16_delete_update_pruned",
    """
    WITH b AS (
      SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders
    ),
    args AS (
      SELECT mn AS u_lo, mn + ((mx - mn) // 8) AS u_hi,
             mn + (((mx - mn) * 6) // 8) AS d_lo, mx AS d_hi
      FROM b
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_cust,
           CAST(SUM(CASE WHEN o_orderkey BETWEEN a.u_lo AND a.u_hi
                          AND o_orderstatus = 'O' THEN 0
                     ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                               AS BIGINT) END) AS BIGINT) AS sum_cents
    FROM orders, args a
    WHERE NOT (o_orderkey BETWEEN a.d_lo AND a.d_hi)
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j16_delete_update_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where,
        manifest,
        read_version,
        update_where,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    b = orders.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    ).collect()[0]
    mn = 0 if b["mn"] is None else b["mn"]
    mx = 0 if b["mx"] is None else b["mx"]
    u_lo, u_hi = mn, mn + ((mx - mn) // 8)
    d_lo, d_hi = mn + (((mx - mn) * 6) // 8), mx
    with scratch_dir("j16_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.repartitionByRange(8, "o_orderkey"),
            path,
            collect_stats=("o_orderkey",),
        )

        def _disjoint(v: int, lo, hi) -> list[str]:
            m = manifest(path, v)
            st = m.get("stats", {})
            return [
                f
                for f in m["files"]
                if st.get(f, {}).get("o_orderkey") is not None
                and (st[f]["o_orderkey"][1] < lo or st[f]["o_orderkey"][0] > hi)
            ]

        def _assert_reused(keep: list[str], v_next: int, what: str) -> None:
            now = set(manifest(path, v_next)["files"])
            lost = [f for f in keep if f not in now]
            if lost:
                raise RuntimeError(
                    f"{what} rewrote files its predicate provably never "
                    f"touched: {sorted(lost)[:3]}"
                )
            gone = [
                f for f in keep if not _os.path.exists(_os.path.join(path, f))
            ]
            if gone:
                raise RuntimeError(
                    f"{what}: pruned-reuse files missing on disk: {gone[:3]}"
                )

        m1 = manifest(path, 1)
        well_posed = (
            len([f for f in m1["files"]
                 if m1.get("stats", {}).get(f, {}).get("o_orderkey")]) >= 8
            and mx - mn >= 64
        )
        keep_u = _disjoint(1, u_lo, u_hi)
        if well_posed and not keep_u:
            raise RuntimeError(
                "range-clustered layout yields no file disjoint from the "
                "first eighth: clustering regressed"
            )
        v2 = update_where(
            spark, path, "o_orderkey", u_lo, u_hi,
            {"o_totalprice": "CAST(0.0 AS DOUBLE)"},
            condition="o_orderstatus = 'O'",
        )
        if v2 is not None:
            _assert_reused(keep_u, v2, "UPDATE")
        head = v2 or 1
        keep_d = _disjoint(head, d_lo, d_hi)
        if well_posed and not keep_d:
            raise RuntimeError(
                "no file disjoint from the last quarter: clustering regressed"
            )
        v3 = delete_where(spark, path, "o_orderkey", d_lo, d_hi)
        if v3 is not None:
            _assert_reused(keep_d, v3, "DELETE")
        from tts_etl_pipeline_spark.functions.exact import money

        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_cust"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j17 — CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT, the
# write-side data-quality gate dq7's read-side suite cannot give you):
# orders' even-key half seeds a versioned table; two constraints land as
# METADATA-ONLY commits (same file list — asserted) after validating the
# existing rows; the odd-key half then appends THROUGH the gate; a
# constructed violating batch must be REFUSED (typed error, head and row
# count unchanged, staged files invisible) and a constraint the existing
# rows violate must be refused at ADD time. Enforcement lives at the
# commit boundary (versioned._enforce_constraints probes the STAGED files
# in one job), so every write path — append, merge, mutation, SCD2 fold —
# inherits it; per-version constraint metadata is time-travel-consistent
# (v1 reports none). The two valid commits reconstruct orders exactly, so
# the oracle is a straight per-status aggregate — the constraint protocol
# itself is what the in-query asserts check. Scale shape: one extra
# CHECK-probe job per commit over the STAGED rows only (never the table),
# zero when no constraints are recorded.
# ---------------------------------------------------------------------------
@registry.query(
    "j17_check_constraints",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_cust,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j17_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        add_constraint,
        current_version,
        manifest,
        read_version,
        table_constraints,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("j17_") as base:
        path = f"{base}/orders_v"
        write_version(orders.filter(F.col("o_orderkey") % 2 == 0), path)
        v2 = add_constraint(spark, path, "price_nonneg", "o_totalprice >= 0")
        v3 = add_constraint(
            spark, path, "status_domain", "o_orderstatus IN ('O','F','P')"
        )
        for v_alter in (v2, v3):  # ALTER is metadata-only: same file list
            if manifest(path, v_alter)["files"] != manifest(path, v_alter - 1)["files"]:
                raise RuntimeError(
                    f"ADD CONSTRAINT commit v{v_alter} changed the file list"
                )
        if table_constraints(path, 1):
            raise RuntimeError("v1 must predate every constraint")
        # a constraint the EXISTING rows violate is refused at ADD time
        try:
            add_constraint(spark, path, "odd_only", "o_orderkey % 2 = 1")
        except ConstraintViolationError:
            pass
        else:
            n = read_version(spark, path).limit(1).count()
            if n:  # empty table satisfies everything — vacuous, not a bug
                raise RuntimeError("violating ADD CONSTRAINT was accepted")
        # the odd half appends THROUGH the gate
        write_version(orders.filter(F.col("o_orderkey") % 2 == 1), path)
        head = current_version(path)
        n_before = read_version(spark, path).count()
        # a violating batch is refused: typed error, nothing committed
        bad = spark.createDataFrame(
            [(-1, -1, "O", -5.0)], orders.schema
        )
        try:
            write_version(bad, path)
        except ConstraintViolationError:
            pass
        else:
            raise RuntimeError("violating append was accepted")
        if current_version(path) != head:
            raise RuntimeError("refused append still advanced the head")
        if read_version(spark, path).count() != n_before:
            raise RuntimeError("refused append changed the table contents")
        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_cust"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j18 — BLOOM-sidecar point lookup (the sound equality skip where j9's
# range stats are useless BY CONSTRUCTION): documents is committed
# HASH-distributed on doc_id (every file's recorded range spans ~the whole
# key space — asserted: read_version_pruned skips ZERO files), with
# per-file bloom filters collected into a commit sidecar
# (versioned._collect_blooms — md5 double-hashing, ~10 bits/value, fpp
# ~1%, no false negatives ever). Three probe ids — MIN, MAX, and the
# integer midpoint (present or not — an absent probe must skip ALL files
# and return nothing) — are looked up via read_version_bloom_pruned; the
# protocol assert requires each probe to skip >= half the files from the
# SIDECAR alone (well-posedness-gated: >= 4 bloom-bearing files), and the
# range-pruning counter-assert pins that ranges really couldn't help. The
# oracle joins documents to the identically-computed probe set. Scale
# shape: a point lookup on a 100 TB unclustered corpus costs the manifest
# map + one lazy sidecar read + the one-or-two files that might hold the
# key — this is the string-key/point-read answer the j9 soundness scope
# deliberately left open (parquet writers may truncate STRING min/max;
# blooms have no such hazard, and test_versioned.py pins a string-key
# lookup).
# ---------------------------------------------------------------------------
@registry.query(
    "j18_bloom_point_lookup",
    """
    WITH b AS (
      SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents
    ),
    probes AS (
      SELECT mn AS pid FROM b
      UNION SELECT mx FROM b
      UNION SELECT mn + ((mx - mn) // 2) FROM b
    )
    SELECT d.doc_id,
           COUNT(*) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(lang) AS lang_min
    FROM documents d JOIN probes p ON d.doc_id = p.pid
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def j18_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        read_version,
        read_version_bloom_pruned,
        read_version_pruned,
        write_version,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    b = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).collect()[0]
    with scratch_dir("j18_") as base:
        path = f"{base}/docs_v"
        write_version(
            docs.repartition(8, "doc_id"),
            path,
            collect_stats=("doc_id",),
            collect_blooms=("doc_id",),
        )
        if b["mn"] is None:  # empty corpus: schema-stable empty answer
            return materialize(
                read_version(spark, path)
                .filter(F.lit(False))
                .groupBy("doc_id")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("n_chars").cast("bigint").alias("sum_chars"),
                    F.min("lang").alias("lang_min"),
                )
            )
        probes = sorted({b["mn"], b["mx"], b["mn"] + ((b["mx"] - b["mn"]) // 2)})
        m1 = manifest(path, 1)
        bloomed = len(set(m1.get("blooms", {})))
        well_posed = bloomed >= 4 and b["mx"] - b["mn"] >= 16
        if well_posed and len(probes) == 3:
            # the counter-assert: ranges CANNOT prune this layout — every
            # hash-partitioned file spans ~the whole id space, so the
            # MIDPOINT probe (inside every file's [min, max]) range-prunes
            # nothing. (MIN/MAX probes are the degenerate exception: all
            # but one file's range lies strictly above the global MIN.)
            _, range_skipped, _ = read_version_pruned(
                spark, path, "doc_id", probes[1], probes[1]
            )
            if range_skipped > len(m1["files"]) // 2:
                raise RuntimeError(
                    "hash layout unexpectedly range-prunable: the fixture "
                    "no longer exercises the bloom-vs-range contrast"
                )
        parts = []
        for pid in probes:
            df, skipped, total = read_version_bloom_pruned(
                spark, path, "doc_id", pid
            )
            # threshold against BLOOM-BEARING files: an empty partition
            # gets no bloom and is kept unconditionally, so counting it in
            # the denominator would fail a tiny-but-healthy layout
            if well_posed and skipped < bloomed // 2:
                raise RuntimeError(
                    f"bloom lookup of {pid} skipped only {skipped}/{total} "
                    f"files ({bloomed} bloom-bearing) — sidecar pruning "
                    "regressed"
                )
            parts.append(df)
        out = parts[0]
        for p_df in parts[1:]:
            out = out.unionByName(p_df)
        return materialize(
            out.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.min("lang").alias("lang_min"),
            )
            .orderBy("doc_id")
        )


# ---------------------------------------------------------------------------
# j19 — COLUMN EVOLUTION (RENAME/DROP via column mapping, the Delta
# column-mapping name mode j6's add-column evolution doesn't cover):
# orders' even-key half seeds a range-clustered table; o_totalprice is
# RENAMED to price_usd and o_orderpriority is DROPPED — both METADATA-ONLY
# commits (file lists asserted identical; data files keep the column's
# STABLE physical name, so zero bytes move); the odd-key half then appends
# under the NEW schema, and the final read serves both file generations
# under one logical schema. Protocol asserts: both alters are file-list
# identical; time travel to v1 serves the PRE-evolution names; key-range
# pruning survives the alters (manifest stats are physical-keyed —
# read_version_pruned must still skip on a well-posed layout). The two
# valid commits reconstruct orders exactly, so the oracle is a per-status
# aggregate with key-range integrity columns (MIN/MAX o_orderkey) proving
# no row was lost or duplicated across the evolution. Scale shape: rename
# and drop cost one manifest rewrite each at ANY table size — the
# alternative (rewrite 100 TB to rename a column) is exactly what column
# mapping exists to avoid.
# ---------------------------------------------------------------------------
@registry.query(
    "j19_column_evolution",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_cust,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j19_column_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        drop_column,
        manifest,
        read_version,
        read_version_pruned,
        rename_column,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    with scratch_dir("j19_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .repartitionByRange(4, "o_orderkey"),
            path,
            collect_stats=("o_orderkey",),
        )
        v2 = rename_column(path, "o_totalprice", "price_usd")
        v3 = drop_column(path, "o_orderpriority")
        for v_alter in (v2, v3):  # ALTERs move metadata, never bytes
            if manifest(path, v_alter)["files"] != manifest(path, v_alter - 1)["files"]:
                raise RuntimeError(
                    f"column-evolution commit v{v_alter} changed the file "
                    "list — a metadata-only ALTER rewrote data"
                )
        cols_now = read_version(spark, path).columns
        if cols_now != ["o_orderkey", "o_custkey", "o_orderstatus", "price_usd"]:
            raise RuntimeError(f"post-evolution schema wrong: {cols_now}")
        cols_v1 = read_version(spark, path, 1).columns
        if "o_totalprice" not in cols_v1 or "o_orderpriority" not in cols_v1:
            raise RuntimeError(
                f"time travel lost the pre-evolution schema: {cols_v1}"
            )
        # odd half appends under the NEW logical schema; both generations
        # then serve one schema (old files via their stable physicals)
        write_version(
            orders.filter(F.col("o_orderkey") % 2 == 1).select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                F.col("o_totalprice").alias("price_usd"),
            ),
            path,
        )
        m = manifest(path, 4)
        stat_files = [
            f
            for f in m["files"]
            if m.get("stats", {}).get(f, {}).get("o_orderkey") is not None
        ]
        if len(stat_files) >= 4:  # well-posed: pruning must survive alters
            lo = min(m["stats"][f]["o_orderkey"][0] for f in stat_files)
            _, skipped, total = read_version_pruned(
                spark, path, "o_orderkey", lo, lo
            )
            if skipped == 0:
                raise RuntimeError(
                    "range pruning died across the rename/drop — manifest "
                    "stats lost their physical keying"
                )
        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_cust"),
                F.min("o_orderkey").cast("bigint").alias("min_key"),
                F.max("o_orderkey").cast("bigint").alias("max_key"),
                F.sum((money("price_usd") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j20 — DELETION VECTORS (merge-on-read row-level delete; Delta's DV
# feature, the answer to j16's copy-on-write cost cliff): orders is
# committed range-clustered (8 files, o_orderkey stats), then (1) a 1-ROW
# DELETE of the minimum orderkey and (2) a narrow-band DELETE each commit
# as a POSITION SIDECAR — the file list is identical and EVERY data file
# is byte-untouched across both mutations, asserted in-query by inode +
# mtime_ns (the strongest "no rewrite" witness the filesystem offers).
# The change feed across the 1-row commit is asserted to be EXACTLY one
# delete row (CDF stays exact under merge-on-read), and the final
# aggregate reads through the broadcast anti-join apply path. Scale
# shape: a 1-row DELETE on a 100 TB table costs one position-finding
# scan of the range-pruned touched files + a KB sidecar + one manifest
# commit — never a file rewrite; reads pay one broadcast hash anti-join
# sized O(live deleted rows), and compact() clears the debt. DuckDB
# reproduces the mutations declaratively (WHERE NOT ...), so value
# equality proves the read path applies vectors exactly.
# ---------------------------------------------------------------------------
@registry.query(
    "j20_deletion_vectors",
    """
    WITH b AS (
      SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders
    ),
    args AS (
      SELECT mn, mn + (((mx - mn) * 3) // 8) AS b_lo,
             mn + (((mx - mn) * 3) // 8) + ((mx - mn) // 64) AS b_hi
      FROM b
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_cust,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders, args a
    WHERE o_orderkey <> a.mn
      AND NOT (o_orderkey BETWEEN a.b_lo AND a.b_hi)
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j20_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        manifest,
        read_version,
        table_changes,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    b = orders.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    ).collect()[0]
    mn = 0 if b["mn"] is None else b["mn"]
    mx = 0 if b["mx"] is None else b["mx"]
    b_lo = mn + (((mx - mn) * 3) // 8)
    b_hi = b_lo + ((mx - mn) // 64)
    with scratch_dir("j20_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.repartitionByRange(8, "o_orderkey"),
            path,
            collect_stats=("o_orderkey",),
        )
        m1 = manifest(path, 1)

        def _sig() -> dict:
            out = {}
            for f in m1["files"]:
                st = _os.stat(_os.path.join(path, f))
                out[f] = (st.st_ino, st.st_mtime_ns)
            return out

        before = _sig()
        v2 = delete_where_dv(spark, path, "o_orderkey", mn, mn)
        # well-posed gate: on an EMPTY orders there is no minimum row to
        # delete (b["mn"] is None) and every protocol assert is vacuous —
        # the query still answers (zero groups), per the empty-tables sweep
        if v2 is None and b["mn"] is not None:
            raise RuntimeError("the minimum orderkey row must exist")
        if v2 is not None:
            if manifest(path, v2)["files"] != m1["files"]:
                raise RuntimeError(
                    "DV delete changed the FILE LIST — merge-on-read "
                    "regressed to a rewrite commit"
                )
            if manifest(path, v2).get("mode") != "delete-dv":
                raise RuntimeError("DV commit lost its mode tag")
            # the 1-row change feed must be exactly one delete
            cdf = table_changes(spark, path, 1, v2).collect()
            if len(cdf) != 1 or cdf[0]["_change_type"] != "delete" or (
                cdf[0]["o_orderkey"] != mn
            ):
                raise RuntimeError(
                    f"CDF across the 1-row DV delete is not exactly that "
                    f"row: {cdf[:3]}"
                )
            v3 = delete_where_dv(spark, path, "o_orderkey", b_lo, b_hi)
            after = _sig()
            if before != after:
                moved = sorted(
                    f for f in before if before[f] != after.get(f)
                )
                raise RuntimeError(
                    f"deletion vectors must leave every data file byte-"
                    f"untouched; rewritten: {moved[:3]}"
                )
            head = v3 or v2
            if not (manifest(path, head).get("dvs") or {}):
                raise RuntimeError("head manifest carries no deletion vectors")
        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_cust"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j21 — STRING-KEY manifest range pruning (r10 verdict task 4, closing j9's
# documented gap: string columns previously recorded NO manifest stats, so
# a string-range predicate skipped zero files): part is committed
# range-clustered on p_name (8 files), whose truncate(16) BOUNDS — prefix
# lower, last-code-point-incremented upper (the Iceberg truncateStringMax
# scheme; sound against writer truncation because truncation only WIDENS
# the range) — land in the manifest at commit time. A lexical range read
# (p_name BETWEEN 'b' AND 'e') must then skip AT LEAST HALF the files,
# asserted in-query with a well-posedness gate, and the kept files' rows
# still pass through the row-level filter, so DuckDB's plain WHERE
# reproduces the result exactly — value equality proves pruning never
# dropped a live row. Scale shape: planning is one KB-scale manifest read
# (zero footer IO in the file count); at 10^5 string-keyed files this is
# the difference between a driver-side dictionary lookup and a
# distributed footer sweep before the first byte of data moves.
# ---------------------------------------------------------------------------
@registry.query(
    "j21_string_pruned_scan",
    """
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(p_size) AS BIGINT) AS sum_size,
           CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM part
    WHERE p_name BETWEEN 'b' AND 'e'
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def j21_string_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        read_version_pruned,
        write_version,
    )

    part = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"
    )
    with scratch_dir("j21_") as base:
        path = f"{base}/part_v"
        write_version(
            part.repartitionByRange(8, "p_name"),
            path,
            collect_stats=("p_name",),
        )
        m = manifest(path, 1)
        with_bounds = [
            f
            for f in m["files"]
            if m.get("stats", {}).get(f, {}).get("p_name") is not None
        ]
        # empty staged files legitimately carry no stats (zero row groups
        # -> nothing to bound); only ROW-BEARING files owe bounds. An
        # empty part table stages one schema-bearing empty file and the
        # sweep's contract is "runs, zero rows" — not "prunes".
        nonempty = part.limit(1).count() > 0
        if nonempty and len(with_bounds) < len(m["files"]) - 1:
            raise RuntimeError(
                "string bounds missing from the manifest for "
                f"{len(m['files']) - len(with_bounds)} files — the "
                "truncate(16) stats path regressed"
            )
        pruned, skipped, total = read_version_pruned(
            spark, path, "p_name", "b", "e"
        )
        # well-posed when the clustered layout separates initial letters
        # (true for this fixture's word-prefixed names at every sf)
        if total >= 8 and skipped < total // 2:
            raise RuntimeError(
                f"string-range pruning skipped only {skipped}/{total} "
                "files on a range-clustered string key — bounds pruning "
                "regressed"
            )
        return materialize(
            pruned.groupBy("p_brand")
            .agg(
                F.count(F.lit(1)).alias("n_parts"),
                F.sum("p_size").cast("bigint").alias("sum_size"),
                F.sum((money("p_retailprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("p_brand")
        )


# ---------------------------------------------------------------------------
# j22 — merge-on-read UPDATE + targeted DV PURGE (the round-11 completion of
# j20's delete-side story): orders range-clustered (8 files, key stats),
# then (1) update_where_dv zeroes o_totalprice for 'O'-status rows in one
# narrow key band — the matched rows enter a deletion vector and their
# UPDATED COPIES append as fresh files, every ORIGINAL file byte-untouched
# (inode+mtime asserted across the commit), CDF = delete+insert pairs
# (count-asserted) — then (2) purge_dvs materializes the debt by rewriting
# ONLY the vectored files, every clean file carried by manifest reference
# (asserted), with an EMPTY change feed across the purge (asserted: purge
# is maintenance, not mutation). The final aggregate reads the purged head,
# so value equality proves the whole MoR-update -> purge lifecycle kept
# rows exact. Scale shape: the update writes O(matched rows); the purge
# reads/writes O(vectored file bytes) — never O(table) — which is the
# maintenance cost model a 100 TB table needs once narrow updates accrete.
# ---------------------------------------------------------------------------
@registry.query(
    "j22_dv_update_purge",
    """
    WITH b AS (
      SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders
    ),
    args AS (
      SELECT mn + (((mx - mn) * 2) // 8) AS u_lo,
             mn + (((mx - mn) * 2) // 8) + ((mx - mn) // 32) AS u_hi
      FROM b
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_cust,
           CAST(SUM(CASE WHEN o_orderkey BETWEEN a.u_lo AND a.u_hi
                          AND o_orderstatus = 'O' THEN 0
                     ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                               AS BIGINT) END) AS BIGINT) AS sum_cents
    FROM orders, args a
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j22_dv_update_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        purge_dvs,
        read_version,
        table_changes,
        update_where_dv,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    b = orders.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    ).collect()[0]
    mn = 0 if b["mn"] is None else b["mn"]
    mx = 0 if b["mx"] is None else b["mx"]
    u_lo = mn + (((mx - mn) * 2) // 8)
    u_hi = u_lo + ((mx - mn) // 32)
    with scratch_dir("j22_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.repartitionByRange(8, "o_orderkey"),
            path,
            collect_stats=("o_orderkey",),
        )
        m1 = manifest(path, 1)

        def _sig(files) -> dict:
            out = {}
            for f in files:
                st = _os.stat(_os.path.join(path, f))
                out[f] = (st.st_ino, st.st_mtime_ns)
            return out

        before = _sig(m1["files"])
        v2 = update_where_dv(
            spark, path, "o_orderkey", u_lo, u_hi,
            {"o_totalprice": "CAST(0.0 AS DOUBLE)"},
            condition="o_orderstatus = 'O'",
        )
        if v2 is not None:
            m2 = manifest(path, v2)
            if _sig(m1["files"]) != before:
                raise RuntimeError(
                    "merge-on-read UPDATE rewrote an original data file"
                )
            missing = [f for f in m1["files"] if f not in set(m2["files"])]
            if missing:
                raise RuntimeError(
                    f"MoR UPDATE dropped original files: {missing[:3]}"
                )
            ch = table_changes(spark, path, 1, v2)
            n_del = ch.filter("_change_type = 'delete'").count()
            n_ins = ch.filter("_change_type = 'insert'").count()
            if n_del != n_ins or n_del == 0:
                raise RuntimeError(
                    f"MoR UPDATE change feed is not delete+insert pairs: "
                    f"{n_del} deletes vs {n_ins} inserts"
                )
            clean = [f for f in m2["files"] if f not in (m2.get("dvs") or {})]
            clean_sig = _sig(clean)
            v3 = purge_dvs(spark, path)
            if v3 is None:
                raise RuntimeError("purge found no vectors after a DV update")
            m3 = manifest(path, v3)
            if m3.get("dvs"):
                raise RuntimeError("purge left deletion vectors behind")
            lost = [f for f in clean if f not in set(m3["files"])]
            if lost or _sig(clean) != clean_sig:
                raise RuntimeError(
                    "purge rewrote files that carried no vector"
                )
            if table_changes(spark, path, v2, v3).count() != 0:
                raise RuntimeError(
                    "change feed across the purge is not empty — purge "
                    "must be maintenance, never mutation"
                )
        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_cust"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j23 — OPTIMIZE ZORDER BY on the VERSIONED protocol (Delta's flagship
# maintenance command, composing r8's j7 Morton layout with the manifest
# stats the versioned table records at commit): lineitem's projection is
# committed hash-scattered (v1 — range stats exist but every file spans
# both key spaces, so 2-D pruning starts dead), then optimize_zorder
# rewrites the snapshot Morton-clustered on (l_orderkey, l_partkey) in ONE
# sampled-cuts pass + ONE range exchange (window-free — no global sort at
# any size). In-query asserts: the change feed across the OPTIMIZE commit
# is EMPTY (bit-identical rows — maintenance, never mutation), and the
# post-optimize manifest prunes >= 25% of files on EACH zorder column
# (the j7 contract, now answered from KB-scale manifest stats instead of
# per-file footer IO). The returned aggregate reads a 2-D range through
# the pruned planner, so DuckDB value equality proves pruning dropped no
# live row. Scale shape: this is the layout-maintenance pass that makes
# multi-dimension range workloads on a 100 TB versioned table plan from
# the manifest alone.
# ---------------------------------------------------------------------------
@registry.query(
    "j23_versioned_zorder_optimize",
    """
    WITH b AS (
      SELECT MIN(l_orderkey) AS omn, MAX(l_orderkey) AS omx,
             MIN(l_partkey)  AS pmn, MAX(l_partkey)  AS pmx
      FROM lineitem
    ),
    args AS (
      SELECT omn, omn + ((omx - omn) // 4) AS o_hi,
             pmn, pmn + ((pmx - pmn) // 4) AS p_hi
      FROM b
    )
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS sum_cents
    FROM lineitem, args a
    WHERE l_orderkey BETWEEN a.omn AND a.o_hi
      AND l_partkey  BETWEEN a.pmn AND a.p_hi
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def j23_versioned_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        optimize_zorder,
        read_version_pruned,
        table_changes,
        write_version,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_quantity",
        "l_extendedprice",
    )
    b = li.agg(
        F.min("l_orderkey").alias("omn"), F.max("l_orderkey").alias("omx"),
        F.min("l_partkey").alias("pmn"), F.max("l_partkey").alias("pmx"),
    ).collect()[0]
    omn = 0 if b["omn"] is None else b["omn"]
    omx = 0 if b["omx"] is None else b["omx"]
    pmn = 0 if b["pmn"] is None else b["pmn"]
    pmx = 0 if b["pmx"] is None else b["pmx"]
    o_hi = omn + ((omx - omn) // 4)
    p_hi = pmn + ((pmx - pmn) // 4)
    with scratch_dir("j23_") as base:
        path = f"{base}/lineitem_v"
        # v1 hash-scattered: every file spans both key spaces
        write_version(li.repartition(16), path, collect_stats=("l_orderkey",))
        v2 = optimize_zorder(
            spark, path, ("l_orderkey", "l_partkey"), target_files=16
        )
        if table_changes(spark, path, 1, v2).count() != 0:
            raise RuntimeError(
                "OPTIMIZE ZORDER changed rows — maintenance must be a "
                "bit-identical rewrite"
            )
        pruned_o, so, to = read_version_pruned(
            spark, path, "l_orderkey", omn, o_hi
        )
        _, sp, tp = read_version_pruned(spark, path, "l_partkey", pmn, p_hi)
        # well-posed when the table is big enough to cluster 16 ways
        if to >= 16 and b["omn"] is not None and (
            so < to // 4 or sp < tp // 4
        ):
            raise RuntimeError(
                f"zorder pruning under contract: {so}/{to} on l_orderkey, "
                f"{sp}/{tp} on l_partkey (>=25% each expected)"
            )
        return materialize(
            pruned_o.filter(F.col("l_partkey").between(pmn, p_hi))
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("l_quantity").cast("bigint"))
                .cast("bigint")
                .alias("sum_qty"),
                F.sum((money("l_extendedprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("l_returnflag")
        )


# ---------------------------------------------------------------------------
# j24 — PARTITION-SPEC TRANSFORMS + SPEC EVOLUTION on versioned tables
# (Iceberg spec.md "Partitioning" / "Partition Evolution"): orders is
# created PARTITIONED BY year(o_orderdate) — one file group per year, the
# tuple recorded as synthetic per-file stats — then the spec EVOLVES to
# month(o_orderdate) and the post-1996 half appends under it, NO rewrite
# (asserted by inode+mtime). One date predicate spanning the vintage
# boundary must plan O(matching partitions) files across BOTH vintages:
# year-files prune under the old spec, month-files under the new. A DV
# delete then proves mutations compose with partitioned layouts (file
# list unchanged, tuples carried). DuckDB reproduces the result
# declaratively, so value equality proves pruning never dropped a row.
# ---------------------------------------------------------------------------
@registry.query(
    "j24_partition_spec_evolution",
    """
    WITH w AS (
      SELECT * FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-06-01' AND DATE '1996-03-31'
    ),
    mn AS (SELECT MIN(o_orderkey) AS mn FROM w)
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_cust,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM w, mn
    WHERE o_orderkey <> mn.mn
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j24_partition_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        alter_partition_spec,
        delete_where_dv,
        manifest,
        partition_spec,
        read_version_pruned,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate",
    )
    lo, hi = "1995-06-01", "1996-03-31"
    split = "1996-01-01"
    old = orders.filter(F.col("o_orderdate") < F.lit(split).cast("date"))
    new = orders.filter(F.col("o_orderdate") >= F.lit(split).cast("date"))
    n_rows = orders.count()
    with scratch_dir("j24_") as base:
        path = f"{base}/orders_v"
        write_version(old, path, partition_by=(("year", "o_orderdate"),))
        m1 = manifest(path, 1)
        n_years = old.selectExpr("year(o_orderdate)").distinct().count()
        if n_rows and len(m1["files"]) != n_years:
            raise RuntimeError(
                f"year layout wrote {len(m1['files'])} files for "
                f"{n_years} live years — not one group per partition tuple"
            )
        sig = {
            f: _os.stat(_os.path.join(path, f)).st_ino for f in m1["files"]
        }
        alter_partition_spec(path, (("month", "o_orderdate"),))
        if partition_spec(path)["fields"] != [["month", "o_orderdate", None]]:
            raise RuntimeError("spec evolution did not activate month()")
        write_version(new, path)  # appends lay out under the EVOLVED spec
        m3 = manifest(path, 3)
        if {
            f: _os.stat(_os.path.join(path, f)).st_ino
            for f in m3["files"] if f in sig
        } != sig or not set(sig) <= set(m3["files"]):
            raise RuntimeError(
                "spec evolution must rewrite nothing — old-vintage files "
                "changed identity"
            )
        n_months = new.selectExpr(
            "(year(o_orderdate)-1970)*12 + month(o_orderdate)-1"
        ).distinct().count()
        # the vintage-spanning probe: year-files prune under spec 1,
        # month-files under spec 2 — O(matching partitions) planning
        pruned, skipped, total = read_version_pruned(
            spark, path, "o_orderdate", lo, hi
        )
        want_old = old.filter(
            f"year(o_orderdate) between 1995 and 1995"
        ).selectExpr("year(o_orderdate)").distinct().count()
        want_new = new.filter(
            f"o_orderdate <= date'{hi}'"
        ).selectExpr(
            "(year(o_orderdate)-1970)*12 + month(o_orderdate)-1"
        ).distinct().count()
        if n_rows and total - skipped != want_old + want_new:
            raise RuntimeError(
                f"partition pruning planned {total - skipped} of {total} "
                f"files; want exactly {want_old} year-partitions + "
                f"{want_new} month-partitions across the two spec vintages"
            )
        # mutation interplay: a DV delete on the partitioned table leaves
        # the file list (and every tuple stat) intact
        mn = pruned.agg(F.min("o_orderkey")).collect()[0][0]
        if mn is not None:
            v4 = delete_where_dv(spark, path, "o_orderkey", mn, mn)
            if v4 is not None and manifest(path, v4)["files"] != m3["files"]:
                raise RuntimeError(
                    "DV delete on a partitioned table changed the file list"
                )
        final, _, _ = read_version_pruned(spark, path, "o_orderdate", lo, hi)
        return materialize(
            final.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_cust"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j25 — BRANCH/TAG REFS + WRITE-AUDIT-PUBLISH on versioned tables (Iceberg
# branching/tagging; the Netflix WAP pattern): the odd-key half of orders
# is STAGED on a branch — two appends PLUS a merge-on-read DV delete
# (WAP x MoR, r13: the vector commit scans and lands in the BRANCH
# lineage, by reference), all invisible to every main reader — a
# dq-style audit runs against the staged snapshot, and fast_forward
# publishes: main's history gains EXACTLY the staged commits (parent
# chain, provenance, the delete-dv mode and its untouched file list all
# asserted in-query), and a tag pins the published snapshot for
# reproducible reads. The conflict arm (a concurrent main commit making
# the staged chain non-fast-forwardable, refused typed) is pinned in
# tests/test_versioned.py::test_wap_publish_conflict_*; the DV-staging
# matrix in ::test_wap_dv_mutations_stage_on_branch. DuckDB reproduces
# the final table declaratively, so value equality proves publish
# delivered the staged rows (and the staged delete) exactly once.
# ---------------------------------------------------------------------------
@registry.query(
    "j25_write_audit_publish",
    """
    WITH mx AS (
      SELECT MAX(o_orderkey) AS mx FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders, mx
    WHERE o_orderkey <> mx.mx
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j25_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        create_branch,
        create_tag,
        current_version,
        delete_where_dv,
        fast_forward,
        history,
        manifest,
        read_branch,
        read_tag,
        read_version,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    first = orders.filter(F.col("o_orderkey") % 2 == 0)
    second = orders.filter(F.col("o_orderkey") % 2 == 1)
    n_first, n_total = first.count(), orders.count()
    mx = second.agg(F.max("o_orderkey")).collect()[0][0]
    with scratch_dir("j25_") as base:
        path = f"{base}/orders_v"
        write_version(first, path)  # main v1
        create_branch(path, "audit")
        half = second.filter(F.col("o_custkey") % 2 == 0)
        rest = second.filter(F.col("o_custkey") % 2 == 1)
        write_version(half, path, branch="audit")   # staged commit 1
        write_version(rest, path, branch="audit")   # staged commit 2
        # staged commit 3: a MERGE-ON-READ mutation in the staged lineage
        # (WAP x MoR, r13): the DV delete scans the BRANCH snapshot and
        # its vector commit stays invisible to main like any staged write
        vdv = delete_where_dv(spark, path, "o_orderkey", mx, mx, branch="audit")
        if mx is not None and vdv != 4:
            raise RuntimeError(f"staged DV delete landed at {vdv}, want 4")
        # WRITE happened; main must not have seen any of it
        if current_version(path) != 1:
            raise RuntimeError("staged commits advanced MAIN's head")
        if read_version(spark, path).count() != n_first:
            raise RuntimeError("a pre-publish reader saw staged rows")
        # AUDIT against the staged snapshot (the dq gate of WAP)
        staged = read_branch(spark, path, "audit")
        if staged.filter(
            F.col("o_orderkey").isNull() | F.col("o_totalprice").isNull()
        ).count() != 0:
            raise RuntimeError("audit failed: staged nulls in key columns")
        if staged.count() != n_total - (0 if mx is None else 1):
            raise RuntimeError("staged snapshot is not main + batch - DV row")
        # PUBLISH: main's history gains exactly the staged commits (three
        # on real data; the DV delete no-ops on an EMPTY batch — mx is
        # None — leaving two, and publish must graft exactly those)
        want = 3 if mx is None else 4
        head = fast_forward(path, "audit")
        if head != want or [
            h["version"] for h in history(path)
        ] != list(range(1, want + 1)):
            raise RuntimeError(
                f"fast-forward grafted a wrong chain: head={head}"
            )
        m2, m3 = manifest(path, 2), manifest(path, 3)
        if (
            m2.get("published_from") != "audit"
            or m3.get("published_from") != "audit"
            or m2.get("parent") != 1
            or m3.get("parent") != 2
        ):
            raise RuntimeError("published commits lost lineage/provenance")
        if mx is not None:
            m4 = manifest(path, 4)
            if m4.get("published_from") != "audit" or m4.get("parent") != 3:
                raise RuntimeError("published commits lost lineage/provenance")
            if history(path)[-1]["mode"] != "delete-dv" or not m4.get("dvs"):
                raise RuntimeError(
                    "the published lineage lost the staged DV commit"
                )
            if m4["files"] != m3["files"]:
                raise RuntimeError(
                    "a published DV delete must ride by reference — same files"
                )
        if read_version(spark, path).count() != n_total - (
            0 if mx is None else 1
        ):
            raise RuntimeError("publish did not deliver the staged rows")
        create_tag(path, "published")  # reproducible read of the release
        return materialize(
            read_tag(spark, path, "published")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j26 — EQUALITY DELETES (Iceberg v2 equality delete files; the CDC-shaped
# merge-on-read): a key-valued DELETE commits WITHOUT READING A DATA FILE —
# zero Spark jobs (pinned in-query via a job group), file list and bytes
# untouched (mtime-asserted) — readers anti-join the KB value sidecar per
# intersecting file group. Scope is Iceberg's sequence-number rule: the
# delete covers files added BEFORE it, so the CDC re-insert of a deleted
# key (appended after) SURVIVES — asserted in-query along with an exact
# 1-row-per-deleted-key change feed. DuckDB reproduces the final
# visibility declaratively, so value equality proves the read path applies
# the delete exactly. The streaming twin (equality deletes drained through
# stream_changes into an SCD2 soft-close) extends st22's oracle.
# ---------------------------------------------------------------------------
@registry.query(
    "j26_equality_deletes",
    """
    WITH mn AS (
      SELECT MIN(o_orderkey) AS mk FROM orders WHERE o_orderkey % 32 = 0
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_cust,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders, mn
    WHERE o_orderkey % 32 <> 0 OR o_orderkey = mn.mk
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j26_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        manifest,
        read_version,
        table_changes,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    keys = sorted(
        r["o_orderkey"]
        for r in orders.filter(F.col("o_orderkey") % 32 == 0)
        .select("o_orderkey")
        .distinct()
        .collect()
    )
    with scratch_dir("j26_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.repartitionByRange(8, "o_orderkey"),
            path,
            collect_stats=("o_orderkey",),
        )
        m1 = manifest(path, 1)
        sig = {
            f: _os.stat(_os.path.join(path, f)).st_mtime_ns
            for f in m1["files"]
        }
        if keys:
            sc = spark.sparkContext
            sc.setJobGroup("j26_eq_commit", "equality delete commit")
            v2 = delete_where_eq(path, "o_orderkey", keys)
            jobs = sc.statusTracker().getJobIdsForGroup("j26_eq_commit")
            sc.setJobGroup(None, None)
            if list(jobs):
                raise RuntimeError(
                    f"equality delete ran {len(jobs)} Spark job(s) — the "
                    "commit must not read a single data file"
                )
            m2 = manifest(path, v2)
            if m2["files"] != m1["files"] or {
                f: _os.stat(_os.path.join(path, f)).st_mtime_ns
                for f in m2["files"]
            } != sig:
                raise RuntimeError(
                    "equality delete touched data files — merge-on-read "
                    "regressed to a rewrite"
                )
            if m2.get("mode") != "delete-eq":
                raise RuntimeError("equality-delete commit lost its mode tag")
            # the change feed is exactly the deleted keys, all deletes
            cdf = table_changes(spark, path, 1, v2)
            agg = cdf.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("_change_type") == "delete").cast("int")).alias(
                    "nd"
                ),
                F.countDistinct("o_orderkey").alias("nk"),
            ).collect()[0]
            if not (agg["n"] == agg["nd"] and agg["nk"] == len(keys)):
                raise RuntimeError(
                    f"CDF across the equality delete is not exactly the "
                    f"{len(keys)} deleted keys: {agg}"
                )
            # CDC re-insert: the smallest deleted key comes back in a
            # LATER commit and must SURVIVE the earlier delete
            mk = keys[0]
            write_version(
                orders.filter(F.col("o_orderkey") == mk), path
            )
            back = read_version(spark, path).filter(
                F.col("o_orderkey") == mk
            )
            if back.count() != 1:
                raise RuntimeError(
                    "a re-inserted key did not survive an EARLIER equality "
                    "delete — sequence-number scoping is broken"
                )
        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_cust"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j27 — TYPE WIDENING on versioned tables (Iceberg v3 type promotion):
# lineitem lands with INT keys/quantities, widen_column promotes
# l_orderkey int->long and the table keeps serving — METADATA-ONLY
# (file list + mtimes asserted identical, empty change feed), old files
# read under the wide schema (Spark's parquet reader up-converts int32
# natively), time travel before the widen serves the narrow type, and a
# post-widen append carries values beyond int32 range — the sum over the
# mixed-vintage key column only comes out right if both physical
# encodings read as one logical BIGINT column. DuckDB reproduces the
# final table declaratively, so value equality proves exactly that.
# ---------------------------------------------------------------------------
@registry.query(
    "j27_type_widening",
    """
    WITH base AS (
      SELECT CAST(l_orderkey AS BIGINT) AS k, l_returnflag,
             CAST(l_quantity AS INTEGER) AS q
      FROM lineitem
    ),
    extra AS (
      SELECT k + 1099511627776 AS k, l_returnflag, q
      FROM base WHERE k % 7 = 0
    ),
    unioned AS (SELECT * FROM base UNION ALL SELECT * FROM extra)
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(q) AS BIGINT) AS sum_qty,
           CAST(SUM(k) AS BIGINT) AS sum_keys
    FROM unioned GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def j27_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        read_version,
        table_changes,
        widen_column,
        write_version,
    )

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("int").alias("k"),
        "l_returnflag",
        F.col("l_quantity").cast("int").alias("q"),
    )
    n_rows = li.count()
    with scratch_dir("j27_") as base:
        path = f"{base}/li_v"
        write_version(li, path, collect_stats=("k",))
        m1 = manifest(path, 1)
        sig = {
            f: _os.stat(_os.path.join(path, f)).st_mtime_ns
            for f in m1["files"]
        }
        v2 = widen_column(path, "k", "long")
        m2 = manifest(path, v2)
        if m2["files"] != m1["files"] or {
            f: _os.stat(_os.path.join(path, f)).st_mtime_ns
            for f in m2["files"]
        } != sig:
            raise RuntimeError(
                "type widening touched data files — the promotion must be "
                "metadata-only"
            )
        if table_changes(spark, path, 1, v2).count() != 0:
            raise RuntimeError("the change feed across a widen is not empty")
        if dict(read_version(spark, path, 1).dtypes)["k"] != "int":
            raise RuntimeError(
                "time travel before the widen must serve the NARROW type"
            )
        if dict(read_version(spark, path).dtypes)["k"] != "bigint":
            raise RuntimeError("the head must serve the WIDE type")
        # post-widen append: keys beyond int32 range land in the same
        # logical column old int32 files serve
        write_version(
            li.filter(F.col("k") % 7 == 0).select(
                (F.col("k").cast("long") + F.lit(1099511627776)).alias("k"),
                "l_returnflag",
                "q",
            ),
            path,
        )
        return materialize(
            read_version(spark, path)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("q").cast("bigint").alias("sum_qty"),
                F.sum("k").cast("bigint").alias("sum_keys"),
            )
            .orderBy("l_returnflag")
        )


# ---------------------------------------------------------------------------
# j28 — STORAGE-PARTITIONED JOIN on versioned tables (Iceberg SPJ /
# SPARK-37375): orders and a per-order lineitem rollup are both written
# sbucket(16) on the order key via the j24 spec machinery — Spark's OWN
# bucket hash, so each snapshot's file groups ARE a valid bucketed
# layout — and spj_join exposes them to the catalog and joins them with
# ZERO Exchange (asserted in-plan, broadcast disabled): each task reads
# bucket b's files from BOTH tables, the file-group-to-file-group
# co-located read. The shuffle this deletes is THE dominant cost of a
# repeated 100 TB fact-fact join. A mismatched-bucket-count probe must
# refuse co-location (typed) and degrade to a plain join; the
# evolved-spec and merge-on-read fallback arms are pinned in
# tests/test_spj.py. DuckDB reproduces the join declaratively, so value
# equality proves bucket routing lost no row.
# ---------------------------------------------------------------------------
@registry.query(
    "j28_storage_partitioned_join",
    """
    WITH la AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(qty) AS BIGINT) AS sum_qty,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM orders JOIN la ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j28_storage_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.plans.inspect import (
        count_shuffles,
        physical_plan,
    )
    from tts_etl_pipeline_spark.sources.spj import (
        drop_spj_exposures,
        spj_compatibility,
        spj_join,
    )
    from tts_etl_pipeline_spark.sources.versioned import manifest, write_version

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    rollup = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
            F.sum((money("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    with scratch_dir("j28_") as base:
        po, pl, px = f"{base}/orders_v", f"{base}/rollup_v", f"{base}/probe_v"
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        try:
            write_version(orders, po, partition_by=(("sbucket", "o_orderkey", 16),))
            write_version(rollup, pl, partition_by=(("sbucket", "l_orderkey", 16),))
            # one file group per live bucket — the O(buckets) layout contract.
            # The ==16 form needs every bucket OCCUPIED: at n rows the chance
            # of an empty murmur3 bucket is ~16*(15/16)^n, non-trivial below a
            # few hundred rows — gate on a count that makes it negligible
            if orders.count() >= 1024 and len(manifest(po, 1)["files"]) != 16:
                raise RuntimeError(
                    f"sbucket(16) wrote {len(manifest(po, 1)['files'])} file "
                    f"groups; want one per bucket"
                )
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined, colocated = spj_join(
                spark, po, pl, ("o_orderkey", "l_orderkey")
            )
            if not colocated:
                raise RuntimeError("compatible sbucket(16) specs must co-locate")
            plan = physical_plan(joined)
            if "SortMergeJoin" not in plan or "Bucketed: true" not in plan:
                raise RuntimeError(f"not a bucketed sort-merge join:\n{plan}")
            if count_shuffles(joined) != 0:
                raise RuntimeError(
                    f"storage-partitioned join must plan ZERO Exchange below "
                    f"the join:\n{plan}"
                )
            # the negative arm: a mismatched bucket count refuses co-location
            write_version(
                orders.limit(50), px, partition_by=(("sbucket", "o_orderkey", 8),)
            )
            n_bad, reason, _ = spj_compatibility(po, px, "o_orderkey", "o_orderkey")
            if n_bad is not None or "bucket counts differ" not in str(reason):
                raise RuntimeError(
                    f"mismatched bucket counts must refuse co-location, got "
                    f"{n_bad}: {reason}"
                )
            return materialize(
                joined.groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.sum("qty").cast("bigint").alias("sum_qty"),
                    F.sum("cents").cast("bigint").alias("sum_cents"),
                )
                .orderBy("o_orderstatus")
            )
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            else:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
            drop_spj_exposures(spark)


# ---------------------------------------------------------------------------
# j29 — COLUMN INITIAL-DEFAULTS on versioned tables (Iceberg v3
# `initial-default`): add_column(..., default=5) is a METADATA-ONLY
# commit — file list + mtimes asserted identical in-query, EMPTY change
# feed — and every file written BEFORE the add serves the default at
# read time (the value lives inline in the manifest, scoped by the same
# per-file add-version channel equality deletes ride), while post-add
# appends serve their own bytes. Time travel before the add serves the
# pre-add schema. The oracle rebuilds the mixed-vintage table
# declaratively (pre-add half + literal default, post-add half + real
# scores), so value equality proves the fill is applied to exactly the
# pre-add files. The widen x default, drop/re-add (fresh physical,
# never stale bytes), rename, compact-materialization, clone-remap, DV
# and eq-delete interplays are pinned in tests/test_versioned.py.
# ---------------------------------------------------------------------------
@registry.query(
    "j29_default_column_values",
    """
    WITH pre AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 5 AS score
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    post AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             o_orderkey % 10 AS score
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    u AS (SELECT * FROM pre UNION ALL SELECT * FROM post)
    SELECT score,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM u GROUP BY score ORDER BY score
    """,
)
def j29_default_column_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        add_column,
        manifest,
        read_version,
        table_changes,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    pre = orders.filter(F.col("o_orderkey") % 2 == 0)
    post = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "score", (F.col("o_orderkey") % 10).cast("long")
    )
    with scratch_dir("j29_") as base:
        path = f"{base}/orders_v"
        write_version(pre, path)  # v1: no score column exists yet
        m1 = manifest(path, 1)
        sig = {
            f: _os.stat(_os.path.join(path, f)).st_mtime_ns
            for f in m1["files"]
        }
        v2 = add_column(path, "score", "long", default=5)
        m2 = manifest(path, v2)
        if m2["files"] != m1["files"] or {
            f: _os.stat(_os.path.join(path, f)).st_mtime_ns
            for f in m2["files"]
        } != sig:
            raise RuntimeError(
                "add_column(default=) touched data files — the add must be "
                "metadata-only"
            )
        if table_changes(spark, path, 1, v2).count() != 0:
            raise RuntimeError("the change feed across an add-column is not empty")
        if "score" in read_version(spark, path, 1).columns:
            raise RuntimeError(
                "time travel before the add must serve the PRE-ADD schema"
            )
        write_version(post, path)  # v3: post-add files carry real scores
        return materialize(
            read_version(spark, path)
            .groupBy("score")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("score")
        )


# ---------------------------------------------------------------------------
# j30 — ROW LINEAGE on versioned tables (Iceberg v3 `_row_id`): every row
# carries a STABLE id minted at commit (per-file contiguous blocks in the
# stats channel + a monotone manifest counter), and MAINTENANCE rewrites
# — compact() and optimize_zorder() here, purge_dvs/purge_eq in tests —
# preserve the (row -> id) mapping byte-for-byte by MATERIALIZING ids
# into the rewritten files' own hidden '__rid' column (asserted in-query
# by comparing the full map across both rewrites), while appends mint
# fresh never-reused ids. The oracle can reproduce the ids exactly
# because each commit stages ONE file sorted on the unique key, making
# id = global sort rank — ROW_NUMBER() in DuckDB. Value equality over
# SUM(_row_id) therefore proves mint order, stability across a DV
# delete + compact + zorder, and fresh-only-for-new in one shot.
# Clone/rollback carry and the copy-on-write fresh-id rule for DV
# updates are pinned in tests/test_versioned.py.
# ---------------------------------------------------------------------------
@registry.query(
    "j30_row_lineage",
    """
    WITH base AS (
      SELECT l_orderkey AS k, l_linenumber AS ln, l_returnflag,
             ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1
               AS rid
      FROM lineitem WHERE l_partkey % 5 = 0
    ),
    nmax AS (SELECT COUNT(*) AS n FROM base),
    extra AS (
      SELECT l_orderkey AS k, l_linenumber AS ln, l_returnflag,
             (SELECT n FROM nmax)
               + ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1
               AS rid
      FROM lineitem WHERE l_partkey % 5 = 1
    ),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM extra)
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(rid) AS BIGINT) AS sum_rid,
           CAST(MAX(rid) AS BIGINT) AS max_rid
    FROM u
    WHERE k % 32 <> 0
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def j30_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.sources.versioned import (
        compact,
        current_version,
        delete_where_dv,
        enable_row_lineage,
        optimize_zorder,
        read_version_lineage,
        write_version,
    )

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        "l_returnflag",
        "l_partkey",
    )
    base_rows = (
        li.filter(F.col("l_partkey") % 5 == 0).drop("l_partkey")
        .repartition(1).sortWithinPartitions("k", "ln")
    )
    extra_rows = (
        li.filter(F.col("l_partkey") % 5 == 1).drop("l_partkey")
        .repartition(1).sortWithinPartitions("k", "ln")
    )
    with scratch_dir("j30_") as base:
        path = f"{base}/li_v"
        write_version(base_rows, path)  # ONE sorted file: id = sort rank
        enable_row_lineage(path)
        write_version(extra_rows, path)  # fresh block continues the count
        kmax = li.agg(F.max("k")).collect()[0][0] or 0
        pre = {
            (r.k, r.ln): r._row_id
            for r in read_version_lineage(spark, path).collect()
        }
        if len(set(pre.values())) != len(pre):
            raise RuntimeError("row ids are not unique after two commits")
        v = delete_where_dv(
            spark, path, "k", 0, kmax, condition="k % 32 = 0"
        )
        want = {
            kl: rid for kl, rid in pre.items() if kl[0] % 32 != 0
        } if v is not None else pre
        compact(spark, path, target_files=3)
        after_compact = {
            (r.k, r.ln): r._row_id
            for r in read_version_lineage(spark, path).collect()
        }
        if after_compact != want:
            raise RuntimeError(
                "compact() changed row ids — lineage must survive the rewrite"
            )
        optimize_zorder(spark, path, ["k", "ln"], target_files=4)
        after_z = {
            (r.k, r.ln): r._row_id
            for r in read_version_lineage(spark, path).collect()
        }
        if after_z != want:
            raise RuntimeError(
                "optimize_zorder() changed row ids — lineage must survive"
            )
        return materialize(
            read_version_lineage(spark, path)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("_row_id").cast("bigint").alias("sum_rid"),
                F.max("_row_id").cast("bigint").alias("max_rid"),
            )
            .orderBy("l_returnflag")
        )


# ---------------------------------------------------------------------------
# j31 — STORAGE-BUCKETED AGGREGATION on a versioned table (j28's groupBy
# twin): orders written sbucket(16) on o_custkey is read through its
# bucket layout (spj_read), so the per-customer rollup plans
# partial+final HashAggregate DIRECTLY on the bucketed scan — ZERO
# Exchange below the per-key aggregate, asserted in-plan in-query. At
# 100 TB this is the other half of what the layout buys: the daily
# per-key rollup stops re-shuffling the fact table every run. The final
# histogram (orders-per-customer frequency) is a bounded second-level
# aggregate whose one small shuffle is the expected cost. DuckDB
# reproduces both levels declaratively, so value equality proves bucket
# routing lost no row and no key straddles tasks.
# ---------------------------------------------------------------------------
@registry.query(
    "j31_storage_bucketed_aggregate",
    """
    WITH per AS (
      SELECT o_custkey,
             COUNT(*) AS n,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    )
    SELECT n AS orders_per_cust,
           COUNT(*) AS n_cust,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM per GROUP BY n ORDER BY orders_per_cust
    """,
)
def j31_storage_bucketed_aggregate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.plans.inspect import (
        count_shuffles,
        physical_plan,
    )
    from tts_etl_pipeline_spark.sources.spj import (
        drop_spj_exposures,
        spj_read,
    )
    from tts_etl_pipeline_spark.sources.versioned import write_version

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    with scratch_dir("j31_") as base:
        path = f"{base}/orders_v"
        try:
            write_version(
                orders, path, partition_by=(("sbucket", "o_custkey", 16),)
            )
            d, colocated = spj_read(spark, path, "o_custkey")
            if not colocated:
                raise RuntimeError("an sbucket(16) snapshot must expose bucketed")
            per = d.groupBy("o_custkey").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("cents"),
            )
            plan = physical_plan(per)
            if count_shuffles(per) != 0 or "Bucketed: true" not in plan:
                raise RuntimeError(
                    f"the per-key aggregate must plan ZERO Exchange on the "
                    f"bucketed scan:\n{plan}"
                )
            return materialize(
                per.groupBy(F.col("n").alias("orders_per_cust"))
                .agg(
                    F.count(F.lit(1)).alias("n_cust"),
                    F.sum("cents").cast("bigint").alias("sum_cents"),
                )
                .orderBy("orders_per_cust")
            )
        finally:
            drop_spj_exposures(spark)


# ---------------------------------------------------------------------------
# j32 — METADATA-ONLY AGGREGATION (Iceberg's aggregate pushdown to
# manifests): COUNT(*) / MIN / MAX answered from per-file record counts
# ("__n", stamped at commit like Iceberg's record_count) and manifest
# column stats — ZERO data IO and ZERO Spark jobs, pinned in-query via a
# job group AND by renaming every data file away and asking again. On a
# sharded manifest the fold is entry-list-only (O(shards) driver work at
# 10^6 files). Soundness is typed, never silent: a DV'd snapshot still
# COUNTs exactly (vector cardinalities subtract via KB sidecars) but
# refuses MIN/MAX (the vector may hold the extreme row) and degrades to
# the scan — both paths land in the result, and DuckDB reproduces all of
# it declaratively, so value equality proves the manifest numbers ARE the
# data's.
# ---------------------------------------------------------------------------
@registry.query(
    "j32_metadata_only_aggregate",
    """
    SELECT
      (SELECT COUNT(*) FROM orders)                        AS cnt_all,
      (SELECT MIN(o_orderkey) FROM orders)                 AS min_key,
      (SELECT MAX(o_orderkey) FROM orders)                 AS max_key,
      (SELECT MIN(o_totalprice) FROM orders)               AS min_price,
      (SELECT MAX(o_totalprice) FROM orders)               AS max_price,
      (SELECT COUNT(*) FROM orders
        WHERE o_orderkey % 32 <> 5)                        AS cnt_live,
      (SELECT MIN(o_orderkey) FROM orders
        WHERE o_orderkey % 32 <> 5)                        AS min_key_live,
      (SELECT MAX(o_orderkey) FROM orders
        WHERE o_orderkey % 32 <> 5)                        AS max_key_live
    """,
)
def j32_metadata_only_aggregate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.sources.versioned import (
        aggregate_metadata,
        current_version,
        delete_where_dv,
        manifest,
        plan_metadata_aggregate,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    stats = ("o_orderkey", "o_totalprice")
    with scratch_dir("j32_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.filter(F.col("o_orderkey") % 2 == 0), path,
            collect_stats=stats,
        )
        write_version(
            orders.filter(F.col("o_orderkey") % 2 == 1), path,
            mode="append", collect_stats=stats,
        )
        mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
        deleted = mx is not None and delete_where_dv(
            spark, path, "o_orderkey", 0, mx,
            condition="o_orderkey % 32 = 5",
        ) is not None
        head = current_version(path)
        full_v = 2 if head >= 2 else head  # the pre-delete snapshot
        # the metadata plans: the FULL snapshot answers count+min/max,
        # the DV'd head answers count (sidecar cardinalities subtract)
        # but refuses min/max with a typed reason
        p_full = plan_metadata_aggregate(path, stats, version=full_v)
        if not p_full["metadata_only"] or p_full["shards_loaded"] != 0:
            raise RuntimeError(f"full-snapshot plan not metadata-only: {p_full}")
        p_cnt = plan_metadata_aggregate(path)
        if not p_cnt["metadata_only"]:
            raise RuntimeError(f"DV'd COUNT plan not metadata-only: {p_cnt}")
        if deleted:
            p_mm = plan_metadata_aggregate(path, ("o_orderkey",))
            if p_mm["metadata_only"] or "deletion vector" not in p_mm["reason"]:
                raise RuntimeError(
                    f"a DV'd snapshot must refuse metadata MIN/MAX: {p_mm}"
                )
        # ZERO Spark jobs for the metadata-served answers
        sc = spark.sparkContext
        sc.setJobGroup("j32_meta_agg", "metadata-only aggregation")
        full = aggregate_metadata(spark, path, stats, version=full_v)
        live_cnt = aggregate_metadata(spark, path)
        jobs = sc.statusTracker().getJobIdsForGroup("j32_meta_agg")
        sc.setJobGroup(None, None)
        if list(jobs):
            raise RuntimeError(
                f"metadata aggregation ran {len(jobs)} Spark job(s) — the "
                "answer must come from the manifest alone"
            )
        # the DV'd min/max: typed fallback, served exactly by the scan
        live_mm = aggregate_metadata(spark, path, ("o_orderkey",))
        out = materialize(
            full.select(
                F.col("count_rows").alias("cnt_all"),
                F.col("min_o_orderkey").alias("min_key"),
                F.col("max_o_orderkey").alias("max_key"),
                F.col("min_o_totalprice").alias("min_price"),
                F.col("max_o_totalprice").alias("max_price"),
            )
            .crossJoin(live_cnt.select(F.col("count_rows").alias("cnt_live")))
            .crossJoin(
                live_mm.select(
                    F.col("min_o_orderkey").alias("min_key_live"),
                    F.col("max_o_orderkey").alias("max_key_live"),
                )
            )
        )
        # the data-free proof: hide EVERY data file; the manifest still
        # answers the same COUNT — not one data byte was behind it
        m = manifest(path, head)
        for f in m["files"]:
            _os.rename(_os.path.join(path, f), _os.path.join(path, f) + ".x")
        p_again = plan_metadata_aggregate(path)
        if not p_again["metadata_only"] or p_again["count"] != p_cnt["count"]:
            raise RuntimeError(
                "the metadata COUNT changed once the data files vanished — "
                "something was reading data bytes"
            )
        return out


# ---------------------------------------------------------------------------
# j33 — ATOMIC REPLACE-WHERE (Delta's INSERT OVERWRITE replaceWhere /
# Iceberg's overwrite-by-filter): ONE commit swaps a key slice for its
# recomputed replacement — the backfill primitive. In-query pins: the
# history gains exactly one version (no torn delete+append window);
# every file whose manifest range is provably disjoint from the slice
# rides BY REFERENCE (same mtime — at 100 TB a day's backfill costs that
# day's files, not the table); the change feed across the commit is
# exactly old-slice-out + replacement-in; and an out-of-slice row
# refuses TYPED with the head unmoved. DuckDB reproduces the final
# state declaratively (CASE WHEN in-slice THEN recomputed), so value
# equality proves the swap lost nothing and resurrected nothing.
# ---------------------------------------------------------------------------
@registry.query(
    "j33_replace_where",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(CAST(
             CASE WHEN o_orderkey BETWEEN 100 AND 999
                  THEN o_totalprice * 2 ELSE o_totalprice END
             AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j33_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        current_version,
        history,
        manifest,
        read_version,
        replace_where,
        table_changes,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    lo, hi = 100, 999
    with scratch_dir("j33_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.repartitionByRange(8, "o_orderkey"), path,
            collect_stats=("o_orderkey",),
        )
        m1 = manifest(path, 1)
        sig = {
            f: _os.stat(_os.path.join(path, f)).st_mtime_ns
            for f in m1["files"]
        }
        n_slice = orders.filter(
            F.col("o_orderkey").between(lo, hi)
        ).count()
        # the typed guard first: an out-of-slice row refuses, head unmoved
        stray = spark.createDataFrame(
            [(hi + 1000, "F", 1.0)], orders.schema
        )
        try:
            replace_where(stray, path, "o_orderkey", lo, hi)
            raise RuntimeError("an out-of-slice row must refuse")
        except ConstraintViolationError:
            pass
        if current_version(path) != 1:
            raise RuntimeError("a refused replace moved the head")
        # the backfill: the slice re-lands with recomputed prices
        repl = orders.filter(F.col("o_orderkey").between(lo, hi)).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        v2 = replace_where(repl, path, "o_orderkey", lo, hi)
        if v2 != 2 or [h["version"] for h in history(path)] != [1, 2]:
            raise RuntimeError("replace_where must be ONE commit")
        # pruning: every provably-disjoint file rode by reference
        m2 = manifest(path, 2)
        stats1 = m1.get("stats", {})
        for f in m1["files"]:
            r = stats1.get(f, {}).get("o_orderkey")
            if r and (r[1] < lo or r[0] > hi):
                if f not in m2["files"] or _os.stat(
                    _os.path.join(path, f)
                ).st_mtime_ns != sig[f]:
                    raise RuntimeError(
                        f"disjoint file {f} was rewritten — the backfill "
                        "must cost the slice, not the table"
                    )
        # change feed: exactly old-slice-out + replacement-in
        feed = table_changes(spark, path, 1, 2)
        counts = {
            r["_change_type"]: r["n"]
            for r in feed.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if counts.get("delete", 0) != n_slice or counts.get(
            "insert", 0
        ) != n_slice:
            raise RuntimeError(f"change feed is not slice-for-slice: {counts}")
        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j34 — CATALOG MULTI-TABLE TRANSACTION (the Nessie / Iceberg-REST shape):
# single-table commits are atomic but a fact+detail pipeline updating TWO
# versioned tables exposes a torn half-published state between its two
# commits — Delta and Iceberg share the gap. sources/catalog.py moves the
# atomic step up a level: tables commit normally (immutable versions,
# invisible to catalog readers), then ONE hard-link CAS re-pins the
# catalog's table->version map. In-query pins: after BOTH table commits
# but BEFORE the catalog commit, catalog reads of both tables still serve
# the old consistent set (the torn window provably closed); the flip is
# simultaneous; a lost-update transaction on the same table refuses with
# a typed CatalogConflictError; catalog v1 time-travels to the old SET.
# The answer is a cross-table join read THROUGH the catalog head, which
# DuckDB reproduces over the full inputs — value equality proves the
# final pinned set is exactly whole-orders x whole-lineitem.
# ---------------------------------------------------------------------------
@registry.query(
    "j34_catalog_multi_table_txn",
    """
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
def j34_catalog_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources import catalog as C
    from tts_etl_pipeline_spark.sources.versioned import write_version

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    lines = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    with scratch_dir("j34_") as base:
        cat, po, pl = f"{base}/cat", f"{base}/orders_v", f"{base}/lines_v"
        write_version(orders.filter(F.col("o_orderkey") % 2 == 0), po)
        write_version(lines.filter(F.col("l_orderkey") % 2 == 0), pl)
        txn0 = C.begin(cat)
        txn0.stage("orders", 1, table_path=po)
        txn0.stage("lines", 1, table_path=pl)
        txn0.commit()
        n_o1 = C.read_catalog(spark, cat, "orders").count()
        n_l1 = C.read_catalog(spark, cat, "lines").count()
        # the transaction: both tables gain their odd halves
        loser = C.begin(cat)  # a stale competitor, for the conflict pin
        v_o = write_version(
            orders.filter(F.col("o_orderkey") % 2 == 1), po, mode="append"
        )
        # TORN WINDOW PROBE: orders' new version exists; catalog readers
        # must still see the OLD consistent set on BOTH tables
        if (
            C.read_catalog(spark, cat, "orders").count() != n_o1
            or C.read_catalog(spark, cat, "lines").count() != n_l1
        ):
            raise RuntimeError(
                "catalog readers observed a half-published transaction"
            )
        v_l = write_version(
            lines.filter(F.col("l_orderkey") % 2 == 1), pl, mode="append"
        )
        txn = C.begin(cat)
        txn.stage("orders", v_o)
        txn.stage("lines", v_l)
        if txn.commit() != 2:
            raise RuntimeError("the multi-table publish must be ONE commit")
        # lost-update guard: the stale competitor staged the same table
        loser.stage("orders", v_o)
        try:
            loser.commit()
            raise RuntimeError("a re-pinned table must refuse typed")
        except C.CatalogConflictError:
            pass
        # catalog time travel serves the OLD consistent set
        if (
            C.read_catalog(spark, cat, "orders", version=1).count() != n_o1
            or C.read_catalog(spark, cat, "lines", version=1).count() != n_l1
        ):
            raise RuntimeError("catalog v1 lost the old version set")
        return materialize(
            C.read_catalog(spark, cat, "orders")
            .join(
                C.read_catalog(spark, cat, "lines"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum((money("l_extendedprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


@registry.query(
    "j40_auto_maintenance",
    """
    WITH base AS (
      SELECT o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey NOT BETWEEN 100 AND 999 AND o_orderkey % 100 <> 7
      UNION ALL
      SELECT o_orderstatus, o_totalprice
      FROM orders, generate_series(1, 12) AS g(i)
      WHERE o_orderkey % 10 = 3 AND o_orderkey % 100 <> 7
    )
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j40_auto_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLICY-DRIVEN TABLE MAINTENANCE (sources/maintenance.py): the
    one-call OPTIMIZE loop — purge_eq / purge_dvs / compact / vacuum
    fired by manifest-derived debt metrics (KB of driver work to decide,
    the 100 TB planning bound). The table degrades realistically: a DV
    delete (merge-on-read debt), twelve tiny appends (small-file debt),
    six equality-delete commits (CDC debt); two maintenance passes then
    pin — TYPED, in-query — that exactly the right actions fire
    ([purge_dvs] first, then purge_eq+vacuum with the file count back
    under policy), that every action is content-preserving (the row
    count never moves), and that a third pass is a provable no-op (the
    vacuum marker, not the head number, drives the version trigger).
    DuckDB reproduces the degraded-then-maintained final state, so value
    equality proves maintenance reorganized bytes and lost nothing."""

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.maintenance import (
        auto_maintain,
        table_debt,
    )
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        delete_where_eq,
        read_version,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("j40_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.repartitionByRange(8, "o_orderkey"), path,
            collect_stats=("o_orderkey",),
        )
        n_live = orders.count()
        # --- degrade 1: merge-on-read debt ---------------------------
        delete_where_dv(spark, path, "o_orderkey", 100, 999)
        n_live = read_version(spark, path).count()
        quiet = {
            "max_files": 10**6, "max_eq_deletes": 10**6,
            "max_versions": 10**9, "max_dv_ratio": 0.001,
            "collect_stats": ("o_orderkey",),
        }
        acts1 = auto_maintain(spark, path, quiet)
        if n_live and [a["action"] for a in acts1] != ["purge_dvs"]:
            raise RuntimeError(f"DV debt must fire exactly purge_dvs: {acts1}")
        if read_version(spark, path).count() != n_live:
            raise RuntimeError("purge_dvs changed the table's contents")
        # --- degrade 2: small-file + CDC debt ------------------------
        slice3 = orders.filter(F.col("o_orderkey") % 10 == 3)
        for i in range(1, 13):
            write_version(
                slice3.withColumn(
                    "o_orderkey", F.col("o_orderkey") + i * 10_000_000
                ),
                path, mode="append", collect_stats=("o_orderkey",),
            )
        k7 = [
            r[0]
            for r in orders.filter(F.col("o_orderkey") % 100 == 7)
            .select("o_orderkey")
            .collect()
        ]
        n_eq_commits = 0
        for c in range(6):  # up to six commits -> six eq-delete entries
            chunk = [k for j, k in enumerate(k7) if j % 6 == c]
            # every shifted append copy shares k % 100 (10^7 % 100 = 0),
            # so deleting the copies too keeps the oracle declarative
            all_copies = [k + i * 10_000_000 for k in chunk for i in range(13)]
            if all_copies:
                delete_where_eq(path, "o_orderkey", all_copies)
                n_eq_commits += 1
        policy = {
            "max_files": 16, "target_files": 8, "max_dv_ratio": 0.05,
            "max_eq_deletes": 0, "max_versions": 5, "keep_versions": 2,
            "grace_seconds": 0, "collect_stats": ("o_orderkey",),
        }
        acts2 = auto_maintain(spark, path, policy)
        fired = [a["action"] for a in acts2]
        if n_live and (
            ("purge_eq" not in fired and n_eq_commits)
            or "vacuum" not in fired
            or "aborted" in fired
        ):
            raise RuntimeError(f"CDC+version debt must purge and vacuum: {fired}")
        debt = table_debt(path)
        if debt["n_eq_deletes"] or debt["dv_dead_rows"] or (
            debt["n_files"] > policy["max_files"]
        ):
            raise RuntimeError(f"maintenance left debt behind: {debt}")
        # --- idempotence: a third pass does nothing -------------------
        acts3 = auto_maintain(spark, path, policy)
        if acts3:
            raise RuntimeError(f"a debt-free pass must be empty: {acts3}")
        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


@registry.query(
    "j39_unique_constraint",
    """
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 = 4
    )
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j39_unique_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENFORCED UNIQUE constraints (add_unique_constraint, versioned.py)
    — the PRIMARY-KEY guarantee Delta and Iceberg record as
    informational-only, enforced here at every commit boundary. In-query
    pins: adding the constraint is METADATA-ONLY (file list + mtimes
    identical, the j29 discipline) and refuses TYPED on a table that
    already duplicates the column; an append that duplicates WITHIN its
    batch refuses; an append colliding with a LIVE table row refuses
    (manifest-pruned cross-check: staged key span -> overlapping files
    -> broadcast semi-join, O(batch) at 100 TB); a disjoint append and
    a key-preserving MERGE rewrite both commit; every refusal leaves
    the head unmoved. DuckDB reproduces the surviving commits' final
    state, so value equality proves enforcement blocked exactly the
    violating commits and nothing else."""
    import os as _os

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        add_unique_constraint,
        current_version,
        manifest,
        merge,
        read_version,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("j39_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.repartitionByRange(8, "o_orderkey"), path,
            collect_stats=("o_orderkey",),
        )
        n1 = orders.count()
        m1 = manifest(path, 1)
        sig = {
            f: _os.stat(_os.path.join(path, f)).st_mtime_ns
            for f in m1["files"]
        }
        add_unique_constraint(spark, path, "pk_orderkey", "o_orderkey")
        m2 = manifest(path, 2)
        if m2["files"] != m1["files"] or {
            f: _os.stat(_os.path.join(path, f)).st_mtime_ns
            for f in m1["files"]
        } != sig:
            raise RuntimeError("ADD UNIQUE must be metadata-only")
        if n1 > 0:
            # a table already duplicating the column refuses the ALTER
            dup_path = f"{base}/dup_v"
            write_version(
                orders.limit(5).unionByName(orders.limit(5)), dup_path
            )
            try:
                add_unique_constraint(spark, dup_path, "pk", "o_orderkey")
                raise RuntimeError("ALTER on a duplicated table must refuse")
            except ConstraintViolationError:
                pass
            # in-batch duplicate refuses, head unmoved
            k0 = orders.agg(F.min("o_orderkey")).first()[0]
            probe = orders.filter(F.col("o_orderkey") == k0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 77_000_000
            )
            try:
                write_version(
                    probe.unionByName(probe), path, mode="append"
                )
                raise RuntimeError("an in-batch duplicate must refuse")
            except ConstraintViolationError:
                pass
            # collision with a LIVE row refuses, head unmoved
            try:
                write_version(
                    orders.filter(F.col("o_orderkey") == k0), path,
                    mode="append",
                )
                raise RuntimeError("a live-row collision must refuse")
            except ConstraintViolationError:
                pass
            if current_version(path) != 2:
                raise RuntimeError("a refused commit moved the head")
        # a DISJOINT append commits under the constraint
        write_version(
            orders.filter(F.col("o_orderkey") % 10 == 4).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000
            ),
            path, mode="append", collect_stats=("o_orderkey",),
        )
        # a key-preserving MERGE rewrite commits (rewritten rows retire,
        # so their re-staged copies are not conflicts)
        cur = read_version(spark, path)
        src = cur.filter(F.col("o_orderkey").between(100, 999))
        if src.limit(1).count():
            merge(spark, path, src, "o_orderkey")
        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


@registry.query(
    "j38_python_datasource_pushdown",
    """
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderkey BETWEEN 100 AND 999
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j38_python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSIONED TABLES AS A SPARK DATA SOURCE (sources/pyds_versioned.py):
    `CREATE TEMPORARY VIEW ... USING versioned_table OPTIONS (path,
    version)` — time travel straight from SQL — with pushFilters-driven
    FILE SKIPPING planned from the manifest stats channel (the Iceberg
    DataSourceV2 story through the 4.1 Python DataSource API). In-query
    pins: the filtered scan's planning report proves provably-disjoint
    files were never planned (files_planned < files_total); the view
    pinned at v1 still serves the pre-overwrite snapshot while the head
    view serves the new one; a merge-on-read snapshot refuses TYPED
    (the DataSource serves clean snapshots; read_version is the MoR
    funnel). The answer flows entirely through the SQL view, so oracle
    equality proves the source's Arrow read path (colmap renames, null
    fill, widening casts) is row-exact."""
    import json as _json

    from tts_etl_pipeline_spark.sources.pyds_versioned import register
    from tts_etl_pipeline_spark.sources.versioned import write_version

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("j38_") as base:
        path = f"{base}/orders_v"
        view = "j38_orders_v1"
        prior = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
        try:
            register(spark)
            spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
            write_version(
                orders.repartitionByRange(8, "o_orderkey"), path,
                collect_stats=("o_orderkey",),
            )
            n1 = orders.count()
            # head moves: v2 keeps only even keys — v1 must still serve whole
            write_version(
                orders.filter(F.col("o_orderkey") % 2 == 0), path,
                mode="overwrite",
            )
            rpt = f"{base}/report.json"
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY VIEW {view} USING versioned_table "
                f"OPTIONS (path '{path}', version '1', report '{rpt}')"
            )
            if spark.table(view).count() != n1:
                raise RuntimeError("the v1 view must serve the pre-overwrite rows")
            head = (
                spark.read.format("versioned_table").option("path", path).load()
            )
            if n1 and head.count() >= n1:
                raise RuntimeError("the head read must see the overwrite")
            out = materialize(
                spark.sql(
                    f"""
                    SELECT o_orderstatus, COUNT(*) AS n_rows,
                           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                * 100 AS BIGINT)) AS BIGINT) AS sum_cents
                    FROM {view} WHERE o_orderkey BETWEEN 100 AND 999
                    GROUP BY o_orderstatus ORDER BY o_orderstatus
                    """
                )
            )
            if n1 > 0:
                rep = _json.loads(open(rpt).read())
                if rep["files_total"] > 1 and (
                    rep["files_planned"] >= rep["files_total"]
                ):
                    raise RuntimeError(
                        f"pushdown planned every file despite the key filter: "
                        f"{rep}"
                    )
                # merge-on-read snapshots refuse typed, never serve stale rows
                from tts_etl_pipeline_spark.sources.versioned import (
                    delete_where_dv,
                )

                k0 = head.agg(F.min("o_orderkey")).first()[0]
                if k0 is not None and delete_where_dv(
                    spark, path, "o_orderkey", k0, k0
                ):
                    try:
                        spark.read.format("versioned_table").option(
                            "path", path
                        ).load().count()
                        raise RuntimeError("a DV-bearing snapshot must refuse")
                    except Exception as ex:
                        if "deletion vectors" not in str(ex):
                            raise
            return out
        finally:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prior)
            try:
                spark.catalog.dropTempView(view)
            except Exception:
                pass


@registry.query(
    "j37_incremental_replication",
    """
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey NOT BETWEEN 100 AND 999
      UNION ALL
      SELECT o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 10 = 2
    )
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j37_incremental_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL TABLE REPLICATION (sources/replicate.py): a versioned
    orders table — clustered write, then a DV delete (sidecar state),
    then an append — syncs to a replica in three replicate() calls.
    In-query pins: the SECOND sync ships exactly the new commit's data
    files (delta-only, counted against the manifest diff); the third is
    a provable no-op (0 files); the replica time-travels (v1 equals the
    pre-delete row count) and serves the staged WAP branch; a diverged
    destination refuses TYPED. The answer is read FROM THE REPLICA, so
    oracle equality proves the mirrored lineage serves the same bytes —
    the DR contract. At 100 TB a sync costs the commits since the last
    sync (immutable files + content-addressed sidecars), never the
    table."""

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.replicate import (
        ReplicaDivergedError,
        replicate,
    )
    from tts_etl_pipeline_spark.sources.versioned import (
        create_branch,
        current_version,
        delete_where_dv,
        manifest,
        read_branch,
        read_version,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("j37_") as base:
        src, dst = f"{base}/src", f"{base}/replica"
        write_version(
            orders.repartitionByRange(8, "o_orderkey"), src,
            collect_stats=("o_orderkey",),
        )
        n1 = orders.count()
        delete_where_dv(spark, src, "o_orderkey", 100, 999)
        create_branch(src, "wap")
        write_version(
            orders.limit(3).withColumn(
                "o_orderkey", F.col("o_orderkey") + 50_000_000
            ),
            src, mode="append", branch="wap",
        )
        head1 = current_version(src)
        r1 = replicate(src, dst)
        if r1["versions_synced"] != head1:
            raise RuntimeError(f"first sync must ship the full lineage: {r1}")
        # replica time travel: v1 predates the DV delete
        if read_version(spark, dst, 1).count() != n1:
            raise RuntimeError("replica v1 lost the pre-delete snapshot")
        # staged WAP branch survived failover
        if read_branch(spark, dst, "wap").count() != read_branch(
            spark, src, "wap"
        ).count():
            raise RuntimeError("the staged branch did not replicate")
        # incremental: ONE append ships exactly its delta
        write_version(
            orders.filter(F.col("o_orderkey") % 10 == 2).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000
            ),
            src, mode="append", collect_stats=("o_orderkey",),
        )
        head2 = current_version(src)
        new_files = set(manifest(src, head2)["files"]) - set(
            manifest(src, head1)["files"]
        )
        r2 = replicate(src, dst)
        if r2["versions_synced"] != head2 - head1 or (
            new_files and r2["files_copied"] != len(new_files)
        ):
            raise RuntimeError(
                f"delta sync must ship exactly the new commit: {r2} "
                f"(new files {len(new_files)})"
            )
        r3 = replicate(src, dst)
        if r3["versions_synced"] or r3["files_copied"]:
            raise RuntimeError(f"a re-sync must be a no-op: {r3}")
        # divergence refuses typed (probe on a scratch copy of the replica)
        if n1 > 0:
            write_version(orders.limit(1), dst, mode="append")
            try:
                replicate(src, dst)
                raise RuntimeError("a diverged replica must refuse")
            except ReplicaDivergedError:
                pass
            # the answer below reads the last REPLICATED version, which
            # divergence never touched
            answer_v = head2
        else:
            answer_v = None
        return materialize(
            read_version(spark, dst, answer_v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )


# ---------------------------------------------------------------------------
# j35 — FULL-CLAUSE-MATRIX MERGE (the complete Delta/Iceberg MERGE INTO
# surface): one commit applies WHEN MATCHED AND cond DELETE, WHEN MATCHED
# UPDATE SET *, WHEN NOT MATCHED INSERT *, WHEN NOT MATCHED BY SOURCE
# DELETE and ...UPDATE SET — ordered clauses, first-satisfied wins. The
# second merge drops the not-matched-by-source clauses, which re-arms the
# manifest pruner: only files whose key range intersects the source key
# span are rewritten, every provably-disjoint file rides BY REFERENCE
# (mtime-pinned in-query) — the 100 TB CDC shape merge_upsert's
# whole-table full-outer join lacks. Further pins: duplicate source keys
# and a retyped source column refuse TYPED with the head unmoved; the
# change feed across the pruned merge is exactly the touched rows
# (carried identical rows cancel); history gains exactly one version per
# merge. DuckDB reproduces both merges declaratively (CASE chains +
# UNION ALL for inserts), so value equality proves every clause fired on
# exactly its rows.
# ---------------------------------------------------------------------------
@registry.query(
    "j36_token_index_pruned_scan",
    """
    WITH probe AS (
      SELECT t FROM (
        SELECT DISTINCT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        FROM documents WHERE doc_id = (SELECT min(doc_id) FROM documents)
      ) WHERE length(t) > 0 ORDER BY length(t) DESC, t LIMIT 1
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents, probe
    WHERE list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), probe.t)
    GROUP BY lang ORDER BY lang
    """,
)
def j36_token_index_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERTED TOKEN INDEX scan (sources/textindex.py): documents land in
    a versioned table, build_text_index writes the per-snapshot token ->
    file-posting sidecar (executor-built, md5-sharded so a probe loads
    ONE shard, never the vocabulary), and the scan reads ONLY the files
    the posting list names. In-query pins: the pruned read is row-exact
    vs the full-scan token filter (the soundness contract — posting lists
    may over-approximate, never miss); a token absent from the corpus
    answers empty with ZERO file IO; a multi-word probe and a missing
    index refuse TYPED. The probe token is derived deterministically
    (longest token of the min-doc_id document), so DuckDB reproduces the
    whole answer declaratively — value equality proves index-pruned ==
    plain SQL. At 100 TB the posting list turns a corpus-wide token
    predicate into O(matching files) IO, the min/max-stats story
    (j9/j21) extended to free text where ranges prune nothing."""

    from tts_etl_pipeline_spark.sources.textindex import (
        build_text_index,
        read_version_token_pruned,
        token_filter_expr,
    )
    from tts_etl_pipeline_spark.sources.versioned import write_version

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    out_schema = "lang string, n_docs bigint, sum_chars bigint"
    with scratch_dir("j36_") as base:
        path = f"{base}/docs_v"
        write_version(
            docs.repartitionByRange(8, "doc_id"), path,
            collect_stats=("doc_id",),
        )
        build_text_index(spark, path, "text")
        mind = docs.agg(F.min("doc_id")).first()[0]
        if mind is None:  # empty corpus: empty result, schema intact
            return spark.createDataFrame([], out_schema)
        probe = (
            docs.filter(F.col("doc_id") == mind)
            .select(
                F.explode(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+")
                ).alias("t")
            )
            .filter(F.length("t") > 0)
            .distinct()
            .orderBy(F.length("t").desc(), F.col("t"))
            .limit(1)
            .first()
        )
        if probe is None:
            return spark.createDataFrame([], out_schema)
        probe = probe["t"]
        # typed guards: multi-token probe / missing index refuse
        try:
            read_version_token_pruned(spark, path, "two words")
            raise RuntimeError("a multi-token probe must refuse")
        except ValueError:
            pass
        try:
            read_version_token_pruned(spark, path, probe, col="lang")
            raise RuntimeError("an unbuilt index must refuse, never scan")
        except ValueError:
            pass
        # a corpus-absent token answers empty with ZERO file IO
        missdf, nmiss, _tot = read_version_token_pruned(
            spark, path, "zzzyxnotatoken"
        )
        if nmiss != 0 or missdf.count() != 0:
            raise RuntimeError("an unindexed token must read zero files")
        pruned, _nread, _tot = read_version_token_pruned(spark, path, probe)
        # soundness: index-pruned == full-scan token filter, row-exact
        n_pruned = pruned.count()
        n_full = docs.filter(token_filter_expr("text", probe)).count()
        if n_pruned != n_full:
            raise RuntimeError(
                f"posting list missed rows: pruned {n_pruned} vs full {n_full}"
            )
        return materialize(
            pruned.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .orderBy("lang")
        )


@registry.query(
    "j35_merge_full_matrix",
    """
    WITH m1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
             CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2
                  WHEN o_orderkey % 10 = 5 THEN o_totalprice + 1
                  ELSE o_totalprice END AS p
      FROM orders
      WHERE o_orderkey % 10 NOT IN (7, 9)
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 = 1
    ), m2 AS (
      SELECT k, s,
             CASE WHEN k BETWEEN 100 AND 999 THEN p * 3 ELSE p END AS p
      FROM m1
    )
    SELECT s AS o_orderstatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(p AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM m2 GROUP BY s ORDER BY s
    """,
)
def j35_merge_full_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.versioned import (
        current_version,
        history,
        manifest,
        merge,
        read_version,
        table_changes,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("j35_") as base:
        path = f"{base}/orders_v"
        write_version(
            orders.repartitionByRange(8, "o_orderkey"), path,
            collect_stats=("o_orderkey",),
        )
        k = F.col("o_orderkey")
        source = (
            orders.filter(k % 10 == 3)
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
            .unionByName(
                orders.filter(k % 10 == 7)
                .withColumn("o_totalprice", F.lit(-1.0))
            )
            .unionByName(
                orders.filter(k % 10 == 1)
                .withColumn("o_orderkey", k + 10_000_000)
            )
        )
        # typed guards first, head unmoved: duplicate keys / retyped column
        if not source.limit(1).isEmpty():
            try:
                merge(
                    spark, path, source.unionByName(source.limit(1)),
                    "o_orderkey",
                )
                raise RuntimeError("duplicate source keys must refuse")
            except ValueError:
                pass
        try:
            merge(
                spark, path,
                source.withColumn(
                    "o_totalprice", F.col("o_totalprice").cast("float")
                ),
                "o_orderkey",
            )
            raise RuntimeError("a retyped source column must refuse")
        except ValueError:
            pass
        if current_version(path) != 1:
            raise RuntimeError("a refused merge moved the head")
        # merge 1: all five clause kinds in one commit
        merge(
            spark, path, source, "o_orderkey",
            matched=(("delete", "s.o_totalprice < 0"), ("update", None)),
            not_matched=(("insert", None),),
            not_matched_by_source=(
                ("delete", "t.o_orderkey % 10 = 9"),
                (
                    "update",
                    "t.o_orderkey % 10 = 5",
                    {"o_totalprice": "t.o_totalprice + 1"},
                ),
            ),
        )
        v1 = current_version(path)
        m1 = manifest(path, v1)
        sig = {
            f: _os.stat(_os.path.join(path, f)).st_mtime_ns
            for f in m1["files"]
        }
        # merge 2: no NMBS clauses => the pruner re-arms; keys confined to
        # [100, 999] so key-clustered files outside the span ride by ref
        lo, hi = 100, 999
        cur = read_version(spark, path)
        src2 = cur.filter(k.between(lo, hi)).withColumn(
            "o_totalprice", F.col("o_totalprice") * 3
        )
        n2 = src2.count()
        v2 = merge(spark, path, src2, "o_orderkey")
        if n2 == 0:
            if v2 is not None:
                raise RuntimeError(
                    "an empty no-NMBS merge must commit nothing (None)"
                )
        else:
            if [h["version"] for h in history(path)] != list(range(1, v2 + 1)):
                raise RuntimeError("each merge must be exactly ONE commit")
            stats1 = m1.get("stats", {})
            m2_files = manifest(path, v2)["files"]
            for f in m1["files"]:
                r = stats1.get(f, {}).get("o_orderkey")
                if r and (r[1] < lo or r[0] > hi):
                    if f not in m2_files or _os.stat(
                        _os.path.join(path, f)
                    ).st_mtime_ns != sig[f]:
                        raise RuntimeError(
                            f"disjoint file {f} was rewritten — a pruned "
                            "merge must cost the overlap, not the table"
                        )
            # change feed across the pruned merge: exactly the updated rows
            # as delete+insert pairs (carried identical rows cancel)
            counts = {
                r["_change_type"]: r["n"]
                for r in table_changes(spark, path, v1, v2)
                .groupBy("_change_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if counts.get("delete", 0) != n2 or counts.get("insert", 0) != n2:
                raise RuntimeError(
                    f"pruned-merge change feed is not row-exact: {counts}"
                )
        return materialize(
            read_version(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((money("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )
