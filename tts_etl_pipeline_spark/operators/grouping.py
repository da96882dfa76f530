"""Multi-dimensional aggregation (rollup / cube / grouping sets), set
operations, and distinct aggregates (SURVEY.md §2.2-B7).

Grouping keys are COALESCEd to sentinel labels on both engines so the
subtotal rows compare exactly (and so null semantics never depend on engine
defaults). These all run as a single hash-agg with map-side expansion —
no extra shuffles versus a plain GROUP BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.checkpoints import materialize
from tts_etl_pipeline_spark.functions.exact import SQL_DISC_PRICE, disc_price, money
from tts_etl_pipeline_spark.sources.tables import rebalance_scan, table


@registry.query(
    "g1_rollup_revenue",
    f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def g1_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # pre-aggregate to the finest grouping grain BEFORE the rollup: Expand
    # then multiplies 6 base rows instead of 600k fact rows (sum-of-sums and
    # sum-of-counts are exact in decimal/long, so results are identical).
    # At 100 TB this turns the rollup from a 3x fact-row blowup into a
    # no-op on the aggregated grain.
    base = (
        # decimal partial sums are the scan stage's cost; rebalance
        # parallelizes them when the file layout cannot (no-op at scale)
        rebalance_scan(
            li.select("l_returnflag", "l_linestatus", "l_extendedprice", "l_discount"),
            spark,
            sf_dir,
            "lineitem",
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(disc_price()).alias("rev_dec"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("rev_dec").cast("double").alias("revenue"),
            F.sum("cnt").alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_items",
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


@registry.query(
    "g2_cube_orders",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY orderstatus, orderpriority
    """,
)
def g2_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    # same pre-aggregation trick as g1: cube-Expand runs over the 15-row
    # base grain instead of the full fact table
    base = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(money("o_totalprice")).alias("tp_dec"),
    )
    return (
        base.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("cnt").alias("n_orders"),
            F.sum("tp_dec").cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "total_price",
        )
        .orderBy("orderstatus", "orderpriority")
    )


@registry.query(
    "g3_grouping_sets",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(CAST(EXTRACT(YEAR FROM l_shipdate) AS VARCHAR), 'ALL') AS ship_year,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (EXTRACT(YEAR FROM l_shipdate)))
    ORDER BY returnflag, ship_year
    """,
)
def g3_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__g3_lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(CAST(EXTRACT(YEAR FROM l_shipdate) AS STRING), 'ALL') AS ship_year,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM __g3_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (EXTRACT(YEAR FROM l_shipdate)))
        ORDER BY returnflag, ship_year
        """
    )


@registry.query(
    "s1_set_ops",
    """
    WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                   AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
         c97 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                   AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
    SELECT 'both' AS bucket, COUNT(*) AS n FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c97) x
    UNION ALL
    SELECT 'only_1995' AS bucket, COUNT(*) AS n FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c97) y
    UNION ALL
    SELECT 'either' AS bucket, COUNT(*) AS n FROM (SELECT * FROM c95 UNION SELECT * FROM c97) z
    ORDER BY bucket
    """,
)
def s1_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")

    # each year's distinct customer set feeds three set ops (both sides of
    # intersect/except/union) — checkpoint once or orders is scanned and
    # distinct-shuffled 6 times
    def custs(lo: str, hi: str) -> DataFrame:
        return materialize(
            orders.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp_ntz"))
            )
            .select("o_custkey")
            .distinct()
        )

    c95 = custs("1995-01-01 00:00:00", "1996-01-01 00:00:00")
    c97 = custs("1997-01-01 00:00:00", "1998-01-01 00:00:00")
    both = c95.intersect(c97).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("bucket"), "n"
    )
    only95 = c95.exceptAll(c97.distinct()).distinct().agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("only_1995").alias("bucket"), "n")
    either = c95.union(c97).distinct().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("either").alias("bucket"), "n"
    )
    return both.unionAll(only95).unionAll(either).orderBy("bucket")


@registry.query(
    "g4_distinct_aggregates",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(DISTINCT c_custkey) AS n_customers,
           COUNT(*) AS n_rows,
           CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS min_bal,
           CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def g4_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min(money("c_acctbal")).cast("double").alias("min_bal"),
            F.max(money("c_acctbal")).cast("double").alias("max_bal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# s2 — union-by-name with schema drift: two differently-shaped projections
# combined by column NAME (missing columns null-filled) — the schema-
# evolution union a long-lived pipeline needs (positional UNION would
# silently misalign).
# ---------------------------------------------------------------------------
@registry.query(
    "s2_union_by_name",
    """
    SELECT entity_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN region_hint IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_region
    FROM (
      SELECT 'customer' AS entity_type, c_name AS name, n_name AS region_hint
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL BY NAME
      SELECT p_name AS name, 'part' AS entity_type
      FROM part
    ) entities
    GROUP BY entity_type
    ORDER BY entity_type
    """,
)
def s2_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    part = table(spark, sf_dir, "part")
    a = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.lit("customer").alias("entity_type"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("region_hint"),
        )
    )
    b = part.select(F.col("p_name").alias("name"), F.lit("part").alias("entity_type"))
    entities = a.unionByName(b, allowMissingColumns=True)
    return (
        entities.groupBy("entity_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("region_hint").isNull(), 1).otherwise(0)).alias(
                "n_missing_region"
            ),
        )
        .orderBy("entity_type")
    )


# ---------------------------------------------------------------------------
# s3 — null-group semantics: GROUP BY over a nullable key (NULLIF-induced),
# null-safe equality, and COALESCE'd output — the three-valued-logic corners
# every engine must agree on.
# ---------------------------------------------------------------------------
@registry.query(
    "s3_null_group_semantics",
    """
    SELECT COALESCE(status_nn, '(open)') AS status,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN status_nn IS NOT DISTINCT FROM NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_null_flagged
    FROM (SELECT NULLIF(o_orderstatus, 'O') AS status_nn FROM orders) x
    GROUP BY status_nn
    ORDER BY status
    """,
)
def s3_null_group_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    status_nn = F.nullif("o_orderstatus", F.lit("O"))
    return (
        orders.select(status_nn.alias("status_nn"))
        .groupBy("status_nn")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("status_nn").eqNullSafe(F.lit(None)), 1).otherwise(0)
            ).alias("n_null_flagged"),
        )
        .select(
            F.coalesce("status_nn", F.lit("(open)")).alias("status"),
            "n",
            "n_null_flagged",
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# s4 — FULL OUTER join reconciliation: early-period vs late-period customer
# order counts. Both sides are pre-aggregated to customer grain BEFORE the
# join, so the full-outer shuffle moves |customers| rows, not |orders|; the
# null patterns on either side drive the presence classification (the
# three-way churn split only a full outer join can produce in one pass).
# ---------------------------------------------------------------------------
@registry.query(
    "s4_full_outer_reconcile",
    """
    WITH early AS (
      SELECT o_custkey AS e_key, COUNT(*) AS early_orders
      FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
      GROUP BY o_custkey
    ),
    late AS (
      SELECT o_custkey AS l_key, COUNT(*) AS late_orders
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY o_custkey
    )
    SELECT COALESCE(e_key, l_key) AS custkey,
           COALESCE(early_orders, 0) AS early_orders,
           COALESCE(late_orders, 0) AS late_orders,
           CASE WHEN e_key IS NULL THEN 'late_only'
                WHEN l_key IS NULL THEN 'early_only'
                ELSE 'both' END AS presence
    FROM early FULL OUTER JOIN late ON e_key = l_key
    ORDER BY custkey
    """,
)
def s4_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    early = (
        orders.filter(
            F.col("o_orderdate") < F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
        )
        .groupBy(F.col("o_custkey").alias("e_key"))
        .agg(F.count(F.lit(1)).alias("early_orders"))
    )
    late = (
        orders.filter(
            F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
        )
        .groupBy(F.col("o_custkey").alias("l_key"))
        .agg(F.count(F.lit(1)).alias("late_orders"))
    )
    zero = F.lit(0).cast("bigint")
    return (
        early.join(late, F.col("e_key") == F.col("l_key"), "full_outer")
        .select(
            F.coalesce("e_key", "l_key").alias("custkey"),
            F.coalesce("early_orders", zero).alias("early_orders"),
            F.coalesce("late_orders", zero).alias("late_orders"),
            F.when(F.col("e_key").isNull(), "late_only")
            .when(F.col("l_key").isNull(), "early_only")
            .otherwise("both")
            .alias("presence"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# g6 — statistical aggregate family: sample variance, stddev, Pearson
# correlation and OLS slope of (l_quantity, l_extendedprice) per return
# flag. Native STDDEV/CORR are single-pass incremental doubles — order-
# dependent, so never hash-stable across engines. Instead both engines
# compute EXACT integer moments (n, Sx, Sy, Sxx, Syy, Sxy over CENT units —
# integer sums are associative) and derive every statistic with the
# identical sequence of IEEE double operations. The moments are kept at
# decimal SCALE 0: a scaled decimal like DECIMAL(38,4) converts to double
# via int128->double then x1e-4 in DuckDB (two roundings) but via a single
# correctly-rounded conversion in the JVM — at magnitudes past 2^53 these
# differ by 1 ULP. Scale-0 sums convert in one step on both engines.
# Correlation is scale-invariant; variance descaled by 1e4 in double.
# Same trick scales: integer moments combine associatively, so partial
# aggregation / AQE re-aggregation stays exact.
# ---------------------------------------------------------------------------
@registry.query(
    "g6_stat_moments",
    """
    SELECT l_returnflag, n,
           ((nd*sxx - sx*sx) / (nd*(nd - 1))) / 10000.0 AS var_qty,
           SQRT(((nd*sxx - sx*sx) / (nd*(nd - 1))) / 10000.0) AS stddev_qty,
           (nd*sxy - sx*sy)
             / (SQRT(nd*sxx - sx*sx) * SQRT(nd*syy - sy*sy)) AS corr_qty_price,
           (nd*sxy - sx*sy) / (nd*sxx - sx*sx) AS slope_price_per_qty
    FROM (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(qc) AS DOUBLE) AS sx,
             CAST(SUM(pc) AS DOUBLE) AS sy,
             CAST(SUM(qc*qc) AS DOUBLE) AS sxx,
             CAST(SUM(pc*pc) AS DOUBLE) AS syy,
             CAST(SUM(qc*pc) AS DOUBLE) AS sxy
      FROM (
        SELECT l_returnflag,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0)) AS qc,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0)) AS pc
        FROM lineitem
      ) cents
      GROUP BY l_returnflag
    ) m
    ORDER BY l_returnflag
    """,
)
def g6_stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    qc = (money("l_quantity") * 100).cast("decimal(14,0)")
    pc = (money("l_extendedprice") * 100).cast("decimal(14,0)")
    m = rebalance_scan(  # decimal moment products dominate the scan stage
        li.select("l_returnflag", qc.alias("qc"), pc.alias("pc")),
        spark,
        sf_dir,
        "lineitem",
    ).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("qc").cast("double").alias("sx"),
        F.sum("pc").cast("double").alias("sy"),
        F.sum(F.col("qc") * F.col("qc")).cast("double").alias("sxx"),
        F.sum(F.col("pc") * F.col("pc")).cast("double").alias("syy"),
        F.sum(F.col("qc") * F.col("pc")).cast("double").alias("sxy"),
    )
    nd, sx, sy = F.col("nd"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var_qty = ((nd * sxx - sx * sx) / (nd * (nd - 1))) / F.lit(10000.0)
    return m.select(
        "l_returnflag",
        "n",
        var_qty.alias("var_qty"),
        F.sqrt(var_qty).alias("stddev_qty"),
        (
            (nd * sxy - sx * sy)
            / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy))
        ).alias("corr_qty_price"),
        ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)).alias("slope_price_per_qty"),
    )  # no final sort: presentation-only (driver hash is order-insensitive)


# ---------------------------------------------------------------------------
# s5 — bag (multiset) set operations: EXCEPT ALL / INTERSECT ALL preserve
# duplicate multiplicity, unlike s1's distinct set ops. Spark implements
# both as a single hash aggregation on the value computing per-side counts
# then replicating min/difference — one shuffle on the value key, no join.
# Folding to (op, q, n) keeps the result grain auditable.
# ---------------------------------------------------------------------------
@registry.query(
    "s5_bag_semantics",
    """
    WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem WHERE l_returnflag = 'R'),
         b AS (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem WHERE l_returnflag = 'A')
    SELECT 'a_minus_b' AS op, q, COUNT(*) AS n
    FROM (SELECT q FROM a EXCEPT ALL SELECT q FROM b) x GROUP BY q
    UNION ALL
    SELECT 'a_intersect_b' AS op, q, COUNT(*) AS n
    FROM (SELECT q FROM a INTERSECT ALL SELECT q FROM b) y GROUP BY q
    ORDER BY op, q
    """,
)
def s5_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # one fact scan: both sides of both bag ops slice the same checkpointed
    # (flag, q) projection — without it each exceptAll/intersectAll branch
    # re-derives its side from parquet (4 scans of lineitem)
    base = materialize(
        li.filter(F.col("l_returnflag").isin("R", "A")).select(
            "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
        )
    )

    def side(flag: str) -> DataFrame:
        return base.filter(F.col("l_returnflag") == flag).select("q")

    a, b = side("R"), side("A")

    def fold(df: DataFrame, op: str) -> DataFrame:
        return df.groupBy("q").agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "q", "n"
        )

    return (
        fold(a.exceptAll(b), "a_minus_b")
        .unionAll(fold(a.intersectAll(b), "a_intersect_b"))
        .orderBy("op", "q")
    )


# ---------------------------------------------------------------------------
# s6 — correlated LATERAL subquery with ORDER BY ... LIMIT: top-2 customers
# by balance per nation, written as the declarative SQL:2016 lateral join
# rather than a hand-built rank window. The point is WHAT Catalyst compiles
# it to: the correlated limit is decorrelated into WindowGroupLimit —
# per-partition PARTIAL top-k pruning BEFORE the c_nationkey shuffle, then a
# final top-k and one row_number filter — with the nation side broadcast.
# That is exactly w1's hand-optimized plan, derived automatically, and it is
# the 100 TB shape: the shuffle carries at most k rows per (partition,
# nation), never the customer table. Plan-pinned in test_plans.py (no
# BroadcastNestedLoopJoin, WindowGroupLimit present). DuckDB runs the same
# LATERAL text natively.
# ---------------------------------------------------------------------------
@registry.query(
    "s6_lateral_topk_per_nation",
    """
    SELECT n.n_name, l.c_name, l.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) l
    ORDER BY n.n_name, l.c_acctbal DESC, l.c_name
    """,
)
def s6_lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "nation").createOrReplaceTempView("__s6_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("__s6_customer")
    return spark.sql(
        """
        SELECT n.n_name, l.c_name, l.c_acctbal
        FROM __s6_nation n,
        LATERAL (SELECT c_name, c_acctbal FROM __s6_customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) l
        """
        # no final ORDER BY: presentation-only (driver hash is
        # order-insensitive); the correlated LIMIT's sort is untouched
    )


# ---------------------------------------------------------------------------
# s7 — NULL-SAFE equality join (<=> / eqNullSafe): standard SQL equality
# never matches NULL = NULL, so rows with a missing key silently vanish
# from inner joins — the classic "where did 3% of my rows go" bug when a
# bucketing key is nullable. Spark's <=> treats NULL as a VALUE (one
# more key bucket), and Catalyst still plans a HASH join for it (NULL
# hashes like any key) — no nested-loop penalty. The query buckets
# customers by a deliberately-nullable key (bucket 3 is nullified on
# BOTH sides) and joins a 7-row bucket dim null-safely: the NULL bucket
# row aggregates the NULL-key customers instead of dropping them. Dim is
# literal-bounded (hard broadcast is policy-sound); DuckDB's spelling is
# IS NOT DISTINCT FROM. The join-key audit twin of s3's null-GROUPING
# semantics.
# ---------------------------------------------------------------------------
@registry.query(
    "s7_nullsafe_join",
    """
    WITH dim AS (
      SELECT NULLIF(v, 3) AS dkey,
             'bucket_' || CAST(v AS VARCHAR) AS bucket
      FROM (SELECT unnest(range(0, 7)) AS v)
    ),
    cust AS (
      SELECT c_custkey, c_acctbal, NULLIF(c_custkey % 7, 3) AS key
      FROM customer
    )
    SELECT bucket,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key
    FROM cust JOIN dim ON key IS NOT DISTINCT FROM dkey
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def s7_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = spark.createDataFrame([(i,) for i in range(7)], "v int").select(
        F.nullif(F.col("v").cast("bigint"), F.lit(3)).alias("dkey"),
        F.concat(F.lit("bucket_"), F.col("v").cast("string")).alias("bucket"),
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.nullif(F.col("c_custkey") % 7, F.lit(3)).alias("key"),
    )
    return (
        cust.join(F.broadcast(dim), cust.key.eqNullSafe(dim.dkey))  # 7-row dim
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_bal"),
            F.min("c_custkey").cast("bigint").alias("min_key"),
        )
        .orderBy("bucket")
    )
