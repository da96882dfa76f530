"""Scalar function families (SURVEY.md §2.2-B7 tail): string, date/time,
math, and array functions, plus pivot and as-of-join shapes.

The reference's scalar surface is tiny (strip/lower/split/regex/format —
SURVEY §2.3); everything here follows ANSI/Spark semantics and is verified
against DuckDB. Math functions are restricted to the correctly-rounded IEEE
set (sqrt, abs, floor/ceil, mod) — transcendentals (exp/ln/pow) are libm-
dependent and would not hash-match across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.sources.tables import rebalance_scan, table


@registry.query(
    "f1_string_functions",
    """
    SELECT p_partkey,
           upper(p_name) AS uname,
           lower(p_brand) AS lbrand,
           substr(p_name, 1, 5) AS head5,
           replace(p_type, 'A', '@') AS repl,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
           concat(p_brand, ':', p_type) AS brand_type,
           length(p_name) AS name_len,
           reverse(p_brand) AS rbrand,
           CAST(strpos(p_name, 'a') AS BIGINT) AS first_a
    FROM part
    WHERE p_partkey <= 100
    ORDER BY p_partkey
    """,
)
def f1_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.lower("p_brand").alias("lbrand"),
        F.substring("p_name", 1, 5).alias("head5"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("@")).alias("repl"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.reverse("p_brand").alias("rbrand"),
        F.instr(F.col("p_name"), "a").cast("bigint").alias("first_a"),
    ).orderBy("p_partkey")


@registry.query(
    "f2_datetime_functions",
    """
    SELECT o_orderkey,
           EXTRACT(YEAR FROM o_orderdate) AS y,
           EXTRACT(MONTH FROM o_orderdate) AS m,
           EXTRACT(DAY FROM o_orderdate) AS d,
           EXTRACT(QUARTER FROM o_orderdate) AS q,
           CAST(EXTRACT(ISODOW FROM o_orderdate) AS BIGINT) AS iso_dow,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT)
             AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY o_orderkey
    """,
)
def f2_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("d"),
        F.quarter("o_orderdate").cast("bigint").alias("q"),
        F.expr("extract(DAYOFWEEK_ISO FROM o_orderdate)").cast("bigint").alias("iso_dow"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias(
            "plus30"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
        )
        .cast("bigint")
        .alias("days_since_epoch_start"),
    ).orderBy("o_orderkey")


@registry.query(
    "f3_math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS abs_d,
           CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
           CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
           round(l_extendedprice / 7, 2) AS div7,
           sqrt(l_quantity) AS sqrt_q,
           CAST(l_partkey % 7 AS BIGINT) AS pk_mod7,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate,
           CAST(sign(l_discount - 0.05) AS BIGINT) AS sgn
    FROM lineitem
    WHERE l_orderkey <= 60
    ORDER BY l_orderkey, l_linenumber
    """,
)
def f3_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 60)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
        F.ceil("l_extendedprice").cast("bigint").alias("ceil_p"),
        F.floor("l_extendedprice").cast("bigint").alias("floor_p"),
        F.round(F.col("l_extendedprice") / 7, 2).alias("div7"),
        F.sqrt("l_quantity").alias("sqrt_q"),
        (F.col("l_partkey") % 7).cast("bigint").alias("pk_mod7"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.signum(F.col("l_discount") - 0.05).cast("bigint").alias("sgn"),
    ).orderBy("l_orderkey", "l_linenumber")


@registry.query(
    "f4_array_functions",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 9) AS first_elem,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 9) AS max_elem,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 9) AS min_elem,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           ROUND(list_reduce(list_transform(list_slice(embedding, 1, 8),
                 x -> CAST(x AS DOUBLE)), (a, v) -> a + v), 9) AS head8_sum
    FROM embeddings
    WHERE vec_id < 100
    ORDER BY vec_id
    """,
)
def f4_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    head8_sum = F.aggregate(
        F.slice("embedding", 1, 8), F.lit(0.0), lambda a, v: a + v.cast("double")
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 9).alias("first_elem"),
        F.round(F.array_max("embedding").cast("double"), 9).alias("max_elem"),
        F.round(F.array_min("embedding").cast("double"), 9).alias("min_elem"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.round(head8_sum, 9).alias("head8_sum"),
    ).orderBy("vec_id")


@registry.query(
    "g5_pivot_revenue",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(l_extendedprice AS DECIMAL(12,2))
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS O,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(l_extendedprice AS DECIMAL(12,2))
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def g5_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double"))
        .select(
            "l_returnflag",
            F.coalesce("O", F.lit(0.0)).alias("O"),
            F.coalesce("F", F.lit(0.0)).alias("F"),
        )
        .orderBy("l_returnflag")
    )


@registry.query(
    "a1_asof_last_click_before_purchase",
    """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_s,
           strftime(last_click, '%Y-%m-%d %H:%M:%S') AS last_click_s,
           COALESCE(CAST(date_diff('second', last_click, ts) AS BIGINT), -1)
             AS gap_s
    FROM (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
      FROM events
    ) x
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def a1_asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join expressed as a single ordered window (no range-join shuffle
    explosion): for each purchase, the latest strictly-prior click of the
    same user. At 100 TB this is one shuffle on user_id — the canonical
    scalable as-of pattern; an inequality join would be quadratic per user."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    out = (
        ev.withColumn("last_click", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_s"),
            F.date_format("last_click", "yyyy-MM-dd HH:mm:ss").alias("last_click_s"),
            F.coalesce(
                epoch(F.col("ts")) - epoch(F.col("last_click")), F.lit(-1).cast("long")
            ).alias("gap_s"),
        )
        .orderBy("event_id")
    )
    return out


# ---------------------------------------------------------------------------
# f5 — map + conditional-null functions: JSON props -> MAP, map_keys/values,
# element access, coalesce/nullif/CASE. DuckDB twin uses its MAP type.
# ---------------------------------------------------------------------------
@registry.query(
    "f5_map_null_functions",
    """
    SELECT event_id,
           CAST(map_extract(m, 'k')[1] AS BIGINT) AS k_val,
           CAST(len(map_keys(m)) AS BIGINT) AS n_keys,
           COALESCE(NULLIF(event_type, 'error'), 'ERR!') AS etype,
           CASE WHEN value >= 100 THEN 'high'
                WHEN value >= 10 THEN 'mid'
                ELSE 'low' END AS value_band
    FROM (
      SELECT event_id, event_type, value,
             MAP(['k'], [CAST(json_extract_string(props, '$.k') AS BIGINT)]) AS m
      FROM events
      WHERE event_id < 200
    ) x
    ORDER BY event_id
    """,
)
def f5_map_null_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    m = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k").cast("bigint")
    )
    return (
        ev.withColumn("m", m)
        .select(
            "event_id",
            F.element_at(F.col("m"), "k").alias("k_val"),
            F.size(F.map_keys("m")).cast("bigint").alias("n_keys"),
            F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("ERR!")).alias(
                "etype"
            ),
            F.when(F.col("value") >= 100, "high")
            .when(F.col("value") >= 10, "mid")
            .otherwise("low")
            .alias("value_band"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# f6 — regexp_replace / regexp_matches / split_part: the reference's regex
# surface (pa.py:291-294,304) generalized.
# ---------------------------------------------------------------------------
@registry.query(
    "f6_regex_functions",
    r"""
    SELECT doc_id,
           regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled_head,
           CAST(regexp_matches(text, '\bdata\b') AS BOOLEAN) AS mentions_data,
           split_part(text, ' ', 1) AS first_word,
           split_part(text, ' ', -1) AS last_word
    FROM (SELECT doc_id, substr(text, 1, 40) AS text FROM documents WHERE doc_id < 100) d
    ORDER BY doc_id
    """,
)
def f6_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    head = F.substring("text", 1, 40)
    return docs.select(
        "doc_id",
        F.regexp_replace(head, "[aeiou]", "_").alias("devoweled_head"),
        head.rlike(r"\bdata\b").alias("mentions_data"),
        F.split_part(head, F.lit(" "), F.lit(1)).alias("first_word"),
        F.split_part(head, F.lit(" "), F.lit(-1)).alias("last_word"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# r1 — range (band) join: orders banded into price tiers by o_totalprice
# BETWEEN lo AND hi against an inline tier dimension. A true non-equi join:
# Spark executes it as a BroadcastNestedLoopJoin with the tiny band table
# broadcast — the only sane physical strategy for band joins at scale
# (the alternative, binning to an equi key, is shown by value_band in f5).
# ---------------------------------------------------------------------------
PRICE_BANDS = [
    ("budget", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("premium", 150_000.0, 400_000.0),
    ("whale", 400_000.0, 1e18),
]


@registry.query(
    "r1_range_join_price_bands",
    """
    WITH bands(band, lo, hi) AS (VALUES
      ('budget', 0.0, 50000.0),
      ('mid', 50000.0, 150000.0),
      ('premium', 150000.0, 400000.0),
      ('whale', 400000.0, 1e18))
    SELECT band, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders JOIN bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    ORDER BY band
    """,
)
def r1_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias(
                "total"
            ),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# g7 — unpivot/melt (the inverse of g5's pivot): the wide per-status revenue
# table back to long form via DataFrame.unpivot. Unpivot is a zero-shuffle
# row-local Expand (each input row emits one row per value column), so at
# scale its cost is pure output width — no exchange is added beyond the
# aggregation that produced the wide input.
# ---------------------------------------------------------------------------
@registry.query(
    "g7_unpivot_revenue",
    """
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(CASE WHEN l_linestatus = 'O'
                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS O,
             CAST(SUM(CASE WHEN l_linestatus = 'F'
                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS F
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'O' AS status, O AS revenue FROM wide
    UNION ALL
    SELECT l_returnflag, 'F' AS status, F AS revenue FROM wide
    ORDER BY l_returnflag, status
    """,
)
def g7_unpivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = g5_pivot_revenue(spark, sf_dir)
    return (
        wide.unpivot(["l_returnflag"], ["O", "F"], "status", "revenue")
        .orderBy("l_returnflag", "status")
    )


# ---------------------------------------------------------------------------
# a2 — forward as-of join with tolerance: for each click, the FIRST purchase
# by the same user strictly after it, matched only if within 1 hour. Same
# single-shuffle ordered-window pattern as a1 (backward as-of) — the
# tolerance is a post-window predicate, so no inequality join materializes.
# Unmatched clicks are kept with matched=false (left as-of semantics).
# ---------------------------------------------------------------------------
ASOF_TOLERANCE_S = 3600


@registry.query(
    "a2_asof_next_purchase_tolerance",
    f"""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_s,
           CASE WHEN gap_s <= {ASOF_TOLERANCE_S} THEN gap_s ELSE -1 END AS gap_s,
           COALESCE(gap_s <= {ASOF_TOLERANCE_S}, FALSE) AS matched
    FROM (
      SELECT event_id, user_id, ts, event_type,
             date_diff('second', ts,
               first_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)) AS gap_s
      FROM events
    ) x
    WHERE event_type = 'click'
    ORDER BY event_id
    """,
)
def a2_asof_next_purchase_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    nxt = F.first(purchase_ts, ignorenulls=True).over(w)
    gap = epoch(nxt) - epoch(F.col("ts"))
    within = gap <= ASOF_TOLERANCE_S
    return (
        ev.withColumn("gap_raw", gap)
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_s"),
            F.when(F.col("gap_raw") <= ASOF_TOLERANCE_S, F.col("gap_raw"))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("gap_s"),
            F.coalesce(
                F.col("gap_raw") <= ASOF_TOLERANCE_S, F.lit(False)
            ).alias("matched"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# a3 — NEAREST as-of join (round-7: completes the family — a1 backward,
# a2 forward-with-tolerance, a3 nearest-either-direction): for each click,
# the user's temporally closest purchase in EITHER direction within the
# shared tolerance; equal gaps break toward the EARLIER (backward) match,
# the convention pandas merge_asof(direction='nearest') uses. Same
# engine as a1/a2 — BOTH direction candidates come from two frames of ONE
# user_id-partitioned ordered window (no inequality join, one shuffle);
# choosing between them is row-local column logic.
# ---------------------------------------------------------------------------
@registry.query(
    "a3_asof_nearest_purchase",
    f"""
    WITH marked AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_p,
             first_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
      FROM events
    ),
    gaps AS (
      SELECT event_id, user_id, ts,
             CAST(date_diff('second', prev_p, ts) AS BIGINT) AS gp,
             CAST(date_diff('second', ts, next_p) AS BIGINT) AS gn
      FROM marked WHERE event_type = 'click'
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_s,
           CASE WHEN best IS NULL OR best > {ASOF_TOLERANCE_S} THEN 'none'
                WHEN gp IS NOT NULL AND (gn IS NULL OR gp <= gn) THEN 'prev'
                ELSE 'next' END AS direction,
           CASE WHEN best IS NOT NULL AND best <= {ASOF_TOLERANCE_S}
                THEN best ELSE -1 END AS gap_s
    FROM (
      SELECT *, CASE WHEN gp IS NOT NULL AND (gn IS NULL OR gp <= gn)
                     THEN gp ELSE gn END AS best
      FROM gaps
    )
    ORDER BY event_id
    """,
)
def a3_asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    base = W.partitionBy("user_id").orderBy("ts", "event_id")
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    prev_p = F.last(purchase_ts, ignorenulls=True).over(
        base.rowsBetween(W.unboundedPreceding, -1)
    )
    next_p = F.first(purchase_ts, ignorenulls=True).over(
        base.rowsBetween(1, W.unboundedFollowing)
    )
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    marked = ev.select(
        "event_id", "user_id", "ts", "event_type",
        (epoch(F.col("ts")) - epoch(prev_p)).alias("gp"),
        (epoch(next_p) - epoch(F.col("ts"))).alias("gn"),
    ).filter(F.col("event_type") == "click")
    prefer_prev = F.col("gp").isNotNull() & (
        F.col("gn").isNull() | (F.col("gp") <= F.col("gn"))
    )
    best = F.when(prefer_prev, F.col("gp")).otherwise(F.col("gn"))
    return marked.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_s"),
        F.when(best.isNull() | (best > ASOF_TOLERANCE_S), F.lit("none"))
        .when(prefer_prev, F.lit("prev"))
        .otherwise(F.lit("next"))
        .alias("direction"),
        F.when(best.isNotNull() & (best <= ASOF_TOLERANCE_S), best)
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("gap_s"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# f7 — bitwise function family: per-row AND/OR/XOR/shifts/popcount on
# bigint keys plus the bit_and/bit_or/bit_xor aggregates per group. All
# operands are non-negative bounded bigints so two's-complement semantics
# agree bit-for-bit between Spark and DuckDB. Scan-side expressions + one
# partial+final aggregate — whole-stage-codegen'd end to end.
# ---------------------------------------------------------------------------
@registry.query(
    "f7_bitwise_functions",
    """
    WITH base AS (
      SELECT o_orderkey % 4096 AS a, o_custkey % 4096 AS b, o_orderpriority
      FROM orders
    ),
    rows_out AS (
      SELECT a, b,
             a & b AS band, a | b AS bor, xor(a, b) AS bxor,
             a << 3 AS shl, a >> 2 AS shr,
             CAST(bit_count(CAST(a AS BIGINT)) AS BIGINT) AS pop,
             o_orderpriority
      FROM base
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(bit_and(band) AS BIGINT) AS agg_and,
           CAST(bit_or(bor) AS BIGINT) AS agg_or,
           CAST(bit_xor(bxor) AS BIGINT) AS agg_xor,
           CAST(SUM(pop) AS BIGINT) AS total_pop,
           CAST(MAX(shl) AS BIGINT) AS max_shl,
           CAST(MIN(shr) AS BIGINT) AS min_shr
    FROM rows_out
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def f7_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    a = (F.col("o_orderkey") % 4096).cast("bigint")
    b = (F.col("o_custkey") % 4096).cast("bigint")
    rows_out = orders.select(
        "o_orderpriority",
        a.bitwiseAND(b).alias("band"),
        a.bitwiseOR(b).alias("bor"),
        a.bitwiseXOR(b).alias("bxor"),
        F.shiftleft(a, 3).cast("bigint").alias("shl"),
        F.shiftright(a, 2).cast("bigint").alias("shr"),
        F.bit_count(a).cast("bigint").alias("pop"),
    )
    return (
        rows_out.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_and("band").alias("agg_and"),
            F.bit_or("bor").alias("agg_or"),
            F.bit_xor("bxor").alias("agg_xor"),
            F.sum("pop").alias("total_pop"),
            F.max("shl").alias("max_shl"),
            F.min("shr").alias("min_shr"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# f8 — URL parsing family: a training pipeline filters and rolls up by
# domain constantly (domain caps, source quality tiers, crawl dedup). URLs
# are synthesized deterministically from documents columns (both engines
# build the identical string), then parsed back: Spark uses the JVM
# parse_url fast path, the DuckDB oracle mirrors with anchored regexps —
# equivalent on these controlled shapes, both sides verified to re-extract
# what was embedded. NULL source/lang rows coalesce to 'unknown' first
# (the all-NULL robustness sweep covers this path).
# ---------------------------------------------------------------------------
@registry.query(
    "f8_url_functions",
    """
    WITH urls AS (
      SELECT doc_id,
             'https://' || coalesce(source, 'unknown') || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR) || '?lang=' || coalesce(lang, 'unknown')
               || '&v=2' AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id,
             regexp_extract(url, '^https://([^/]+)', 1) AS host,
             regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
             regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
             regexp_extract(url, '^([a-z]+)://', 1) AS scheme
      FROM urls
    )
    SELECT host,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT lang_param) AS n_langs,
           MIN(path) AS first_path,
           MAX(scheme) AS scheme
    FROM parsed
    GROUP BY host
    ORDER BY host
    """,
)
def f8_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.coalesce("source", F.lit("unknown")),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.coalesce("lang", F.lit("unknown")),
        F.lit("&v=2"),
    )
    parsed = docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url(url, F.lit("PROTOCOL")).alias("scheme"),
    )
    return (
        parsed.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("lang_param").alias("n_langs"),
            F.min("path").alias("first_path"),
            F.max("scheme").alias("scheme"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# f9 — LISTAGG (SQL:2016 ordered string aggregation, native in Spark 4):
# per nation, the DISTINCT market segments a nation's customers span,
# deterministically ordered WITHIN GROUP. listagg is NOT partial-aggregable
# in general (it concatenates), so the scale discipline is to apply it only
# where the per-group state is provably bounded — here the segment domain
# (5 values) bounds every group's string at a few dozen bytes regardless of
# customer count, and the grouping key (25 nations) bounds the result. The
# DuckDB twin is string_agg(DISTINCT ... ORDER BY ...): hash-exact because
# both engines sort the same distinct set with the same byte order.
# ---------------------------------------------------------------------------
@registry.query(
    "f9_listagg_segments",
    """
    SELECT n_name,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
             AS segments,
           CAST(len(string_split(
             string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment),
             ',')) AS BIGINT) AS n_segments,
           COUNT(*) AS n_customers
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def f9_listagg_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "nation").createOrReplaceTempView("__f9_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("__f9_customer")
    # n_segments derives from the aggregated string: combining
    # listagg(DISTINCT) with COUNT(DISTINCT) in one Aggregate trips
    # RewriteDistinctAggregates in Spark 4.1 (two distinct-groups where one
    # is order-sensitive) — and the derived form needs no second
    # distinct-aggregate pass anyway.
    return spark.sql(
        """
        SELECT n_name,
               listagg(DISTINCT c_mktsegment, ',')
                 WITHIN GROUP (ORDER BY c_mktsegment) AS segments,
               CAST(size(split(
                 listagg(DISTINCT c_mktsegment, ',')
                   WITHIN GROUP (ORDER BY c_mktsegment), ','))
                 AS BIGINT) AS n_segments,
               COUNT(*) AS n_customers
        FROM __f9_nation JOIN __f9_customer ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
        """
    )


# ---------------------------------------------------------------------------
# r2 — INTERVAL OVERLAP join via grid bucketing (the general-interval
# complement of r1's band join): which user sessions overlapped an error
# incident? Sessions are e3's 30-min-gap intervals; incidents are islands
# of consecutive hours whose error share is >= 25% (with >= 4 events).
# A naive interval-overlap join is a non-equi join — BroadcastNestedLoop
# at best, quadratic at worst. The scale path: explode BOTH interval sets
# into the hour cells they cover, EQUI-join on the cell, then apply the
# exact overlap predicate and dedup pairs. Any overlapping pair shares at
# least one hour cell (both hour ranges intersect), so the equi-join loses
# nothing; cells per interval are bounded by interval length, not corpus
# size. Here the incident side is CALENDAR-bounded, so its cells
# broadcast and the join adds ZERO exchanges (pinned: BroadcastHashJoin,
# no BroadcastNestedLoopJoin).
# The only unpartitioned window runs over the hourly rate relation —
# calendar-bounded, the h3 discipline.
# ---------------------------------------------------------------------------
@registry.query(
    "r2_interval_overlap_join",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR date_diff('second',
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, session_id, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
      )
      GROUP BY user_id, session_id
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
      FROM events GROUP BY 1
    ),
    hot AS (
      SELECT hour,
             CASE WHEN LAG(hour) OVER (ORDER BY hour) IS NULL
                    OR hour > LAG(hour) OVER (ORDER BY hour) + INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS new_inc
      FROM hourly WHERE n_err * 4 >= n AND n >= 4
    ),
    incidents AS (
      SELECT MIN(hour) AS inc_start, MAX(hour) + INTERVAL 1 HOUR AS inc_end
      FROM (
        SELECT hour, SUM(new_inc) OVER (ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS inc
        FROM hot
      )
      GROUP BY inc
    )
    SELECT strftime(i.inc_start, '%Y-%m-%d %H:%M:%S') AS incident_start,
           strftime(i.inc_end, '%Y-%m-%d %H:%M:%S') AS incident_end,
           CAST(date_diff('hour', i.inc_start, i.inc_end) AS BIGINT) AS n_hours,
           CAST(COUNT(s.user_id) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM incidents i
    LEFT JOIN sessions s
      ON s.s_start < i.inc_end AND i.inc_start <= s.s_end
    GROUP BY i.inc_start, i.inc_end
    ORDER BY incident_start
    """,
)
def r2_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import timedelta

    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")

    # -- sessions (the e3 rule: epoch-second gap > 1800 opens a session) ----
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    prev_ts = F.lag("ts").over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(prev_ts.isNull() | (epoch(F.col("ts")) - epoch(prev_ts) > 1800), 1)
        .otherwise(0),
    )
    sessions = (
        flagged.withColumn("session_id", F.sum("new_session").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )

    # -- incidents (islands of hot hours; hourly relation is calendar-bounded)
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_err"),
        )
    )
    hot = hourly.filter((F.col("n_err") * 4 >= F.col("n")) & (F.col("n") >= 4))
    # bounded: the hourly rollup is calendar-grain (<= 24*365*years rows),
    # never event-scale — acceptable single task
    w_h = W.orderBy("hour")
    prev_h = F.lag("hour").over(w_h)
    hot = hot.withColumn(
        "new_inc",
        F.when(prev_h.isNull() | (F.col("hour") > prev_h + F.expr("INTERVAL 1 HOUR")), 1)
        .otherwise(0),
    )
    # The incident relation is CALENDAR-BOUNDED (islands of hot hours:
    # <= 24*365*years rows at ANY event volume), so it comes to the driver
    # as one control-plane collect — the d10-count/t12-scalar pattern —
    # instead of a localCheckpoint that every downstream branch re-reads.
    # r13 measured this query at 14 jobs / 33 stages for a 159-row result,
    # most of them the checkpoint barrier + broadcast builds + AQE rounds
    # over the incidents branch (r13 verdict item 3); the collect computes
    # the branch ONCE and the grid cells + final join-back become local
    # relations with no upstream stages.
    inc_rows = (
        hot.withColumn(
            "inc", F.sum("new_inc").over(w_h.rowsBetween(W.unboundedPreceding, 0))
        )
        .groupBy("inc")
        .agg(
            F.min("hour").alias("inc_start"),
            (F.max("hour") + F.expr("INTERVAL 1 HOUR")).alias("inc_end"),
        )
        .collect()
    )
    incidents = spark.createDataFrame(
        [(r["inc"], r["inc_start"], r["inc_end"]) for r in inc_rows],
        "inc bigint, inc_start timestamp_ntz, inc_end timestamp_ntz",
    )
    # -- grid-bucketed equi-join: incident cells exploded driver-side ------
    cell_rows = []
    for r in inc_rows:
        cell = r["inc_start"]
        while cell < r["inc_end"]:
            cell_rows.append((r["inc"], r["inc_start"], r["inc_end"], cell))
            cell += timedelta(hours=1)
    inc_cells = spark.createDataFrame(
        cell_rows,
        "inc bigint, inc_start timestamp_ntz, inc_end timestamp_ntz,"
        " cell timestamp_ntz",
    )
    sess_cells = sessions.select(
        "user_id",
        "session_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s_start"),
                F.date_trunc("hour", "s_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("cell"),
    )
    # project to the 3 needed columns BEFORE the distinct exchange (§2.3);
    # the (inc, user, session) dedup then folds into the countDistinct's
    # partial aggregate instead of its own Expand-bearing two-phase plan
    overlaps = (
        sess_cells.join(F.broadcast(inc_cells), "cell")
        .filter((F.col("s_start") < F.col("inc_end")) & (F.col("inc_start") <= F.col("s_end")))
        .select("inc", "user_id", "session_id")
    )
    per_user = overlaps.groupBy("inc", "user_id").agg(
        F.countDistinct("session_id").alias("ns")
    )
    per_inc = per_user.groupBy("inc").agg(
        F.sum("ns").alias("ns_sum"), F.count(F.lit(1)).alias("nu")
    )
    hours = lambda a, b: (  # noqa: E731
        (F.unix_micros(b.cast("timestamp")) - F.unix_micros(a.cast("timestamp")))
        / 3600000000
    ).cast("bigint")
    return (
        # per_inc is incident-grain, so the broadcast hint is bounded-safe
        incidents.join(F.broadcast(per_inc), "inc", "left")
        .select(
            F.date_format("inc_start", "yyyy-MM-dd HH:mm:ss").alias("incident_start"),
            F.date_format("inc_end", "yyyy-MM-dd HH:mm:ss").alias("incident_end"),
            hours(F.col("inc_start"), F.col("inc_end")).alias("n_hours"),
            F.coalesce("ns_sum", F.lit(0)).cast("bigint").alias("n_sessions"),
            F.coalesce("nu", F.lit(0)).cast("bigint").alias("n_users"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# r3 — SALTED skew join, driver-visible: per-nation event totals through
# functions/skew.py::salted_join instead of a plain equi-join. The scenario
# it rehearses is the pathological hot key AQE's skew splitting cannot fix
# (one join key carrying an unsplittable fraction of the fact side, dim too
# big to broadcast): the fact side gets a per-row round-robin salt in
# [0, 8), the dimension side is replicated 8x over explode(sequence), and
# the join key widens to (user_id, salt) — the hot key's rows now land on 8
# reducers instead of 1. Salting is pure repartitioning: the result is
# ROW-IDENTICAL to the unsalted join, which is exactly what the oracle
# checks (the plain SQL join — the driver comparison proves the salt is
# semantically invisible). Revenue rolls up in DECIMAL(12,2) so the float
# sum is order-independent (the e8 idiom) — necessary here, because the
# salt deliberately changes the partitioning and therefore any float
# accumulation order.
# ---------------------------------------------------------------------------
@registry.query(
    "r3_salted_skew_join",
    """
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def r3_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.skew import salted_join

    ev = table(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("value").cast("decimal(12,2)").alias("val")
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select("user_id", "n_name")
    )
    return (
        salted_join(ev, dim, on="user_id", n_salts=8)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("val").cast("double").alias("sum_value"),
        )
        .select(F.col("n_name").alias("nation"), "n_events", "sum_value")
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# f10 — XML functions (from_xml + xpath_*): the third semi-structured
# surface next to JSON (e1/f5) and VARIANT (e12). The f8 URL pattern:
# documents are synthesized deterministically from part columns (both
# engines build the identical string), then parsed BACK two independent
# ways — from_xml into a typed struct (schema-driven, the scan-side bulk
# path) and xpath_long (expression-driven, the ad-hoc probe path) — and
# the query only succeeds if both re-extract exactly what was embedded
# (the struct/xpath equality is part of the aggregate: mismatches would
# change n_xpath_agree and break the oracle hash). DuckDB has no XML
# functions, so its twin recomputes from the base columns directly —
# which is exactly the round-trip claim being checked. Money rides
# integer cents inside the XML so no float-to-string formatting is on
# the comparison path.
# ---------------------------------------------------------------------------
@registry.query(
    "f10_xml_functions",
    """
    SELECT p_brand,
           COUNT(*) AS n_parts,
           COUNT(*) AS n_xpath_agree,
           MIN(p_partkey) AS min_key,
           CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT))
             AS BIGINT) AS total_cents
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def f10_xml_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    cents = (
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
    )
    xml = F.concat(
        F.lit('<part key="'),
        F.col("p_partkey").cast("string"),
        F.lit('"><brand>'),
        F.col("p_brand"),
        F.lit("</brand><cents>"),
        cents.cast("string"),
        F.lit("</cents></part>"),
    )
    parsed = part.select(
        F.from_xml(xml, "_key BIGINT, brand STRING, cents BIGINT").alias("x"),
        F.xpath_long(xml, F.lit("/part/cents")).alias("xp_cents"),
    )
    return (
        parsed.groupBy(F.col("x.brand").alias("p_brand"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(
                F.when(F.col("x.cents") == F.col("xp_cents"), 1).otherwise(0)
            ).cast("bigint").alias("n_xpath_agree"),
            F.min("x._key").alias("min_key"),
            F.sum("x.cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# f11 — SQL PIPE syntax (|>, Spark 4 / GoogleSQL "pipe query" surface): the
# linear query notation where each operator consumes the previous result —
# FROM |> WHERE |> EXTEND |> AGGREGATE..GROUP BY |> WHERE(post-agg) |>
# ORDER BY — compiled by Catalyst to the IDENTICAL plan as the nested-SQL
# twin (scan-pushed filter, partial+final hash agg), which is exactly what
# the oracle cross-check proves: pipe syntax is notation, not semantics.
# The decimal money discipline (functions/exact.py) rides through EXTEND
# unchanged. A post-aggregation |> WHERE is the pipe spelling of HAVING.
# ---------------------------------------------------------------------------
@registry.query(
    "f11_pipe_syntax",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 10
    ORDER BY l_returnflag, l_linestatus
    """,
)
def f11_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("__f11_lineitem")
    return spark.sql(
        """
        FROM __f11_lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-06-01 00:00:00'
        |> EXTEND CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                  AS disc_price
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                       AS sum_qty,
                     CAST(SUM(disc_price) AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_items > 10
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


# ---------------------------------------------------------------------------
# f12 — the try_* error-safe expression family under ANSI mode. This
# engine runs ANSI SQL (the round-6 lesson: 0.0/0.0 RAISES where legacy
# Spark served NaN and DuckDB serves NULL) — try_divide / try_multiply /
# try_element_at / try_to_number are the per-expression escape hatches
# that turn a poisoned ROW into a NULL instead of killing a 100 TB job at
# task 9999/10000. Each column manufactures its own failure class from
# lineitem values: division by zero, bigint overflow, out-of-bounds array
# index (including the index-0 error case), unparseable number. The
# oracle reproduces every NULL with explicit guards (NULLIF / CASE
# bounds / TRY_CAST), so the driver checks the exact failure boundary —
# e.g. cents·10^12 overflows int64 exactly above 9 223 372 cents.
# Aggregates stay order-independent (counts, min/max, integer sums).
# ---------------------------------------------------------------------------
@registry.query(
    "f12_try_functions",
    """
    WITH src AS (
      SELECT l_returnflag AS rf,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             l_linenumber AS ln
      FROM lineitem
    ),
    vals AS (
      SELECT rf,
             100.0 / NULLIF(qty - 25, 0) AS qd,
             CASE WHEN cents > 9223372 THEN NULL
                  ELSE cents * 1000000000000 END AS ov,
             CASE WHEN (qty % 5) BETWEEN 1 AND 3
                  THEN (qty % 5) * 10 ELSE NULL END AS ea,
             TRY_CAST(CASE WHEN ln % 3 = 0 THEN '123'
                           WHEN ln % 3 = 1 THEN '12'
                           ELSE 'x9' END AS INTEGER) AS tn
      FROM src
    )
    SELECT rf,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN qd IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
           MIN(qd) AS min_qd, MAX(qd) AS max_qd,
           CAST(SUM(CASE WHEN ov IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ov_null,
           CAST(SUM(CASE WHEN ea IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ea_null,
           CAST(SUM(ea) AS BIGINT) AS sum_ea,
           CAST(SUM(CASE WHEN tn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tn_null,
           CAST(SUM(tn) AS BIGINT) AS sum_tn
    FROM vals
    GROUP BY rf
    ORDER BY rf
    """,
)
def f12_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_linenumber").alias("ln"),
    )
    arr = F.array(F.lit(10).cast("bigint"), F.lit(20), F.lit(30))
    vals = li.select(
        "rf",
        F.try_divide(F.lit(100.0), (F.col("qty") - 25).cast("double")).alias("qd"),
        F.try_multiply(F.col("cents"), F.lit(1000000000000).cast("bigint")).alias(
            "ov"
        ),
        # qty % 5 in {0..4}: 4 is out-of-bounds (try_element_at -> NULL), but
        # index 0 RAISES even under try_element_at — INVALID_INDEX_OF_ZERO is
        # an invalid-argument error, not a data error, so the try_ wrapper
        # does not absorb it. NULLIF routes 0 to a NULL index (-> NULL value).
        F.try_element_at(
            arr, F.nullif((F.col("qty") % 5).cast("int"), F.lit(0))
        ).alias("ea"),
        F.try_to_number(
            F.when(F.col("ln") % 3 == 0, F.lit("123"))
            .when(F.col("ln") % 3 == 1, F.lit("12"))
            .otherwise(F.lit("x9")),
            F.lit("999"),
        )
        .cast("bigint")
        .alias("tn"),
    )
    return (
        vals.groupBy("rf")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("qd").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_div_null"),
            F.min("qd").alias("min_qd"),
            F.max("qd").alias("max_qd"),
            F.sum(F.when(F.col("ov").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ov_null"),
            F.sum(F.when(F.col("ea").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ea_null"),
            F.sum("ea").cast("bigint").alias("sum_ea"),
            F.sum(F.when(F.col("tn").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_tn_null"),
            F.sum("tn").cast("bigint").alias("sum_tn"),
        )
        .orderBy("rf")
    )


# ---------------------------------------------------------------------------
# f13 — COLLATIONS (Spark 4): case-insensitive semantics pushed into the
# ENGINE instead of sprayed lower() calls. `collate(col, 'UTF8_LCASE')`
# changes the column's comparison semantics — grouping, equality, DISTINCT,
# joins and predicates all honor it, and Catalyst keeps the expression
# JVM-side (no UDF, full codegen). The query manufactures three
# deterministic case variants of each market segment (custkey mod 3:
# lowered / manually title-cased / untouched), groups on the COLLATED
# column — the three variants merge into one group — while
# COUNT(DISTINCT raw) inside each group still sees the binary-collation
# variants, pinning exactly where the collation does and does not apply.
# At 100 TB the win is shuffle hygiene: collation-aware grouping hashes
# the collation key directly, one pass, no derived lower() column to
# carry. The oracle is the classic lower()-everywhere rewrite — proving
# the collated plan is its hash-exact equivalent. Title-casing is spelled
# upper(first)||lower(rest) in BOTH engines (initcap is not portable).
# ---------------------------------------------------------------------------
@registry.query(
    "f13_collated_grouping",
    """
    WITH m AS (
      SELECT c_custkey, c_acctbal,
             CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
                  WHEN c_custkey % 3 = 1 THEN
                    upper(substr(c_mktsegment, 1, 1)) ||
                    lower(substr(c_mktsegment, 2))
                  ELSE c_mktsegment END AS seg_mixed
      FROM customer
    )
    SELECT lower(seg_mixed) AS segment,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT seg_mixed) AS n_case_variants,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM m
    GROUP BY lower(seg_mixed)
    ORDER BY segment
    """,
)
def f13_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    title = F.concat(
        F.upper(F.substring("c_mktsegment", 1, 1)),
        F.lower(F.expr("substring(c_mktsegment, 2)")),
    )
    mixed = cust.withColumn(
        "seg_mixed",
        F.when(F.col("c_custkey") % 3 == 0, F.lower("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, title)
        .otherwise(F.col("c_mktsegment")),
    )
    return (
        mixed.groupBy(F.collate("seg_mixed", "UTF8_LCASE").alias("seg_ci"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("seg_mixed").alias("n_case_variants"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .select(
            F.lower("seg_ci").cast("string").alias("segment"),
            "n_customers",
            "n_case_variants",
            "total_bal",
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# f14 — ANSI INTERVAL arithmetic: under ANSI mode DATE - DATE is a typed
# INTERVAL DAY (not a bare int), date + INTERVAL literals shift calendar
# points, and intervals order/compare/aggregate natively. The query works
# the day-time surface on order->ship latency per order priority (the
# fixture's lineitem carries l_shipdate only, so the second date comes
# from the orders join — a fact-fact shuffle join, no broadcast hint, AQE
# picks the strategy): interval literals in predicates
# (ship > order + INTERVAL '90' DAY), interval CASE bucketing with typed
# comparisons (fast/mid/slow), MAX over intervals, and
# extract(DAY FROM iv) back to integers. The total latency SUMs the
# per-row extract (bigint arithmetic) rather than
# extract(DAY FROM sum(iv)) — the day field of a summed interval is an
# INT-sized extract, which a 100 TB fact table can overflow; per-row
# extract + bigint SUM is the scale-safe spelling of the same number.
# DuckDB's DATE - DATE is already integer days, so the oracle is the
# plain-integer twin — proving the typed-interval plan computes exactly
# the arithmetic the untyped one does.
# ---------------------------------------------------------------------------
@registry.query(
    "f14_interval_arithmetic",
    """
    WITH s AS (
      SELECT o_orderpriority,
             CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS lat,
             (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS is_slow
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CASE WHEN lat < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_fast,
           CAST(SUM(CASE WHEN lat >= 30 AND lat <= 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mid,
           CAST(SUM(CASE WHEN is_slow THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
           CAST(SUM(lat) AS BIGINT) AS total_latency_days,
           CAST(MAX(lat) AS BIGINT) AS max_latency_days
    FROM s
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def f14_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: at bench layout the orders side broadcasts, so the scan,
    # the join AND the per-row interval arithmetic all pipeline inside the
    # single-task lineitem scan stage (the q1 shape; no-op at scale)
    li = rebalance_scan(
        # the inner join would infer IsNotNull(l_orderkey) anyway, but the
        # inference cannot push through the rebalance's position digest —
        # stating it below keeps the predicate at the scan
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .filter(F.col("l_orderkey").isNotNull()),
        spark,
        sf_dir,
        "lineitem",
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    s = j.select(
        "o_orderpriority",
        F.expr("extract(DAY FROM (l_shipdate - o_orderdate))")
        .cast("bigint")
        .alias("lat"),
        (F.col("l_shipdate") - F.col("o_orderdate")).alias("iv"),
        F.expr("l_shipdate > o_orderdate + INTERVAL '90' DAY").alias("is_slow"),
    )
    month = F.expr("INTERVAL '30' DAY")
    quarter = F.expr("INTERVAL '90' DAY")
    return (
        s.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.when(F.col("iv") < month, 1).otherwise(0))
            .cast("bigint")
            .alias("n_fast"),
            F.sum(
                F.when((F.col("iv") >= month) & (F.col("iv") <= quarter), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_mid"),
            F.sum(F.when(F.col("is_slow"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_slow"),
            F.sum("lat").cast("bigint").alias("total_latency_days"),
            F.expr("extract(DAY FROM max(iv))").cast("bigint").alias(
                "max_latency_days"
            ),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )
