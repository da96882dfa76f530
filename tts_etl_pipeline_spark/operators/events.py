"""Event-table operators: JSON extraction (SURVEY.md §2.2-B5) and batch
time-window aggregation — the batch twins of the streaming pipeline in
``streaming/`` (same transformations, applied to a static read, which is
what the batch-vs-stream equivalence test in SURVEY.md §5.2 relies on).

`props` is a JSON object string; extraction uses get_json_object (JVM-side,
codegen'd) — never a Python UDF. Time bucketing uses date_trunc so the
grouping key is computed scan-side and the agg stays one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.checkpoints import materialize
from tts_etl_pipeline_spark.sources.tables import rebalance_scan, table


def add_json_k(df: DataFrame) -> DataFrame:
    """Extract props.k as BIGINT (shared by batch and streaming paths)."""
    return df.withColumn("k", F.get_json_object(F.col("props"), "$.k").cast("bigint"))


def hourly_event_counts(df: DataFrame) -> DataFrame:
    """Tumbling 1-hour counts per event_type — shared batch/stream logic."""
    return (
        df.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# e1 — JSON extraction + aggregation by event type.
# ---------------------------------------------------------------------------
@registry.query(
    "e1_json_extract_agg",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def e1_json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = add_json_k(table(spark, sf_dir, "events"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# e2 — tumbling-window (1 hour) event counts: the batch twin of the
# streaming aggregation in streaming/events_stream.py.
# ---------------------------------------------------------------------------
@registry.query(
    "e2_hourly_event_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY hour, event_type
    """,
)
def e2_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        hourly_event_counts(ev)
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "n_users",
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# e3 — sessionization in batch: a new session starts after a >30 min gap per
# user (lag + cumulative-sum-of-flags window). The streaming analogue is a
# session window with gap timeout; this batch form is the oracle-checkable one.
# ---------------------------------------------------------------------------
@registry.query(
    "e3_user_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR date_diff('second',
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessioned AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessioned
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def e3_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # same full tiebreak as the flag window — a ts tie straddling a session
    # boundary would otherwise make the cumulative sum order-dependent
    wsum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # truncate to epoch seconds (session tz is UTC, so NTZ->timestamp is a
    # no-op shift) — matches DuckDB's second-boundary date_diff semantics
    prev_ts = F.lag("ts").over(w)
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    gap_s = epoch(F.col("ts")) - epoch(prev_ts)
    flagged = ev.withColumn(
        "new_session",
        F.when(prev_ts.isNull() | (gap_s > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    sessioned = flagged.withColumn("session_id", F.sum("new_session").over(wsum))
    return (
        sessioned.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# e4 — value stats per user with HAVING over a high-cardinality key — the
# per-entity rollup shape that dominates 100 TB event workloads: partial aggs
# map-side, one shuffle on user_id.
# ---------------------------------------------------------------------------
@registry.query(
    "e4_user_value_stats",
    """
    SELECT user_id,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    HAVING COUNT(*) >= 3
    ORDER BY user_id
    """,
)
def e4_user_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
            F.max(F.col("value").cast("decimal(12,2)")).cast("double").alias("max_value"),
        )
        .filter(F.col("n") >= 3)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# e5 — cohort retention matrix: users grouped by first-seen day, counted on
# each subsequent active day. Three shuffles, each smaller than the last:
# (user_id, day) distinct over the fact rows, a user_id-keyed window for the
# per-user first day (operating on ~rows/day_dups), and the tiny
# (cohort_day, day_offset) grid agg. The classic growth-analytics query.
# ---------------------------------------------------------------------------
@registry.query(
    "e5_cohort_retention",
    """
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    cohorts AS (
      SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           date_diff('day', c.cohort_day, a.day) AS day_offset,
           COUNT(*) AS n_users
    FROM activity a JOIN cohorts c ON a.user_id = c.user_id
    GROUP BY c.cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def e5_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    cohort = F.min("day").over(W.partitionBy("user_id"))
    return (
        activity.withColumn("cohort_day_d", cohort)
        .groupBy(
            F.date_format("cohort_day_d", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day_d").cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# h1 — hierarchical time rollup (continuous-aggregate pattern): minute-grain
# aggregate computed from the raw events ONCE, then hour folded from minute
# and day folded from hour. Decimal sum-of-sums is exact, so the coarse
# grains are bit-identical to aggregating raw data — but each re-aggregation
# shuffles only the previous grain (~rows/60), not the fact table. This is
# how a 100 TB events table serves dashboards at every zoom level from one
# scan; the checkpoint materializes the minute grain so the three-grain
# union does not re-derive it per branch.
# ---------------------------------------------------------------------------
@registry.query(
    "h1_time_rollup_hierarchy",
    """
    WITH minute AS (
      SELECT date_trunc('minute', ts) AS b, COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(12,2))) AS v
      FROM events GROUP BY b
    ),
    hour AS (
      SELECT date_trunc('hour', b) AS b, SUM(n) AS n, SUM(v) AS v
      FROM minute GROUP BY 1
    ),
    day AS (
      SELECT date_trunc('day', b) AS b, SUM(n) AS n, SUM(v) AS v
      FROM hour GROUP BY 1
    )
    SELECT grain, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(n AS BIGINT) AS n_events, CAST(v AS DOUBLE) AS sum_value
    FROM (
      SELECT 'minute' AS grain, * FROM minute
      UNION ALL SELECT 'hour', * FROM hour
      UNION ALL SELECT 'day', * FROM day
    ) g
    ORDER BY grain, bucket
    """,
)
def h1_time_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    minute = materialize(
        ev.groupBy(F.date_trunc("minute", "ts").alias("b")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("v"),
        )
    )

    def fold(df: DataFrame, unit: str) -> DataFrame:
        return df.groupBy(F.date_trunc(unit, "b").alias("b")).agg(
            F.sum("n").alias("n"), F.sum("v").alias("v")
        )

    hour = fold(minute, "hour")
    day = fold(hour, "day")

    def labeled(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            F.col("n").cast("bigint").alias("n_events"),
            F.col("v").cast("double").alias("sum_value"),
        )

    return (
        labeled(minute, "minute")
        .unionAll(labeled(hour, "hour"))
        .unionAll(labeled(day, "day"))
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# e6 — ordered conversion funnel with first-touch semantics: a user converts
# at stage N only via an event STRICTLY AFTER their stage-N-1 conversion
# (view -> first click after first view -> first purchase after that
# click). The "min-after-min" dependency chain is computed with three
# stacked UNORDERED windows over the same user_id partitioning — ONE
# shuffle total, no sorts (no ORDER BY in any window frame), then the
# per-user grain reuses that partitioning for its groupBy before a 1-row
# global rollup. At 100 TB: events shuffle once on user_id and everything
# else is map-side; no sort, no join, no second scan.
# ---------------------------------------------------------------------------
@registry.query(
    "e6_conversion_funnel",
    """
    WITH fv AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS fv
      FROM events GROUP BY user_id
    ),
    fc AS (
      SELECT e.user_id, f.fv,
             MIN(e.ts) FILTER (WHERE e.event_type = 'click' AND e.ts > f.fv
                               AND e.ts <= f.fv + INTERVAL 1 DAY) AS fc
      FROM events e JOIN fv f USING (user_id) GROUP BY e.user_id, f.fv
    ),
    fp AS (
      SELECT c.user_id, c.fv, c.fc,
             MIN(e.ts) FILTER (WHERE e.event_type = 'purchase' AND e.ts > c.fc
                               AND e.ts <= c.fc + INTERVAL 7 DAY) AS fp
      FROM events e JOIN fc c USING (user_id) GROUP BY c.user_id, c.fv, c.fc
    )
    SELECT COUNT(*) AS n_users,
           COUNT(fv) AS n_viewed,
           COUNT(fc) AS n_clicked_after_view,
           COUNT(fp) AS n_purchased_after_click
    FROM fp
    """,
)
def e6_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = W.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "fv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "fc",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("fv"))
                    & (F.col("ts") <= F.col("fv") + F.expr("INTERVAL 1 DAY")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "fp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("fc"))
                    & (F.col("ts") <= F.col("fc") + F.expr("INTERVAL 7 DAY")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("fv").alias("fv"), F.max("fc").alias("fc"), F.max("fp").alias("fp")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("fv").alias("n_viewed"),
        F.count("fc").alias("n_clicked_after_view"),
        F.count("fp").alias("n_purchased_after_click"),
    )


# ---------------------------------------------------------------------------
# e7 — conversion-latency percentiles: for click→purchase pairs within a
# 1-hour window (st5's interval-join shape, batch side), the p50/p90
# latency per click hour-of-day — the product-analytics rollup behind
# "how fast do users convert". Exact interpolated percentiles (Spark
# percentile == DuckDB quantile_cont on the same integer-microsecond
# inputs); latencies surfaced in seconds rounded to 1 ms grain.
# The join shuffles on user_id only after both sides are key+ts projected.
# ---------------------------------------------------------------------------
@registry.query(
    "e7_conversion_latency",
    """
    WITH pairs AS (
      SELECT c.ts AS cts, epoch_us(p.ts) - epoch_us(c.ts) AS lat_us
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    SELECT CAST(hour(cts) AS BIGINT) AS click_hour,
           COUNT(*) AS n_pairs,
           ROUND(quantile_cont(lat_us, 0.5) / 1000000, 3) AS p50_s,
           ROUND(quantile_cont(lat_us, 0.9) / 1000000, 3) AS p90_s
    FROM pairs
    GROUP BY click_hour
    ORDER BY click_hour
    """,
)
def e7_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # one narrow projected scan feeds both self-join sides (d3 discipline)
    both = materialize(
        ev.filter(F.col("event_type").isin("click", "purchase")).select(
            "user_id", "event_type", "ts"
        )
    )
    clicks = both.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purchases = both.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("pts")
    )
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("pts") > F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.hour("cts").cast("bigint").alias("click_hour"),
        (F.unix_micros(F.col("pts").cast("timestamp"))
         - F.unix_micros(F.col("cts").cast("timestamp"))).alias("lat_us"),
    )
    return (
        pairs.groupBy("click_hour")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.percentile("lat_us", F.lit(0.5)) / 1000000, 3).alias("p50_s"),
            F.round(F.percentile("lat_us", F.lit(0.9)) / 1000000, 3).alias("p90_s"),
        )
        .orderBy("click_hour")
    )


# ---------------------------------------------------------------------------
# h2 — daily OHLC value bars per event type (the "minute bars" pattern of
# every metrics/trading rollup, at day grain to complement e2's hourly
# counts): open = value of the first event in the bar, close = the last,
# high/low = extrema, plus the event count. First/last are made
# deterministic with a composite total order (ts, event_id) — the fixture
# occasionally repeats timestamps, and row_number over a total order is
# the cross-engine-stable way to pick one row (DuckDB has no composite-key
# arg_min). All outputs are PICKS or counts — no float sums — so every
# cell is exact.
# Scale shape: one events scan; ONE hash-partition Exchange on
# (day, event_type) feeds both window sorts (asc + desc reuse the same
# partitioning) and the final aggregation (child partitioning already
# satisfies the groupBy — no second Exchange). Bars are bounded
# (days x types), so the agg output is tiny everywhere.
# ---------------------------------------------------------------------------
@registry.query(
    "h2_daily_value_bars",
    """
    WITH ranked AS (
      SELECT date_trunc('day', ts) AS day, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('day', ts), event_type
                                ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('day', ts), event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_rev
      FROM events
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n_events,
           MAX(CASE WHEN rn = 1 THEN value END) AS open,
           MAX(CASE WHEN rn_rev = 1 THEN value END) AS close,
           MAX(value) AS high,
           MIN(value) AS low
    FROM ranked
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def h2_daily_value_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events").select("ts", "event_type", "value", "event_id")
    ev = ev.withColumn("day", F.date_trunc("day", "ts"))
    part = W.partitionBy("day", "event_type")
    ranked = ev.select(
        "day",
        "event_type",
        "value",
        F.row_number().over(part.orderBy("ts", "event_id")).alias("rn"),
        F.row_number()
        .over(part.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_rev"),
    )
    return (
        ranked.groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
            F.max(F.when(F.col("rn_rev") == 1, F.col("value"))).alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "open",
            "close",
            "high",
            "low",
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# e8 — last-touch revenue attribution (the standard marketing-analytics
# rollup on top of the a1 as-of machinery): every purchase's value is
# credited to the campaign bucket (props.k quartile) of the SAME USER's
# most recent prior click; purchases with no prior click are 'organic'.
# The as-of step is the single-ordered-window form (one user_id shuffle —
# an inequality join would be quadratic per user at 100 TB); the rollup
# shuffles |buckets| groups. Revenue sums ride DECIMAL(12,2) so the
# aggregation is order-independent and the final double is exact (the
# g5/st1 idiom).
# ---------------------------------------------------------------------------
@registry.query(
    "e8_last_touch_attribution",
    """
    WITH attributed AS (
      SELECT event_id, user_id, value, event_type,
             last_value(CASE WHEN event_type = 'click'
                             THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_k
      FROM events
    )
    SELECT CASE WHEN click_k IS NULL THEN 'organic'
                ELSE 'q' || CAST(click_k // 25 AS VARCHAR) END AS bucket,
           COUNT(*) AS n_purchases,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY bucket
    """,
)
def e8_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = add_json_k(table(spark, sf_dir, "events"))  # shared props.k extraction
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_k = F.when(F.col("event_type") == "click", F.col("k"))
    # floor division, matching the oracle's integer `//` even for negative k
    bucket = F.when(F.col("click_k").isNull(), F.lit("organic")).otherwise(
        F.concat(F.lit("q"), F.floor(F.col("click_k") / 25).cast("string"))
    )
    return (
        ev.withColumn("click_k", F.last(click_k, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("revenue"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# e9 — event-type transition matrix (first-order Markov over each user's
# event stream): for every consecutive (event, next event) pair within a
# user's (ts, event_id)-ordered history, count the transition and normalize
# per source type. The product-analytics "what do users do next" query, and
# the input to any Markov-chain attribution / next-action model.
# Scale shape: ONE user_id hash Exchange feeds the lead() window (per-user
# sort is executor-local), then the (from,to) agg over at most |types|^2
# groups — partial map-side, tiny shuffle. The normalizing total rides a
# second window over the |types|^2 matrix itself (control-plane sized), not
# over the fact rows. Probabilities are ratios of exact integer counts,
# rounded to 6 places so both engines emit the same literal.
# ---------------------------------------------------------------------------
@registry.query(
    "e9_event_transitions",
    """
    WITH paired AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS to_type
      FROM events
    ),
    matrix AS (
      SELECT from_type, to_type, COUNT(*) AS n_transitions
      FROM paired WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n_transitions,
           ROUND(CAST(n_transitions AS DOUBLE)
                 / SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS p_transition
    FROM matrix
    ORDER BY from_type, to_type
    """,
)
def e9_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    matrix = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_tot = W.partitionBy("from_type")
    return (
        matrix.withColumn(
            "p_transition",
            F.round(
                F.col("n_transitions").cast("double") / F.sum("n_transitions").over(w_tot),
                6,
            ),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# h3 — time-bucket gap audit: for each event type, materialize the full
# hourly grid between its first and last active hour (sequence + explode)
# and report how many grid hours have no events, plus the first and last
# missing hour. The completeness check every ingestion pipeline runs before
# trusting a time-series rollup (h1/h2) downstream.
# Scale shape: the distinct (type, hour) relation is CALENDAR-bounded
# (|types| x span-hours), not data-bounded — the only fact-sized step is
# the scan-side date_trunc + partial-distinct before one Exchange. The grid
# is generated from the per-type min/max (|types| rows exploded to the
# calendar size) and the gap test is a left anti join between two
# calendar-bounded relations; at 100 TB nothing here grows except the scan.
# ---------------------------------------------------------------------------
@registry.query(
    "h3_hourly_gap_audit",
    """
    WITH present AS (
      SELECT DISTINCT event_type, date_trunc('hour', ts) AS hour
      FROM events
    ),
    bounds AS (
      SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi
      FROM present GROUP BY event_type
    ),
    grid AS (
      SELECT b.event_type, g.h AS hour
      FROM bounds b, LATERAL (
        SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
      ) g
    ),
    missing AS (
      SELECT g.event_type, g.hour
      FROM grid g LEFT JOIN present p
        ON p.event_type = g.event_type AND p.hour = g.hour
      WHERE p.hour IS NULL
    )
    SELECT b.event_type,
           date_diff('hour', b.lo, b.hi) + 1 AS n_grid_hours,
           date_diff('hour', b.lo, b.hi) + 1
             - (SELECT COUNT(*) FROM present p WHERE p.event_type = b.event_type)
             AS n_missing,
           strftime((SELECT MIN(hour) FROM missing m WHERE m.event_type = b.event_type),
                    '%Y-%m-%d %H:%M:%S') AS first_missing,
           strftime((SELECT MAX(hour) FROM missing m WHERE m.event_type = b.event_type),
                    '%Y-%m-%d %H:%M:%S') AS last_missing
    FROM bounds b
    ORDER BY b.event_type
    """,
)
def h3_hourly_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    )
    # the distinct active-hour relation is calendar-bounded — materialize it
    # once so bounds/grid/anti-join/counts all reuse it instead of re-scanning
    # the fact table four times (pinned by the default scan-count sweep)
    present = materialize(ev.distinct())
    bounds = present.groupBy("event_type").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    grid = bounds.select(
        "event_type",
        "lo",
        "hi",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    missing = grid.join(present, ["event_type", "hour"], "left_anti")
    miss_stats = missing.groupBy("event_type").agg(
        F.date_format(F.min("hour"), "yyyy-MM-dd HH:mm:ss").alias("first_missing"),
        F.date_format(F.max("hour"), "yyyy-MM-dd HH:mm:ss").alias("last_missing"),
    )
    present_n = present.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_present"))
    hours = lambda c: F.unix_micros(F.col(c).cast("timestamp")) / 3600000000  # noqa: E731
    return (
        bounds.join(present_n, "event_type")
        .join(miss_stats, "event_type", "left")
        .select(
            "event_type",
            (hours("hi").cast("long") - hours("lo").cast("long") + 1).alias("n_grid_hours"),
            (
                hours("hi").cast("long") - hours("lo").cast("long") + 1 - F.col("n_present")
            ).alias("n_missing"),
            "first_missing",
            "last_missing",
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# h4 — LTTB series downsampling (functions/lttb.py; Steinarsson 2013):
# each event type's hourly mean-value series is decimated to H4_POINTS
# shape-preserving points — the operator every time-series dashboard runs
# between the rollup (h1/h2) and the chart. Per-series kernel via
# applyInPandas: ONE shuffle on the series key; each series sorts and
# decimates executor-side (a series is calendar-bounded — the same
# fits-one-task contract as any per-key window). Rows-only by design
# (bucket argmax selection is iterative); tests/test_lttb.py pins the
# kernel against an independent loop reference, and
# tests/test_events_h4.py pins the query against a driver-side replay of
# the same series.
# ---------------------------------------------------------------------------
H4_POINTS = 24


@registry.query("h4_lttb_downsample")
def h4_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from tts_etl_pipeline_spark.functions.lttb import lttb

    ev = table(spark, sf_dir, "events").select("ts", "event_type", "value")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.round(F.avg("value"), 6).alias("avg_value"))
    )

    def downsample(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hour").reset_index(drop=True)
        x = pdf["hour"].astype("int64").to_numpy(dtype="float64")
        idx = lttb(x, pdf["avg_value"].to_numpy(), H4_POINTS)
        out = pdf.iloc[idx][["event_type", "hour", "avg_value"]].copy()
        out["point_idx"] = range(len(idx))
        return out

    schema = "event_type string, hour timestamp, avg_value double, point_idx long"
    return (
        hourly.groupBy("event_type")
        .applyInPandas(downsample, schema)
        .select(
            "event_type",
            "point_idx",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "avg_value",
        )
        .orderBy("event_type", "point_idx")
    )

# ---------------------------------------------------------------------------
# e10 — sequence PATTERN matching (the CEP / MATCH_RECOGNIZE shape Spark
# lacks natively, the Flink-style "A then B then C with conditions"
# query): count purchases completing the strict funnel
#     view → click → purchase
# where each hop happens within 24 hours of the next and NO error event
# occurs between the VIEW and the purchase. Expressed declaratively as
# stacked per-user ordered carry windows (the e8 as-of idiom, chained):
#   pass 1: at every row, carry the last view's ts AND the error count
#           seen strictly before that view;
#   pass 2: at every row, carry the last click's ts plus the view state
#           it saw (ts + error count) — chaining the pattern;
#   match:  at a purchase, check both hop deadlines and that the running
#           error count equals the one captured before the view.
# ONE user_id hash Exchange feeds every window; the rollup is day-sized.
# A row-matching NFA (applyInPandasWithState) is the general-regex
# fallback; for fixed patterns this window form stays JVM-side — the
# scale path.
# ---------------------------------------------------------------------------
@registry.query(
    "e10_funnel_pattern_match",
    """
    WITH base AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err_before,
             last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_ts
      FROM events
    ),
    v AS (
      SELECT *,
             last_value(CASE WHEN event_type = 'view' THEN err_before END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_err
      FROM base
    ),
    c AS (
      SELECT user_id, ts, event_type, err_before,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER w AS click_ts,
             last_value(CASE WHEN event_type = 'click' THEN view_ts END IGNORE NULLS)
               OVER w AS click_view_ts,
             last_value(CASE WHEN event_type = 'click' THEN view_err END IGNORE NULLS)
               OVER w AS click_view_err
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_funnel_purchases,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM c
    WHERE event_type = 'purchase'
      AND click_ts IS NOT NULL
      AND date_diff('second', click_ts, ts) BETWEEN 0 AND 86400
      AND click_view_ts IS NOT NULL
      AND date_diff('second', click_view_ts, click_ts) BETWEEN 0 AND 86400
      AND err_before - click_view_err = 0
    GROUP BY day
    ORDER BY day
    """,
)
def e10_funnel_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_cur = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    is_err = (F.col("event_type") == "error").cast("long")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.sum(is_err).over(w_cur) - is_err).alias("err_before"),
        F.last(F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True)
        .over(w_prev)
        .alias("view_ts"),
    )
    v = base.withColumn(
        "view_err",
        F.last(
            F.when(F.col("event_type") == "view", F.col("err_before")),
            ignorenulls=True,
        ).over(w_prev),
    )
    click = F.col("event_type") == "click"
    c = v.select(
        "user_id",
        "ts",
        "event_type",
        "err_before",
        F.last(F.when(click, F.col("ts")), ignorenulls=True).over(w_prev).alias("click_ts"),
        F.last(F.when(click, F.col("view_ts")), ignorenulls=True)
        .over(w_prev)
        .alias("click_view_ts"),
        F.last(F.when(click, F.col("view_err")), ignorenulls=True)
        .over(w_prev)
        .alias("click_view_err"),
    )
    epoch = lambda col: F.unix_micros(col.cast("timestamp"))  # noqa: E731
    sec = lambda a, b: (epoch(b) - epoch(a)) / 1000000  # noqa: E731
    matched = c.filter(
        (F.col("event_type") == "purchase")
        & F.col("click_ts").isNotNull()
        & sec(F.col("click_ts"), F.col("ts")).between(0, 86400)
        & F.col("click_view_ts").isNotNull()
        & sec(F.col("click_view_ts"), F.col("click_ts")).between(0, 86400)
        & ((F.col("err_before") - F.col("click_view_err")) == 0)
    )
    return (
        matched.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_funnel_purchases"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_funnel_purchases",
            "n_users",
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# h5 — seasonal-profile BACKTEST (round-7): forecast each (event_type,
# weekday, hour) slot's value as the mean of the 3 training weeks
# (Jan 1-21; the fixture starts on a Monday), score week 4 (Jan 22-28)
# with per-type mean absolute error over the full 7x24 weekly grid — the
# capacity-planning / anomaly-baseline artifact every event pipeline
# carries. EXACT: value folds to integer cents, the forecast's /3 is
# deferred via cross-multiplication (|3*actual - train_sum| stays
# integral, the dq5 idiom), slots absent on one side coalesce to 0, and
# only the final grid-mean division is a double. The weekday convention
# never crosses engines (slots only need to align train-vs-test WITHIN an
# engine; the output is per event_type).
# Scale shape: two disjoint date slices of one events scan pattern
# (filters pushed; the s4 two-sources shape), each pre-aggregated to the
# |types|x168 slot grain before a slot-grain full-outer join — the join
# touches thousands of rows regardless of event volume; the final rollup
# is |types| rows.
# ---------------------------------------------------------------------------
H5_TRAIN_WEEKS = 3


@registry.query(
    "h5_seasonal_backtest",
    f"""
    WITH cents AS (
      SELECT event_type,
             dayofweek(ts) AS dow, EXTRACT(hour FROM ts) AS hr,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, ts
      FROM events
    ),
    train AS (
      SELECT event_type, dow, hr, SUM(c) AS train_cents
      FROM cents
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-22 00:00:00'
      GROUP BY 1, 2, 3
    ),
    test AS (
      SELECT event_type, dow, hr, SUM(c) AS actual_cents
      FROM cents
      WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
        AND ts <  TIMESTAMP '2024-01-29 00:00:00'
      GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT COALESCE(tr.event_type, te.event_type) AS event_type,
             COALESCE(tr.train_cents, 0) AS train_cents,
             COALESCE(te.actual_cents, 0) AS actual_cents
      FROM train tr FULL OUTER JOIN test te
        ON tr.event_type = te.event_type AND tr.dow = te.dow AND tr.hr = te.hr
    )
    SELECT event_type,
           COUNT(*) AS n_slots,
           CAST(SUM(ABS({H5_TRAIN_WEEKS} * actual_cents - train_cents)) AS BIGINT)
             AS abs_err_cents_x{H5_TRAIN_WEEKS},
           CAST(SUM(ABS({H5_TRAIN_WEEKS} * actual_cents - train_cents)) AS DOUBLE)
             / ({H5_TRAIN_WEEKS} * 168 * 100) AS mae_grid
    FROM grid
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def h5_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hr"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("c"),
        "ts",
    )

    def window(lo: str, hi: str, out: str):
        return (
            ev.filter(
                (F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
                & (F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
            )
            .groupBy("event_type", "dow", "hr")
            .agg(F.sum("c").alias(out))
        )

    # both windows derive from one ev lineage: alias every key column per
    # side so the full-outer self-join is unambiguous
    train = window(
        "2024-01-01 00:00:00", "2024-01-22 00:00:00", "train_cents"
    ).select(
        F.col("event_type").alias("tr_type"), F.col("dow").alias("tr_dow"),
        F.col("hr").alias("tr_hr"), "train_cents",
    )
    test = window(
        "2024-01-22 00:00:00", "2024-01-29 00:00:00", "actual_cents"
    ).select(
        F.col("event_type").alias("te_type"), F.col("dow").alias("te_dow"),
        F.col("hr").alias("te_hr"), "actual_cents",
    )
    grid = train.join(
        test,
        (F.col("tr_type") == F.col("te_type"))
        & (F.col("tr_dow") == F.col("te_dow"))
        & (F.col("tr_hr") == F.col("te_hr")),
        "full_outer",
    ).select(
        F.coalesce("tr_type", "te_type").alias("event_type"),
        F.coalesce("train_cents", F.lit(0)).alias("train_cents"),
        F.coalesce("actual_cents", F.lit(0)).alias("actual_cents"),
    )
    err = F.abs(H5_TRAIN_WEEKS * F.col("actual_cents") - F.col("train_cents"))
    return (
        grid.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_slots"),
            F.sum(err).cast("bigint").alias(f"abs_err_cents_x{H5_TRAIN_WEEKS}"),
            (
                F.sum(err).cast("double") / (H5_TRAIN_WEEKS * 168 * 100)
            ).alias("mae_grid"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# e11 — NATIVE batch session windows: the same 30-minute-gap sessionization
# as e3, but through Spark's built-in F.session_window aggregation instead of
# the lag/cumulative-sum window pair. The native operator is the one a
# 100 TB job wants: it is a single hash-shuffle on user_id followed by a
# per-key sort-merge of candidate sessions inside the aggregate (no
# full-partition Window pass, no two-stage flag+sum), and the identical
# expression runs unchanged under Structured Streaming (st3). Timestamps are
# truncated to whole seconds first — the e3 convention — so the oracle's
# second-granularity gaps-and-islands is exactly the native gap rule
# (empirically: an exact 1800 s gap MERGES; a new session needs gap > 1800).
# Emits one row per session, not per user, so the island assignment itself
# is what the oracle hash-checks.
# ---------------------------------------------------------------------------
@registry.query(
    "e11_native_session_window",
    """
    WITH flagged AS (
      SELECT user_id, event_id,
             date_trunc('second', ts) AS tss,
             CASE WHEN LAG(date_trunc('second', ts)) OVER
                         (PARTITION BY user_id
                          ORDER BY date_trunc('second', ts), event_id) IS NULL
                    OR date_diff('second',
                         LAG(date_trunc('second', ts)) OVER
                           (PARTITION BY user_id
                            ORDER BY date_trunc('second', ts), event_id),
                         date_trunc('second', ts)) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessioned AS (
      SELECT user_id, tss,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY tss, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(tss), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(tss), '%Y-%m-%d %H:%M:%S') AS last_ts,
           COUNT(*) AS n_events
    FROM sessioned
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def e11_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumn(
        "tss", F.date_trunc("second", F.col("ts").cast("timestamp"))
    )
    return (
        ev.groupBy("user_id", F.session_window("tss", "30 minutes"))
        .agg(
            F.max("tss").alias("max_tss"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("max_tss", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "n_events",
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# e12 — VARIANT semi-structured extraction (Spark 4's open-format answer to
# per-path string re-parsing): props is parsed ONCE per row into a binary
# VARIANT value, then every path/type extraction (variant_get) reads the
# parsed representation. e1's get_json_object-style path re-tokenizes the
# JSON text for each extraction — at 100 TB with many extracted paths the
# parse cost multiplies by the path count, while VARIANT amortizes it to
# one parse (and Parquet VARIANT shredding pushes extraction into the
# scan). try_parse_json (not parse_json) keeps malformed rows as NULL
# instead of failing the job under ANSI mode — accounted in n_json, the
# ingest-quality audit column. All outputs are integer counts/sums, so the
# DuckDB json_extract_string twin is hash-exact.
# ---------------------------------------------------------------------------
@registry.query(
    "e12_variant_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(COUNT(CASE WHEN json_valid(props) THEN 1 END) AS BIGINT)
             AS n_json,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           CAST(SUM(CASE WHEN json_valid(props)
                          AND json_extract_string(props, '$.k') IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def e12_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "props")
    v = F.try_parse_json(F.col("props"))
    # rebalance: the per-row JSON parse dominates the scan stage (no-op at
    # scale); projected to the two used columns first so the exchange
    # carries nothing else
    ev = rebalance_scan(ev, spark, sf_dir, "events", per_task_bytes=256 << 10)
    rows = ev.select(
        "event_type",
        v.alias("v"),
        F.variant_get(v, "$.k", "bigint").alias("k"),
    )
    return (
        rows.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("v").alias("n_json"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.sum(
                F.when(F.col("v").isNotNull() & F.col("k").isNull(), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_missing_k"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# h6 — TIME-WEIGHTED average (TWAP) per day: the step-function integral a
# metrics/finance pipeline computes over irregular observations — each
# event's value holds until the NEXT event, weighted by that interval, so
# bursts of readings don't dominate the way a plain AVG lets them.
# EXACT: the integral is computed entirely in integers — value in cents
# (bigint) × interval micros (bigint) summed per day; cents·micros per day
# tops out ~2·10^16 ≪ 2^63, so no decimal needed. The closing event of a
# day contributes no interval (lead is NULL — the standard right-open
# convention), and the final cents ratio is ONE double division of two
# identical bigints in both engines — bit-exact.
# Scale shape: one day-partitioned window pass (lead) + one hash agg; at
# 100 TB the partition key (day) bounds every window's state, and the
# whole query is a single events scan.
# ---------------------------------------------------------------------------
@registry.query(
    "h6_time_weighted_average",
    """
    WITH seq AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(LEAD(ts) OVER (PARTITION BY CAST(ts AS DATE)
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS dt_us
      FROM events
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN dt_us IS NOT NULL THEN cents * dt_us END)
                AS BIGINT) AS weighted_sum,
           CAST(SUM(dt_us) AS BIGINT) AS total_us,
           CAST(SUM(CASE WHEN dt_us IS NOT NULL THEN cents * dt_us END)
                AS DOUBLE) / SUM(dt_us) AS twap_cents
    FROM seq
    GROUP BY day
    HAVING SUM(dt_us) > 0
    ORDER BY day
    """,
)
def h6_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = W.partitionBy("day").orderBy("ts", "event_id")
    seq = ev.withColumn(
        "dt_us",
        F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp")),
    )
    return (
        seq.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("dt_us").isNotNull(), F.col("cents") * F.col("dt_us")
                )
            )
            .cast("bigint")
            .alias("weighted_sum"),
            F.sum("dt_us").cast("bigint").alias("total_us"),
        )
        .filter(F.col("total_us") > 0)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "weighted_sum",
            "total_us",
            (F.col("weighted_sum").cast("double") / F.col("total_us")).alias(
                "twap_cents"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# e13 — DYNAMIC-GAP session windows: F.session_window accepts a per-row
# COLUMN gap (Spark 3.2+), so the inactivity timeout can depend on the
# event itself — here conversion-class events (purchase/signup) hold a
# session open for 2 hours while browse-class events (view/click/error)
# allow only 30 minutes, the "a purchase keeps the visit alive" rule no
# fixed-gap sessionizer can express. Same single user_id shuffle as e11;
# the same expression runs under Structured Streaming. Session algebra:
# each event extends its session to ts + gap(event); an event joins when
# its ts <= the running max of prior ends (e11's empirically-pinned
# boundary: touching exactly MERGES), which is exactly the oracle's
# gaps-and-islands twin — running MAX(end) over preceding rows, break on
# ts > that max, cumulative-sum session ids. Second-truncated timestamps
# keep both engines on identical integer seconds; outputs are picks and
# counts only.
# ---------------------------------------------------------------------------
@registry.query(
    "e13_dynamic_gap_sessions",
    """
    WITH ev AS (
      SELECT user_id, event_id, date_trunc('second', ts) AS tss,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN 7200 ELSE 1800 END AS gap_s
      FROM events
    ),
    ends AS (
      SELECT user_id, event_id, tss,
             tss + to_seconds(gap_s) AS e,
             MAX(tss + to_seconds(gap_s)) OVER (
               PARTITION BY user_id ORDER BY tss, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max_end
      FROM ev
    ),
    flagged AS (
      SELECT user_id, event_id, tss, e,
             CASE WHEN prev_max_end IS NULL OR tss > prev_max_end
                  THEN 1 ELSE 0 END AS brk
      FROM ends
    ),
    sess AS (
      SELECT user_id, tss, e,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY tss, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(tss), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(e), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def e13_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("second", F.col("ts").cast("timestamp")).alias("tss"),
    )
    # the gap column must be CalendarIntervalType — ANSI interval literals
    # are DayTimeIntervalType and session_window rejects them; make_interval
    # is the constructor that still yields the calendar type
    gap = F.expr(
        "make_interval(0, 0, 0, 0, 0, "
        "CASE WHEN event_type IN ('purchase', 'signup') THEN 120 ELSE 30 END, 0)"
    )
    return (
        ev.groupBy("user_id", F.session_window("tss", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )
