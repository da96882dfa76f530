"""Driver-facing streaming queries: each callable EXECUTES a Structured
Streaming job (availableNow over the static events parquet) and returns the
materialized result, so the t2 oracle checks genuine streaming output
against batch SQL (SURVEY.md §5.2 batch-vs-stream equivalence, promoted to
the driver gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.bands import USER_STATE_HIST_CTES
from tts_etl_pipeline_spark.functions.checkpoints import materialize, scratch_dir
from tts_etl_pipeline_spark.operators.sketches import (
    KMV_K,
    kmv_hash,
    kmv_hash_sql,
)
from tts_etl_pipeline_spark.streaming.events_stream import (
    deduped_stream,
    hourly_counts,
    run_to_memory,
    run_to_parquet,
    stream_events,
    user_sessions,
)


@registry.query(
    "st1_stream_hourly_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY hour, event_type
    """,
)
def st1_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_memory(hourly_counts(stream_events(spark, sf_dir)), "st1")
    return out.orderBy("hour", "event_type")


@registry.query(
    "st2_stream_dedup",
    """
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_ids
    FROM events
    """,
)
def st2_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on an already-unique key is the
    worst-case state test: output cardinality must equal input (events has
    unique event_ids; duplicate-injection is covered in tests/)."""
    deduped = run_to_memory(deduped_stream(stream_events(spark, sf_dir)), "st2")
    return deduped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
    )


@registry.query(
    "st3_stream_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
           COUNT(*) AS n_events
    FROM sessioned GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
)
def st3_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window bounds ARE deterministic given the input: a session is
    the maximal chain of events where each starts strictly before
    prev_ts + gap (an event at exactly prev_ts + gap opens a NEW session —
    session windows are half-open [start, last_ts + gap)), and the emitted
    window is [min(ts), max(ts) + gap). The oracle replicates that split
    rule at full microsecond precision with a lag/cumsum chain — unlike the
    batch e3 query, whose second-truncated gap rule intentionally differs.
    Bounds surface as unix micros (exact integers in both engines)."""
    out = run_to_memory(user_sessions(stream_events(spark, sf_dir)), "st3")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    ).orderBy("user_id", "session_start_us")


@registry.query(
    "st4_stream_sliding_counts",
    """
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types
    FROM (
      SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS win_start,
             event_type
      FROM events
    ) expanded
    GROUP BY win_start
    ORDER BY win_start
    """,
)
def st4_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): every event lands in exactly
    two windows. The batch oracle reproduces Spark's window assignment by
    expanding each event into its two hour-aligned window starts.
    countDistinct is not allowed in streaming aggs, so distinct event types
    are counted via a two-stage streaming plan: dedup on (window, type)
    happens in the same agg by grouping, then the outer batch agg over the
    materialized memory sink counts them."""
    stream = stream_events(spark, sf_dir)
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
        )
    )
    per_window_type = run_to_memory(windowed, "st4")
    return (
        per_window_type.groupBy("win_start")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("win_start")
    )


@registry.query(
    "st5_stream_stream_join",
    """
    SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    ORDER BY user_id, click_id, purchase_id
    """,
)
def st5_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: purchases within one hour of
    a click by the same user. The time-bound join condition plus the 2-hour
    watermark on BOTH sides lets Spark expire join state (a click can stop
    waiting for purchases once the purchase watermark passes click_ts + 1h),
    so state is bounded at any input rate — the canonical scalable
    stream-stream join shape. Inner join with an exact predicate => output
    is deterministic and oracle-checkable. Timestamps are surfaced as unix
    microseconds (exact integers on both engines)."""
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )
    # fact-scale output (linear in the events): executor-written parquet
    # sink, never driver-memory (round-6 verdict finding 2)
    return run_to_parquet(joined, "st5").orderBy("user_id", "click_id", "purchase_id")


@registry.query(
    "st6_stream_static_join",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def st6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events enrich against the static
    customer dimension (no watermark needed — static sides are re-read per
    microbatch and never hold state), then aggregate per market segment.
    This is the streaming twin of the batch broadcast-dimension rule: at any
    rate the dimension is broadcast per microbatch, the stream never
    shuffles for the join. Aggregation state is bounded by |segments|."""
    from tts_etl_pipeline_spark.sources.tables import scaled_broadcast, table as _table

    ev = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cust = _table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(scaled_broadcast(cust, sf_dir, "customer"), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )
    return run_to_memory(agg, "st6").orderBy("c_mktsegment")


@registry.query(
    "st7_stream_foreachbatch_upsert",
    """
    SELECT event_type, COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_ids,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def st7_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch + INSERT OR IGNORE sink (the streaming S4 path,
    pa.py:354-391 semantics): the stream is written to a parquet table via
    the idempotent anti-join-append writer TWICE — the second availableNow
    run (fresh checkpoint, so a full replay) re-offers every row and the
    OR-IGNORE keying on event_id must drop all of them. The oracle checks
    the final TABLE contents equal one clean copy of the input: replay
    safety is the property under test, exactly what makes foreachBatch
    sinks exactly-once-per-key at any scale."""

    from tts_etl_pipeline_spark.streaming.events_stream import (
        stream_events,
        stream_to_table,
    )

    with scratch_dir("st7_") as tmp:
        table_path = f"{tmp}/events_sink"
        for run in range(2):  # second run = at-least-once replay
            src = stream_events(spark, sf_dir).filter(
                F.col("event_type").isin("click", "purchase")
            )
            stream_to_table(src, table_path, key="event_id", checkpoint=f"{tmp}/ckpt{run}")
        import os

        if os.path.exists(table_path):
            sunk = spark.read.parquet(table_path)
        else:  # zero qualifying rows ever arrived -> sink was never created
            sunk = spark.createDataFrame([], src.schema)
        return materialize(
            sunk.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("event_id").alias("n_ids"),
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                    "sum_value"
                ),
            )
            .orderBy("event_type")
        )


def _purchase_totals_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared stateful per-user purchase-totals stream (st8's update
    emission AND st15's state-store contents): applyInPandasWithState over
    integer-cents state (exact int64 fold — a float running sum would be
    order-dependent)."""
    from collections.abc import Iterable

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from tts_etl_pipeline_spark.streaming.events_stream import stream_events

    ev = stream_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("cents"),
    )

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            purchases = pdf[pdf["event_type"] == "purchase"]
            n += len(purchases)
            cents += int(purchases["cents"].sum())
        state.update((n, cents))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_purchases": n, "total_cents": cents}]
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, n_purchases bigint, total_cents bigint",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@registry.query(
    "st8_stateful_running_totals",
    """
    SELECT user_id,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
             AS n_purchases,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END), 0)
                AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def st8_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState), made
    ORACLE-EXACT: per-user running purchase totals where the state carries
    integer CENTS (value is converted to cents JVM-side via decimal(12,2)
    before the UDF, so the Python sum is an exact int64 fold — a float
    running sum would be order-dependent and never hash-match). Update-mode
    emits the running total per user per micro-batch; totals are monotone,
    so the batch-side max per user is the final state regardless of how
    availableNow slices the input into batches. The streaming twin of e4's
    batch aggregation, proving custom cross-batch state — not just built-in
    windows — can stay bit-exact. Library variant (float state, optional
    inactivity-timeout flush): streaming/stateful.py."""
    from tts_etl_pipeline_spark.streaming.events_stream import run_to_memory

    out = run_to_memory(_purchase_totals_updates(spark, sf_dir), "st8")
    return (
        out.groupBy("user_id")
        .agg(F.max("n_purchases").alias("n_purchases"), F.max("total_cents").alias("mc"))
        .select(
            "user_id",
            "n_purchases",
            (F.col("mc").cast("double") / F.lit(100.0)).alias("total_value"),
        )
        .orderBy("user_id")
    )


@registry.query(
    "st9_stream_daily_bars",
    """
    WITH keyed AS (
      SELECT date_trunc('day', ts) AS day, event_type, value,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '-' ||
             lpad(CAST(event_id AS VARCHAR), 20, '0') AS ord_key
      FROM events
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n_events,
           arg_min(value, ord_key) AS open,
           arg_max(value, ord_key) AS close,
           MAX(value) AS high,
           MIN(value) AS low
    FROM keyed
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def st9_stream_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC: a REAL availableNow run whose result hash-matches
    batch SQL — the first/last picks are declarative min_by/max_by over a
    string-encoded composite total order, because streaming forbids window
    functions and DuckDB's arg_min forbids composite keys; the encoding is
    the bridge both sides agree on. Day grain intentionally mirrors the
    batch h2 query so the pair documents the batch/stream twin pattern."""
    from tts_etl_pipeline_spark.streaming.events_stream import daily_value_bars

    out = run_to_memory(daily_value_bars(stream_events(spark, sf_dir)), "st9")
    return out.orderBy("day", "event_type")


@registry.query(
    "st10_stream_transitions",
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
def st10_stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of e9's Markov transition matrix: custom cross-batch
    state (applyInPandasWithState) carries each user's LAST event
    (ord_key, type) across micro-batches and emits per-batch DELTA counts,
    so the batch-side sum of deltas equals the global transition matrix —
    exact because deltas are integers and addition is order-independent
    (the st8 discipline). Rows within a batch are ordered by the same
    zero-padded (micros || event_id) composite key st9 uses; cross-batch
    exactness assumes per-user arrival order across batches (true for the
    file-replay source — one file, one batch — and for any
    watermark-ordered ingestion; with out-of-order arrival the counts
    degrade gracefully to 'transitions as observed'). State is O(1) per
    user — the right shape for unbounded streams."""
    from collections.abc import Iterable

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lit("-"),
            F.lpad(F.col("event_id").cast("string"), 20, "0"),
        ).alias("ord_key"),
    )

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        last_key, last_type = state.get if state.exists else (None, None)
        deltas: dict[tuple[str, str], int] = {}
        # a group's rows may arrive as SEVERAL Arrow chunks (maxRecordsPerBatch)
        # with no global order — concatenate first, sort ONCE, then walk
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = pd.concat(chunks, ignore_index=True).sort_values("ord_key")
            for ok, et in zip(whole["ord_key"], whole["event_type"]):
                if last_type is not None:
                    pair = (last_type, et)
                    deltas[pair] = deltas.get(pair, 0) + 1
                last_key, last_type = ok, et
        if last_key is not None:
            state.update((last_key, last_type))
        if deltas:
            yield pd.DataFrame(
                [
                    {"user_id": user_id, "from_type": a, "to_type": b, "n": c}
                    for (a, b), c in deltas.items()
                ]
            )

    updates = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, from_type string, to_type string, n bigint",
        stateStructType="last_key string, last_type string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(updates, "st10")
    from pyspark.sql.window import Window as W

    matrix = out.groupBy("from_type", "to_type").agg(
        F.sum("n").alias("n_transitions")
    )
    return (
        matrix.withColumn(
            "p_transition",
            F.round(
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(W.partitionBy("from_type")),
                6,
            ),
        )
        .orderBy("from_type", "to_type")
    )


@registry.query("st11_pyds_stream_counts")
def st11_pyds_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation over the CUSTOM Python DataSource
    (sources/pyds.py `synthetic_events` — the Spark 4 datasource API):
    a real micro-batch run pages through the deterministic id space via
    integer offsets — latestOffset advances ONE rows_per_batch page per
    trigger, so this is a genuine multi-micro-batch run (4 data batches
    for 2000 rows at 500/page), not one batch split into partitions — and
    the complete-mode per-type rollup must equal the closed-form recount
    of the same generator, proving the custom source's offsets/
    partitions/read contract end to end, not just its batch path.
    Trigger discipline: availableNow snapshots latestOffset once (one
    page only — verified empirically), so the drain runs a processingTime
    trigger and stops deterministically when the sink holds all n_rows
    (bounded-input poll, not a sleep race: the generator is finite and
    every page is committed before the next trigger). Rows-only by design
    (generator-based input, the p1/m2 precedent; exactness AND the
    multi-batch page count are pinned in tests/test_pyds_stream_query.py
    against the pure generator).
    `sf_dir` is unused (the uniform query signature). Value sums ride
    integer cents so the fold is order-independent (the st8 discipline)."""
    from tts_etl_pipeline_spark.sources.pyds import register_sources

    register_sources(spark)
    n_rows = 2000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", n_rows)
        .option("rows_per_batch", 500)
        .option("seed", 11)
        .load()
    )
    # countDistinct is illegal in streaming aggs (the st1 note) — the
    # distinct-user figure lives in the batch twin; min/max ids are the
    # order-independent picks that still prove full-id-space coverage
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum((F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    with scratch_dir("st11_ckpt_") as ckpt:
        name = "st11_pyds"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        # drain-poll: the source is finite, so the complete-mode sink
        # reaches exactly n_rows total events and then stays there; stop
        # the continuous trigger once it does (deadline only as a safety
        # net against an environment hang, not a timing assumption)
        import time

        deadline = time.monotonic() + 300
        total = None
        while time.monotonic() < deadline:
            if not q.isActive:  # died -> surface the REAL error, don't spin
                q.awaitTermination()  # re-raises the StreamingQueryException
                raise RuntimeError("st11 stream terminated before draining")
            try:  # the memory table appears with the first completed batch
                total = spark.table(name).agg(F.sum("n_events")).collect()[0][0]
            except Exception:
                total = None
            if total == n_rows:
                break
            time.sleep(0.2)
        else:
            q.stop()
            raise TimeoutError(f"st11 drain incomplete: {total}/{n_rows} rows")
        q.stop()
        q.awaitTermination()
        out = materialize(spark.table(name))
    return (
        out.select(
            "event_type",
            "n_events",
            "min_id",
            "max_id",
            (F.col("value_cents").cast("double") / 100).alias("total_value"),
        )
        .orderBy("event_type")
    )


@registry.query(
    "st12_stream_left_outer_complete",
    """
    SELECT c.user_id AS user_id, c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
    FROM events c
    LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    ORDER BY user_id, click_id, purchase_id
    """,
)
def st12_stream_left_outer_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join via the COMPLETION-PASS
    pattern — the shape SURVEY §2.3 excludes natively, made exact.

    Spark's native left-outer emission withholds the final unmatched
    row(s) under availableNow (two recorded negative experiments: 204/205
    null rows, still short after a checkpoint-restart second trigger —
    the no-data batch never advances the watermark past the last buffered
    row). So the non-deterministic half is REMOVED from streaming: run the
    deterministic INNER interval join streaming (st5's exact discipline,
    bounded state via both-side watermarks + the time-bound condition),
    then complete at end-of-stream with ONE batch left_anti join that
    emits the never-matched clicks with null purchase columns. The union
    is batch-left-outer-EXACT — matched rows from the stream, unmatched
    membership from the anti-join — restoring the oracle the native form
    cannot honor. At scale the anti-join is matched-click-ids (bounded by
    the stream's own output) against the left relation, one hash join.

    On a truly unbounded pipeline the same completion runs per epoch in
    foreachBatch (anti-join the epoch's left rows against its matched
    set once the watermark passes the epoch end); availableNow IS one
    epoch, so the post-stream batch step here is exactly that."""
    from tts_etl_pipeline_spark.sources.tables import table as _table

    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    matched = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )
    inner = run_to_parquet(matched, "st12")  # fact-scale rows stay off-driver
    # completion pass: clicks that never matched get their null row —
    # membership is exact because the inner join is exact
    all_clicks = (
        _table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            # batch loader serves TIMESTAMP_NTZ; session tz is UTC so the
            # cast is value-preserving and matches the stream's epoch micros
            F.unix_micros(F.col("ts").cast("timestamp")).alias("click_us"),
        )
    )
    unmatched = all_clicks.join(
        inner.select("click_id"), "click_id", "left_anti"
    ).select(
        "user_id",
        "click_id",
        F.lit(None).cast("bigint").alias("purchase_id"),
        "click_us",
        F.lit(None).cast("bigint").alias("purchase_us"),
    )
    return (
        inner.select("user_id", "click_id", "purchase_id", "click_us", "purchase_us")
        .unionByName(unmatched)
        .orderBy("user_id", "click_id", "purchase_id")
    )


@registry.query(
    "st13_versioned_cdf_stream",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      WHERE o_orderkey % 10 = 0
    ),
    v2new AS (
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      WHERE o_orderkey % 10 = 1
    )
    SELECT * FROM (
      SELECT 1 AS commit_version, 'insert' AS change_type,
             o_orderkey, o_custkey, o_orderstatus FROM v1
      UNION ALL
      SELECT 2, 'insert', o_orderkey, o_custkey, o_orderstatus FROM v2new
      UNION ALL
      SELECT 4, 'delete', o_orderkey, o_custkey, o_orderstatus
      FROM v1 WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT 4, 'insert', o_orderkey, o_custkey, 'X'
      FROM v1 WHERE o_orderkey % 100 = 0
    )
    ORDER BY commit_version, change_type, o_orderkey
    """,
)
def st13_versioned_cdf_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CHANGE DATA FEED over a versioned table (B11 ⋈ B8,
    round-7 increment): build a 4-commit table from `orders`, drain
    sources.versioned.stream_changes (one micro-batch per commit, Delta
    CDF shape, checkpointed cursor), and return the concatenated feed.

    Commits: v1 = keys %10==0 (snapshot-as-inserts batch), v2 = append
    keys %10==1 (insert batch reading ONLY the appended files), v3 =
    compact() (same rows, new files — the feed proves itself EMPTY via
    exceptAll bag semantics), v4 = overwrite flipping o_orderstatus to 'X'
    on keys %100==0 (delete+insert pairs). Every batch is deterministic
    from `orders`, so the whole stream is EXACT against a pure-SQL oracle
    — the driver checks a genuinely streamed CDF, not a stand-in. Scale:
    each batch scans one commit's file-list symmetric difference; the
    compaction batch costs one rewritten-file scan and emits nothing."""
    import os as _os

    from tts_etl_pipeline_spark.sources.tables import table as _table
    from tts_etl_pipeline_spark.sources.versioned import (
        compact,
        stream_changes,
        write_version,
    )

    with scratch_dir("st13_cdf_") as base:
        tbl, ckpt = _os.path.join(base, "tbl"), _os.path.join(base, "ckpt")
        orders = _table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
        write_version(orders.filter(F.col("o_orderkey") % 10 == 0), tbl)  # v1
        write_version(orders.filter(F.col("o_orderkey") % 10 == 1), tbl)  # v2
        compact(spark, tbl)  # v3: rows identical -> empty feed batch
        both = orders.filter((F.col("o_orderkey") % 10).isin(0, 1))
        write_version(  # v4: point "updates" surface as delete+insert
            both.withColumn(
                "o_orderstatus",
                F.when(F.col("o_orderkey") % 100 == 0, F.lit("X")).otherwise(
                    F.col("o_orderstatus")
                ),
            ),
            tbl,
            mode="overwrite",
        )
        # materialize each batch ON DELIVERY (a foreachBatch consumer would do
        # exactly this — process the micro-batch when it arrives, not hold a
        # lazy plan while later commits land); it also keeps the drained
        # union's plan from re-scanning a commit file that sits on the new
        # side of one diff and the old side of the next
        batches: list[DataFrame] = []
        stream_changes(spark, tbl, ckpt, lambda df, v: batches.append(materialize(df)))
    feed = batches[0]
    for b in batches[1:]:
        feed = feed.unionByName(b)
    return feed.select(
        F.col("_commit_version").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
    ).orderBy("commit_version", "change_type", "o_orderkey")


@registry.query(
    "st14_streaming_kmv_distinct",
    f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             {kmv_hash_sql("user_id")} AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rnk
      FROM hashed
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS k_filled,
           CAST(MAX(h) AS BIGINT) AS h_k,
           CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                ELSE CAST({KMV_K - 1} AS DOUBLE)
                     * CAST(1152921504606846976 AS DOUBLE)
                     / CAST(MAX(h) AS DOUBLE) END AS est_users
    FROM ranked WHERE rnk <= {KMV_K}
    GROUP BY event_type ORDER BY event_type
    """,
)
def st14_streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-event-type distinct-user KMV sketch — the MERGEABLE
    sketch as a stream consumer (the x3/x8 estimator; k=32). Each micro
    batch folds to at most k (type, hash) rows via foreachBatch (bottom-k of
    the batch's distinct user hashes), appended to a parquet summary table;
    the final answer is the bottom-k OF the appended bottom-ks, which by the
    KMV merge property equals the bottom-k of the whole stream — what the
    batch-SQL oracle computes directly. The stream runs TWICE with fresh
    checkpoints (a full at-least-once replay, the st7 protocol): KMV is
    REPLAY-IMMUNE — re-offered rows rehash to hashes already in (or above)
    the sketch and the distinct bottom-k is unchanged — so unlike st7 it
    needs no keyed OR-IGNORE sink to survive duplicate delivery. 100 TB
    shape: per batch the sink gains <= k rows per event type (kilobytes),
    the summary table stays bounded by batches x types x k, and the final
    merge is a group-bounded window over that summary, never the stream."""
    import os

    from pyspark.sql.window import Window as W

    from tts_etl_pipeline_spark.streaming.events_stream import stream_events

    k = KMV_K
    h = kmv_hash("user_id")
    with scratch_dir("st14_") as tmp:
        sink = f"{tmp}/kmv_summaries"

        def fold_batch(batch: DataFrame, _bid: int) -> None:
            w = W.partitionBy("event_type").orderBy("h")
            (
                batch.select("event_type", h.alias("h"))
                .distinct()
                .withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= k)
                .select("event_type", "h")
                .write.mode("append")
                .parquet(sink)
            )

        for run in range(2):  # second run = full at-least-once replay
            (
                stream_events(spark, sf_dir)
                .writeStream.foreachBatch(fold_batch)
                .option("checkpointLocation", f"{tmp}/ckpt{run}")
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        if os.path.exists(sink):
            summaries = spark.read.parquet(sink)
        else:  # an empty stream never created the sink
            summaries = spark.createDataFrame([], "event_type string, h long")
        w = W.partitionBy("event_type").orderBy("h")
        return materialize(
            summaries.distinct()  # replay + cross-batch overlap collapse
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("k_filled"),
                F.max("h").cast("bigint").alias("h_k"),
            )
            .withColumn(
                "est_users",
                F.when(
                    F.col("k_filled") < k, F.col("k_filled").cast("double")
                ).otherwise(
                    F.lit(float(k - 1))
                    * F.lit(float(1 << 60))
                    / F.col("h_k").cast("double")
                ),
            )
            .orderBy("event_type")
        )


@registry.query(
    "st15_statestore_read",
    """
    SELECT user_id,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
             AS n_purchases,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END), 0)
                AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def st15_statestore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State Store batch READER (Spark 4's offline state-inspection
    surface): run st8's stateful per-user purchase-totals stream into a
    checkpoint via a noop sink — discarding every emitted row — then read
    the checkpoint's STATE STORE itself with spark.read.format("statestore")
    and hash-check the recovered state against batch SQL. st8 proves the
    stream's OUTPUT is exact; this proves the persisted cross-batch STATE is
    — the two can diverge (a state-update bug that still emits correct rows
    this run corrupts every later restart), and at 100 TB the offline reader
    is how you audit or repair a live job's state without replaying the
    stream. The read is partition-parallel (one task per state-store
    partition) and the state grain is per-user — group-bounded, the st1-st4
    memory-sink contract. The state-metadata format is exercised as the
    guard: the operator path asserted before the expensive state read."""

    with scratch_dir("st15_") as tmp:
        ckpt = f"{tmp}/ckpt"
        (
            _purchase_totals_updates(spark, sf_dir)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName("st15_state")
            .start()
            .awaitTermination()
        )
        meta = spark.read.format("state-metadata").load(ckpt).collect()
        assert meta and meta[0]["operatorName"] == (
            "applyInPandasWithState"
        ), meta
        state = spark.read.format("statestore").load(ckpt)
        return materialize(
            state.select(
                F.col("key.user_id").alias("user_id"),
                F.col("value.groupState.n").alias("n_purchases"),
                (
                    F.col("value.groupState.cents").cast("double") / F.lit(100.0)
                ).alias("total_value"),
            )
            .orderBy("user_id")
        )


@registry.query(
    "st16_stream_versioned_sink",
    """
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT event_id) AS n_ids,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def st16_stream_versioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACTLY-ONCE into the repo's own versioned (ACID) table:
    foreachBatch commits each micro-batch as one snapshot version via
    write_version — the B8->B11 ingestion direction (st13/stream_changes is
    the read direction). Idempotence is BATCH-ID KEYED: every committed row
    carries its micro-batch id, and a re-delivered batch (same-checkpoint
    crash replay OR the full fresh-checkpoint second run below, the st7
    protocol) is detected by probing the committed table for that id and
    skipped — so at-least-once delivery composes with the atomic manifest
    CAS into exactly-once table contents, with NO keyed merge needed
    (contrast st7's OR-IGNORE upsert, which dedups row-by-row). The probe
    reads only committed manifests, so the check-then-commit pair cannot
    tear: a crash between them re-delivers the batch and the probe answers
    then. foreachBatch is sequential per query, so the pair needs no
    cross-writer lock (concurrent WRITERS are the CAS's job). Driver-scale
    probe scans the table; the 100 TB shape records the batch id in the
    manifest instead — the in-commit watermark maintain_counts_from_cdf
    (sources/versioned.py) already demonstrates. Final result reads the
    LATEST snapshot and must hash-match batch SQL over the whole stream."""

    from tts_etl_pipeline_spark.sources.versioned import (
        current_version,
        read_version,
        write_version,
    )

    with scratch_dir("st16_") as tmp:
        tbl = f"{tmp}/events_versioned"

        def commit_batch(batch: DataFrame, bid: int) -> None:
            if current_version(tbl) > 0:
                seen = (
                    read_version(spark, tbl)
                    .filter(F.col("__batch_id") == bid)
                    .limit(1)
                    .count()
                )
                if seen:
                    return  # replayed delivery: version already committed
            write_version(
                batch.withColumn("__batch_id", F.lit(bid)), tbl, mode="append"
            )

        for run in range(2):  # second run = full at-least-once replay
            (
                stream_events(spark, sf_dir)
                .writeStream.foreachBatch(commit_batch)
                .option("checkpointLocation", f"{tmp}/ckpt{run}")
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        if current_version(tbl) == 0:  # empty stream: nothing committed
            return spark.createDataFrame(
                [],
                "event_type string, n_rows bigint, n_ids bigint,"
                " sum_value double",
            )
        return materialize(
            read_version(spark, tbl)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("event_id").alias("n_ids"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .orderBy("event_type")
        )


# ---------------------------------------------------------------------------
# st17 — CHAINED stateful operators: hour window agg -> day window-on-window
# agg inside ONE streaming query (streaming/events_stream.py::
# hourly_then_daily). st1–st16 each run a single stateful operator; real
# pipelines stack them, and before Spark 3.4 that required two queries
# glued by an intermediate sink. Append mode gates emission on the
# watermark, so the oracle reproduces the exact boundary: a day emits iff
# day_end <= max(ts) - 2h (the tail day legitimately stays in state — the
# emission CONTRACT is part of what the oracle checks, not noise to strip).
# ---------------------------------------------------------------------------
@registry.query(
    "st17_chained_window_aggs",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             COUNT(*) AS n_events,
             SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(date_trunc('day', h), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_hours,
           MAX(n_events) AS max_hourly_events,
           CAST(SUM(cents) AS BIGINT) AS day_cents
    FROM hourly
    WHERE date_trunc('day', h) + INTERVAL 1 DAY
          <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
)
def st17_chained_window_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.streaming.events_stream import hourly_then_daily

    out = run_to_memory(
        hourly_then_daily(stream_events(spark, sf_dir)),
        "st17",
        output_mode="append",
    )
    return out.orderBy("day", "event_type")


# ---------------------------------------------------------------------------
# st18 — stream-stream JOIN chained into a windowed AGGREGATION in one
# streaming query: st5's watermarked click x purchase interval join feeds
# an hourly match-count aggregation directly — the second multi-stateful
# combination (st17 chained two aggs; this chains the join+agg pair that
# real attribution pipelines run). Watermark propagation is the whole
# story: the join DELAYS the downstream watermark by its interval bound —
# a purchase-hour window can only close once no click could still match,
# i.e. at max(ts) - 2h(watermark) - 1h(join interval). Measured, not
# assumed: a dense minute-grain probe emitted exactly the hours ending
# <= maxts - 3h and withheld the rest (the -2h-only boundary would
# over-emit). The oracle encodes that contract. Output is |hours|-bounded
# (memory sink is fine); the matched ROWS themselves stay executor-side —
# only window aggregates cross to the driver.
# ---------------------------------------------------------------------------
@registry.query(
    "st18_join_then_window_agg",
    """
    WITH m AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             date_trunc('hour', p.ts) AS h
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           COUNT(*) AS n_matches,
           CAST(MIN(click_id) AS BIGINT) AS min_click,
           CAST(MAX(purchase_id) AS BIGINT) AS max_purchase
    FROM m
    WHERE h + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 3 HOUR FROM events)
    GROUP BY h
    ORDER BY hour
    """,
)
def st18_join_then_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    hourly = (
        joined.groupBy(F.window("purchase_ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("click_id").alias("min_click"),
            F.max("purchase_id").alias("max_purchase"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_matches",
            "min_click",
            "max_purchase",
        )
    )
    out = run_to_memory(hourly, "st18", output_mode="append")
    return out.orderBy("hour")


# ---------------------------------------------------------------------------
# st19 — stream-stream LEFT SEMI join: "clicks that converted within the
# hour", emitting each matched CLICK exactly once regardless of how many
# purchases landed in its window — the streaming EXISTS, and the third
# stream-stream join mode after inner (st5) and left-outer-via-completion
# (st12). Semantics worth the driver check: semi join emits on FIRST
# match and never duplicates the left row on later matches (the inner
# join would fan out; DISTINCT over st5's output costs a second stateful
# dedup pass — semi state is one bit per buffered click). Same watermark
# + interval state-expiry bounds as st5. Output is a click subset
# (fact-scale, linear in the stream) -> parquet FILE sink, never driver
# memory. Oracle: EXISTS with the identical interval.
# ---------------------------------------------------------------------------
@registry.query(
    "st19_stream_semi_join",
    """
    SELECT c.user_id AS user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us
    FROM events c
    WHERE c.event_type = 'click' AND EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    ORDER BY user_id, click_id
    """,
)
def st19_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    matched = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).select(
        "user_id",
        "click_id",
        F.unix_micros("click_ts").alias("click_us"),
    )
    return run_to_parquet(matched, "st19").orderBy("user_id", "click_id")


# ---------------------------------------------------------------------------
# st20 — custom Python DataSource STREAMING sink (DataSourceStreamWriter),
# completing B14's four directions (batch read + pushdown, stream read
# st11, batch write j5, stream write here). Events stream availableNow
# into format("jsonl_docs")'s stream writer — the j5 staged-rename
# protocol per micro-batch, made EXACTLY-ONCE by batch-id-keyed
# idempotence (published names embed the batchId; commit() probes before
# publishing, so a replayed batch discards its staged copies). The query
# PROVES it: after the first run completes, a second full run with a
# FRESH checkpoint replays every batch into the same directory and must
# add nothing (the st14/st16 replay-inside-the-query discipline). The
# result is read back with the built-in JSON reader (format interop) and
# aggregated; doubles survive the JSON hop because json.dumps writes the
# shortest round-trip repr. Oracle aggregates the source directly.
# ---------------------------------------------------------------------------
@registry.query(
    "st20_pyds_stream_writer",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def st20_pyds_stream_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from tts_etl_pipeline_spark.sources.pyds import register_sources

    register_sources(spark)
    with scratch_dir("st20_") as tmp:
        out = os.path.join(tmp, "out")
        os.makedirs(out)
        def run(ckpt: str) -> None:
            stream = stream_events(spark, sf_dir).select(
                "event_id",
                "user_id",
                "event_type",
                "value",
                F.unix_micros("ts").alias("ts_us"),
            )
            q = (
                stream.writeStream.format("jsonl_docs")
                .option("path", out)
                .option("checkpointLocation", os.path.join(tmp, ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run("ckpt1")
        n_files = len([f for f in os.listdir(out) if f.endswith(".jsonl")])
        run("ckpt2")  # FULL replay, fresh checkpoint: must publish nothing
        n_files_after = len(
            [f for f in os.listdir(out) if f.endswith(".jsonl")]
        )
        if n_files_after != n_files:
            raise AssertionError(
                f"stream-writer replay published {n_files_after - n_files} "
                "extra files — batch-id idempotence broken"
            )
        back = spark.read.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "value double, ts_us bigint"
        ).json(out)
        return materialize(
            back.groupBy("event_type")
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
# st21 — INCREMENTAL VIEW MAINTENANCE from the change data feed, promoted
# to a driver query (round-8 verdict task 2): the IVM centerpiece
# sources/rollup.py::maintain_counts_from_cdf keeps a per-event_type count
# aggregate of a versioned table in sync by folding stream_changes
# micro-batches as +1/-1 deltas, every state commit carrying the merged
# counts AND the applied-source-version watermark inside ONE manifest CAS.
# The table takes three commits: v1 = append even event_ids, v2 = append
# odd event_ids, v3 = overwrite deleting the 'click' rows (delete batches
# via exceptAll bag semantics). After the drain, the query re-runs the
# FULL maintenance loop with a FRESH checkpoint (the st16 replay
# precedent) and asserts IN-QUERY that the watermark makes every replayed
# batch a detectable no-op — state identical, bag-exact. The oracle is
# the batch recompute over the final snapshot (events minus clicks,
# null-safe), so the driver's hash equality proves the incremental path
# CONVERGES to the batch answer, not just that it runs. Scale shape: each
# fold is O(one commit's changed rows) + a state-sized merge — never a
# source recompute; the replay costs one watermark probe per version.
# ---------------------------------------------------------------------------
@registry.query(
    "st21_ivm_counts_from_cdf",
    """
    SELECT event_type, COUNT(*) AS cnt
    FROM events
    WHERE event_type IS DISTINCT FROM 'click'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def st21_ivm_counts_from_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import collections
    import os as _os

    from tts_etl_pipeline_spark.sources.rollup import (
        maintain_counts_from_cdf,
        read_maintained_counts,
    )
    from tts_etl_pipeline_spark.sources.tables import table as _table
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version,
        write_version,
    )

    with scratch_dir("st21_ivm_") as base:
        src = _os.path.join(base, "src")
        state = _os.path.join(base, "state")
        ev = _table(spark, sf_dir, "events").select("event_id", "event_type")
        write_version(ev.filter(F.col("event_id") % 2 == 0), src)  # v1
        write_version(ev.filter(F.col("event_id") % 2 == 1), src)  # v2
        write_version(  # v3: delete every click (null-safe — NULL stays)
            read_version(spark, src).filter(
                ~F.col("event_type").eqNullSafe(F.lit("click"))
            ),
            src,
            mode="overwrite",
        )
        maintain_counts_from_cdf(
            spark, src, state, _os.path.join(base, "ck1"), keys=["event_type"]
        )
        first = materialize(
            read_maintained_counts(spark, state).select("event_type", "cnt")
        )
        # replay proof: drain AGAIN from scratch (fresh checkpoint) — the
        # in-state watermark must turn every re-delivered batch into a
        # no-op, leaving the maintained counts bag-identical
        maintain_counts_from_cdf(
            spark, src, state, _os.path.join(base, "ck2"), keys=["event_type"]
        )
        replay = materialize(
            read_maintained_counts(spark, state).select("event_type", "cnt")
        )
        a = collections.Counter(map(tuple, first.collect()))
        b = collections.Counter(map(tuple, replay.collect()))
        if a != b:
            raise RuntimeError(
                f"IVM replay was not a no-op: {a - b} vs {b - a}"
            )
        return first.orderBy("event_type")


# ---------------------------------------------------------------------------
# st22 — streaming DIMENSION SYNC: the CDF drives SCD2 (B8 -> B11 for
# dimensions, completing st16's fact-ingestion direction). A versioned
# "current user-state" source table evolves over three commits (the
# cumulative latest per-user state after each of j10's three epoch bands;
# the third commit DROPS users whose current state is 'error' — entities
# leaving the source). stream_changes delivers one micro-batch per
# commit; the fold maps CDF rows to SCD2 semantics — inserts upsert
# (update = delete+insert pair nets to one upsert), deletes WITHOUT a
# matching insert soft-close the current row at the stream's max
# timestamp (scd2_apply's delete arm). The crash-replay contract is
# asserted in-query: stream_changes re-delivers AT MOST the in-flight
# version, and re-folding the LAST batch is a detectable no-op (upserts
# match-and-equal, deletes hit already-closed rows) — bag-identical
# history, the exactly-once composition. The oracle rebuilds the synced
# history declaratively: j10's window-function history PLUS the deletion
# adjustment (an open 'error' version opened in band 3 never entered the
# source — drop it and close its predecessor at tmax; one opened earlier
# closes at tmax), all null-safe via IS NOT DISTINCT FROM. Scale shape:
# each fold is one current-x-batch join + one delete left-join; each CDF
# batch reads one commit's file-list symmetric difference.
# ---------------------------------------------------------------------------
@registry.query(
    "st22_stream_scd2_sync",
    f"""
    WITH {USER_STATE_HIST_CTES},
    c AS (
      SELECT tmin + (((tmax - tmin) * 2) // 3) AS cut2, tmax FROM b
    ),
    dropped AS (
      -- an open 'error' version OPENED in band 3: the source filtered the
      -- row before it ever appeared, so the synced dimension never opened
      -- this version at all
      SELECT user_id, valid_from AS err_from
      FROM hist, c
      WHERE valid_to IS NULL AND state IS NOT DISTINCT FROM 'error'
        AND valid_from > c.cut2
    ),
    adj AS (
      SELECT h.user_id, h.state, h.valid_from,
             CASE
               -- error-current since band <= 2: the version exists in the
               -- dimension and the v3 delete closed it at tmax
               WHEN h.valid_to IS NULL
                    AND h.state IS NOT DISTINCT FROM 'error'
                    AND h.valid_from <= c.cut2 THEN c.tmax
               -- predecessor of a dropped band-3 error version: it was
               -- current when the v3 delete arrived
               WHEN d.user_id IS NOT NULL AND h.valid_to = d.err_from
                 THEN c.tmax
               ELSE h.valid_to
             END AS valid_to
      FROM hist h
      LEFT JOIN dropped d ON h.user_id = d.user_id, c
      WHERE NOT (h.valid_to IS NULL AND h.state IS NOT DISTINCT FROM 'error'
                 AND h.valid_from > c.cut2)
    ),
    adj2 AS (
      -- v4 is an EQUALITY DELETE (r12): every user_id divisible by 5
      -- still current after v3 is key-deleted at the source, and the
      -- streamed CDF batch must soft-close exactly those versions at tmax
      SELECT user_id, state, valid_from,
             CASE WHEN valid_to IS NULL AND user_id % 5 = 0 THEN c.tmax
                  ELSE valid_to END AS valid_to
      FROM adj, c
    )
    SELECT state,
           COUNT(*) AS n_versions,
           CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_current,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(valid_to - valid_from) AS BIGINT) AS closed_span_us
    FROM adj2 GROUP BY state ORDER BY state
    """,
)
def st22_stream_scd2_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    import collections
    import os as _os

    from pyspark.sql import Window

    from tts_etl_pipeline_spark.functions.bands import band_states
    from tts_etl_pipeline_spark.sources.scd import scd2_apply
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version,
        stream_changes,
        table_changes,
        write_version,
    )

    all_states, _, _, _, tmax = band_states(spark, sf_dir)
    w2 = Window.partitionBy("user_id").orderBy(F.desc("band"))

    def cum(upto: int) -> DataFrame:
        """Current state table after band `upto`: highest band wins."""
        return (
            all_states.filter(F.col("band") <= upto)
            .withColumn("r", F.row_number().over(w2))
            .filter(F.col("r") == 1)
            .select("user_id", "state", "tss")
        )

    with scratch_dir("st22_") as base:
        src = _os.path.join(base, "user_state_src")
        dim = _os.path.join(base, "user_state_dim")
        write_version(cum(1), src)  # v1: snapshot after band 1
        write_version(cum(2), src, mode="overwrite")  # v2: after band 2
        write_version(  # v3: after band 3, error-current users REMOVED
            cum(3).filter(~F.col("state").eqNullSafe(F.lit("error"))),
            src,
            mode="overwrite",
        )
        # v4: a CDC-shaped EQUALITY DELETE (r12) — key values committed
        # without reading a data file; the CDF batch must still deliver
        # the now-invisible rows as deletes, which the fold soft-closes
        eq_keys = sorted(
            r["user_id"]
            for r in read_version(spark, src)
            .filter(F.col("user_id") % 5 == 0)
            .select("user_id")
            .distinct()
            .collect()
        )
        if eq_keys:
            from tts_etl_pipeline_spark.sources.versioned import (
                delete_where_eq,
            )

            delete_where_eq(src, "user_id", eq_keys)

        def fold(batch: DataFrame, version: int) -> None:
            b = materialize(batch)
            ups = b.filter(F.col("_change_type") == "insert").select(
                "user_id", "state", F.col("tss").alias("eff")
            )
            dels = (
                b.filter(F.col("_change_type") == "delete")
                .select("user_id")
                .join(ups.select("user_id"), "user_id", "left_anti")
                .withColumn("eff", F.lit(tmax).cast("long"))
            )
            scd2_apply(
                spark, dim, ups, "user_id", ["state"], "eff", deletes=dels
            )

        head = stream_changes(spark, src, _os.path.join(base, "ck"), fold)
        hist_cols = ["user_id", "state", "valid_from", "valid_to", "is_current"]
        first = materialize(read_version(spark, dim).select(*hist_cols))
        # crash-replay proof: stream_changes re-delivers AT MOST the
        # in-flight version (its return value = the last one processed) —
        # re-folding that LAST batch must be a no-op (upserts
        # match-and-equal; deletes hit already-closed rows)
        replay_batch = table_changes(spark, src, head - 1, head).withColumn(
            "_commit_version", F.lit(head)
        )
        fold(replay_batch, head)
        again = materialize(read_version(spark, dim).select(*hist_cols))
        a = collections.Counter(map(tuple, first.collect()))
        c = collections.Counter(map(tuple, again.collect()))
        if a != c:
            raise RuntimeError(
                f"SCD2 sync replay was not a no-op: {a - c} vs {c - a}"
            )
        return materialize(
            first.groupBy("state")
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
# st23 — streaming POINT-IN-TIME enrichment (the streaming twin of j14, and
# the feature-store contract that online enrichment must equal the offline
# backfill): the events STREAM left-joins the SCD2 dimension on user_id
# equality + the half-open validity residual (valid_from <= ts <
# coalesce(valid_to, +inf)), so every event picks the state that was valid
# AT its event time — never the current state (train/serve skew). The
# dimension is a STATIC side (read_version snapshot) re-read per
# micro-batch, stream-static's contract — no watermark, no join state; the
# disjoint-spans invariant keeps the join at-most-one-match so the stream's
# cardinality is preserved. Aggregation state is bounded by |states| x 2.
# n_users is deliberately absent: COUNT(DISTINCT) is unsupported inside a
# streaming aggregation, and approximating it here would break the exact
# oracle — j14 carries the distinct-user audit on the batch side. Scale
# shape: per micro-batch one broadcast-or-shuffle equi-join (AQE's call —
# the dim is SF-scaling) + a bounded-state aggregate.
# ---------------------------------------------------------------------------
@registry.query(
    "st23_stream_pit_enrichment",
    f"""
    WITH {USER_STATE_HIST_CTES},
    ev AS (
      SELECT user_id, epoch_us(ts) AS tss,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    enriched AS (
      SELECT e.cents, h.state, h.valid_from IS NOT NULL AS matched
      FROM ev e
      LEFT JOIN hist h
        ON e.user_id = h.user_id
       AND e.tss >= h.valid_from
       AND (h.valid_to IS NULL OR e.tss < h.valid_to)
    )
    SELECT matched, state,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM enriched GROUP BY matched, state ORDER BY matched, state
    """,
)
def st23_stream_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.bands import N_BANDS, band_states
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.sources.scd import scd2_apply
    from tts_etl_pipeline_spark.sources.versioned import read_version

    states, _, _, _, _ = band_states(spark, sf_dir)
    with scratch_dir("st23_") as base:
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
        ev = stream_events(spark, sf_dir).select(
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
        agg = enriched.groupBy(
            F.col("valid_from").isNotNull().alias("matched"), "state"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        # the STREAM must fully drain before the dimension tempdir vanishes
        return materialize(
            run_to_memory(agg, "st23").orderBy("matched", "state")
        )


# ---------------------------------------------------------------------------
# st24 — streaming CDC UPSERT sink via EQUALITY DELETES (r12; the write
# direction j26 exists for): a 3-batch CDC feed (per-band latest user
# states; 'error' = CDC delete) drains through foreachBatch into ONE
# atomic upsert_where_eq commit per micro-batch — staged rows + an
# equality-delete file in the same snapshot, ZERO reads of the growing
# table (contrast st7's OR-IGNORE anti-join and merge_upsert's full-outer
# join, both O(table) per batch). Exactly-once comes from manifest-level
# MARKER tokens (the "100 TB shape" st16's docstring points at): the
# second, fresh-checkpoint run re-delivers every batch and must add ZERO
# versions — asserted in-query, as is merge-on-read itself (v1's files
# byte-identical at the head). Oracle: last-writer-wins per user across
# the band sequence, minus users whose final state is the CDC delete.
# ---------------------------------------------------------------------------
@registry.query(
    "st24_stream_cdc_upsert_sink",
    """
    WITH b AS (
      SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS tmin,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
      FROM events
    ),
    c AS (
      SELECT tmin + ((tmax - tmin) // 3) AS cut1,
             tmin + (((tmax - tmin) * 2) // 3) AS cut2
      FROM b
    ),
    ev AS (
      SELECT user_id, event_id, event_type AS state,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tss
      FROM events WHERE user_id IS NOT NULL
    ),
    banded AS (
      SELECT ev.*, CASE WHEN tss <= c.cut1 THEN 1
                        WHEN tss <= c.cut2 THEN 2 ELSE 3 END AS band
      FROM ev, c
    ),
    latest AS (
      SELECT user_id, state, tss, band,
             ROW_NUMBER() OVER (PARTITION BY user_id, band
                                ORDER BY tss DESC, event_id DESC) AS rn
      FROM banded
    ),
    final AS (
      SELECT user_id, state, tss,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY band DESC)
               AS rb
      FROM latest WHERE rn = 1
    )
    SELECT state,
           COUNT(*) AS n_users,
           CAST(SUM(tss) AS BIGINT) AS sum_tss,
           CAST(MIN(tss) AS BIGINT) AS min_tss
    FROM final
    WHERE rb = 1 AND state IS DISTINCT FROM 'error'
    GROUP BY state ORDER BY state
    """,
)
def st24_stream_cdc_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import time

    from tts_etl_pipeline_spark.functions.bands import band_states
    from tts_etl_pipeline_spark.sources.versioned import (
        current_version,
        manifest,
        marker_version,
        read_version,
        upsert_where_eq,
    )

    states, empty, _, _, _ = band_states(spark, sf_dir)
    states = states.filter(F.col("user_id").isNotNull())
    with scratch_dir("st24_") as base:
        feed = _os.path.join(base, "cdc_feed")
        tbl = _os.path.join(base, "user_state_tbl")
        # materialize the CDC feed: one parquet file per band, ascending
        # mtimes so the file stream delivers one micro-batch per band in
        # band order (FileStreamSource orders by timestamp, then path)
        _os.makedirs(feed, exist_ok=True)
        n_bands = 0
        if not empty:
            t0 = time.time()
            for bnd in (1, 2, 3):
                part = states.filter(F.col("band") == bnd).select(
                    "user_id", "state", "tss"
                )
                if part.count() == 0:
                    continue  # a skewed fixture may leave a band empty:
                    # no CDC batch, no feed file, no expected commit
                staging = _os.path.join(base, f"stage{bnd}")
                part.coalesce(1).write.mode("overwrite").parquet(staging)
                src = next(
                    f for f in sorted(_os.listdir(staging))
                    if f.endswith(".parquet")
                )
                dst = _os.path.join(feed, f"band{bnd}.parquet")
                _os.replace(_os.path.join(staging, src), dst)
                _os.utime(dst, (t0 + bnd, t0 + bnd))
                n_bands += 1

        def apply_cdc(batch: DataFrame, bid: int) -> None:
            n = batch.count()
            if n == 0:
                return
            mark = f"st24-band-{bid}"
            if current_version(tbl) > 0 and marker_version(tbl, mark) is not None:
                return  # at-least-once redelivery: already committed
            ups = batch.filter(~F.col("state").eqNullSafe(F.lit("error")))
            dels = [
                r["user_id"]
                for r in batch.filter(F.col("state").eqNullSafe(F.lit("error")))
                .select("user_id")
                .collect()
            ]
            upsert_where_eq(
                ups, tbl, "user_id", delete_keys=dels, marker=mark
            )

        schema = "user_id bigint, state string, tss bigint"
        for run in range(2):  # run 2 = full fresh-checkpoint replay
            if n_bands == 0:
                break
            (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(feed)
                .writeStream.foreachBatch(apply_cdc)
                .option("checkpointLocation", _os.path.join(base, f"ck{run}"))
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
            if run == 0:
                head = current_version(tbl)
                if head != n_bands:
                    raise RuntimeError(
                        f"expected one atomic upsert commit per CDC batch: "
                        f"{head} versions for {n_bands} batches"
                    )
                sig = {
                    f: _os.stat(_os.path.join(tbl, f)).st_mtime_ns
                    for f in manifest(tbl, 1)["files"]
                }
        if n_bands == 0:
            return spark.createDataFrame(
                [], "state string, n_users bigint, sum_tss bigint, min_tss bigint"
            )
        if current_version(tbl) != n_bands:
            raise RuntimeError(
                "the fresh-checkpoint replay added versions — the marker "
                "idempotence probe failed"
            )
        head_m = manifest(tbl, current_version(tbl))
        if {
            f: _os.stat(_os.path.join(tbl, f)).st_mtime_ns
            for f in head_m["files"] if f in sig
        } != sig or not set(sig) <= set(head_m["files"]):
            raise RuntimeError(
                "CDC upserts rewrote v1's files — merge-on-read regressed "
                "to a rewrite"
            )
        return materialize(
            read_version(spark, tbl)
            .groupBy("state")
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("tss").cast("bigint").alias("sum_tss"),
                F.min("tss").cast("bigint").alias("min_tss"),
            )
            .orderBy("state")
        )


# ---------------------------------------------------------------------------
# st25 — INCREMENTAL JOIN-VIEW MAINTENANCE from TWO change feeds
# (sources/ivm.py): st21 maintains a single-table aggregate; this is the
# materialized-view step up — SELECT a.g, COUNT(*), SUM(b.m) over a JOIN,
# kept in sync by the bag-algebra delta rule (ΔA ⋈ B@vb, then A@va ⋈ ΔB,
# signs multiplying) while BOTH base tables take commits. Time travel
# makes the rule exact: each step joins the delta against the precise
# snapshot the state's (va, vb) version vector names, so the telescoping
# sum lands on A@head ⋈ B@head bit-for-bit — no recompute, ever. The
# query drains in TWO maintenance calls around further source commits
# (pinning crash/resume: the vector clock in the state resumes mid-
# backlog), then pins the replay no-op (a third call applies ZERO steps)
# and sums the metric in BIGINT cents so signed folds are exact. Scale
# shape per commit: one CDF read (O(changed files)), a broadcast of the
# commit-sized delta, one manifest-PRUNED counterpart read (the delta's
# key span), one state-sized merge — pruning effectiveness is pinned in
# tests/test_ivm_join.py on a key-clustered layout. The oracle is the
# batch join-aggregate over the final table states, so hash equality
# proves the incremental path CONVERGES to the batch answer.
# ---------------------------------------------------------------------------
@registry.query(
    "st25_ivm_join_from_cdf",
    """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey % 10 <> 0 AND l_orderkey % 7 <> 3
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def st25_ivm_join_from_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from tts_etl_pipeline_spark.sources.ivm import (
        maintain_join_agg_from_cdf,
        read_maintained_join_agg,
    )
    from tts_etl_pipeline_spark.sources.tables import table as _table
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version,
        write_version,
    )

    with scratch_dir("st25_ivm_") as base:
        pa, pb, st = (
            _os.path.join(base, "orders_v"),
            _os.path.join(base, "lines_v"),
            _os.path.join(base, "state"),
        )
        orders = _table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        )
        lines = _table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        ok = F.col("o_orderkey")
        write_version(  # A v1: even orderkeys
            orders.filter(ok % 2 == 0).repartitionByRange(4, "o_orderkey"),
            pa, collect_stats=("o_orderkey",),
        )
        write_version(  # B v1: every line
            lines.repartitionByRange(4, "l_orderkey"),
            pb, collect_stats=("l_orderkey",),
        )
        # first drain: state lands at vector (1, 1)
        maintain_join_agg_from_cdf(
            spark, pa, pb, st, "o_orderkey", "l_orderkey",
            "o_orderstatus", "cents",
        )
        # further source churn on BOTH sides, then resume mid-backlog
        write_version(  # A v2: append the odd half
            orders.filter(ok % 2 == 1).repartitionByRange(4, "o_orderkey"),
            pa, mode="append", collect_stats=("o_orderkey",),
        )
        write_version(  # A v3: delete keys % 10 == 0
            read_version(spark, pa)
            .filter(ok % 10 != 0)
            .repartitionByRange(4, "o_orderkey"),
            pa, mode="overwrite", collect_stats=("o_orderkey",),
        )
        write_version(  # B v2: delete lines with l_orderkey % 7 == 3
            read_version(spark, pb)
            .filter(F.col("l_orderkey") % 7 != 3)
            .repartitionByRange(4, "l_orderkey"),
            pb, mode="overwrite", collect_stats=("l_orderkey",),
        )
        rep = maintain_join_agg_from_cdf(
            spark, pa, pb, st, "o_orderkey", "l_orderkey",
            "o_orderstatus", "cents",
        )
        if rep["a_steps"] != 2 or rep["b_steps"] != 1:
            raise RuntimeError(
                f"the resume must apply exactly the backlog (2,1): {rep}"
            )
        # replay proof: a third drain applies NOTHING and changes nothing
        before = sorted(
            map(tuple, read_maintained_join_agg(spark, st).collect())
        )
        rep3 = maintain_join_agg_from_cdf(
            spark, pa, pb, st, "o_orderkey", "l_orderkey",
            "o_orderstatus", "cents",
        )
        after = sorted(
            map(tuple, read_maintained_join_agg(spark, st).collect())
        )
        if rep3["a_steps"] or rep3["b_steps"] or before != after:
            raise RuntimeError(f"IVM replay was not a no-op: {rep3}")
        return materialize(
            read_maintained_join_agg(spark, st)
            .select(
                "o_orderstatus",
                F.col("cnt").alias("n_items"),
                F.col("s").alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )
