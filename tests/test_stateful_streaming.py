"""Stateful streaming queries: st10's cross-batch transition deltas and
st24's CDC upsert sink on a skewed fixture."""

from __future__ import annotations


# --------------------------------------------------------------------------
# st10 — cross-batch transition deltas
# --------------------------------------------------------------------------
def test_st10_delta_semantics_across_simulated_batches():
    """The st10 state function must produce the SAME total matrix whether a
    user's history arrives in one batch or split across several: replay the
    per-batch delta logic by hand over a random event stream and compare
    against the full-order transition count."""
    import numpy as np

    rng = np.random.default_rng(3)
    types = ["a", "b", "c", "d"]
    stream = [(i, types[rng.integers(0, 4)]) for i in range(200)]

    def run(batches):
        last_type = None
        total: dict[tuple[str, str], int] = {}
        for batch in batches:
            for _, et in sorted(batch):
                if last_type is not None:
                    total[(last_type, et)] = total.get((last_type, et), 0) + 1
                last_type = et
        return total

    whole = run([stream])
    for n_splits in (2, 3, 7):
        split = [list(c) for c in np.array_split(np.arange(200), n_splits)]
        batches = [[stream[i] for i in idx] for idx in split]
        assert run(batches) == whole, n_splits


def test_st10_stream_matches_batch_e9(spark, sf_dir):
    """The genuine availableNow run must equal the batch e9 matrix."""
    from tts_etl_pipeline_spark.operators.events import e9_event_transitions
    from tts_etl_pipeline_spark.operators.streaming_queries import (
        st10_stream_transitions,
    )

    got = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["p_transition"])
        for r in st10_stream_transitions(spark, sf_dir).collect()
    }
    expect = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["p_transition"])
        for r in e9_event_transitions(spark, sf_dir).collect()
    }
    assert got == expect


def test_st24_survives_empty_time_bands(spark, sf_dir, tmp_path):
    """r12 review finding 5: a skewed fixture (every event at ONE
    timestamp -> bands 2 and 3 empty) must still produce the CDC-upsert
    result — empty bands write no feed file and expect no commit, they
    never trip the one-commit-per-batch assertion."""
    import pyspark.sql.functions as F

    from tts_etl_pipeline_spark.operators.streaming_queries import (
        st24_stream_cdc_upsert_sink,
    )

    skew = str(tmp_path / "skew_sf")
    import os

    os.makedirs(skew, exist_ok=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(50)
    one_ts = ev.select(F.max("ts").alias("m")).collect()[0]["m"]
    ev.withColumn("ts", F.lit(one_ts).cast(ev.schema["ts"].dataType)).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{skew}/events.parquet")
    out = st24_stream_cdc_upsert_sink(spark, skew)
    rows = out.collect()
    # all events share one band: final state = latest per user, no 'error'
    assert sum(r["n_users"] for r in rows) > 0 or len(rows) == 0
    assert all(r["state"] != "error" for r in rows)
