"""Incremental rollup maintenance (sources/rollup.py): applying any split
of the data as sequential deltas must be BIT-IDENTICAL to one batch
recompute, only touched partitions rewrite, and the read view derives
finished metrics correctly."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tts_etl_pipeline_spark.sources.rollup import (
    apply_delta,
    delta_to_state,
    read_rollup,
)
from tts_etl_pipeline_spark.sources.tables import table


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_sequential_deltas_equal_batch_recompute(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    path = os.path.join(str(tmp_path), "rollup")
    # split by event_id parity, apply as two deltas, then a third tiny one
    apply_delta(spark, path, ev.filter(F.col("event_id") % 2 == 0))
    apply_delta(spark, path, ev.filter((F.col("event_id") % 2 == 1) & (F.col("event_id") % 3 != 0)))
    apply_delta(spark, path, ev.filter((F.col("event_id") % 2 == 1) & (F.col("event_id") % 3 == 0)))
    batch = delta_to_state(ev)
    from tts_etl_pipeline_spark.sources.rollup import _read_state
    assert _canon(_read_state(spark, path).select(*batch.columns)) == _canon(batch)


def test_untouched_partitions_not_rewritten(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    path = os.path.join(str(tmp_path), "rollup")
    apply_delta(spark, path, ev)
    # find one day's partition files + mtimes
    days = sorted(d for d in os.listdir(path) if d.startswith("day="))
    assert len(days) > 1
    probe = os.path.join(path, days[0])
    before = {f: os.path.getmtime(os.path.join(probe, f)) for f in os.listdir(probe)}
    # delta touching ONLY the last day
    last_day = days[-1].split("=", 1)[1]
    delta = ev.filter(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == last_day)
    assert delta.count() > 0
    apply_delta(spark, path, delta)
    after = {f: os.path.getmtime(os.path.join(probe, f)) for f in os.listdir(probe)}
    assert before == after  # day[0] untouched by a day[-1] delta


def test_read_view_derives_avg(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events")
    path = os.path.join(str(tmp_path), "rollup")
    apply_delta(spark, path, ev)
    got = {
        (r["day"], r["event_type"]): r for r in read_rollup(spark, path).collect()
    }
    ref = (
        ev.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("sc"),
        )
        .collect()
    )
    for r in ref:
        g = got[(r["day"], r["event_type"])]
        assert g["n_events"] == r["n"]
        assert g["sum_value"] == r["sc"] / 100
        assert g["avg_value"] == (r["sc"] / 100) / r["n"]


def test_streaming_rollup_matches_batch_and_survives_replay(spark, sf_dir, tmp_path):
    """The full continuous-aggregate loop: a real availableNow stream folds
    micro-batches into the rollup through the idempotent foreachBatch
    sink; the final state is bit-identical to one batch recompute, and
    re-folding an already-applied batch id is a no-op (exactly-once under
    foreachBatch's at-least-once replay)."""
    from tts_etl_pipeline_spark.sources.rollup import _read_state, stream_to_rollup
    from tts_etl_pipeline_spark.streaming.events_stream import stream_events

    path = os.path.join(str(tmp_path), "rollup")
    ck = os.path.join(str(tmp_path), "ck")
    stream_to_rollup(stream_events(spark, sf_dir), path, ck)
    batch = delta_to_state(table(spark, sf_dir, "events"))
    assert _canon(_read_state(spark, path).select(*batch.columns)) == _canon(batch)
    # replay simulation: re-invoke the fold with an already-applied id
    before = _canon(_read_state(spark, path).select(*batch.columns))
    import tts_etl_pipeline_spark.sources.rollup as R

    marker = sorted(os.listdir(os.path.join(path, "_applied")))[0]
    bid = int(marker.split("-", 1)[1])
    ev = table(spark, sf_dir, "events")
    assert os.path.exists(os.path.join(path, "_applied", f"batch-{bid}"))
    # a replayed fold sees the marker and skips
    def fold_like_sink(batch_df, batch_id):
        m = os.path.join(path, "_applied", f"batch-{batch_id}")
        if os.path.exists(m):
            return False
        R.apply_delta(spark, path, batch_df)
        return True

    assert fold_like_sink(ev, bid) is False
    after = _canon(_read_state(spark, path).select(*batch.columns))
    assert after == before


def test_corrupt_state_raises_instead_of_first_write_overwrite(spark, sf_dir, tmp_path):
    """A read failure that is NOT 'no state yet' must PROPAGATE: before the
    round-5 review fix, a bare except treated any read error as first
    write and replaced accumulated history with delta-only state."""
    import pytest

    ev = table(spark, sf_dir, "events")
    path = os.path.join(str(tmp_path), "rollup")
    apply_delta(spark, path, ev)
    # corrupt every parquet footer in one day partition
    day_dir = os.path.join(
        path, sorted(d for d in os.listdir(path) if d.startswith("day="))[0]
    )
    for f in os.listdir(day_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(day_dir, f), "r+b") as fh:
                fh.truncate(8)
    bad_day = day_dir.split("=", 1)[1]
    delta = ev.filter(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == bad_day
    )
    assert delta.count() > 0
    with pytest.raises(Exception):
        apply_delta(spark, path, delta)


def test_rollup_merge_any_split_order_converges(spark, sf_dir, tmp_path):
    """Property: for several random hash-splits of the events table, and
    either application order, sequential deltas converge to the identical
    batch-recompute state (associativity + commutativity of the mergeable
    state, bit-exact thanks to the integer-cents discipline)."""
    from tts_etl_pipeline_spark.sources.rollup import _read_state

    ev = table(spark, sf_dir, "events")
    batch = delta_to_state(ev)
    for salt in (7, 11):
        for order in (0, 1):
            path = os.path.join(str(tmp_path), f"r{salt}_{order}")
            parts = [
                ev.filter(F.crc32(F.concat_ws(":", F.lit(salt), "event_id")) % 3 == i)
                for i in range(3)
            ]
            if order:
                parts = parts[::-1]
            for p in parts:
                apply_delta(spark, path, p)
            got = _canon(_read_state(spark, path).select(*batch.columns))
            assert got == _canon(batch), (salt, order)


def test_cdf_maintained_counts_equal_recompute_across_commit_kinds(spark, tmp_path):
    """r7 IVM: maintain_counts_from_cdf folds the streaming change feed
    into a versioned count aggregate. After draining a history that
    includes an initial snapshot, an append, a MERGE (update+delete+
    insert as delete/insert pairs) and a compaction (empty batch), the
    state must equal a full groupBy recompute of the head — and a
    re-delivered batch (crash-before-cursor simulation) must be a no-op
    thanks to the in-commit watermark."""
    import os

    from pyspark.sql import functions as F

    from tts_etl_pipeline_spark.sources.rollup import (
        maintain_counts_from_cdf,
        read_maintained_counts,
    )
    from tts_etl_pipeline_spark.sources.versioned import (
        compact,
        merge_upsert,
        read_version,
        write_version,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    write_version(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b"), (4, None)], "k long, grp string"
        ),
        src,
    )  # v1
    write_version(
        spark.createDataFrame([(5, "b"), (6, "c")], "k long, grp string"), src
    )  # v2 append
    merge_upsert(  # v3: update k=2 -> grp c; delete k=3; insert k=7 grp a
        spark,
        src,
        spark.createDataFrame(
            [(2, "c"), (3, "DEL"), (7, "a")], "k long, grp string"
        ),
        key="k",
        delete_on="s.grp = 'DEL'",
    )
    compact(spark, src)  # v4: empty feed batch

    def expect():
        return {
            r["grp"]: r["n"]
            for r in read_version(spark, src)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    last = maintain_counts_from_cdf(spark, src, state, ckpt, keys=["grp"])
    assert last == 4
    got = {
        r["grp"]: r["cnt"] for r in read_maintained_counts(spark, state).collect()
    }
    assert got == expect()  # incl. the NULL group
    # crash-before-cursor simulation: wipe the cursor, re-drain everything;
    # the watermark inside the state commits makes every batch a no-op
    os.remove(os.path.join(ckpt, "last_version.json"))
    assert maintain_counts_from_cdf(spark, src, state, ckpt, keys=["grp"]) == 4
    got2 = {
        r["grp"]: r["cnt"] for r in read_maintained_counts(spark, state).collect()
    }
    assert got2 == got
    # further source commits fold incrementally
    write_version(
        spark.createDataFrame([(8, None), (9, "c")], "k long, grp string"), src
    )  # v5
    assert maintain_counts_from_cdf(spark, src, state, ckpt, keys=["grp"]) == 5
    got3 = {
        r["grp"]: r["cnt"] for r in read_maintained_counts(spark, state).collect()
    }
    assert got3 == expect()
