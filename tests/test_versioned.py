"""Versioned parquet tables (sources/versioned.py): snapshot isolation,
time travel, rollback, vacuum safety."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from tts_etl_pipeline_spark.sources.versioned import (
    current_version,
    history,
    read_version,
    rollback,
    vacuum,
    write_version,
)


def _counts(df):
    return sorted(map(tuple, df.groupBy("k").count().collect()))


def test_append_overwrite_time_travel_and_rollback(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = write_version(spark.range(5).select(F.lit("a").alias("k"), "id"), path)
    v2 = write_version(spark.range(3).select(F.lit("b").alias("k"), "id"), path)
    assert (v1, v2) == (1, 2)
    assert read_version(spark, path, 1).count() == 5
    assert read_version(spark, path, 2).count() == 8  # append folds v1 + v2
    v3 = write_version(
        spark.range(2).select(F.lit("c").alias("k"), "id"), path, mode="overwrite"
    )
    assert read_version(spark, path).count() == 2  # latest = overwritten
    assert read_version(spark, path, 2).count() == 8  # time travel intact
    v4 = rollback(path, 2)
    assert v4 == 4 and current_version(path) == 4
    assert read_version(spark, path).count() == 8  # restored content
    assert [h["version"] for h in history(path)] == [1, 2, 3, 4]
    assert history(path)[3]["mode"] == "rollback"


def test_reader_snapshot_isolated_from_later_commits(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_version(spark.range(10).select(F.lit("x").alias("k"), "id"), path)
    snapshot = read_version(spark, path, 1)  # plan pinned to v1's files
    write_version(spark.range(90).select(F.lit("y").alias("k"), "id"), path)
    assert snapshot.count() == 10  # unaffected by the later commit
    assert read_version(spark, path).count() == 100


def test_vacuum_removes_only_unreferenced_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_version(spark.range(4).select(F.lit("a").alias("k"), "id"), path)
    write_version(
        spark.range(6).select(F.lit("b").alias("k"), "id"), path, mode="overwrite"
    )
    before = set(os.listdir(os.path.join(path, "data")))
    deleted = vacuum(path, keep_versions=1, grace_seconds=0.0)
    after = set(os.listdir(os.path.join(path, "data")))
    assert {os.path.join("data", f) for f in before - after} == set(deleted)
    assert deleted  # v1's files were unreferenced by the latest version
    # the retained version still reads fine; the vacuumed one is gone
    assert read_version(spark, path).count() == 6
    with pytest.raises(Exception):
        read_version(spark, path, 1).count()


def test_errors_on_missing_versions_and_bad_mode(spark, tmp_path):
    path = str(tmp_path / "tbl")
    with pytest.raises(ValueError):
        read_version(spark, path)
    write_version(spark.range(1).select(F.lit("a").alias("k"), "id"), path)
    with pytest.raises(ValueError):
        read_version(spark, path, 7)
    with pytest.raises(ValueError):
        rollback(path, 9)
    with pytest.raises(ValueError):
        write_version(spark.range(1), path, mode="merge")


def test_merge_upsert_update_insert_delete(spark, tmp_path):
    from tts_etl_pipeline_spark.sources.versioned import merge_upsert

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame(
            [(1, "one", 10), (2, "two", 20), (3, "three", 30)], "k long, name string, v long"
        ),
        path,
    )
    source = spark.createDataFrame(
        [(2, "TWO", 200), (4, "four", 40), (3, "three", -1)], "k long, name string, v long"
    )
    v = merge_upsert(spark, path, source, key="k", delete_on="s.v < 0")
    assert v == 2
    got = {r["k"]: (r["name"], r["v"]) for r in read_version(spark, path).collect()}
    assert got == {
        1: ("one", 10),     # untouched target row passes through
        2: ("TWO", 200),    # matched -> update (source wins)
        4: ("four", 40),    # not matched -> insert
    }                        # 3 deleted by the delete_on clause
    # time travel still shows the pre-merge state
    pre = {r["k"] for r in read_version(spark, path, 1).collect()}
    assert pre == {1, 2, 3}


def test_merge_upsert_schema_mismatch_raises(spark, tmp_path):
    from tts_etl_pipeline_spark.sources.versioned import merge_upsert

    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([(1, "a")], "k long, name string"), path)
    bad = spark.createDataFrame([(1, 2.0)], "k long, score double")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(spark, path, bad, key="k")


def test_merge_upsert_edge_semantics(spark, tmp_path):
    """The Delta-contract guards: NULL delete predicate falls through to
    UPDATE; NULL source keys insert (never match, never emit ghost rows);
    duplicate source keys raise; type changes raise."""
    from tts_etl_pipeline_spark.sources.versioned import merge_upsert

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "one", 10), (2, "two", 20)], "k long, name string, v long"),
        path,
    )
    # NULL v -> delete_on 'v < 0' is NULL -> must UPDATE, not delete
    src = spark.createDataFrame([(2, "TWO", None)], "k long, name string, v long")
    merge_upsert(spark, path, src, key="k", delete_on="s.v < 0")
    got = {r["k"]: (r["name"], r["v"]) for r in read_version(spark, path).collect()}
    assert got == {1: ("one", 10), 2: ("TWO", None)}
    # NULL key -> INSERT as its own row, no all-NULL ghost rows
    src = spark.createDataFrame([(None, "nullkey", 5)], "k long, name string, v long")
    merge_upsert(spark, path, src, key="k")
    rows = read_version(spark, path).collect()
    assert len(rows) == 3
    assert any(r["k"] is None and r["name"] == "nullkey" for r in rows)
    assert not any(r["k"] is None and r["name"] is None and r["v"] is None for r in rows)
    # duplicate keys raise
    dup = spark.createDataFrame([(1, "a", 1), (1, "b", 2)], "k long, name string, v long")
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, path, dup, key="k")
    # same names, different type -> schema mismatch
    typed = spark.createDataFrame([(1, "a", 1.5)], "k long, name string, v double")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(spark, path, typed, key="k")
    # delete_on containing a column name inside a string literal: the
    # literal must NOT be rewritten — no row has name == 'v', so nothing
    # is deleted and the matched row updates normally
    lit = spark.createDataFrame([(1, "ONE", 11)], "k long, name string, v long")
    merge_upsert(spark, path, lit, key="k", delete_on="s.name = 'v'")
    got = {r["k"]: r["name"] for r in read_version(spark, path).collect() if r["k"] == 1}
    assert got == {1: "ONE"}


def test_merge_upsert_records_key_stats_for_pruned_reads(spark, tmp_path):
    """merge_upsert commits through merge: every file it writes carries
    the key's min/max in the manifest, so a narrow pruned read on the
    merged snapshot skips files."""
    import tts_etl_pipeline_spark.sources.versioned as V

    path = str(tmp_path / "tbl")
    V.write_version(spark.range(200).selectExpr("id AS k", "id * 2 AS v"), path)
    for lo in (0, 200):  # update every seed row, then insert past them
        src = spark.range(lo, lo + 200).selectExpr("id AS k", "id * 3 AS v")
        v = V.merge_upsert(spark, path, src, key="k")
    m = V.manifest(path, v)
    assert all("k" in m["stats"].get(f, {}) for f in m["files"]), m["stats"]
    df, skipped, total = V.read_version_pruned(spark, path, "k", 10, 12)
    assert (skipped, total) == (1, 2)
    assert sorted(r["v"] for r in df.collect()) == [30, 33, 36]


def test_rollback_to_vacuumed_version_refuses(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_version(spark.range(4).select(F.lit("a").alias("k"), "id"), path)
    write_version(spark.range(6).select(F.lit("b").alias("k"), "id"), path, mode="overwrite")
    assert vacuum(path, keep_versions=1, grace_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        rollback(path, 1)
    # head still healthy
    assert read_version(spark, path).count() == 6


def test_vacuum_noop_and_orphan_manifest_invisible(spark, tmp_path):
    import json
    import os as _os

    path = str(tmp_path / "tbl")
    assert vacuum(path) == []  # nothing committed: maintenance no-op
    write_version(spark.range(3).select(F.lit("a").alias("k"), "id"), path)
    # simulate a torn crash: manifest v2 written, _latest never updated
    orphan = _os.path.join(path, "_versions", "v00000002.json")
    with open(orphan, "w") as fh:
        json.dump({"version": 2, "files": ["data/ghost.parquet"], "parent": 1}, fh)
    # uncommitted version is invisible to readers...
    with pytest.raises(ValueError):
        read_version(spark, path, 2)
    assert read_version(spark, path).count() == 3
    # ...a YOUNG damaged manifest survives a graced vacuum (it could be a
    # writer mid-commit; its ghost files are not adoptable)...
    vacuum(path)
    assert _os.path.exists(orphan)
    assert current_version(path) == 1  # ghost files -> NOT adopted
    # ...and is reclaimed once past the grace period, so no later commit
    # can collide with it
    vacuum(path, grace_seconds=0.0)
    assert not _os.path.exists(orphan)


def test_vacuum_adopts_committed_but_unpointed_manifest(spark, tmp_path):
    """A writer that crashed (or paused) between the manifest CAS — the
    true commit point; content is fsync'd before the link — and the
    _latest advance leaves a fully-valid v2 manifest with a stale pointer.
    vacuum must ADOPT it (advance the pointer under the commit flock),
    never delete it: deleting would let a later commit reuse the version
    number and fork history (round-7 ADVICE)."""
    import json
    import os as _os

    path = str(tmp_path / "tbl")
    write_version(spark.range(3).select(F.lit("a").alias("k"), "id"), path)
    with open(_os.path.join(path, "_versions", "v00000001.json")) as fh:
        m1 = json.load(fh)
    v2 = dict(m1, version=2, parent=1, mode="append")
    with open(_os.path.join(path, "_versions", "v00000002.json"), "w") as fh:
        json.dump(v2, fh)
    assert current_version(path) == 1  # pointer is stale...
    vacuum(path)  # ...until vacuum heals it (default grace: nothing deleted)
    assert current_version(path) == 2
    assert read_version(spark, path).count() == 3
    # subsequent commits continue from the adopted head
    write_version(spark.range(2).select(F.lit("b").alias("k"), "id"), path)
    assert current_version(path) == 3


def test_vacuum_grace_period_protects_young_files(spark, tmp_path):
    """Freshly-staged unreferenced data files — an in-flight writer's
    output already moved into data/ but not yet referenced by a manifest —
    survive a graced vacuum; grace_seconds=0 (quiesced maintenance)
    reclaims them."""
    import os as _os

    path = str(tmp_path / "tbl")
    write_version(spark.range(4).select(F.lit("a").alias("k"), "id"), path)
    staged = _os.path.join(path, "data", "inflight.parquet")
    with open(staged, "wb") as fh:
        fh.write(b"staged, not yet committed")
    assert vacuum(path, keep_versions=1) == []  # young: grace protects it
    assert _os.path.exists(staged)
    assert vacuum(path, keep_versions=1, grace_seconds=0.0) == [
        _os.path.join("data", "inflight.parquet")
    ]
    assert not _os.path.exists(staged)


# ---------------------------------------------------------------------------
# Optimistic concurrency: the manifest-name CAS (round-5 verdict task 5)
# ---------------------------------------------------------------------------
def test_racing_commits_one_winner_one_detected_conflict(spark, tmp_path):
    """Two writers committing from the same base version: exactly one wins,
    the other gets a clean CommitConflictError — never a silent overwrite.
    The loser's staged data stays invisible and a retry from the new head
    lands both appends."""
    from tts_etl_pipeline_spark.sources.versioned import CommitConflictError

    path = str(tmp_path / "tbl")
    write_version(spark.range(5).select(F.lit("a").alias("k"), "id"), path)
    base = current_version(path)
    assert base == 1

    # writer 1 commits from base -> wins v2
    a = spark.range(3).select(F.lit("w1").alias("k"), "id")
    b = spark.range(4).select(F.lit("w2").alias("k"), "id")
    assert write_version(a, path, "append", expected_version=base) == 2
    # writer 2 still believes base=1 -> CAS on v2 must fail, detectably
    with pytest.raises(CommitConflictError):
        write_version(b, path, "append", expected_version=base)
    # the loser changed NOTHING visible: head is v2 with writer 1's rows
    assert current_version(path) == 2
    assert _counts(read_version(spark, path)) == [("a", 5), ("w1", 3)]
    # retry from the fresh head succeeds
    assert write_version(b, path, "append") == 3
    assert _counts(read_version(spark, path)) == [("a", 5), ("w1", 3), ("w2", 4)]
    # the losing attempt's orphaned files are vacuumable, and vacuuming
    # them does not disturb any retained version
    vacuum(path, keep_versions=3, grace_seconds=0.0)
    assert _counts(read_version(spark, path)) == [("a", 5), ("w1", 3), ("w2", 4)]


def test_racing_commits_threaded_exactly_one_winner(spark, tmp_path):
    """A real interleaving: N threads commit from the same base behind a
    barrier; exactly one wins the CAS, the rest raise, and the table ends
    at base+1 with the winner's rows only."""
    import threading

    from tts_etl_pipeline_spark.sources.versioned import CommitConflictError

    path = str(tmp_path / "tbl")
    write_version(spark.range(2).select(F.lit("base").alias("k"), "id"), path)
    base = current_version(path)

    n = 4
    barrier = threading.Barrier(n)
    results: list = [None] * n

    def attempt(i):
        df = spark.range(i + 1).select(F.lit(f"t{i}").alias("k"), "id")
        barrier.wait()
        try:
            results[i] = ("ok", write_version(df, path, "append", expected_version=base))
        except CommitConflictError:
            results[i] = ("conflict", None)

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    winners = [r for r in results if r[0] == "ok"]
    conflicts = [r for r in results if r[0] == "conflict"]
    assert len(winners) == 1 and winners[0][1] == base + 1, results
    assert len(conflicts) == n - 1, results
    assert current_version(path) == base + 1
    # exactly base rows + the single winner's rows are visible
    kinds = {k for (k, _) in _counts(read_version(spark, path))}
    assert "base" in kinds and len(kinds) == 2, kinds


def test_merge_upsert_conflict_when_head_moves(spark, tmp_path, monkeypatch):
    """MERGE computed against snapshot N must NOT silently clobber a commit
    that lands between its read and its write — the write's CAS raises."""
    import tts_etl_pipeline_spark.sources.versioned as V

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v int"), path
    )
    src = spark.createDataFrame([("k2", 20), ("k3", 30)], "k string, v int")

    # interleave: a concurrent append lands AFTER merge captured its base
    real_write = V.write_version_parts
    state = {"raced": False}

    def racing_write(parts, p, **kw):
        if not state["raced"]:
            state["raced"] = True
            V.write_version(
                spark.createDataFrame([("k9", 99)], "k string, v int"), p, "append"
            )
        return real_write(parts, p, **kw)

    monkeypatch.setattr(V, "write_version_parts", racing_write)
    with pytest.raises(V.CommitConflictError):
        V.merge_upsert(spark, path, src, key="k")
    # the concurrent append survived untouched; merge changed nothing
    assert sorted(map(tuple, read_version(spark, path).collect())) == [
        ("k1", 1),
        ("k2", 2),
        ("k9", 99),
    ]
    # retried merge on the fresh head applies cleanly over it
    monkeypatch.setattr(V, "write_version_parts", real_write)
    V.merge_upsert(spark, path, src, key="k")
    assert sorted(map(tuple, read_version(spark, path).collect())) == [
        ("k1", 1),
        ("k2", 20),
        ("k3", 30),
        ("k9", 99),
    ]


# ---------------------------------------------------------------------------
# Schema evolution (r6): add-column appends, schema-correct time travel
# ---------------------------------------------------------------------------
def test_schema_evolution_add_column(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), path
    )
    with_extra = spark.createDataFrame(
        [("c", 3, 9.5)], "k string, v int, score double"
    )
    # undeclared drift is refused...
    with pytest.raises(ValueError, match="merge_schema"):
        write_version(with_extra, path, "append")
    # ...declared evolution commits; old rows serve null for the new column
    v2 = write_version(with_extra, path, "append", merge_schema=True)
    assert v2 == 2
    head = read_version(spark, path)
    assert head.columns == ["k", "v", "score"]
    got = {r["k"]: (r["v"], r["score"]) for r in head.collect()}
    assert got == {"a": (1, None), "b": (2, None), "c": (3, 9.5)}
    # time travel serves the PRE-evolution schema
    assert read_version(spark, path, 1).columns == ["k", "v"]
    # a later append may OMIT the evolved column (its rows read as null)
    write_version(
        spark.createDataFrame([("d", 4)], "k string, v int"), path, "append",
        merge_schema=True,
    )
    got = {r["k"]: r["score"] for r in read_version(spark, path).collect()}
    assert got["d"] is None and got["c"] == 9.5
    assert read_version(spark, path).columns == ["k", "v", "score"]


def test_schema_evolution_type_change_refused(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([("a", 1)], "k string, v int"), path)
    retyped = spark.createDataFrame([("b", "wat")], "k string, v string")
    for flag in (False, True):  # a type change is never an evolution
        with pytest.raises(ValueError, match="cannot change column"):
            write_version(retyped, path, "append", merge_schema=flag)


def test_schema_evolution_rollback_restores_old_schema(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([("a", 1)], "k string, v int"), path)
    write_version(
        spark.createDataFrame([("b", 2, 1.5)], "k string, v int, score double"),
        path, "append", merge_schema=True,
    )
    assert read_version(spark, path).columns == ["k", "v", "score"]
    rollback(path, 1)
    # the restored head serves v1's files AND v1's schema
    head = read_version(spark, path)
    assert head.columns == ["k", "v"]
    assert [tuple(r) for r in head.collect()] == [("a", 1)]
    # history is append-only: the evolved v2 snapshot is still intact
    assert read_version(spark, path, 2).columns == ["k", "v", "score"]


# ---------------------------------------------------------------------------
# Change data feed (r6): row-level diffs between versions, file-diff-bounded
# ---------------------------------------------------------------------------
def test_table_changes_append_and_merge(spark, tmp_path):
    from tts_etl_pipeline_spark.sources.versioned import merge_upsert, table_changes

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v int"), path
    )
    write_version(spark.createDataFrame([("k3", 3)], "k string, v int"), path)
    # append feed: inserts only, exactly the appended rows
    feed = table_changes(spark, path, 1, 2)
    assert sorted(map(tuple, feed.collect())) == [("k3", 3, "insert")]
    # merge (update k2 + insert k4): update surfaces as delete+insert
    merge_upsert(
        spark, path,
        spark.createDataFrame([("k2", 20), ("k4", 40)], "k string, v int"),
        key="k",
    )
    feed = {(r["k"], r["v"], r["_change_type"]) for r in table_changes(spark, path, 2, 3).collect()}
    assert ("k2", 2, "delete") in feed and ("k2", 20, "insert") in feed
    assert ("k4", 40, "insert") in feed
    # unchanged rows never appear, even though the overwrite rewrote them
    # into new files — exceptAll's bag semantics cancels identical rows
    assert ("k1", 1, "insert") not in feed and ("k1", 1, "delete") not in feed
    # same-version feed is empty with a stable schema
    same = table_changes(spark, path, 2, 2)
    assert same.count() == 0 and same.columns == ["k", "v", "_change_type"]
    # rollback feed: restoring v2 deletes the merge's effects
    rollback(path, 2)
    feed = {(r["k"], r["v"], r["_change_type"]) for r in table_changes(spark, path, 3, 4).collect()}
    assert ("k2", 20, "delete") in feed and ("k2", 2, "insert") in feed
    assert ("k4", 40, "delete") in feed
    with pytest.raises(ValueError):
        table_changes(spark, path, 3, 1)  # from > to
    with pytest.raises(ValueError):
        table_changes(spark, path, 1, 99)  # nonexistent


def test_table_changes_across_schema_evolution(spark, tmp_path):
    from tts_etl_pipeline_spark.sources.versioned import table_changes

    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([("a", 1)], "k string, v int"), path)
    write_version(
        spark.createDataFrame([("b", 2, 9.5)], "k string, v int, score double"),
        path, "append", merge_schema=True,
    )
    feed = table_changes(spark, path, 1, 2)
    assert set(feed.columns) == {"k", "v", "score", "_change_type"}
    assert sorted(map(tuple, feed.collect())) == [("b", 2, 9.5, "insert")]


def test_table_changes_guards(spark, tmp_path):
    """Review-pass pins: vacuumed feed raises cleanly; a retyped column
    raises instead of a positional-mismatch diff; _change_type is a
    reserved name."""
    from tts_etl_pipeline_spark.sources.versioned import table_changes

    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([("a", 1)], "k string, v int"), path)
    write_version(
        spark.createDataFrame([("b", 2)], "k string, v int"), path, "overwrite"
    )
    write_version(spark.createDataFrame([("c", 3)], "k string, v int"), path)
    vacuum(path, keep_versions=1, grace_seconds=0.0)  # v1's files are gone
    with pytest.raises(ValueError, match="vacuumed"):
        table_changes(spark, path, 1, 3)
    # retype via unchecked overwrite -> feed across it refuses
    write_version(
        spark.createDataFrame([("d", "wat")], "k string, v string"),
        path, "overwrite",
    )
    with pytest.raises(ValueError, match="retyped"):
        table_changes(spark, path, 3, 4)
    # reserved column name
    p2 = str(tmp_path / "tbl2")
    write_version(
        spark.createDataFrame([("a", "x")], "k string, _change_type string"), p2
    )
    write_version(
        spark.createDataFrame([("b", "y")], "k string, _change_type string"), p2
    )
    with pytest.raises(ValueError, match="reserved"):
        table_changes(spark, p2, 1, 2)


def test_compact_rewrites_files_same_rows_empty_feed(spark, tmp_path):
    """compact() commits the head's rows coalesced into target_files new
    files: row-identical (empty change feed), old version still
    time-travelable, and the commit is conflict-checked against the
    snapshot it compacted."""
    from tts_etl_pipeline_spark.sources.versioned import compact, table_changes

    path = str(tmp_path / "tbl")
    write_version(spark.range(10).select(F.lit("a").alias("k"), "id"), path)
    write_version(spark.range(5).select(F.lit("b").alias("k"), "id"), path)
    assert history(path)[-1]["n_files"] > 1  # append accumulated files
    v = compact(spark, path)
    assert v == 3 and history(path)[-1]["n_files"] == 1
    assert read_version(spark, path).count() == 15
    assert table_changes(spark, path, 2, 3).count() == 0  # bit-identical rows
    assert read_version(spark, path, 2).count() == 15  # time travel intact


def test_stream_changes_equals_batch_cdf_per_commit(spark, tmp_path):
    """Round-7 task: the streaming CDF (per-commit micro-batches with a
    checkpointed cursor) agrees with the batch change feed on EVERY
    commit — across an append, a compaction (same rows, new files: empty
    batch), and an add-column schema evolution — and a restarted stream
    resumes after the checkpointed version with no re-delivery."""
    from tts_etl_pipeline_spark.sources.versioned import (
        stream_changes,
        table_changes,
    )

    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"), path
    )  # v1
    write_version(spark.createDataFrame([(3, "c")], "k long, name string"), path)  # v2
    # v3: compaction — identical rows rewritten into fresh files
    write_version(read_version(spark, path), path, mode="overwrite")  # v3

    batches: dict = {}
    last = stream_changes(
        spark, path, ckpt, lambda df, v: batches.__setitem__(v, df.collect())
    )
    assert last == 3 and set(batches) == {1, 2, 3}
    assert {(r["k"], r["name"], r["_change_type"]) for r in batches[1]} == {
        (1, "a", "insert"),
        (2, "b", "insert"),
    }
    for v in (2, 3):
        got = {(r["k"], r["name"], r["_change_type"]) for r in batches[v]}
        expect = {
            (r["k"], r["name"], r["_change_type"])
            for r in table_changes(spark, path, v - 1, v).collect()
        }
        assert got == expect, v
    assert batches[3] == []  # compaction cancels to an empty feed
    assert all(
        r["_commit_version"] == v for v, rows in batches.items() for r in rows
    )

    # v4: add-column schema evolution; the restarted stream must resume at
    # exactly v4 (checkpoint cursor), in the evolved union schema
    write_version(
        spark.createDataFrame([(4, "d", 1.5)], "k long, name string, score double"),
        path,
        merge_schema=True,
    )
    more: dict = {}
    last = stream_changes(
        spark, path, ckpt, lambda df, v: more.__setitem__(v, df.collect())
    )
    assert last == 4 and set(more) == {4}  # no re-delivery of v1-v3
    got = {
        (r["k"], r["name"], r["score"], r["_change_type"]) for r in more[4]
    }
    expect = {
        (r["k"], r["name"], r["score"], r["_change_type"])
        for r in table_changes(spark, path, 3, 4).collect()
    }
    assert got == expect == {(4, "d", 1.5, "insert")}
    # fully drained: a third run delivers nothing
    assert stream_changes(spark, path, ckpt, lambda df, v: 1 / 0) == 4


@pytest.mark.parametrize("field", ["schema", "committed_at"])
def test_manifest_without_schema_or_commit_time_refuses(spark, tmp_path, field):
    """Every commit records "schema" and "committed_at"; a manifest
    missing either was not written by a commit. Every reader and writer
    refuses it with the one typed error naming the version, and nothing
    is committed."""
    import json
    import time as _time

    from tts_etl_pipeline_spark.sources.versioned import (
        ManifestFormatError,
        _manifest_path,
        branch_head,
        create_branch,
        read_branch,
        read_version_pruned,
        table_changes,
        update_where,
        version_asof,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 2.0), (2, 3.0)], "k int, price double"),
        path,
        collect_stats=("k",),
    )
    create_branch(path, "b")
    mp = _manifest_path(path, 1)
    with open(mp) as fh:
        m = json.load(fh)
    del m[field]
    with open(mp, "w") as fh:
        json.dump(m, fh)
    calls = {
        "read_version": lambda: read_version(spark, path),
        "read_version_pruned": lambda: read_version_pruned(
            spark, path, "k", 1, 1
        ),
        "read_branch": lambda: read_branch(spark, path, "b"),
        "table_changes": lambda: table_changes(spark, path, 1, 1),
        "update_where": lambda: update_where(
            spark, path, "k", 1, 1, {"price": "0.0"}
        ),
        "version_asof": lambda: version_asof(path, _time.time()),
    }
    for name, call in calls.items():
        with pytest.raises(ManifestFormatError, match="version 1 ") as exc:
            call()
        assert field in str(exc.value), name
    assert current_version(path) == 1  # nothing committed
    assert branch_head(path, "b") == 1
    manifests = [f for f in os.listdir(os.path.dirname(mp)) if f[0] == "v"]
    assert manifests == ["v00000001.json"]


def test_stream_changes_refuses_reserved_change_type_at_v1(spark, tmp_path):
    """ADVICE r8: the version-1 snapshot batch must enforce the same
    reserved-name refusal table_changes does — withColumn would otherwise
    silently REPLACE a user column named _change_type in the first
    micro-batch while every later batch raises."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import stream_changes

    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    write_version(
        spark.createDataFrame(
            [(1, "user-owned")], "k long, _change_type string"
        ),
        path,
    )  # v1
    with _pytest.raises(ValueError, match="_change_type"):
        stream_changes(spark, path, ckpt, lambda df, v: df.collect())


def test_rollback_refreshes_mtimes_against_concurrent_vacuum(spark, tmp_path):
    """Review r8: rollback re-references HISTORICAL files that are older
    than any grace window by construction; it must refresh their mtimes
    before committing so a concurrent age-gated vacuum sweep cannot delete
    them between rollback's existence check and the head advance."""
    import time as _time

    from tts_etl_pipeline_spark.sources.versioned import (
        read_version,
        rollback,
        vacuum,
    )

    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([(1, "a")], "k long, v string"), path)
    write_version(
        spark.createDataFrame([(2, "b")], "k long, v string"),
        path,
        mode="overwrite",
    )
    # age v1's (now unreferenced) files far beyond any grace window
    import os as _os

    v1_files = [
        _os.path.join(path, f)
        for f in __import__(
            "tts_etl_pipeline_spark.sources.versioned", fromlist=["x"]
        )._read_manifest(path, 1)["files"]
    ]
    for f in v1_files:
        _os.utime(f, (10_000.0, 10_000.0))
    v3 = rollback(path, 1)
    assert v3 == 3
    # the re-referenced files are fresh again: a vacuum with a 1h grace
    # must NOT delete them, and the rolled-back head stays readable
    for f in v1_files:
        assert _time.time() - _os.path.getmtime(f) < 60
    vacuum(path, keep_versions=1, grace_seconds=3600.0)
    assert {r["v"] for r in read_version(spark, path).collect()} == {"a"}


def test_manifest_stats_pruned_read_exact_and_sound(spark, tmp_path):
    """collect_stats records per-file min/max in the manifest; the pruned
    read (a) skips provably-disjoint files, (b) returns EXACTLY the rows a
    plain filtered snapshot read returns (boundary-inclusive), (c) never
    skips files lacking stats (appends committed without collect_stats
    degrade to a full read, not a wrong answer), and (d) survives rollback
    (immutable files keep their recorded ranges)."""
    from tts_etl_pipeline_spark.sources.versioned import read_version_pruned

    path = str(tmp_path / "t")
    df = spark.range(1000).selectExpr("id AS k", "id % 7 AS g")
    write_version(
        df.repartitionByRange(8, "k"), path, collect_stats=("k",)
    )
    pruned, skipped, total = read_version_pruned(spark, path, "k", 100, 249)
    assert total == 8 and skipped >= total // 2
    expect = sorted(
        (r["k"], r["g"])
        for r in read_version(spark, path).filter(F.col("k").between(100, 249)).collect()
    )
    got = sorted((r["k"], r["g"]) for r in pruned.collect())
    assert got == expect and len(got) == 150  # 100..249 inclusive
    # (c) an append WITHOUT stats: new rows in-range must still surface
    write_version(
        spark.range(2000, 2010).selectExpr("id AS k", "id % 7 AS g"), path
    )
    pruned2, skipped2, total2 = read_version_pruned(spark, path, "k", 2000, 2100)
    assert sorted(r["k"] for r in pruned2.collect()) == list(range(2000, 2010))
    assert skipped2 >= 7  # the 8 stats-bearing v1 files minus any overlap
    # (b2) fully-pruned band: empty result, schema intact
    pruned3, skipped3, total3 = read_version_pruned(spark, path, "k", -50, -1)
    assert pruned3.collect() == [] and pruned3.columns == ["k", "g"]
    assert skipped3 == 8 and total3 == total2  # stats-less files still read
    # (d) rollback to v1 carries the stats forward
    rollback(path, 1)
    pruned4, skipped4, total4 = read_version_pruned(spark, path, "k", 100, 249)
    assert total4 == 8 and skipped4 >= total4 // 2
    assert sorted((r["k"], r["g"]) for r in pruned4.collect()) == expect


def test_manifest_stats_string_bounds_recorded(spark, tmp_path):
    """String columns record truncate(16) BOUNDS (r10 verdict task 4 —
    previously strings were skipped entirely and string predicates pruned
    zero files): bounds must be recorded, must be at most 16 chars +
    widened, and a string-range pruned read must stay value-exact. Files
    with zero row groups still get no entry — degrade to 'always read',
    never to a skipped row."""
    from tts_etl_pipeline_spark.sources.versioned import (
        _read_manifest,
        read_version_pruned,
    )

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id AS k", "CAST(id AS STRING) AS s")
    write_version(df.repartitionByRange(4, "k"), path, collect_stats=("k", "s"))
    stats = _read_manifest(path, 1).get("stats", {})
    assert stats and all("s" in rec and "k" in rec for rec in stats.values())
    for rec in stats.values():
        lo, hi = rec["s"]
        assert isinstance(lo, str) and isinstance(hi, str)
        assert len(lo) <= 16 and len(hi) <= 16
    # string-range pruning is live AND value-exact (row filter on top)
    pruned, skipped, total = read_version_pruned(spark, path, "s", "10", "19")
    assert sorted(r["s"] for r in pruned.collect()) == sorted(
        str(x) for x in range(10, 20)
    )


def test_compact_recollects_stats_and_pruning_survives(spark, tmp_path):
    """OPTIMIZE must not silently turn a pruned table into a full-scan
    table: compact(collect_stats=...) re-collects manifest ranges for the
    rewritten files; a plain compact drops them (new files, no inherited
    ranges) and the pruned read degrades to reading everything — still
    row-correct."""
    from tts_etl_pipeline_spark.sources.versioned import (
        compact,
        read_version_pruned,
    )

    path = str(tmp_path / "t")
    df = spark.range(1000).selectExpr("id AS k")
    write_version(df.repartitionByRange(8, "k"), path, collect_stats=("k",))
    compact(spark, path, target_files=4, collect_stats=("k",))
    pruned, skipped, total = read_version_pruned(spark, path, "k", 0, 99)
    assert skipped >= 1  # coalesce(4) of range-partitioned input stays clustered
    assert sorted(r["k"] for r in pruned.collect()) == list(range(100))
    compact(spark, path, target_files=4)  # stats dropped
    pruned2, skipped2, _ = read_version_pruned(spark, path, "k", 0, 99)
    assert skipped2 == 0
    assert sorted(r["k"] for r in pruned2.collect()) == list(range(100))


def test_version_asof_timestamp_time_travel(spark, tmp_path):
    """timestamp AS OF: the newest version committed at-or-before ts;
    before-everything raises."""
    import time as _time

    from tts_etl_pipeline_spark.sources.versioned import version_asof

    path = str(tmp_path / "t")
    write_version(spark.range(3).selectExpr("id AS k"), path)
    t1 = _time.time()
    _time.sleep(0.05)
    write_version(spark.range(3, 6).selectExpr("id AS k"), path)
    t2 = _time.time()
    assert version_asof(path, t1) == 1
    assert version_asof(path, t2) == 2
    assert version_asof(path, _time.time() + 60) == 2
    assert {r["k"] for r in read_version(spark, path, version_asof(path, t1)).collect()} == {0, 1, 2}
    with pytest.raises(ValueError, match="committed after"):
        version_asof(path, 1.0)


def test_pruned_read_pins_to_old_version(spark, tmp_path):
    """Time travel + manifest pruning compose: a pruned read pinned to
    version 1 serves v1's rows and v1's stats, blind to later appends."""
    from tts_etl_pipeline_spark.sources.versioned import read_version_pruned

    path = str(tmp_path / "t")
    write_version(
        spark.range(100).selectExpr("id AS k").repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    write_version(
        spark.range(100, 200).selectExpr("id AS k").repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    pruned, skipped, total = read_version_pruned(spark, path, "k", 0, 49, version=1)
    assert total == 4 and skipped >= 1  # v1's file set only
    assert sorted(r["k"] for r in pruned.collect()) == list(range(50))
    # at the head the same band still never sees v2's rows, but the file
    # universe is both commits' (v2 files pruned away by their stats)
    pruned2, skipped2, total2 = read_version_pruned(spark, path, "k", 0, 49)
    assert total2 == 8 and skipped2 >= 5
    assert sorted(r["k"] for r in pruned2.collect()) == list(range(50))


def test_write_version_parts_reuse_guards_and_semantics(spark, tmp_path):
    """write_version_parts (round-10): reused parent files carry through
    by reference (names + stats verbatim), zero-row staged files are
    dropped, foreign reuse_files and schema drift are refused, and a
    commit landing between snapshot and write raises CommitConflictError."""
    import os as _os

    from tts_etl_pipeline_spark.sources.versioned import (
        CommitConflictError,
        manifest,
        read_version_files,
        write_version_parts,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(10).selectExpr("id AS k", "id * 2 AS v").coalesce(1),
        path,
        collect_stats=("k",),
    )
    m1 = manifest(path, 1)
    keep = m1["files"]
    assert len(keep) == 1 and m1["stats"][keep[0]]["k"] == [0, 9]
    # commit: reuse v1's file + one new part + one EMPTY part (dropped)
    v = write_version_parts(
        [
            spark.range(10, 15).selectExpr("id AS k", "id * 2 AS v"),
            spark.range(0).selectExpr("id AS k", "id * 2 AS v"),
        ],
        path,
        reuse_files=keep,
        expected_version=1,
        collect_stats=("k",),
    )
    m2 = manifest(path, v)
    assert keep[0] in m2["files"]
    assert m2["stats"][keep[0]]["k"] == [0, 9]  # parent stats carried verbatim
    new_files = [f for f in m2["files"] if f != keep[0]]
    assert len(new_files) >= 1  # empty part staged no surviving file
    import pyarrow.parquet as pq

    assert all(
        pq.ParquetFile(_os.path.join(path, f)).metadata.num_rows > 0
        for f in new_files
    )
    assert sorted(r["k"] for r in read_version(spark, path, v).collect()) == list(
        range(15)
    )
    # subset read serves only the requested files
    only_new = read_version_files(spark, path, v, new_files)
    assert sorted(r["k"] for r in only_new.collect()) == list(range(10, 15))
    with pytest.raises(ValueError, match="not referenced"):
        read_version_files(spark, path, v, ["data/nope.parquet"])
    # guards
    with pytest.raises(ValueError, match="not referenced"):
        write_version_parts(
            [spark.range(1).selectExpr("id AS k", "id AS v")],
            path,
            reuse_files=["data/nope.parquet"],
            expected_version=v,
        )
    with pytest.raises(ValueError, match="differs from the table schema"):
        write_version_parts(
            [spark.range(1).selectExpr("id AS k")],
            path,
            reuse_files=[],
            expected_version=v,
        )
    # conflict: another writer commits v+1 first
    write_version(spark.range(1).selectExpr("id AS k", "id AS v"), path)
    with pytest.raises(CommitConflictError):
        write_version_parts(
            [spark.range(1).selectExpr("id AS k", "id AS v")],
            path,
            reuse_files=[],
            expected_version=v,
        )


def test_large_snapshot_reads_through_hardlink_dir(spark, tmp_path):
    """>=256-file snapshots read through the content-addressed hardlink
    directory (round-10: explicit multi-path reads cost ~1.5 ms/path of
    driver-side qualification; one directory path resolves in one
    listing). Pinned: the scan's inputFiles live under _snapshots/<hash>,
    row content round-trips exactly, the dir is REUSED across reads
    (content-addressed cache), snapshot isolation against a later commit
    holds, and vacuum(grace=0) sweeps the dirs."""
    import os as _os

    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    write_version(
        spark.range(600).selectExpr("id AS k").repartition(300), path
    )
    n_files = len(V.manifest(path, 1)["files"])
    assert n_files >= 256  # above the linkdir threshold
    df1 = read_version(spark, path)
    scanned = df1.inputFiles()
    assert len(scanned) == n_files
    assert all("/_snapshots/" in f for f in scanned), scanned[:2]
    assert sorted(r["k"] for r in df1.collect()) == list(range(600))
    snap_root = _os.path.join(path, "_snapshots")
    dirs1 = set(_os.listdir(snap_root))
    assert len(dirs1) == 1
    read_version(spark, path).count()  # re-read: same content hash, no new dir
    assert set(_os.listdir(snap_root)) == dirs1
    # snapshot isolation: v1 pinned reads still serve v1 after an append
    write_version(spark.range(600, 700).selectExpr("id AS k"), path)
    assert read_version(spark, path, 1).count() == 600
    assert read_version(spark, path).count() == 700
    # small file sets stay on the explicit-path reader (no linkdir churn)
    sub = V.read_version_files(
        spark, path, 1, V.manifest(path, 1)["files"][:10]
    )
    assert all("/_snapshots/" not in f for f in sub.inputFiles())
    # RETAINED versions' linkdirs survive any vacuum (a live reader of the
    # head must never lose its planned file set to a maintenance pass)...
    from tts_etl_pipeline_spark.sources.versioned import vacuum

    vacuum(path, keep_versions=99, grace_seconds=0.0)
    assert dirs1 <= set(_os.listdir(snap_root))
    assert read_version(spark, path, 1).count() == 600
    # ...but dropping v1 from retention sweeps its (content-addressed)
    # linkdir; a later time-travel read just rebuilds the artifact because
    # v2 — an append — still references every v1 data file
    vacuum(path, keep_versions=1, grace_seconds=0.0)
    assert not (dirs1 & set(_os.listdir(snap_root)))
    assert read_version(spark, path).count() == 700
    assert read_version(spark, path, 1).count() == 600


def test_clone_table_zero_copy_independent_lineage(spark, tmp_path):
    """clone_table (round-10): the clone serves the source's rows and
    per-file stats WITHOUT copying bytes (hardlinks — shared inodes), then
    lives its own life: commits to either table are invisible to the
    other, the clone's pruned reads plan from the carried stats, cloning a
    historical version time-travels, and either side's vacuum never
    breaks the other (unlink removes a NAME, data survives while any
    table references it)."""
    import os as _os

    from tts_etl_pipeline_spark.sources.versioned import (
        clone_table,
        manifest,
        read_version_pruned,
        vacuum,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_version(
        spark.range(100).selectExpr("id AS k").repartitionByRange(4, "k"),
        src,
        collect_stats=("k",),
    )
    write_version(
        spark.range(100, 200).selectExpr("id AS k"), src, collect_stats=("k",)
    )
    assert clone_table(src, dst) == 1
    assert sorted(r["k"] for r in read_version(spark, dst).collect()) == list(range(200))
    # zero-copy: shared inodes, stats carried -> pruning plans identically
    sm, dm = manifest(src, 2), manifest(dst, 1)
    src_inodes = {_os.stat(_os.path.join(src, f)).st_ino for f in sm["files"]}
    dst_inodes = {_os.stat(_os.path.join(dst, f)).st_ino for f in dm["files"]}
    assert src_inodes == dst_inodes
    pruned, skipped, total = read_version_pruned(spark, dst, "k", 0, 24)
    assert skipped >= 3 and sorted(r["k"] for r in pruned.collect()) == list(range(25))
    # independent lineage: divergent commits stay invisible to each other
    write_version(spark.range(500, 501).selectExpr("id AS k"), dst)
    assert read_version(spark, src).count() == 200
    assert read_version(spark, dst).count() == 201
    # cloning a historical version time-travels
    dst2 = str(tmp_path / "dst2")
    clone_table(src, dst2, version=1)
    assert read_version(spark, dst2).count() == 100
    # clobbering an existing table refuses
    with pytest.raises(ValueError, match="already a table"):
        clone_table(src, dst)
    # source vacuum cannot break the clone: drop src to head-only, then
    # read the clone of the VACUUMED version
    write_version(spark.range(1).selectExpr("id AS k"), src, mode="overwrite")
    vacuum(src, keep_versions=1, grace_seconds=0.0)
    with pytest.raises(Exception):
        read_version(spark, src, 1).count()  # gone at the source...
    assert read_version(spark, dst2).count() == 100  # ...alive in the clone


# ---------------------------------------------------------------------------
# Row-level DELETE/UPDATE with manifest-level file pruning (round-10):
# only files whose recorded range intersects the predicate are rewritten;
# provably-disjoint files ride by reference.
# ---------------------------------------------------------------------------


def _stat_ident(path, f):
    import os as _os

    st = _os.stat(_os.path.join(path, f))
    return (st.st_ino, st.st_mtime_ns)


def _kv_table(spark, path):
    from tts_etl_pipeline_spark.sources.versioned import write_version

    df = spark.range(100).selectExpr(
        "CAST(id AS INT) AS k",
        "CAST(id * 2 AS INT) AS v",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id AS INT) END AS nk",
    )
    write_version(df.repartitionByRange(4, "k"), path, collect_stats=("k",))


def test_delete_where_prunes_disjoint_files(spark, tmp_path):
    """A narrow DELETE rewrites only the intersecting file(s); the other
    range files ride by reference (same name, inode+mtime identity), the
    survivors are exact, and the change feed is exactly the deleted rows."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where,
        manifest,
        read_version,
        table_changes,
    )

    path = str(tmp_path / "t")
    _kv_table(spark, path)
    m1 = manifest(path, 1)
    untouched = [
        f for f in m1["files"]
        if m1["stats"][f]["k"][0] > 19 or m1["stats"][f]["k"][1] < 10
    ]
    assert untouched  # fixture must exercise the pruned arm
    ident = {f: _stat_ident(path, f) for f in untouched}
    assert delete_where(spark, path, "k", 10, 19) == 2
    m2 = manifest(path, 2)
    for f, i in ident.items():
        assert f in set(m2["files"]) and _stat_ident(path, f) == i
    left = sorted(r["k"] for r in read_version(spark, path).collect())
    assert left == [k for k in range(100) if not 10 <= k <= 19]
    feed = sorted(
        (r["k"], r["_change_type"])
        for r in table_changes(spark, path, 1, 2).collect()
    )
    assert feed == [(k, "delete") for k in range(10, 20)]
    # rewritten file carries fresh k stats: a second pruned delete still
    # skips the untouched files
    assert all("k" in m2["stats"].get(f, {}) for f in m2["files"])


def test_delete_where_noop_and_null_and_condition(spark, tmp_path):
    """An all-miss predicate returns None without committing; NULL `col`
    rows are never deleted by a range (SQL WHERE semantics); `condition`
    narrows within the range."""
    from tts_etl_pipeline_spark.sources.versioned import (
        current_version,
        delete_where,
        read_version,
    )

    path = str(tmp_path / "t")
    _kv_table(spark, path)
    assert delete_where(spark, path, "k", 500, 600) is None  # stats-pruned
    assert delete_where(spark, path, "k", 10, 19,
                        condition="v > 1000000000") is None
    assert current_version(path) == 1  # no burned commits
    # nk is NULL on multiples of 3: a whole-range delete on nk keeps them
    assert delete_where(spark, path, "nk", 0, 1000) == 2
    left = read_version(spark, path)
    assert left.filter("nk IS NOT NULL").count() == 0
    assert left.count() == 34  # the NULL-nk rows (0,3,...,99)
    # condition narrows: delete only even k among the survivors' range
    assert delete_where(spark, path, "k", 0, 30, condition="k % 2 = 0") == 3
    ks = sorted(r["k"] for r in read_version(spark, path).collect())
    assert all(k % 3 == 0 for k in ks)
    assert [k for k in ks if k <= 30] == [3, 9, 15, 21, 27]
    # empty table refuses (the read_version "no versions" contract)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no versions"):
        delete_where(spark, str(tmp_path / "none"), "k", 0, 1)


def test_delete_where_everything_leaves_readable_empty_table(spark, tmp_path):
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where,
        read_version,
    )

    path = str(tmp_path / "t")
    _kv_table(spark, path)
    assert delete_where(spark, path, "k", -1, 1000) == 2
    df = read_version(spark, path)
    assert df.count() == 0
    assert df.columns == ["k", "v", "nk"]  # schema survives the empty state


def test_update_where_pre_update_semantics_and_pruning(spark, tmp_path):
    """UPDATE applies assignments against the PRE-update row (swaps are
    well-defined), rewrites only intersecting files, and the change feed
    is delete+insert pairs for exactly the touched rows."""
    from pyspark.sql import functions as F

    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        read_version,
        table_changes,
        update_where,
    )

    path = str(tmp_path / "t")
    _kv_table(spark, path)
    m1 = manifest(path, 1)
    untouched = [f for f in m1["files"] if m1["stats"][f]["k"][0] > 29]
    ident = {f: _stat_ident(path, f) for f in untouched}
    v = update_where(
        spark, path, "k", 20, 29,
        {"v": "v + 1000", "k": F.col("v")},  # k reads the OLD v
        condition="k % 2 = 0",
    )
    assert v == 2
    m2 = manifest(path, 2)
    for f, i in ident.items():
        assert f in set(m2["files"]) and _stat_ident(path, f) == i
    got = sorted(
        (r["k"], r["v"])
        for r in read_version(spark, path).filter("v >= 1000").collect()
    )
    assert got == [(2 * k, 2 * k + 1000) for k in range(20, 30, 2)]
    feed = table_changes(spark, path, 1, 2)
    assert feed.count() == 10  # 5 deletes + 5 inserts
    assert feed.filter("_change_type = 'delete'").count() == 5
    # untouched rows inside the rewritten file are carried verbatim
    assert read_version(spark, path).count() == 100


def test_update_where_guards(spark, tmp_path):
    """Unknown assignment columns raise; a type-changing assignment is
    refused by the commit-time schema check (UPDATE never evolves the
    schema); an all-miss UPDATE returns None without committing."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        current_version,
        update_where,
    )

    path = str(tmp_path / "t")
    _kv_table(spark, path)
    with _pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, path, "k", 0, 1, {"zzz": "1"})
    with _pytest.raises(ValueError, match="schema"):
        update_where(spark, path, "k", 0, 50, {"v": "'not an int'"})
    assert update_where(spark, path, "k", 500, 600, {"v": "v"}) is None
    assert update_where(spark, path, "k", 0, 50, {"v": "v"},
                        condition="v < 0") is None
    assert current_version(path) == 1


# ---------------------------------------------------------------------------
# CHECK constraints (round-10): ALTER TABLE ADD/DROP CONSTRAINT, enforced
# at EVERY commit path against the staged rows, SQL CHECK truth.
# ---------------------------------------------------------------------------


def test_check_constraints_lifecycle(spark, tmp_path):
    """add validates existing rows then commits METADATA-ONLY (same files,
    empty change feed); NULL passes CHECK; a violating append is refused
    with nothing committed; drop re-opens the gate; per-version metadata
    answers 'what was enforced then'."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        add_constraint,
        current_version,
        drop_constraint,
        manifest,
        read_version,
        table_changes,
        table_constraints,
        write_version,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, None)], "k int, price double, tag string"
    )
    write_version(df, path)
    assert add_constraint(spark, path, "price_nonneg", "price >= 0") == 2
    assert manifest(path, 2)["files"] == manifest(path, 1)["files"]
    assert table_changes(spark, path, 1, 2).count() == 0
    assert table_constraints(path) == {"price_nonneg": "price >= 0"}
    assert table_constraints(path, 1) == {}  # per-version metadata
    # NULL passes (SQL CHECK truth)
    write_version(spark.createDataFrame([(3, None, "x")], df.schema), path)
    # violating append refused, head unchanged, staged rows invisible
    with _pytest.raises(ConstraintViolationError, match="price_nonneg"):
        write_version(spark.createDataFrame([(4, -5.0, "x")], df.schema), path)
    assert current_version(path) == 3
    assert read_version(spark, path).count() == 3
    # violating ADD refused (existing NULL tag row)
    with _pytest.raises(ConstraintViolationError, match="existing rows"):
        add_constraint(spark, path, "tag_req", "tag IS NOT NULL")
    with _pytest.raises(ValueError, match="already exists"):
        add_constraint(spark, path, "price_nonneg", "price >= 0")
    with _pytest.raises(ValueError, match="no constraint"):
        drop_constraint(path, "nope")
    drop_constraint(path, "price_nonneg")
    assert table_constraints(path) == {}
    write_version(spark.createDataFrame([(9, -1.0, "y")], df.schema), path)
    assert read_version(spark, path).count() == 4


def test_check_constraints_cover_every_commit_path(spark, tmp_path):
    """merge_upsert, update_where, the SCD2 fold (write_version_parts) and
    the clone all enforce the table's constraints; compact/clone carry
    them forward."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.scd import scd2_apply
    from tts_etl_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        add_constraint,
        clone_table,
        compact,
        current_version,
        merge_upsert,
        table_constraints,
        update_where,
        write_version,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10.0)], "k int, price double")
    write_version(df, path)
    add_constraint(spark, path, "nonneg", "price >= 0")
    with _pytest.raises(ConstraintViolationError, match="nonneg"):
        merge_upsert(
            spark, path, spark.createDataFrame([(1, -1.0)], df.schema), "k"
        )
    with _pytest.raises(ConstraintViolationError, match="nonneg"):
        update_where(spark, path, "k", 1, 1, {"price": "-99.0"})
    assert current_version(path) == 2  # nothing burned
    # valid mutations still commit
    assert update_where(spark, path, "k", 1, 1, {"price": "price + 1"}) == 3
    # compact carries constraints (write_version_parts inherit)
    write_version(spark.createDataFrame([(2, 5.0)], df.schema), path)
    assert compact(spark, path) is not None
    assert table_constraints(path) == {"nonneg": "price >= 0"}
    # clone carries them and enforces independently
    dst = str(tmp_path / "t2")
    clone_table(path, dst)
    assert table_constraints(dst) == {"nonneg": "price >= 0"}
    with _pytest.raises(ConstraintViolationError):
        write_version(spark.createDataFrame([(3, -1.0)], df.schema), dst)
    # the SCD2 fold enforces constraints on the history it stages
    dim = str(tmp_path / "dim")
    scd2_apply(spark, dim,
               spark.createDataFrame([(1, "ok", 10)],
                                     "k int, state string, eff long"),
               "k", ["state"], "eff")
    add_constraint(spark, dim, "state_domain", "state <> 'bad'")
    with _pytest.raises(ConstraintViolationError, match="state_domain"):
        scd2_apply(spark, dim,
                   spark.createDataFrame([(1, "bad", 20)],
                                         "k int, state string, eff long"),
                   "k", ["state"], "eff")
    assert current_version(dim) == 2
    scd2_apply(spark, dim,
               spark.createDataFrame([(1, "fine", 20)],
                                     "k int, state string, eff long"),
               "k", ["state"], "eff")
    assert current_version(dim) == 3


# ---------------------------------------------------------------------------
# Bloom sidecars (round-10): SOUND equality file-skipping where range
# stats cannot serve — string keys, hash-distributed layouts.
# ---------------------------------------------------------------------------


def _bloom_table(spark, path, n=4000):
    from tts_etl_pipeline_spark.sources.versioned import write_version

    df = spark.range(n).selectExpr(
        "id AS k", "CAST(id AS STRING) AS sk", "id * 2 AS v"
    )
    # hash layout: every file's k range spans ~[0, n) — range stats skip 0
    write_version(
        df.repartition(8, "k"), path,
        collect_stats=("k",), collect_blooms=("k", "sk"),
    )


def test_bloom_pruned_equality_read(spark, tmp_path):
    """On a hash-distributed layout, range pruning keeps every file while
    the bloom skips all but the true one(s) — for int AND string keys; an
    absent value skips everything; results always equal the unpruned
    filter (no false negatives, ever)."""
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version,
        read_version_bloom_pruned,
        read_version_pruned,
    )

    path = str(tmp_path / "t")
    _bloom_table(spark, path)
    _, range_skipped, total = read_version_pruned(spark, path, "k", 1234, 1234)
    assert (range_skipped, total) == (0, 8)  # ranges are useless here
    df, skipped, total = read_version_bloom_pruned(spark, path, "k", 1234)
    assert total == 8 and skipped >= 4  # typically 7; fpp may cost a file
    assert [r["v"] for r in df.collect()] == [2468]
    sdf, sskip, _ = read_version_bloom_pruned(spark, path, "sk", "777")
    assert sskip >= 4 and [r["k"] for r in sdf.collect()] == [777]
    adf, askip, _ = read_version_bloom_pruned(spark, path, "k", 999999)
    assert adf.count() == 0  # absent value: no false negatives possible
    # parity with the unpruned filter for a spread of probes
    for probe in (0, 1, 1999, 3999):
        a = read_version_bloom_pruned(spark, path, "k", probe)[0].collect()
        b = read_version(spark, path).filter(f"k = {probe}").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bloom_carry_append_clone_rollback_compact(spark, tmp_path):
    """Blooms ride commits exactly like stats: appends carry the parent
    map, clones copy the sidecars under their own _versions (independent
    lineage), rollback restores the target's map, compact re-collects on
    request."""
    from tts_etl_pipeline_spark.sources.versioned import (
        clone_table,
        compact,
        read_version_bloom_pruned,
        rollback,
        write_version,
    )

    path = str(tmp_path / "t")
    _bloom_table(spark, path)
    write_version(
        spark.range(4000, 4100).selectExpr(
            "id AS k", "CAST(id AS STRING) AS sk", "id * 2 AS v"
        ),
        path,
        collect_blooms=("k",),
    )
    df, skipped, total = read_version_bloom_pruned(spark, path, "k", 4050)
    assert total > 8 and skipped >= total - 3 and df.count() == 1
    dst = str(tmp_path / "c")
    clone_table(path, dst)
    # the clone's sidecars live under ITS _versions — nuking the source's
    # metadata must not break the clone's pruned reads
    import shutil as _sh

    cdf, cskip, ctot = read_version_bloom_pruned(spark, dst, "k", 1234)
    assert cskip >= ctot - 3 and cdf.count() == 1
    rollback(path, 1)
    _, rskip, rtot = read_version_bloom_pruned(spark, path, "k", 1234)
    assert rtot == 8 and rskip >= 4
    compact(spark, path, target_files=2, collect_blooms=("k",))
    qdf, qskip, qtot = read_version_bloom_pruned(spark, path, "k", 1234)
    assert qtot == 2 and qskip == 1 and qdf.count() == 1
    _sh.rmtree(path)  # source gone entirely
    c2, cskip2, _ = read_version_bloom_pruned(spark, dst, "k", 777)
    assert cskip2 >= 8 and c2.count() == 1


def test_bloom_sidecar_vacuum_and_damage_degradation(spark, tmp_path):
    """vacuum sweeps aged UNREFERENCED sidecars (lost-CAS orphans) and
    keeps referenced ones; a damaged referenced sidecar degrades pruning
    to a full read — never a wrong answer."""
    import os as _os
    import time as _time

    from tts_etl_pipeline_spark.sources.versioned import (
        current_version,
        manifest,
        read_version_bloom_pruned,
        vacuum,
    )

    path = str(tmp_path / "t")
    _bloom_table(spark, path)
    orphan = _os.path.join(path, "_versions", "blooms-00orphan.json")
    with open(orphan, "w", encoding="utf-8") as fh:
        fh.write("{}")
    _os.utime(orphan, (_time.time() - 7200, _time.time() - 7200))
    deleted = vacuum(path, keep_versions=10, grace_seconds=3600)
    assert any("blooms-00orphan" in d for d in deleted)
    refd = set(manifest(path, current_version(path)).get("blooms", {}).values())
    assert refd and all(_os.path.exists(_os.path.join(path, sc)) for sc in refd)
    # damage the referenced sidecar: reads degrade, answers stay right
    sc = sorted(refd)[0]
    with open(_os.path.join(path, sc), "w", encoding="utf-8") as fh:
        fh.write("not json")
    df, skipped, total = read_version_bloom_pruned(spark, path, "k", 1234)
    assert skipped == 0 and total == 8  # full read, no crash
    assert [r["v"] for r in df.collect()] == [2468]


def test_check_constraints_gate_streaming_sink_commits(spark, tmp_path):
    """The streaming exactly-once sink (st16's foreachBatch ->
    write_version shape) inherits CHECK enforcement like every other
    commit path: a micro-batch carrying a violating row fails its commit
    with ConstraintViolationError and the table head never advances."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        add_constraint,
        current_version,
        write_version,
    )

    path = str(tmp_path / "sink")
    write_version(
        spark.createDataFrame([(1, 5.0)], "k int, price double"), path
    )
    add_constraint(spark, path, "nonneg", "price >= 0")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(2, 7.0), (3, -1.0)], "k int, price double"
    ).write.parquet(src)
    stream = spark.readStream.schema("k int, price double").parquet(src)

    def sink(batch_df, batch_id):
        write_version(batch_df, path)

    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    with _pytest.raises(Exception) as ei:
        q.awaitTermination()
    # Spark wraps the Python error in StreamingQueryException; the typed
    # cause must be visible in the message chain
    assert "ConstraintViolationError" in str(ei.value) or isinstance(
        ei.value, ConstraintViolationError
    )
    assert current_version(path) == 2  # the violating commit never landed


# ---------------------------------------------------------------------------
# Column evolution (round-10): RENAME/DROP via column mapping — metadata
# only, stable physical names, zero data rewrite.
# ---------------------------------------------------------------------------


def test_rename_column_metadata_only_stable_physicals(spark, tmp_path):
    """RENAME commits metadata only (same files, empty feed); time travel
    serves the old name; stats AND bloom pruning survive (physical-keyed);
    appends, mutations and constraints all speak the new name."""
    from tts_etl_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        add_constraint,
        delete_where,
        manifest,
        read_version,
        read_version_bloom_pruned,
        read_version_pruned,
        rename_column,
        table_changes,
        update_where,
        write_version,
    )

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id * 2.0 AS DOUBLE) AS price",
        "CAST(id AS STRING) AS tag",
    )
    write_version(df.repartitionByRange(4, "k"), path,
                  collect_stats=("k",), collect_blooms=("tag",))
    assert rename_column(path, "price", "price_usd") == 2
    assert manifest(path, 2)["files"] == manifest(path, 1)["files"]
    assert table_changes(spark, path, 1, 2).count() == 0
    assert read_version(spark, path).columns == ["k", "price_usd", "tag"]
    assert read_version(spark, path, 1).columns == ["k", "price", "tag"]
    assert read_version(spark, path).filter("k = 7").collect()[0]["price_usd"] == 14.0
    _, skipped, total = read_version_pruned(spark, path, "k", 10, 19)
    assert (skipped, total) == (3, 4)  # range pruning alive post-rename
    bdf, bskip, _ = read_version_bloom_pruned(spark, path, "tag", "55")
    assert bskip >= 2 and bdf.count() == 1  # bloom pruning alive too
    write_version(
        spark.createDataFrame([(200, 9.0, "x")],
                              "k int, price_usd double, tag string"), path)
    assert read_version(spark, path).filter("k = 200").collect()[0]["price_usd"] == 9.0
    update_where(spark, path, "k", 7, 7, {"price_usd": "price_usd + 100"})
    assert read_version(spark, path).filter("k = 7").collect()[0]["price_usd"] == 114.0
    delete_where(spark, path, "k", 8, 8)
    add_constraint(spark, path, "pos", "price_usd >= 0")
    with pytest.raises(ConstraintViolationError):
        write_version(
            spark.createDataFrame([(201, -1.0, "y")],
                                  "k int, price_usd double, tag string"), path)
    # a constraint mentioning the column blocks a further rename
    with pytest.raises(ValueError, match="mention column"):
        rename_column(path, "price_usd", "usd")
    with pytest.raises(ValueError, match="no column"):
        rename_column(path, "ghost", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(path, "tag", "k")


def test_drop_and_readd_column_never_resurrects_stale_data(spark, tmp_path):
    """DROP is metadata-only; time travel pre-drop still serves the
    column; a RE-ADDED column with the same logical name gets a fresh
    physical, so old files serve NULL — never the retired generation's
    bytes."""
    from tts_etl_pipeline_spark.sources.versioned import (
        drop_column,
        manifest,
        read_version,
        rename_column,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 5.0, "old")],
                              "k int, price double, tag string"), path)
    rename_column(path, "price", "price_usd")  # mapping active
    v3 = drop_column(path, "tag")
    assert manifest(path, v3)["files"] == manifest(path, v3 - 1)["files"]
    assert read_version(spark, path).columns == ["k", "price_usd"]
    assert read_version(spark, path, 2).columns == ["k", "price_usd", "tag"]
    assert "tag" in manifest(path, v3)["dropped_physicals"]
    write_version(
        spark.createDataFrame([(2, 6.0, "new")],
                              "k int, price_usd double, tag string"),
        path, merge_schema=True)
    rows = {r["k"]: r["tag"] for r in read_version(spark, path).collect()}
    assert rows == {1: None, 2: "new"}  # stale 'old' never resurfaces
    m = manifest(path, v3 + 1)
    assert m["colmap"]["tag"] != "tag"  # fresh collision-free physical
    with pytest.raises(ValueError, match="no column"):
        drop_column(path, "ghost")
    p2 = str(tmp_path / "one")
    write_version(spark.createDataFrame([(1,)], "k int"), p2)
    with pytest.raises(ValueError, match="last column"):
        drop_column(p2, "k")


def test_change_feed_across_rename_uses_stable_physicals(spark, tmp_path):
    """The feed keys its union schema by PHYSICAL name: a renamed column
    appears ONCE under the TO-version's label; a compaction after the
    rename still cancels to an empty-delta feed; a drop/re-add span
    disambiguates the two generations."""
    from tts_etl_pipeline_spark.sources.versioned import (
        compact,
        drop_column,
        merge_upsert,
        read_version,
        rename_column,
        table_changes,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(spark.createDataFrame([(1, 10.0)], "k int, price double"), path)
    rename_column(path, "price", "price_usd")
    write_version(spark.createDataFrame([(2, 20.0)], "k int, price_usd double"), path)
    feed = table_changes(spark, path, 1, 3)
    assert feed.columns == ["k", "price_usd", "_change_type"]
    assert sorted(map(tuple, feed.collect())) == [(2, 20.0, "insert")]
    compact(spark, path)
    assert table_changes(spark, path, 3, 4).count() == 0  # still cancels
    assert table_changes(spark, path, 2, 4).count() == 1  # just the insert
    # merge (an overwrite under the mapping) reports under the new name
    merge_upsert(spark, path,
                 spark.createDataFrame([(1, 99.0)], "k int, price_usd double"),
                 "k")
    assert sorted(
        (r["k"], r["price_usd"], r["_change_type"])
        for r in table_changes(spark, path, 4, 5).collect()
    ) == [(1, 10.0, "delete"), (1, 99.0, "insert")]
    # drop/re-add: both generations in one span, disambiguated
    v_pre = 5
    drop_column(path, "price_usd")
    write_version(
        spark.createDataFrame([(3, 7.0)], "k int, price_usd double"),
        path, merge_schema=True)
    f2 = table_changes(spark, path, v_pre, 7)
    assert set(f2.columns) == {"k", "price_usd", f"price_usd_v{v_pre}",
                               "_change_type"}
    ins = [r for r in f2.collect() if r["_change_type"] == "insert"]
    assert len(ins) == 1 and ins[0]["k"] == 3
    assert ins[0][f"price_usd_v{v_pre}"] == 7.0 or ins[0]["price_usd"] == 7.0
    assert read_version(spark, path).count() == 3


def test_stream_changes_across_rename_delivers_per_version_schemas(
    spark, tmp_path
):
    """The streaming CDF delivers each commit under ITS OWN version's
    logical names (the documented add-column contract, extended to
    renames): the rename commit itself is an EMPTY batch, later batches
    speak the new name, and the cursor replays nothing on a re-drain."""
    from tts_etl_pipeline_spark.sources.versioned import (
        rename_column,
        stream_changes,
        write_version,
    )

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    write_version(spark.createDataFrame([(1, 10.0)], "k int, price double"), path)
    rename_column(path, "price", "price_usd")
    write_version(
        spark.createDataFrame([(2, 20.0)], "k int, price_usd double"), path
    )
    seen = []

    def process(df, v):
        seen.append((v, sorted(c for c in df.columns if not c.startswith("_")),
                     df.count()))

    assert stream_changes(spark, path, ckpt, process) == 3
    assert seen == [
        (1, ["k", "price"], 1),          # snapshot batch: pre-rename names
        (2, ["k", "price_usd"], 0),      # the rename commit: empty feed
        (3, ["k", "price_usd"], 1),      # post-rename insert, new name
    ]
    seen.clear()
    assert stream_changes(spark, path, ckpt, process) == 3  # cursor holds
    assert seen == []


# ---------------------------------------------------------------------------
# Property tests: mutations vs the DataFrame-filter model; bloom
# no-false-negative invariant.
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as hst


@hst.composite
def mutation_scenarios(draw):
    n = draw(hst.integers(5, 40))
    nulls = draw(hst.lists(hst.integers(0, 39), unique=True, max_size=5))
    lo = draw(hst.integers(-5, 45))
    hi = draw(hst.integers(lo, 50))
    parity = draw(hst.sampled_from([None, 0, 1]))
    files = draw(hst.integers(1, 4))
    return n, nulls, lo, hi, parity, files


@pytest.mark.filterwarnings(
    "ignore:The recursion limit will not be reset:hypothesis.errors.HypothesisWarning"
)
@given(mutation_scenarios())
@settings(max_examples=6, deadline=None)
def test_delete_where_matches_filter_model(spark, tmp_path_factory, scenario):
    """DELETE WHERE == 'keep rows where the predicate is not TRUE', for
    random tables (with NULL keys), ranges, conditions and file layouts —
    whatever the stats-pruning decided to skip or rewrite."""
    import shutil

    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where,
        read_version,
        write_version,
    )

    n, nulls, lo, hi, parity, files = scenario
    root = str(tmp_path_factory.mktemp("dw_prop"))
    path = f"{root}/t"
    rows = [
        (None if i in nulls else i, i * 2) for i in range(n)
    ]
    try:
        df = spark.createDataFrame(rows, "k int, v int")
        write_version(df.repartitionByRange(files, "k"), path,
                      collect_stats=("k",))
        cond = None if parity is None else f"v % 4 = {parity * 2}"
        delete_where(spark, path, "k", lo, hi, condition=cond)
        got = sorted(
            ((r["k"], r["v"]) for r in read_version(spark, path).collect()),
            key=repr,
        )
        want = sorted(
            (
                (k, v)
                for k, v in rows
                if not (
                    k is not None
                    and lo <= k <= hi
                    and (parity is None or v % 4 == parity * 2)
                )
            ),
            key=repr,
        )
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.filterwarnings(
    "ignore:The recursion limit will not be reset:hypothesis.errors.HypothesisWarning"
)
@given(
    hst.lists(
        hst.one_of(hst.integers(-1000, 1000), hst.text(max_size=8)),
        min_size=1, max_size=60,
    ),
    hst.integers(1, 5),
)
@settings(max_examples=6, deadline=None)
def test_bloom_never_false_negative(spark, tmp_path_factory, values, files):
    """Every present value MUST be found through the bloom-pruned read —
    false positives cost a file read, false negatives are impossible.
    Mixed int/string draws run as strings (one typed column per table)."""
    import shutil

    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_bloom_pruned,
        write_version,
    )

    root = str(tmp_path_factory.mktemp("bl_prop"))
    path = f"{root}/t"
    vals = [str(v) for v in values]
    try:
        df = spark.createDataFrame([(v,) for v in vals], "c string")
        write_version(df.repartition(files), path, collect_blooms=("c",))
        for probe in set(vals):
            got, _, _ = read_version_bloom_pruned(spark, path, "c", probe)
            assert got.count() == vals.count(probe)
        absent, _, _ = read_version_bloom_pruned(
            spark, path, "c", "__definitely_absent__"
        )
        assert absent.count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_alter_preserves_deletion_vectors(spark, tmp_path):
    """Metadata-only ALTER commits (ADD/DROP CONSTRAINT, RENAME/DROP
    COLUMN) must carry the deletion-vector map like every other sidecar —
    dropping it would silently RESURRECT deleted rows in the new head."""
    from tts_etl_pipeline_spark.sources.versioned import (
        add_constraint,
        delete_where_dv,
        drop_constraint,
        read_version,
        rename_column,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(100).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    delete_where_dv(spark, path, "k", 10, 19)
    assert read_version(spark, path).count() == 90
    add_constraint(spark, path, "nonneg", "v >= 0")
    assert read_version(spark, path).count() == 90
    drop_constraint(path, "nonneg")
    assert read_version(spark, path).count() == 90
    rename_column(path, "v", "val")
    assert read_version(spark, path).count() == 90
    assert read_version(spark, path).filter("k = 15").count() == 0


def test_conflict_matrix_compact_vs_scd2_fold(spark, tmp_path, monkeypatch):
    """COMPACT lands between an SCD2 fold's snapshot read and its parts
    commit: the fold must raise CommitConflictError (its reuse plan
    references files the compaction retired), never fork or clobber —
    and a retry on the fresh head applies cleanly (r10 verdict task 7)."""
    import tts_etl_pipeline_spark.sources.scd as S
    import tts_etl_pipeline_spark.sources.versioned as V

    path = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, "a", 1000), (2, "b", 1000)], "k int, attr string, eff long"
    )
    S.scd2_apply(spark, path, b1, "k", ["attr"], "eff")
    b2 = spark.createDataFrame([(1, "a2", 2000)], "k int, attr string, eff long")

    real_parts = V.write_version_parts
    state = {"raced": False}

    def racing_parts(parts, p, reuse_files, expected_version, **kw):
        if not state["raced"]:
            state["raced"] = True
            V.compact(spark, p, target_files=1, collect_stats=("is_current",))
        return real_parts(
            parts, p, reuse_files=reuse_files,
            expected_version=expected_version, **kw,
        )

    monkeypatch.setattr(S, "write_version_parts", racing_parts)
    with pytest.raises((V.CommitConflictError, ValueError)):
        # either the reuse-subset guard or the CAS refuses — both typed,
        # neither silently clobbers the compaction
        S.scd2_apply(spark, path, b2, "k", ["attr"], "eff")
    monkeypatch.setattr(S, "write_version_parts", real_parts)
    S.scd2_apply(spark, path, b2, "k", ["attr"], "eff")  # retry lands
    cur = {
        (r["k"], r["attr"])
        for r in V.read_version(spark, path).filter("is_current").collect()
    }
    assert cur == {(1, "a2"), (2, "b")}


def test_conflict_matrix_delete_vs_merge(spark, tmp_path, monkeypatch):
    """A row-level DELETE (both copy-on-write and DV form) landing between
    a MERGE's snapshot read and its overwrite commit must surface as
    CommitConflictError — the merge was computed against rows the delete
    removed; silently committing it would resurrect them."""
    import tts_etl_pipeline_spark.sources.versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k int, v int"
        ).repartitionByRange(2, "k"),
        path,
        collect_stats=("k",),
    )
    src = spark.createDataFrame([(2, 200), (4, 400)], "k int, v int")

    real_write = V.write_version_parts
    state = {"race": "cow"}

    def racing_write(parts, p, **kw):
        if state["race"] == "cow":
            state["race"] = None
            V.delete_where(spark, p, "k", 3, 3)
        elif state["race"] == "dv":
            state["race"] = None
            V.delete_where_dv(spark, p, "k", 1, 1)
        return real_write(parts, p, **kw)

    monkeypatch.setattr(V, "write_version_parts", racing_write)
    with pytest.raises(V.CommitConflictError):
        V.merge_upsert(spark, path, src, key="k")
    # the delete survived; the merge changed nothing
    assert sorted(r["k"] for r in V.read_version(spark, path).collect()) == [1, 2]
    state["race"] = "dv"
    with pytest.raises(V.CommitConflictError):
        V.merge_upsert(spark, path, src, key="k")
    assert sorted(r["k"] for r in V.read_version(spark, path).collect()) == [2]
    monkeypatch.setattr(V, "write_version_parts", real_write)
    V.merge_upsert(spark, path, src, key="k")  # retry on the fresh head
    assert sorted(map(tuple, V.read_version(spark, path).collect())) == [
        (2, 200), (4, 400),
    ]


def test_conflict_matrix_alter_vs_append(spark, tmp_path, monkeypatch):
    """An append landing between ADD CONSTRAINT's existing-row validation
    and its metadata commit must fail the ALTER's CAS: committing would
    record a constraint over rows it never validated (the appended batch
    here VIOLATES it — exactly the row an unguarded ALTER would bless)."""
    import tts_etl_pipeline_spark.sources.versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), path
    )

    real_read = V.read_version
    state = {"raced": False}

    def racing_read(sp, p, version=None):
        out = real_read(sp, p, version)
        if not state["raced"]:
            state["raced"] = True
            real_write = V.write_version
            real_write(
                spark.createDataFrame([(9, -99)], "k int, v int"), p, "append"
            )
        return out

    monkeypatch.setattr(V, "read_version", racing_read)
    with pytest.raises(V.CommitConflictError):
        V.add_constraint(spark, path, "nonneg", "v >= 0")
    monkeypatch.setattr(V, "read_version", real_read)
    # nothing recorded; a retry now validates the violating row and refuses
    assert V.table_constraints(path) == {}
    with pytest.raises(V.ConstraintViolationError):
        V.add_constraint(spark, path, "nonneg", "v >= 0")


def test_sharded_manifest_end_to_end(spark, tmp_path, monkeypatch):
    """Beyond _SHARD_INLINE_MAX files the manifest becomes a MANIFEST LIST
    over content-addressed bucket shards (r10 verdict task 5). Pinned with
    shrunk thresholds: (a) the commit is sharded and readable; (b) a 1-file
    append rewrites EXACTLY the one bucket the file hashes into — every
    other shard entry is the same content-addressed sidecar, byte-for-byte
    (the flat-append contract); (c) pruned reads skip via shard summaries
    and stay value-exact; (d) DV deletes and the change feed work through
    shards; (e) vacuum never sweeps a referenced shard."""
    import tts_etl_pipeline_spark.sources.versioned as V

    monkeypatch.setattr(V, "_SHARD_INLINE_MAX", 6)
    monkeypatch.setattr(V, "_SHARD_SIZE", 4)
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(160).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(8, "k"),
        path,
        collect_stats=("k",),
    )
    m1 = V._read_manifest(path, 1, materialize=False)
    assert "shards" in m1 and "files" not in m1
    assert V.read_version(spark, path).count() == 160
    before = {b: e["path"] for b, e in m1["shards"]["entries"].items()}

    # (b) flat append: exactly one bucket rewritten (coalesce(1): a 1-row
    # frame must stage ONE file for the one-bucket assertion to be sharp)
    V.write_version(
        spark.createDataFrame([(160, 320)], "k long, v long").coalesce(1),
        path,
        collect_stats=("k",),
    )
    m2 = V._read_manifest(path, 2, materialize=False)
    after = {b: e["path"] for b, e in m2["shards"]["entries"].items()}
    changed = [b for b in after if before.get(b) != after.get(b)]
    assert len(changed) == 1, changed
    assert all(before[b] == after[b] for b in before if b not in changed)
    assert V.read_version(spark, path).count() == 161

    # (c) summary-first pruning, value-exact
    pruned, skipped, total = V.read_version_pruned(spark, path, "k", 0, 19)
    assert total == 9 and skipped >= 4
    assert sorted(r["k"] for r in pruned.collect()) == list(range(20))

    # (d) deletion vectors + CDF through shards — and the DV commit is
    # itself a DELTA plan: only the bucket(s) holding the touched file
    # rewrite; every other shard entry is the parent's, verbatim
    pre_dv = {
        b: e["path"]
        for b, e in V._read_manifest(path, 2, materialize=False)["shards"]["entries"].items()
    }
    assert V.delete_where_dv(spark, path, "k", 5, 5) == 3
    post_dv = {
        b: e["path"]
        for b, e in V._read_manifest(path, 3, materialize=False)["shards"]["entries"].items()
    }
    dv_changed_buckets = [b for b in post_dv if pre_dv.get(b) != post_dv[b]]
    assert len(dv_changed_buckets) == 1, dv_changed_buckets
    assert V.read_version(spark, path).count() == 160
    ch = V.table_changes(spark, path, 2, 3).collect()
    assert [(r["k"], r["_change_type"]) for r in ch] == [(5, "delete")]

    # (d2) merge-on-read UPDATE through shards: originals untouched, the
    # appended copy and the vector land in their buckets, rows exact
    assert V.update_where_dv(spark, path, "k", 7, 7, {"v": "v + 1000"}) == 4
    assert V.read_version(spark, path).count() == 160
    assert [
        r["v"] for r in V.read_version(spark, path).filter("k = 7").collect()
    ] == [1014]
    # (d3) purge through shards: vectors cleared, rows identical
    v5 = V.purge_dvs(spark, path)
    assert v5 == 5
    assert not V._read_manifest(path, v5).get("dvs")
    assert V.read_version(spark, path).count() == 160
    assert V.table_changes(spark, path, 4, 5).count() == 0

    # (e) vacuum with full retention keeps every referenced shard
    V.vacuum(path, keep_versions=10, grace_seconds=0.0)
    assert V.read_version(spark, path, 1).count() == 160
    assert V.read_version(spark, path).count() == 160


def test_sharded_manifest_format_compat(spark, tmp_path, monkeypatch):
    """Old single-JSON (inline) manifests stay readable beside sharded
    ones in the SAME lineage: v1 commits inline, the lowered threshold
    shards v2 — both versions read, time travel and the cross-format
    change feed stay exact."""
    import tts_etl_pipeline_spark.sources.versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.range(40).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    assert "files" in V._read_manifest(path, 1, materialize=False)
    monkeypatch.setattr(V, "_SHARD_INLINE_MAX", 3)
    V.write_version(
        spark.range(40, 80).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    m2 = V._read_manifest(path, 2, materialize=False)
    assert "shards" in m2  # inline parent + append crossed the threshold
    assert V.read_version(spark, path, 1).count() == 40  # old format reads
    assert V.read_version(spark, path, 2).count() == 80
    feed = V.table_changes(spark, path, 1, 2)
    assert feed.count() == 40  # exactly the appended rows
    assert set(r["_change_type"] for r in feed.collect()) == {"insert"}
    # stats carried into the shards: pruning still lands
    _, skipped, total = V.read_version_pruned(spark, path, "k", 0, 9)
    assert total == 8 and skipped >= 4


def test_truncated_string_bounds_unit():
    """The Iceberg truncate(N) bound scheme: prefix lower bound,
    incremented upper bound, carry-left at U+10FFFF, surrogate-range
    skip, None when no upper bound is representable, exact when it fits."""
    from tts_etl_pipeline_spark.sources.zorder import truncated_string_bounds

    # fits: exact (tight) bounds
    assert truncated_string_bounds("abc", "xyz", 16) == ("abc", "xyz")
    # truncate + increment the last kept code point
    assert truncated_string_bounds("a" * 20, "abcdefghijklmnopqrst", 16) == (
        "a" * 16,
        "abcdefghijklmnoq",
    )
    # carry: last kept char at U+10FFFF -> increment the previous, drop it
    assert truncated_string_bounds("a", "ab" + chr(0x10FFFF) + "zz", 3) == (
        "a",
        "ac",
    )
    # increment must skip the surrogate block (unencodable in UTF-8)
    got = truncated_string_bounds("a", "ab" + chr(0xD7FF) + "zzz", 3)
    assert got == ("a", "ab" + chr(0xE000))
    # every position at U+10FFFF: no sound upper bound exists
    assert truncated_string_bounds("a", chr(0x10FFFF) * 4, 3) is None
    # soundness law on random-ish cases: lo_bound <= lo, hi_bound >= hi
    for lo, hi in [("alpha", "omega-very-long-string-here"),
                   ("", "zzzzzzzzzzzzzzzzzzzz")]:
        b = truncated_string_bounds(lo, hi, 16)
        assert b[0] <= lo and b[1] >= hi


def test_string_range_pruning_end_to_end(spark, tmp_path):
    """collect_stats on a STRING column records truncated bounds and
    read_version_pruned skips lexically-disjoint files — the j9 gap the
    r10 verdict flagged (string predicates previously skipped zero
    files) — while staying value-exact."""
    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        read_version_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    rows = [(f"{c}{i:02d}-suffix-beyond-sixteen-chars", i)
            for c in "abcdefgh" for i in range(20)]
    df = spark.createDataFrame(rows, "name string, v int")
    write_version(
        df.repartitionByRange(8, "name"), path, collect_stats=("name",)
    )
    m = manifest(path, 1)
    with_stats = [f for f in m["files"] if m["stats"].get(f, {}).get("name")]
    assert len(with_stats) >= 8  # string stats are actually recorded now
    pruned, skipped, total = read_version_pruned(spark, path, "name", "b", "c")
    assert total == 8 and skipped >= 4
    got = sorted(r["name"] for r in pruned.collect())
    want = sorted(n for n, _ in rows if "b" <= n <= "c")
    assert got == want


def test_string_pruning_shared_prefix_hazard(spark, tmp_path):
    """Keys sharing a 16-char prefix (the c_name shape) collapse every
    file's truncated range to the SAME [prefix, prefix+1) band — pruning
    must skip NOTHING (never a wrong skip) and answers stay exact; the
    bloom path remains the point-lookup answer for this layout."""
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_bloom_pruned,
        read_version_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    # i < 100 keeps every key's first 16 chars IDENTICAL
    # ("Customer#0000000"): the truncated bounds of all 4 files collide
    rows = [(f"Customer#{i:09d}", i) for i in range(100)]
    df = spark.createDataFrame(rows, "name string, v int")
    write_version(
        df.repartitionByRange(4, "name"),
        path,
        collect_stats=("name",),
        collect_blooms=("name",),
    )
    probe = "Customer#000000023"
    pruned, skipped, total = read_version_pruned(
        spark, path, "name", probe, probe
    )
    assert total == 4 and skipped == 0  # bounds collide: no file skippable
    assert pruned.count() == 1  # ...but the row filter still lands exactly
    bloomed, bskipped, _ = read_version_bloom_pruned(
        spark, path, "name", probe
    )
    assert bskipped >= 2 and bloomed.count() == 1  # blooms still skip


def test_deletion_vector_delete_leaves_files_untouched(spark, tmp_path):
    """delete_where_dv is MERGE-ON-READ: the commit's file list is
    IDENTICAL and every data file is byte-untouched (inode + mtime_ns
    pinned) — the whole point of deletion vectors; a regression to
    copy-on-write would still read correctly and only this catches it."""
    import os

    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        manifest,
        read_version,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(1000).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    m1 = manifest(path, 1)
    def _sig():
        return {
            f: (os.stat(os.path.join(path, f)).st_ino,
                os.stat(os.path.join(path, f)).st_mtime_ns)
            for f in m1["files"]
        }
    before = _sig()
    assert delete_where_dv(spark, path, "k", 5, 5) == 2
    assert manifest(path, 2)["files"] == m1["files"]
    assert _sig() == before
    assert read_version(spark, path).count() == 999
    assert read_version(spark, path).filter("k = 5").count() == 0
    # snapshot isolation: the old version still serves the row
    assert read_version(spark, path, 1).filter("k = 5").count() == 1


def test_deletion_vector_cdf_union_and_noop(spark, tmp_path):
    """The change feed across a DV commit is exactly the newly-deleted
    rows (file lists are identical — the dv-changed re-read path);
    repeated deletes UNION per-file positions; a delete matching only
    already-deleted rows commits NOTHING."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        read_version,
        table_changes,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(1000).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    delete_where_dv(spark, path, "k", 5, 5)
    ch = table_changes(spark, path, 1, 2).collect()
    assert [(r["k"], r["_change_type"]) for r in ch] == [(5, "delete")]
    # overlapping second delete: 3,4,6,7 are new; 5 is already gone
    delete_where_dv(spark, path, "k", 3, 7)
    ch2 = table_changes(spark, path, 2, 3)
    assert ch2.count() == 4
    assert read_version(spark, path).count() == 995
    assert delete_where_dv(spark, path, "k", 5, 5) is None  # all-dead range
    # condition narrows within the range, SQL WHERE truth
    delete_where_dv(spark, path, "k", 100, 110, condition="v % 4 = 0")
    assert read_version(spark, path).filter(
        "k between 100 and 110"
    ).count() == 5


def test_deletion_vector_compact_rollback_clone(spark, tmp_path):
    """compact() materializes DV survivors and CLEARS the vectors (CDF
    across it empty); rollback restores the target version's row
    visibility (its vectors); clone carries vectors so the clone's rows
    equal the source snapshot's; table_detail reports the DV debt."""
    from tts_etl_pipeline_spark.sources.versioned import (
        clone_table,
        compact,
        delete_where_dv,
        manifest,
        read_version,
        rollback,
        table_changes,
        table_detail,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(500).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    delete_where_dv(spark, path, "k", 10, 19)  # v2: 490 rows
    d = table_detail(path)
    assert d["dv_files"] == 1 and d["dv_deleted_rows"] == 10
    dst = str(tmp_path / "c")
    clone_table(path, dst)
    assert read_version(spark, dst).count() == 490
    v3 = compact(spark, path, target_files=2)
    assert "dvs" not in manifest(path, v3)
    assert read_version(spark, path).count() == 490
    assert table_changes(spark, path, 2, v3).count() == 0  # pure rewrite
    rollback(path, 1)
    assert read_version(spark, path).count() == 500


def test_update_where_dv_merge_on_read(spark, tmp_path):
    """update_where_dv: matched rows DV'd in place (their files byte-
    untouched), updated copies appended as fresh files; CDF across the
    commit is exactly delete+insert pairs; assignments see PRE-update
    values (swap well-defined); no-match -> None; unknown column refuses;
    CHECK constraints gate the staged copies."""
    import os

    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        add_constraint,
        manifest,
        read_version,
        table_changes,
        update_where_dv,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(100).selectExpr("id AS k", "id AS a", "id*2 AS b")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    m1 = manifest(path, 1)
    sig = {
        f: (os.stat(os.path.join(path, f)).st_ino,
            os.stat(os.path.join(path, f)).st_mtime_ns)
        for f in m1["files"]
    }
    # swap a and b for k in [10, 12] — pre-update evaluation
    v2 = update_where_dv(spark, path, "k", 10, 12, {"a": "b", "b": "a"})
    assert v2 == 2
    m2 = manifest(path, 2)
    assert set(m1["files"]) < set(m2["files"])  # originals + appended
    assert all(
        sig[f] == (os.stat(os.path.join(path, f)).st_ino,
                   os.stat(os.path.join(path, f)).st_mtime_ns)
        for f in m1["files"]
    )
    got = sorted(
        map(tuple, read_version(spark, path).filter("k between 10 and 12").collect())
    )
    assert got == [(10, 20, 10), (11, 22, 11), (12, 24, 12)]
    assert read_version(spark, path).count() == 100
    ch = table_changes(spark, path, 1, 2)
    assert ch.filter("_change_type = 'delete'").count() == 3
    assert ch.filter("_change_type = 'insert'").count() == 3
    # no live match -> no commit
    assert update_where_dv(spark, path, "k", 5000, 6000, {"a": "0"}) is None
    with _pytest.raises(ValueError, match="unknown"):
        update_where_dv(spark, path, "k", 1, 2, {"zz": "1"})
    add_constraint(spark, path, "a_nonneg", "a >= 0")
    with _pytest.raises(ConstraintViolationError):
        update_where_dv(spark, path, "k", 1, 2, {"a": "-1"})
    assert read_version(spark, path).count() == 100  # refused: unchanged


def test_purge_dvs_rewrites_only_vectored_files(spark, tmp_path):
    """purge_dvs materializes the DV debt by rewriting ONLY the files
    carrying a vector — clean files ride by reference, byte-untouched —
    and the change feed across the purge is EMPTY (bit-identical rows);
    re-collected stats keep the table pruning."""
    import os

    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        manifest,
        purge_dvs,
        read_version,
        read_version_pruned,
        table_changes,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(400).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    delete_where_dv(spark, path, "k", 10, 19)  # one file gets a vector
    m2 = manifest(path, 2)
    clean = [f for f in m2["files"] if f not in m2.get("dvs", {})]
    assert clean  # range clustering keeps the delete localized
    sig = {
        f: (os.stat(os.path.join(path, f)).st_ino,
            os.stat(os.path.join(path, f)).st_mtime_ns)
        for f in clean
    }
    v3 = purge_dvs(spark, path)
    assert v3 == 3
    m3 = manifest(path, v3)
    assert "dvs" not in m3
    assert set(clean) < set(m3["files"])  # clean files carried verbatim
    assert all(
        sig[f] == (os.stat(os.path.join(path, f)).st_ino,
                   os.stat(os.path.join(path, f)).st_mtime_ns)
        for f in clean
    )
    assert read_version(spark, path).count() == 390
    assert table_changes(spark, path, 2, 3).count() == 0  # pure rewrite
    _, skipped, total = read_version_pruned(spark, path, "k", 350, 360)
    assert skipped >= 2  # re-collected stats keep pruning alive
    assert purge_dvs(spark, path) is None  # nothing left to purge


def test_bloom_pruned_read_composes_with_range_stats(spark, tmp_path):
    """Equality reads compose BOTH structures (r11): the probe is the
    range [v, v], so recorded range stats pre-skip range-disjoint files
    and blooms refine the remainder — on a range-clustered table with
    both recorded, an equality probe must skip MORE than blooms alone
    could on a hash layout, and stay value-exact. A cross-type probe
    degrades to bloom-only, never an error."""
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_bloom_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(800).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(8, "k"),
        path,
        collect_stats=("k",),
        collect_blooms=("k",),
    )
    got, skipped, total = read_version_bloom_pruned(spark, path, "k", 123)
    assert total == 8 and skipped == 7  # ranges alone prove 7/8 disjoint
    assert [r["v"] for r in got.collect()] == [246]
    # cross-kind probe REFUSES: Spark's ANSI coercion makes
    # bigint k = '123' MATCH k = 123, while the bloom encodes exact
    # in-family values — silently skipping would be a false negative,
    # so the typed refusal is the only sound answer
    with pytest.raises(TypeError, match="type\\s+family"):
        read_version_bloom_pruned(spark, path, "k", "123")


def test_deletion_vectors_through_linkdir_read(spark, tmp_path):
    """>= _LINKDIR_MIN_FILES snapshots read through the content-addressed
    hardlink directory, where _metadata.file_path is the LINKDIR path —
    the DV anti-join must still land because vectors key on the file
    BASE NAME, which the hardlink preserves. A regression to full-path
    keying would silently serve deleted rows on exactly the large
    tables DVs exist for."""
    import tts_etl_pipeline_spark.sources.versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.range(2080).selectExpr("id AS k", "id*2 AS v")
        .repartition(260, "k"),
        path,
        collect_stats=("k",),
    )
    assert len(V.manifest(path, 1)["files"]) >= V._LINKDIR_MIN_FILES
    assert V.delete_where_dv(spark, path, "k", 7, 7) == 2
    head = V.read_version(spark, path)
    assert head.count() == 2079
    assert head.filter("k = 7").count() == 0
    # and the linkdir path is actually in play for this read
    assert any("_snapshots" in f for f in head.inputFiles())


def test_range_pruning_sound_under_float_widening(spark, tmp_path):
    """Range file-skipping must hold under BOTH of Spark's comparison
    regimes (review finding 1): a BIGINT file holding 2^53+1 probed with
    the DOUBLE 2^53 (Spark widens the column and MATCHES) must be READ,
    not skipped — exact-only disjointness would prune it; same for
    delete_where's touched-file split."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where,
        read_version,
        read_version_pruned,
        write_version,
    )

    big = 9007199254740993  # 2^53 + 1
    rounded = float(9007199254740992)  # the double both sides widen to
    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(big, 1), (1, 2)], "k long, v int")
        .repartition(2, "k"),
        path,
        collect_stats=("k",),
    )
    got, skipped, total = read_version_pruned(spark, path, "k", rounded, rounded)
    assert got.count() == 1  # Spark: CAST(big AS double) == 2^53 -> match
    # and the mutation path deletes the row Spark's comparison matches
    assert delete_where(spark, path, "k", rounded, rounded) == 2
    assert read_version(spark, path).count() == 1


def test_bloom_probe_refuses_bool_cross_kind(spark, tmp_path):
    """bool is its own probe family (review finding 2): Spark coerces
    bigint k = true to k = 1 while the bloom tags b:/i: differently — a
    bool probe on a numeric column (and an int probe on a boolean
    column) must refuse, never silently skip."""
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_bloom_pruned,
        write_version,
    )

    p1 = str(tmp_path / "num")
    write_version(
        spark.createDataFrame([(1, 1), (2, 2)], "k long, v int"),
        p1,
        collect_blooms=("k",),
    )
    with pytest.raises(TypeError, match="type\\s+family"):
        read_version_bloom_pruned(spark, p1, "k", True)
    p2 = str(tmp_path / "boo")
    write_version(
        spark.createDataFrame([(True, 1), (False, 2)], "k boolean, v int"),
        p2,
        collect_blooms=("k",),
    )
    with pytest.raises(TypeError, match="type\\s+family"):
        read_version_bloom_pruned(spark, p2, "k", 1)
    got, _, _ = read_version_bloom_pruned(spark, p2, "k", True)
    assert got.count() == 1  # in-family probe works


def test_sharded_append_resplits_outgrown_buckets(spark, tmp_path, monkeypatch):
    """Appends that outgrow the frozen prefix_len trigger ONE full
    reshard with a deeper prefix (review finding 3 — the amortized
    hash-table-resize), after which deltas are flat again; rows and
    pruning stay exact across the resplit."""
    import tts_etl_pipeline_spark.sources.versioned as V

    monkeypatch.setattr(V, "_SHARD_INLINE_MAX", 4)
    monkeypatch.setattr(V, "_SHARD_SIZE", 1)  # resplit at 4 entries/bucket
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(140).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(14, "k"),
        path,
        collect_stats=("k",),
    )
    m1 = V._read_manifest(path, 1, materialize=False)
    plen1 = m1["shards"]["prefix_len"]
    assert plen1 == 1  # 14 files fit one hex digit of buckets
    # one bulk append of ~60 files: pigeonhole over 16 one-char buckets
    # forces SOME bucket past 4 entries, so the delta plan must refuse
    # and write_version must fall back to the full reshard
    V.write_version(
        spark.range(140, 740).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(60, "k"),
        path,
        collect_stats=("k",),
    )
    mh = V._read_manifest(path, 2, materialize=False)
    assert mh["shards"]["prefix_len"] > plen1  # the resize happened
    assert V.read_version(spark, path).count() == 740
    _, skipped, total = V.read_version_pruned(spark, path, "k", 0, 9)
    assert total >= 74 and skipped >= 60  # stats survived the resplit


@pytest.mark.parametrize("purge", ["purge_dvs", "purge_eq"])
def test_purge_dvs_recollects_blooms(spark, tmp_path, purge):
    """Both purges re-collect BLOOMS for the rewritten files (review
    finding 5): a purged table keeps equality skipping, not just range
    pruning. purge_dvs follows a deletion-vector delete, purge_eq an
    equality delete."""
    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.range(400).selectExpr("id AS k", "id*2 AS v")
        .repartition(4, "k"),  # hash layout: blooms are the only skip
        path,
        collect_blooms=("k",),
    )
    if purge == "purge_dvs":
        V.delete_where_dv(spark, path, "k", 10, 10)
    else:
        V.delete_where_eq(path, "k", [10])
    v3 = getattr(V, purge)(spark, path)
    m3 = V.manifest(path, v3)
    rewritten = [
        f for f in m3["files"] if f not in set(V.manifest(path, 1)["files"])
    ]
    assert rewritten and all(f in (m3.get("blooms") or {}) for f in rewritten)
    got, skipped, total = V.read_version_bloom_pruned(spark, path, "k", 123)
    assert skipped >= 1 and got.count() == 1


def test_sharded_alter_carries_shards_verbatim(spark, tmp_path, monkeypatch):
    """Metadata ALTERs on a sharded table carry the parent's shard
    entries byte-for-byte (review finding 6): zero payload IO, zero
    re-bucketing — and the DV map inside the shards survives."""
    import tts_etl_pipeline_spark.sources.versioned as V

    monkeypatch.setattr(V, "_SHARD_INLINE_MAX", 4)
    monkeypatch.setattr(V, "_SHARD_SIZE", 2)
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(80).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(8, "k"),
        path,
        collect_stats=("k",),
    )
    V.delete_where_dv(spark, path, "k", 3, 3)
    pre = V._read_manifest(path, 2, materialize=False)["shards"]
    v3 = V.rename_column(path, "v", "val")
    v4 = V.add_constraint(spark, path, "nonneg", "val >= 0")
    v5 = V.drop_constraint(path, "nonneg")
    for vv in (v3, v4, v5):
        mm = V._read_manifest(path, vv, materialize=False)
        assert mm["shards"] == pre  # verbatim: same content-addressed paths
    assert V.read_version(spark, path).count() == 79  # DV survived ALTERs
    assert V.version_asof(path, 1e18) == v5  # scalar reads on sharded work
    last = V.history(path)[-1]
    assert last["mode"] == "alter"
    assert last["n_files"] == sum(e["n"] for e in pre["entries"].values())


def test_optimize_zorder_versioned(spark, tmp_path):
    """OPTIMIZE ZORDER BY on the versioned protocol: after the rewrite,
    range pruning skips files on BOTH clustered columns (the j7 contract,
    now on versioned manifest stats instead of raw footers); rows are
    bit-identical so the change feed across the commit is EMPTY; a
    pre-existing deletion vector is materialized away (OPTIMIZE doubles
    as a purge)."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        manifest,
        optimize_zorder,
        read_version,
        read_version_pruned,
        table_changes,
        write_version,
    )

    path = str(tmp_path / "t")
    df = spark.range(4096).selectExpr(
        "pmod(id * 2654435761, 4096) AS x",  # decorrelate x and y
        "id AS y",
        "id AS payload",
    )
    write_version(
        df.repartition(8),
        path,
        collect_stats=("x", "y", "payload"),
        collect_blooms=("payload",),
    )
    delete_where_dv(spark, path, "y", 7, 7)  # v2: one vectored row
    v3 = optimize_zorder(spark, path, ("x", "y"), target_files=16)
    m3 = manifest(path, v3)
    assert "dvs" not in m3  # the rewrite materialized the vector away
    # OPTIMIZE keeps EVERY pruning structure the parent tracked (review
    # finding: zorder-only stats would silently retire payload's file
    # skipping forever — the rewrite touches 100% of files)
    assert any("payload" in rec for rec in m3["stats"].values())
    assert m3.get("blooms"), "bloom coverage lost across OPTIMIZE"
    assert read_version(spark, path).count() == 4095
    assert table_changes(spark, path, 2, v3).count() == 0  # pure rewrite
    _, sx, tx = read_version_pruned(spark, path, "x", 0, 255)
    _, sy, ty = read_version_pruned(spark, path, "y", 0, 255)
    assert tx == 16 and ty == 16
    # the j7 contract: >= 25% of files skippable on EACH zorder column
    assert sx >= 4 and sy >= 4, (sx, sy)
    got = read_version_pruned(spark, path, "y", 0, 9)[0]
    assert sorted(r["y"] for r in got.collect()) == [
        y for y in range(10) if y != 7
    ]


def test_stream_changes_delivers_dv_commits(spark, tmp_path):
    """The streaming change feed delivers a DV commit as ONE micro-batch
    of exactly the deleted rows (and a purge as an EMPTY batch) — the
    st13 exactly-once contract extended over merge-on-read commits."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        purge_dvs,
        stream_changes,
        write_version,
    )

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    write_version(
        spark.range(100).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    delete_where_dv(spark, path, "k", 3, 5)  # v2
    purge_dvs(spark, path)  # v3: maintenance, must drain as empty
    seen: dict = {}

    def process(batch, version):
        seen[version] = sorted(
            (r["k"], r["_change_type"]) for r in batch.collect()
        )

    last = stream_changes(spark, path, ckpt, process)
    assert last == 3
    assert len(seen[1]) == 100  # initial snapshot, all inserts
    assert seen[2] == [(3, "delete"), (4, "delete"), (5, "delete")]
    assert seen[3] == []  # purge rewrote bytes, changed no rows


def test_deletion_vector_varint_roundtrip():
    """The DV position encoding round-trips arbitrary sorted positions
    (including >2^32 — row positions are long)."""
    from tts_etl_pipeline_spark.sources.versioned import _dv_decode, _dv_encode

    for case in ([], [0], [0, 1, 2], [7], [5, 130, 16384, 1 << 40]):
        assert _dv_decode(_dv_encode(case)) == case


def test_bloom_never_false_negative_beyond_float_exact(spark, tmp_path):
    """No-false-negative must survive Spark's FLOAT-WIDENED equality past
    2^53 (the r10 ADVICE finding): a DECIMAL/BIGINT value beyond the
    float-exact range must be found by an exact probe of its real digits,
    AND a bigint/double probe pair that Spark's widening makes EQUAL
    (9007199254740993 == 9007199254740992.0 as doubles) must never skip
    each other's files — build sets both encodings, probe admits either."""
    from decimal import Decimal

    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_bloom_pruned,
        write_version,
    )

    big = 9007199254740993  # 2^53 + 1: not float-representable
    rounded = 9007199254740992  # what float folding turns it into

    # DECIMAL(20,0) column holding the exact digits: exact bigint probe
    # must match (old float-folded canonicalization skipped the file)
    p1 = str(tmp_path / "dec")
    write_version(
        spark.createDataFrame(
            [(Decimal(big),), (Decimal(1),)], "k decimal(20,0)"
        ).repartition(2, "k"),
        p1,
        collect_blooms=("k",),
    )
    got, _, _ = read_version_bloom_pruned(spark, p1, "k", big)
    assert got.count() == 1

    # DOUBLE column holding 2^53 (the fold target): a BIGINT probe of
    # 2^53+1 widens to the same double under Spark equality -> must read
    p2 = str(tmp_path / "dbl")
    write_version(
        spark.createDataFrame(
            [(float(rounded),), (1.0,)], "k double"
        ).repartition(2, "k"),
        p2,
        collect_blooms=("k",),
    )
    got, _, _ = read_version_bloom_pruned(spark, p2, "k", big)
    assert got.count() == 1  # Spark: CAST(big AS double) == 2^53

    # BIGINT column holding 2^53+1: a DOUBLE probe of 2^53 widens the
    # column to the same double -> must read (build set the folded twin)
    p3 = str(tmp_path / "big")
    write_version(
        spark.createDataFrame([(big,), (1,)], "k long").repartition(2, "k"),
        p3,
        collect_blooms=("k",),
    )
    got, _, _ = read_version_bloom_pruned(spark, p3, "k", float(rounded))
    assert got.count() == 1  # Spark: CAST(big AS double) == 2^53.0


def test_bloom_encodings_exact_within_float_range():
    """Everyday keys (abs <= 2^53) carry exactly ONE encoding — the
    widened-equality twin only exists where floats actually lose digits,
    so the common case pays no extra bits and no extra probe work."""
    from decimal import Decimal

    from tts_etl_pipeline_spark.sources.versioned import _bloom_encodings

    assert len(_bloom_encodings(5)) == 1
    assert len(_bloom_encodings(5.0)) == 1
    assert len(_bloom_encodings(Decimal("5.00"))) == 1
    assert _bloom_encodings(5) == _bloom_encodings(5.0)
    assert len(_bloom_encodings("abc")) == 1
    assert len(_bloom_encodings(9007199254740993)) == 2
    assert len(_bloom_encodings(Decimal(9007199254740993))) == 2
    # the folded twin IS the exact encoding for the float side
    assert len(_bloom_encodings(9007199254740992.0)) == 1


def test_scd2_float_key_never_prunes(spark, tmp_path):
    """A FLOAT/DOUBLE SCD2 key disables clustered-fold file pruning (the
    r10 ADVICE NaN finding): parquet stats exclude NaN while Spark joins
    treat NaN = NaN, so range pruning could misclassify a NaN-keyed
    current file as untouched and the fold would miss its close. Pinned
    end-to-end: a NaN-keyed current row must still fold correctly."""
    from tts_etl_pipeline_spark.sources.scd import scd2_apply
    from tts_etl_pipeline_spark.sources.versioned import read_version

    path = str(tmp_path / "dim")
    nan = float("nan")
    b1 = spark.createDataFrame(
        [(1.0, "a", 1000), (nan, "n0", 1000)], "k double, attr string, eff long"
    )
    scd2_apply(spark, path, b1, "k", ["attr"], "eff", cluster_files=2)
    # second fold updates the NaN key: Spark's NaN = NaN equality must
    # close the old current row even though no footer range contains NaN
    b2 = spark.createDataFrame([(nan, "n1", 2000)], "k double, attr string, eff long")
    scd2_apply(spark, path, b2, "k", ["attr"], "eff", cluster_files=2)
    cur = {
        (("nan" if r["k"] != r["k"] else r["k"]), r["attr"])
        for r in read_version(spark, path).filter("is_current").collect()
    }
    assert cur == {(1.0, "a"), ("nan", "n1")}


# ---------------------------------------------------------------------------
# Round-10 review-pass regressions (the continuation's code-review pass):
# each test pins a fixed finding.
# ---------------------------------------------------------------------------


def test_rollback_restores_target_version_constraints(spark, tmp_path):
    """rollback carries the RESTORED version's constraints, never the
    head's: every committed version's constraints provably hold over its
    own rows, while the head's were never checked against the restored
    rows (review finding 1)."""
    from tts_etl_pipeline_spark.sources.versioned import (
        add_constraint,
        delete_where,
        read_version,
        rollback,
        table_constraints,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, -5.0), (2, 3.0)], "k int, price double"),
        path,
    )
    delete_where(spark, path, "k", 1, 1)  # v2: the negative row is gone
    v3 = add_constraint(spark, path, "nonneg", "price >= 0")  # validates v2
    assert v3 == 3
    v4 = rollback(path, 1)  # restore the version that CONTAINS price=-5
    # the head must NOT claim 'nonneg' holds over rows it never validated
    assert table_constraints(path) == {}
    assert table_constraints(path, v3) == {"nonneg": "price >= 0"}
    assert {r["price"] for r in read_version(spark, path).collect()} == {-5.0, 3.0}
    # and rolling back to the POST-constraint version re-arms enforcement
    rollback(path, v3)
    assert table_constraints(path) == {"nonneg": "price >= 0"}


def test_bloom_probe_type_insensitive(spark, tmp_path):
    """Numerically-equal probes of a different Python type must still
    find the file — a type-sensitive encoding would be a FALSE NEGATIVE
    (review finding 2): double column probed with int, int column probed
    with float, and a Decimal-shaped integer all hit."""
    from decimal import Decimal

    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_bloom_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(5, 5.0), (700, 700.25)], "ik int, dk double"
        ).repartition(4),
        path,
        collect_blooms=("ik", "dk"),
    )
    df, _, _ = read_version_bloom_pruned(spark, path, "dk", 5)  # int probe
    assert df.count() == 1
    df, _, _ = read_version_bloom_pruned(spark, path, "ik", 5.0)  # float probe
    assert df.count() == 1
    df, _, _ = read_version_bloom_pruned(spark, path, "ik", Decimal("5.00"))
    assert df.count() == 1
    df, _, _ = read_version_bloom_pruned(spark, path, "dk", 700.25)
    assert df.count() == 1


def test_constraint_alters_carry_bloom_sidecars(spark, tmp_path):
    """add/drop_constraint are metadata commits and must carry the blooms
    map like every other manifest field — losing it silently regresses
    equality pruning to full reads forever (review finding 3)."""
    from tts_etl_pipeline_spark.sources.versioned import (
        add_constraint,
        drop_constraint,
        read_version_bloom_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    _bloom_table(spark, path)
    add_constraint(spark, path, "pos", "k >= 0")
    _, skipped, total = read_version_bloom_pruned(spark, path, "k", 1234)
    assert total == 8 and skipped >= 4  # pruning survived the ALTER
    drop_constraint(path, "pos")
    _, skipped, total = read_version_bloom_pruned(spark, path, "k", 1234)
    assert total == 8 and skipped >= 4


def test_overwrite_missing_constrained_column_refuses_typed(spark, tmp_path):
    """An overwrite whose schema lost a constrained column gets a TYPED
    refusal naming the constraints, not a raw analysis error after
    staging (review finding 7)."""
    from tts_etl_pipeline_spark.sources.versioned import (
        add_constraint,
        current_version,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(spark.createDataFrame([(1, 2.0)], "k int, price double"), path)
    add_constraint(spark, path, "pos", "price >= 0")
    with pytest.raises(ValueError, match="absent from this commit's schema"):
        write_version(
            spark.createDataFrame([(9,)], "k int"), path, mode="overwrite"
        )
    assert current_version(path) == 2


def test_table_detail_describes_the_version(spark, tmp_path):
    """DESCRIBE DETAIL: manifest-resident facts + per-file sizes, per
    version (time-travel-consistent), without a data read; vacuumed
    history reports missing files instead of raising."""
    from tts_etl_pipeline_spark.sources.versioned import (
        add_constraint,
        rename_column,
        table_detail,
        vacuum,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 2.0, "a"), (2, 3.0, "b")],
                              "k int, price double, tag string")
        .repartition(2),
        path,
        collect_stats=("k",),
        collect_blooms=("tag",),
    )
    rename_column(path, "price", "price_usd")
    add_constraint(spark, path, "pos", "price_usd >= 0")
    d = table_detail(path)
    assert (d["version"], d["head"]) == (3, 3)
    assert d["columns"] == ["k", "price_usd", "tag"]
    assert d["stats_columns"] == ["k"] and d["bloom_columns"] == ["tag"]
    assert d["constraints"] == {"pos": "price_usd >= 0"}
    assert d["renamed_columns"] == {"price_usd": "price"}
    assert d["num_files"] == 2 and d["missing_files"] == 0
    assert d["size_bytes"] > 0 and d["mode"] == "alter"
    d1 = table_detail(path, 1)
    assert d1["columns"] == ["k", "price", "tag"]
    assert d1["constraints"] == {} and d1["renamed_columns"] == {}
    # an overwrite + vacuum leaves v1 describable with missing files
    write_version(
        spark.createDataFrame([(9, 1.0, "z")],
                              "k int, price_usd double, tag string"),
        path, mode="overwrite")
    vacuum(path, keep_versions=1, grace_seconds=0.0)
    dv = table_detail(path, 1)
    assert dv["missing_files"] == dv["num_files"] == 2


def test_table_detail_reports_logical_names_after_rename(spark, tmp_path):
    """stats_columns and bloom_columns use the names `columns` shows: a
    renamed column is reported under its new name, not its physical
    one."""
    from tts_etl_pipeline_spark.sources.versioned import (
        rename_column,
        table_detail,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, tag string"),
        path,
        collect_stats=("k",),
        collect_blooms=("tag",),
    )
    rename_column(path, "k", "kk")
    rename_column(path, "tag", "label")
    d = table_detail(path)
    assert d["columns"] == ["kk", "label"]
    assert d["stats_columns"] == ["kk"] and d["bloom_columns"] == ["label"]


def test_failed_write_leaves_no_staging_dir(spark, tmp_path, monkeypatch):
    """A versioned write that fails while staging removes its staging
    directory and commits nothing: a flat write whose Spark job raises,
    and a partition-laid write that fails while walking its staged tree."""
    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    write_version(spark.range(5).selectExpr("id AS k"), path)
    bad = spark.range(20).select(
        F.when(F.col("id") == 3, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("k")
    )
    with pytest.raises(Exception, match="boom"):
        write_version(bad, path)

    def unparsable(*_args):
        raise ValueError("bad partition value")

    monkeypatch.setattr(V, "_pvalue_parse", unparsable)
    with pytest.raises(ValueError, match="bad partition value"):
        write_version(
            spark.range(20).selectExpr("id AS k"),
            path,
            partition_by=(("truncate", "k", 10),),
        )
    assert not [n for n in os.listdir(path) if n.startswith("_staging")]
    assert current_version(path) == 1


def test_concurrent_writers_all_commit_exactly_once(spark, tmp_path):
    """Multi-writer ACID stress: 6 threads race 4 appends each through
    the manifest-name CAS, retrying on CommitConflictError. Every batch
    must land EXACTLY once (no lost updates, no duplicates), the head
    must equal the number of commits, and every intermediate version must
    stay readable (snapshot isolation under contention)."""
    import threading

    from tts_etl_pipeline_spark.sources.versioned import (
        CommitConflictError,
        current_version,
        history,
        read_version,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(spark.createDataFrame([(-1, -1)], "w int, b int"), path)
    n_threads, n_batches = 6, 4
    errors: list = []

    def writer(w: int) -> None:
        try:
            for b in range(n_batches):
                df = spark.createDataFrame([(w, b)], "w int, b int")
                for _ in range(200):  # optimistic retry loop
                    try:
                        write_version(df, path)
                        break
                    except CommitConflictError:
                        continue
                else:
                    raise RuntimeError(f"writer {w} starved on batch {b}")
        except Exception as ex:  # surfaces in the main thread
            errors.append(ex)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    head = current_version(path)
    assert head == 1 + n_threads * n_batches  # one version per commit
    rows = sorted(
        (r["w"], r["b"]) for r in read_version(spark, path).collect()
    )
    want = sorted(
        [(-1, -1)] + [(w, b) for w in range(n_threads) for b in range(n_batches)]
    )
    assert rows == want  # every batch exactly once, none lost
    # history is a contiguous append chain and every version still reads
    assert [h["version"] for h in history(path)] == list(range(1, head + 1))
    assert read_version(spark, path, head // 2).count() == head // 2


def test_bloom_nonintegral_decimal_folds_like_real():
    """r11 ADVICE (medium): a NON-integral Decimal whose float fold is
    integral (Decimal('2.0000000000000000001') -> 2.0) must encode
    exactly like the double it widens to ('i:2'), or a widened double
    probe 2.0 silently skips its file — a false negative. The Decimal
    branch applies the SAME fold as numbers.Real."""
    from decimal import Decimal

    from tts_etl_pipeline_spark.sources.versioned import _bloom_canonical

    d = Decimal("2.0000000000000000001")
    assert _bloom_canonical(d) == _bloom_canonical(2.0) == b"i:2"
    # a genuinely fractional Decimal still folds like its float twin
    assert _bloom_canonical(Decimal("2.5")) == _bloom_canonical(2.5)
    # and an EXACT-integral Decimal keeps its exact digits (>2^53 safe)
    assert _bloom_canonical(Decimal(9007199254740993)) == b"i:9007199254740993"


def test_bloom_pruned_read_nonintegral_decimal_widened_probe(spark, tmp_path):
    """End-to-end twin of the canonical-encoding fix: a decimal column
    holding 2.0000000000000000001 must be READ by a double probe 2.0
    (Spark's decimal<->double widened equality makes the row match)."""
    from decimal import Decimal

    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_bloom_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(Decimal("2.0000000000000000001"),), (Decimal("9.5"),)],
            "k decimal(20,19)",
        ).repartition(2, "k"),
        path,
        collect_blooms=("k",),
    )
    got, _, _total = read_version_bloom_pruned(spark, path, "k", 2.0)
    # pre-fix the bloom encoded 'f:2.0' at build but the probe asks 'i:2',
    # so the file holding the matching row was skipped -> count 0
    assert got.count() == 1  # widened equality: CAST(k AS double) == 2.0


def test_stat_disjoint_cross_type_degrades_to_read(spark, tmp_path):
    """r11 ADVICE (low): a numeric BETWEEN probe against recorded STRING
    truncate(16) bounds (or vice versa) proves nothing — it must degrade
    to reading the file (skip nothing), never crash the caller's plan."""
    from tts_etl_pipeline_spark.sources.versioned import (
        _stat_disjoint,
        read_version_pruned,
        write_version,
    )

    assert _stat_disjoint(["a", "z"], 1, 5) is False
    assert _stat_disjoint([1, 5], "a", "z") is False
    # end-to-end: numeric range probe on a string column with recorded
    # bounds plans a full read instead of propagating TypeError
    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([("7",), ("b",)], "s string").repartition(2, "s"),
        path,
        collect_stats=("s",),
    )
    df, skipped, total = read_version_pruned(spark, path, "s", 1, 5)
    assert (skipped, total) == (0, 2)  # unprunable: every file read


def test_dv_decode_raises_on_dangling_continuation():
    """r11 ADVICE (low): a bit-truncated varint stream (final byte still
    carrying the continuation bit) must RAISE — silently dropping the
    trailing position would serve deleted rows back."""
    import base64

    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import _dv_decode, _dv_encode

    good = _dv_encode([5, 130, 16384])
    raw = base64.b64decode(good)
    # chop the terminating byte of the last varint: its predecessor keeps
    # the continuation bit set, so the stream now dangles
    with _pytest.raises(ValueError, match="dangling"):
        _dv_decode(base64.b64encode(raw[:-1]).decode("ascii"))
    with _pytest.raises(ValueError, match="dangling"):
        _dv_decode(base64.b64encode(b"\x81").decode("ascii"))


def test_load_dvs_validates_cardinality(tmp_path):
    """r11 ADVICE (low): a valid-JSON DV sidecar whose decoded position
    count disagrees with the recorded 'card' is damage — _load_dvs must
    raise instead of resurrecting deleted rows."""
    import json

    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        _dv_encode,
        _load_dvs,
        _vdir,
    )

    path = str(tmp_path)
    os.makedirs(_vdir(path), exist_ok=True)
    rel = os.path.join("_versions", "dv-test.json")
    with open(os.path.join(path, rel), "w", encoding="utf-8") as fh:
        json.dump({"data/f.parquet": {"card": 3, "b64": _dv_encode([1, 2])}}, fh)
    manifest = {"dvs": {"data/f.parquet": rel}}
    with _pytest.raises(ValueError, match="card"):
        _load_dvs(path, manifest, ["data/f.parquet"])


def test_write_shard_survives_vacuum_unlink_race(tmp_path, monkeypatch):
    """r11 ADVICE (low): when vacuum unlinks a content-addressed shard in
    the gap between _write_shard's existence probe and its utime refresh,
    the FileNotFoundError must fall through to REWRITING the shard — a
    committed manifest must never reference a missing sidecar."""
    from tts_etl_pipeline_spark.sources.versioned import _write_shard

    path = str(tmp_path)
    entry = _write_shard(path, ["data/a.parquet"], {}, {}, {})
    full = os.path.join(path, entry["path"])
    assert os.path.exists(full)

    real_utime = os.utime

    def racing_utime(p, *a, **kw):
        if p == full:  # simulate the concurrent vacuum winning the race
            os.remove(full)
            raise FileNotFoundError(p)
        return real_utime(p, *a, **kw)

    monkeypatch.setattr(os, "utime", racing_utime)
    entry2 = _write_shard(path, ["data/a.parquet"], {}, {}, {})
    assert entry2 == entry
    assert os.path.exists(full)  # rewritten, not silently missing


# ---------------------------------------------------------------------------
# Partition-spec transforms + spec evolution (r12)
# ---------------------------------------------------------------------------


def _pspec_imports():
    from tts_etl_pipeline_spark.sources.versioned import (
        alter_partition_spec,
        manifest,
        partition_spec,
        read_version,
        read_version_pruned,
        write_version,
    )

    return (
        alter_partition_spec,
        manifest,
        partition_spec,
        read_version,
        read_version_pruned,
        write_version,
    )


def _pspec_df(spark):
    import datetime as dt

    rows = [
        (i, dt.date(1992 + i % 6, 1 + i % 12, 1 + i % 28), f"c{i % 7}")
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "k long, d date, s string")


def test_partition_spec_layout_and_prune(spark, tmp_path):
    """A year(d)-partitioned write lays out ONE file per live year and a
    date-range read plans O(matching partitions) files — the Iceberg
    `PARTITIONED BY (years(d))` contract — with rows exactly equal to the
    unpartitioned filter."""
    (alter, manifest, pspec, read_v, read_pruned, write_v) = _pspec_imports()
    df = _pspec_df(spark)
    path = str(tmp_path / "t")
    write_v(df, path, partition_by=(("year", "d"),))
    m = manifest(path, 1)
    n_years = df.selectExpr("year(d)").distinct().count()
    assert len(m["files"]) == n_years  # one file group per partition tuple
    assert all("__p:year:d" in m["stats"][f] for f in m["files"])
    assert pspec(path)["fields"] == [["year", "d", None]]
    got, skipped, total = read_pruned(spark, path, "d", "1993-01-01", "1993-12-31")
    assert (skipped, total) == (n_years - 1, n_years)  # only 1993's file read
    exp = df.filter("d between date'1993-01-01' and date'1993-12-31'")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in exp.collect()
    )


def test_partition_spec_evolution_prunes_both_vintages(spark, tmp_path):
    """Spec evolution is Iceberg's: the new spec applies to NEW files only
    (no rewrite — old files byte-identical), and one date predicate prunes
    BOTH vintages — old files under year(d), new files under month(d)."""
    import datetime as dt

    (alter, manifest, pspec, read_v, read_pruned, write_v) = _pspec_imports()
    df = _pspec_df(spark)
    old, new = df.filter("d < date'1995-01-01'"), df.filter("d >= date'1995-01-01'")
    path = str(tmp_path / "t")
    write_v(old, path, partition_by=(("year", "d"),))
    m1 = manifest(path, 1)
    sig = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]
    }
    alter(path, (("month", "d"),))
    assert pspec(path)["fields"] == [["month", "d", None]]
    assert pspec(path)["history"]["1"] == [["year", "d", None]]
    write_v(new, path)  # appends lay out under the EVOLVED spec, no re-declare
    m3 = manifest(path, 3)
    assert {
        f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]
    } == sig  # evolution rewrote nothing
    n_old = len(m1["files"])
    n_new = len(m3["files"]) - n_old
    new_months = new.selectExpr(
        "(year(d)-1970)*12 + month(d) - 1 as m"
    ).distinct().count()
    assert n_new == new_months  # month layout under the evolved spec
    # a probe spanning the vintage boundary: one 1993 year-file from the
    # old vintage + only the matching month-files from the new vintage
    got, skipped, total = read_pruned(
        spark, path, "d", dt.date(1993, 1, 1), dt.date(1995, 12, 31)
    )
    match_new = new.filter("d <= date'1995-12-31'").selectExpr(
        "(year(d)-1970)*12 + month(d) - 1 as m"
    ).distinct().count()
    kept = total - skipped
    assert total == n_old + n_new
    assert kept == 2 + match_new  # 1993 + 1994 year files + matching months
    exp = df.filter("d between date'1993-01-01' and date'1995-12-31'")
    assert got.count() == exp.count()
    # idempotent re-declare: the same fields reuse the existing vintage id
    v_before = manifest(path, 3)["version"]
    alter(path, (("month", "d"),))
    assert pspec(path)["id"] == "2"


def test_partition_spec_bucket_and_truncate(spark, tmp_path):
    """bucket(N) prunes EQUALITY probes only (a range derives nothing);
    truncate(W) prunes string prefixes and floors ints (negatives too,
    Iceberg semantics)."""
    (alter, manifest, pspec, read_v, read_pruned, write_v) = _pspec_imports()
    df = _pspec_df(spark)
    p1 = str(tmp_path / "b")
    write_v(df, p1, partition_by=(("bucket", "k", 8),))
    n = len(manifest(p1, 1)["files"])
    got, skipped, total = read_pruned(spark, p1, "k", 17, 17)
    assert got.count() == 1 and total == n and skipped == n - 1
    _, sk_range, _ = read_pruned(spark, p1, "k", 10, 20)  # range: no bucket skip
    assert sk_range == 0
    p2 = str(tmp_path / "tr")
    write_v(df, p2, partition_by=(("truncate", "s", 2),))
    got2, sk2, tot2 = read_pruned(spark, p2, "s", "c1", "c2")
    assert sk2 > 0
    assert got2.count() == df.filter("s between 'c1' and 'c2'").count()
    # int truncate floors negatives: -7 with W=4 -> -8
    p3 = str(tmp_path / "ti")
    neg = spark.createDataFrame([(-7,), (-1,), (3,), (9,)], "k long")
    write_v(neg, p3, partition_by=(("truncate", "k", 4),))
    m3 = manifest(p3, 1)
    vals = sorted(v["__p:truncate[4]:k"][0] for v in m3["stats"].values())
    assert vals == [-8, -4, 0, 8]
    g3, s3, t3 = read_pruned(spark, p3, "k", -7, -7)
    assert g3.count() == 1 and s3 == t3 - 1


def test_partition_spec_null_and_prespec_files_never_skipped(spark, tmp_path):
    """A NULL transform value records no tuple stat (its file is always
    read), and files written BEFORE the spec existed keep serving — both
    degrade to read, never to a wrong skip."""
    import datetime as dt

    (alter, manifest, pspec, read_v, read_pruned, write_v) = _pspec_imports()
    path = str(tmp_path / "t")
    pre = spark.createDataFrame(
        [(1, dt.date(1993, 6, 1), "x")], "k long, d date, s string"
    )
    write_v(pre, path)  # pre-spec vintage: no tuple at all
    alter(path, (("year", "d"),))
    with_null = spark.createDataFrame(
        [(2, None, "y"), (3, dt.date(1999, 1, 1), "z")],
        "k long, d date, s string",
    )
    write_v(with_null, path)
    got, skipped, total = read_pruned(spark, path, "d", "1993-01-01", "1993-12-31")
    assert got.count() == 1  # the pre-spec row
    # the 1999 file is skippable; the pre-spec file and the null-tuple
    # file are not (no stat -> read)
    assert skipped == 1
    assert read_v(spark, path).count() == 3


def test_partition_spec_mutation_interplay(spark, tmp_path):
    """DV delete + update + purge on a partitioned, spec-evolved table:
    merge-on-read mutations keep every data file byte-identical, purge
    rewrites only vectored files, and partition pruning keeps planning
    O(matching partitions) throughout (tuples carried by every commit)."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        purge_dvs,
        update_where_dv,
    )

    (alter, manifest, pspec, read_v, read_pruned, write_v) = _pspec_imports()
    df = _pspec_df(spark)
    old, new = df.filter("d < date'1995-01-01'"), df.filter("d >= date'1995-01-01'")
    path = str(tmp_path / "t")
    write_v(old, path, partition_by=(("year", "d"),))
    alter(path, (("month", "d"),))
    write_v(new, path)
    head = manifest(path, 3)
    sig = {
        f: os.stat(os.path.join(path, f)).st_ino for f in head["files"]
    }
    v4 = delete_where_dv(spark, path, "k", 0, 4)  # rows in both vintages
    v5 = update_where_dv(spark, path, "k", 10, 10, {"s": "'UPD'"})
    m5 = manifest(path, v5)
    # merge-on-read: every ORIGINAL file is byte-identical (the update
    # appends the rewritten rows as new files and DV-hides the old ones)
    assert {
        f: os.stat(os.path.join(path, f)).st_ino
        for f in m5["files"]
        if f in sig
    } == sig
    assert set(sig) <= set(m5["files"])
    assert read_v(spark, path).count() == 195
    assert read_v(spark, path).filter("s = 'UPD'").count() == 1
    # pruning still plans O(matching partitions) with DVs live
    got, skipped, total = read_pruned(spark, path, "d", "1993-01-01", "1993-12-31")
    exp = df.filter(
        "d between date'1993-01-01' and date'1993-12-31' and k not in (0,1,2,3,4)"
    ).count()
    assert got.count() == exp
    assert skipped > 0
    v6 = purge_dvs(spark, path)
    assert read_v(spark, path).count() == 195
    assert read_v(spark, path).filter("s = 'UPD'").count() == 1
    got2, sk2, _ = read_pruned(spark, path, "d", "1993-01-01", "1993-12-31")
    assert got2.count() == exp
    # untouched (unvectored) files keep their tuples, so pruning survives
    assert sk2 > 0


def test_copy_on_write_writers_prune_on_partition_tuples(spark, tmp_path):
    """delete_where and merge plan with _plan_pruned_files, so on a table
    laid out by partition_by with no collect_stats they rewrite only the
    partitions their predicate or source key span meets. Files of
    disjoint partitions ride by reference: same names, same mtimes."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where,
        manifest,
        merge,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(400).selectExpr("id AS k", "id * 2 AS v"),
        path,
        partition_by=(("truncate", "k", 100),),
    )
    m1 = manifest(path, 1)
    assert len(m1["files"]) == 4
    assert not any("k" in m1["stats"][f] for f in m1["files"])
    sig = {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]}

    def carried(v: int) -> int:
        return sum(
            1
            for f in manifest(path, v)["files"]
            if f in sig and os.stat(os.path.join(path, f)).st_mtime_ns == sig[f]
        )

    v2 = delete_where(spark, path, "k", 150, 160)
    assert carried(v2) == 3  # the 0xx, 2xx and 3xx files
    src = spark.range(310, 321).selectExpr("id AS k", "-id AS v")
    v3 = merge(spark, path, src, "k")
    assert carried(v3) == 2  # the 0xx and 2xx files
    rows = {r.k: r.v for r in read_version(spark, path).collect()}
    assert len(rows) == 389 and rows[315] == -315 and rows[100] == 200


def test_widen_keeps_sbucket_probes_sound(spark, tmp_path):
    """sbucket hashes with Spark's murmur3, which hashes byte/short/int as
    one 4-byte block and long as 8 bytes. widen_column refuses int -> long
    on an sbucket column, whose files' bucket ids would stop matching the
    probe (delete_where would carry the file holding the key, and a
    one-row merge would insert a duplicate). short -> int keeps every
    bucket id, and the writers still prune and find their row after it."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where,
        manifest,
        merge,
        widen_column,
    )

    spec = (("sbucket", "k", 4),)
    ints = str(tmp_path / "ints")
    write_version(
        spark.range(40).selectExpr("CAST(id AS INT) AS k", "id AS v"),
        ints,
        partition_by=spec,
    )
    with _pytest.raises(ValueError, match="sbucket"):
        widen_column(ints, "k", "long")
    assert dict(read_version(spark, ints).dtypes)["k"] == "int"

    path = str(tmp_path / "shorts")
    write_version(
        spark.range(40).selectExpr("CAST(id AS SHORT) AS k", "id AS v"),
        path,
        partition_by=spec,
    )
    m1 = manifest(path, 1)
    assert len(m1["files"]) == 4
    widen_column(path, "k", "int")
    v3 = delete_where(spark, path, "k", 5, 5)
    assert len(set(manifest(path, v3)["files"]) & set(m1["files"])) == 3
    src = spark.createDataFrame([(7, -7)], "k int, v long")
    merge(spark, path, src, "k")
    rows = sorted((r.k, r.v) for r in read_version(spark, path).collect())
    assert len(rows) == 39
    assert (5, 5) not in rows and (7, -7) in rows and (7, 7) not in rows


def test_partition_spec_rename_survives(spark, tmp_path):
    """Specs are keyed by PHYSICAL column names: renaming the partition
    column keeps every recorded tuple valid and pruning exact under the
    NEW logical name (the same contract stats/blooms honor)."""
    from tts_etl_pipeline_spark.sources.versioned import rename_column

    (alter, manifest, pspec, read_v, read_pruned, write_v) = _pspec_imports()
    df = _pspec_df(spark)
    path = str(tmp_path / "t")
    write_v(df, path, partition_by=(("year", "d"),))
    rename_column(path, "d", "order_date")
    got, skipped, total = read_pruned(
        spark, path, "order_date", "1993-01-01", "1993-12-31"
    )
    assert skipped == total - 1
    assert got.count() == df.filter(
        "d between date'1993-01-01' and date'1993-12-31'"
    ).count()
    # appends after the rename keep partitioning (spec follows the rename)
    import datetime as dt

    extra = spark.createDataFrame(
        [(999, dt.date(1993, 7, 7), "zz")], "k long, order_date date, s string"
    )
    write_v(extra, path)
    got2, sk2, tot2 = read_pruned(
        spark, path, "order_date", "1993-01-01", "1993-12-31"
    )
    assert got2.count() == got.count() + 1
    assert sk2 == tot2 - 2  # the old 1993 file + the new 1993 file


def test_partition_spec_validation():
    """Bad specs fail the DECLARING commit with typed messages: unknown
    transform, wrong column type, missing/forbidden params, duplicates,
    unknown columns."""
    import pytest as _pytest

    from pyspark.sql.types import (
        DateType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from tts_etl_pipeline_spark.sources.versioned import _parse_partition_spec

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("d", DateType()),
            StructField("s", StringType()),
        ]
    )
    ok = _parse_partition_spec((("day", "d"), ("bucket", "k", 8), "s"), schema, None)
    assert ok == [["day", "d", None], ["bucket", "k", 8], ["identity", "s", None]]
    for bad, msg in [
        ((("week", "d"),), "unknown partition transform"),
        ((("hour", "d"),), "needs a timestamp"),
        ((("year", "k"),), "needs a date/timestamp"),
        ((("bucket", "d", 8),), "int-family and string"),
        ((("bucket", "k"),), "positive int"),
        ((("bucket", "k", 0),), "positive int"),
        ((("day", "d", 3),), "takes no parameter"),
        ((("day", "d"), ("day", "d")), "duplicate"),
        ((("day", "nope"),), "not in the schema"),
    ]:
        with _pytest.raises(ValueError, match=msg):
            _parse_partition_spec(bad, schema, None)


def test_partition_spec_unpartition_evolution(spark, tmp_path):
    """Evolving to an EMPTY spec stops laying out new files (and records
    the vintage); old files keep pruning under their original spec."""
    (alter, manifest, pspec, read_v, read_pruned, write_v) = _pspec_imports()
    df = _pspec_df(spark)
    path = str(tmp_path / "t")
    write_v(df.filter("d < date'1995-01-01'"), path, partition_by=(("year", "d"),))
    n1 = len(manifest(path, 1)["files"])
    alter(path, ())
    assert pspec(path)["fields"] is None or pspec(path)["fields"] == []
    write_v(df.filter("d >= date'1995-01-01'").coalesce(2), path)
    got, skipped, total = read_pruned(spark, path, "d", "1993-01-01", "1993-12-31")
    assert skipped == n1 - 1  # old vintage still prunes; new files all read
    assert got.count() == df.filter(
        "d between date'1993-01-01' and date'1993-12-31'"
    ).count()


# ---------------------------------------------------------------------------
# Branch/tag refs + write-audit-publish (r12)
# ---------------------------------------------------------------------------


def _wap_imports():
    from tts_etl_pipeline_spark.sources import versioned as V

    return V


def test_wap_stage_audit_publish(spark, tmp_path):
    """The canonical write-audit-publish flow: staged commits are invisible
    to EVERY main reader until fast_forward, and publishing grafts exactly
    the staged commits into main's history (parent chain, modes and
    provenance intact)."""
    V = _wap_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.range(10).selectExpr("id as k"), path)
    fork = V.create_branch(path, "audit")
    assert fork == 1
    V.write_version(spark.range(10, 15).selectExpr("id as k"), path, branch="audit")
    V.write_version(spark.range(15, 18).selectExpr("id as k"), path, branch="audit")
    # pre-publish: main sees NOTHING staged, the audit reader sees it all
    assert V.current_version(path) == 1
    assert V.read_version(spark, path).count() == 10
    assert V.read_branch(spark, path, "audit").count() == 18
    assert V.branch_head(path, "audit") == 3
    # audit passes -> publish
    head = V.fast_forward(path, "audit")
    assert head == 3 and V.current_version(path) == 3
    assert V.read_version(spark, path).count() == 18
    hist = V.history(path)
    assert [h["version"] for h in hist] == [1, 2, 3]
    m2 = V.manifest(path, 2)
    assert m2.get("published_from") == "audit" and "branch" not in m2
    assert m2["parent"] == 1  # the staged chain IS main's chain
    # time travel through the published range works like any history
    assert V.read_version(spark, path, 2).count() == 15
    # the branch re-rooted at the new head with no staged work left
    assert V.list_refs(path)["branches"]["audit"] == {"fork": 3, "head": 3}
    assert not os.path.exists(
        os.path.join(path, "_versions", "v00000002-audit.json")
    )
    # idempotent: publishing an empty branch is a no-op
    assert V.fast_forward(path, "audit") == 3


def test_wap_publish_conflict_is_typed_and_publishes_nothing(spark, tmp_path):
    """A concurrent MAIN commit after the fork makes the staged chain
    non-fast-forwardable: publish raises PublishConflictError (a
    CommitConflictError subtype — one conflict taxonomy) and changes
    nothing; the remedy is re-staging onto the new head."""
    import pytest as _pytest

    V = _wap_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.range(5).selectExpr("id as k"), path)
    V.create_branch(path, "audit")
    V.write_version(spark.range(5, 8).selectExpr("id as k"), path, branch="audit")
    V.write_version(spark.range(100, 101).selectExpr("id as k"), path)  # main wins v2
    with _pytest.raises(V.PublishConflictError):
        V.fast_forward(path, "audit")
    assert issubclass(V.PublishConflictError, V.CommitConflictError)
    assert V.current_version(path) == 2
    assert V.read_version(spark, path).count() == 6  # main untouched
    # the branch still holds its staged work for a re-stage decision
    assert V.read_branch(spark, path, "audit").count() == 8


def test_wap_publish_resumes_after_partial_crash(spark, tmp_path):
    """A publish that died between linking slot 1 and slot 2 resumes: the
    content-identical slot is recognized and skipped, the remaining staged
    commits land, and the pointer advances once."""
    import json as _json

    V = _wap_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.range(5).selectExpr("id as k"), path)
    V.create_branch(path, "audit")
    V.write_version(spark.range(5, 8).selectExpr("id as k"), path, branch="audit")
    V.write_version(spark.range(8, 9).selectExpr("id as k"), path, branch="audit")
    # simulate the dead publisher's first slot landing (clean manifest)
    src = os.path.join(path, "_versions", "v00000002-audit.json")
    with open(src, encoding="utf-8") as fh:
        m = _json.load(fh)
    m.pop("branch", None)
    m["published_from"] = "audit"
    with open(os.path.join(path, "_versions", "v00000002.json"), "w") as fh:
        _json.dump(m, fh)
    assert V.current_version(path) == 1  # pointer never advanced
    head = V.fast_forward(path, "audit")
    assert head == 3 and V.current_version(path) == 3
    assert V.read_version(spark, path).count() == 9


def test_branch_commit_cas_conflict(spark, tmp_path):
    """Two writers staging onto the SAME branch snapshot: exactly one wins
    the branch's manifest CAS, the loser gets CommitConflictError — the
    same optimistic discipline main commits use."""
    import pytest as _pytest

    V = _wap_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.range(5).selectExpr("id as k"), path)
    V.create_branch(path, "audit")
    h = V.branch_head(path, "audit")
    V.write_version(
        spark.range(5, 6).selectExpr("id as k"), path,
        branch="audit", expected_version=h,
    )
    with _pytest.raises(V.CommitConflictError):
        V.write_version(
            spark.range(6, 7).selectExpr("id as k"), path,
            branch="audit", expected_version=h,
        )


def test_tag_pins_reproducible_read_through_vacuum(spark, tmp_path):
    """A tag is a reproducible read: vacuum retains the tagged snapshot's
    files even when keep_versions would reclaim them; deleting the tag
    releases them."""
    V = _wap_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.range(10).selectExpr("id as k"), path)
    V.create_tag(path, "launch")
    V.write_version(
        spark.range(100, 105).selectExpr("id as k"), path, mode="overwrite"
    )
    deleted = V.vacuum(path, keep_versions=1, grace_seconds=0.0)
    assert V.read_tag(spark, path, "launch").count() == 10  # retained
    assert sorted(r["k"] for r in V.read_tag(spark, path, "launch").collect()) == list(range(10))
    V.delete_tag(path, "launch")
    deleted2 = V.vacuum(path, keep_versions=1, grace_seconds=0.0)
    assert deleted2  # the tag's files are reclaimable now
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no tag"):
        V.read_tag(spark, path, "launch")


def test_branch_staging_survives_vacuum_then_reclaims_on_delete(spark, tmp_path):
    """Live branches pin their staged files against vacuum (a stage-then-
    audit window can exceed any grace period); delete_branch turns the
    staged snapshot into reclaimable garbage without touching main."""
    V = _wap_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.range(10).selectExpr("id as k"), path)
    V.create_branch(path, "audit")
    V.write_version(spark.range(10, 20).selectExpr("id as k"), path, branch="audit")
    V.vacuum(path, keep_versions=1, grace_seconds=0.0)
    assert V.read_branch(spark, path, "audit").count() == 20  # staged files kept
    V.delete_branch(path, "audit")
    V.vacuum(path, keep_versions=1, grace_seconds=0.0)
    assert V.read_version(spark, path).count() == 10  # main untouched
    # the staged manifest and its data files are gone
    assert not any(
        "-audit" in fn for fn in os.listdir(os.path.join(path, "_versions"))
    )


def test_ref_validation_and_typed_refusals(spark, tmp_path):
    import pytest as _pytest

    V = _wap_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.range(3).selectExpr("id as k"), path)
    for bad in ("", "-x", ".hidden", "a/b", "a b", "a:b"):
        with _pytest.raises(ValueError, match="invalid ref name"):
            V.create_branch(path, bad)
    V.create_branch(path, "audit")
    with _pytest.raises(ValueError, match="already exists"):
        V.create_branch(path, "audit")
    V.create_tag(path, "v1")
    with _pytest.raises(ValueError, match="already exists"):
        V.create_tag(path, "v1")
    with _pytest.raises(ValueError, match="no branch"):
        V.write_version(spark.range(1).selectExpr("id as k"), path, branch="nope")
    with _pytest.raises(ValueError, match="no branch"):
        V.fast_forward(path, "nope")
    with _pytest.raises(ValueError, match="no tag"):
        V.delete_tag(path, "nope")
    with _pytest.raises(ValueError):  # tags pin COMMITTED main versions only
        V.create_tag(path, "future", at_version=99)


def test_branch_from_empty_table_bootstrap(spark, tmp_path):
    """WAP bootstrap: staging the very FIRST load on an empty table (fork
    at version 0) — the standard shape for a new pipeline's first
    audited publish."""
    V = _wap_imports()
    path = str(tmp_path / "t")
    fork = V.create_branch(path, "init")
    assert fork == 0
    V.write_version(spark.range(7).selectExpr("id as k"), path, branch="init")
    assert V.current_version(path) == 0  # nothing published yet
    assert V.read_branch(spark, path, "init").count() == 7
    assert V.fast_forward(path, "init") == 1
    assert V.read_version(spark, path).count() == 7


def test_bloom_build_executor_side_identical_bits(spark, tmp_path):
    """r12: commit-time blooms build EXECUTOR-side (one task per staged
    file) — the bits must be byte-identical to the driver fallback, so
    every probe answers the same whichever side built the filter."""
    import json as _json

    from tts_etl_pipeline_spark.sources.versioned import (
        _collect_blooms,
        _collect_blooms_spark,
        manifest,
        read_version_bloom_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    df = spark.range(2000).selectExpr("id as k", "cast(id as string) as s")
    write_version(df.repartition(4, "k"), path, collect_blooms=("k", "s"))
    m = manifest(path, 1)
    files = sorted(m["files"])
    assert len(files) > 1  # the distributed path actually ran
    sidecar = m["blooms"][files[0]]
    with open(os.path.join(path, sidecar), encoding="utf-8") as fh:
        committed = _json.load(fh)
    driver_built = _collect_blooms(path, files, ("k", "s"))
    assert committed == driver_built  # byte-identical bits
    spark_built = _collect_blooms_spark(spark, path, files, ("k", "s"))
    assert spark_built == driver_built
    got, skipped, total = read_version_bloom_pruned(spark, path, "k", 1234)
    assert got.count() == 1 and total == len(files) and skipped >= 1


# ---------------------------------------------------------------------------
# Equality deletes (r12) — Iceberg v2 equality delete files
# ---------------------------------------------------------------------------


def test_equality_delete_commits_without_reading_data(spark, tmp_path):
    """The point of an equality delete: the commit writes a KB sidecar +
    manifest and runs ZERO Spark jobs — no scan to find positions (that
    is the DV tradeoff); job count pinned via a job group."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        manifest,
        read_version,
        write_version,
    )

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id as k", "concat('n', id) as name")
    write_version(df.repartition(4, "k"), path)
    m1 = manifest(path, 1)
    sig = {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]}
    sc = spark.sparkContext
    sc.setJobGroup("eq_commit_pin", "equality delete commit")
    v2 = delete_where_eq(path, "k", [3, 50, 99])
    jobs = sc.statusTracker().getJobIdsForGroup("eq_commit_pin")
    sc.setJobGroup(None, None)
    assert list(jobs) == []  # not a single Spark job
    m2 = manifest(path, v2)
    assert m2["files"] == m1["files"]  # no file added, none rewritten
    assert {
        f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m2["files"]
    } == sig
    assert m2["mode"] == "delete-eq"
    assert sorted(r["k"] for r in read_version(spark, path).collect()) == [
        k for k in range(100) if k not in (3, 50, 99)
    ]


def test_equality_delete_scopes_to_prior_files(spark, tmp_path):
    """Iceberg sequence-number semantics: the delete applies to files
    added BEFORE it — a CDC re-insert of a deleted key survives, and a
    LATER delete of the same key kills the fresh copy."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        read_version,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(spark.range(10).selectExpr("id as k"), path)
    delete_where_eq(path, "k", [5])
    write_version(spark.createDataFrame([(5,)], "k long"), path)  # re-insert
    got = sorted(r["k"] for r in read_version(spark, path).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9][:5] + [5] + [6, 7, 8, 9]
    delete_where_eq(path, "k", [5])  # a LATER delete covers the re-insert
    assert sorted(r["k"] for r in read_version(spark, path).collect()) == [
        0, 1, 2, 3, 4, 6, 7, 8, 9,
    ]


def test_equality_delete_cdf_and_stream_exact(spark, tmp_path):
    """CDF across an equality-delete commit is exactly the newly-invisible
    rows as deletes (file lists identical — the DV-changed-files trigger
    extended); across the re-insert, one insert; a compaction after the
    delete still cancels to an empty feed."""
    from tts_etl_pipeline_spark.sources.versioned import (
        compact,
        delete_where_eq,
        manifest,
        table_changes,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(spark.range(10).selectExpr("id as k"), path)
    v2 = delete_where_eq(path, "k", [2, 4])
    assert sorted(
        (r["k"], r["_change_type"]) for r in table_changes(spark, path, 1, v2).collect()
    ) == [(2, "delete"), (4, "delete")]
    write_version(spark.createDataFrame([(4,)], "k long"), path)
    assert [
        (r["k"], r["_change_type"]) for r in table_changes(spark, path, 2, 3).collect()
    ] == [(4, "insert")]
    vc = compact(spark, path)
    assert table_changes(spark, path, vc - 1, vc).count() == 0
    assert manifest(path, vc).get("eqdeletes") is None  # materialized + cleared


def test_equality_delete_composes_with_dvs_and_pruning(spark, tmp_path):
    """Equality deletes and positional DVs are both subtractive and
    compose in either order; pruned reads (sharded or inline) carry the
    per-file add-version stamps, so scoping survives manifest pruning."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        delete_where_eq,
        read_version,
        read_version_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(100).selectExpr("id as k").repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    delete_where_eq(path, "k", [10, 60])
    delete_where_dv(spark, path, "k", 20, 25)
    got = sorted(r["k"] for r in read_version(spark, path).collect())
    dead = {10, 60} | set(range(20, 26))
    assert got == [k for k in range(100) if k not in dead]
    pruned, skipped, total = read_version_pruned(spark, path, "k", 0, 49)
    assert skipped >= 1
    assert sorted(r["k"] for r in pruned.collect()) == [
        k for k in range(50) if k not in dead
    ]


def test_equality_delete_clone_remap_and_rollback(spark, tmp_path):
    """A clone remaps the source-lineage seq/add-version axis onto <=1:
    carried visibility is exact, the clone's future appends escape
    carried deletes, its future deletes cover carried files. rollback
    restores the restored version's OWN delete set."""
    from tts_etl_pipeline_spark.sources.versioned import (
        clone_table,
        delete_where_eq,
        read_version,
        rollback,
        write_version,
    )

    src = str(tmp_path / "s")
    write_version(spark.range(8).selectExpr("id as k"), src)
    delete_where_eq(src, "k", [1, 2])
    write_version(spark.createDataFrame([(2,)], "k long"), src)  # re-insert 2
    dst = str(tmp_path / "d")
    clone_table(src, dst)
    assert sorted(r["k"] for r in read_version(spark, dst).collect()) == [
        0, 2, 3, 4, 5, 6, 7,
    ]
    write_version(spark.createDataFrame([(1,)], "k long"), dst)
    assert 1 in {r["k"] for r in read_version(spark, dst).collect()}
    delete_where_eq(dst, "k", [0])
    assert sorted(r["k"] for r in read_version(spark, dst).collect()) == [
        1, 2, 3, 4, 5, 6, 7,
    ]
    rollback(src, 1)
    assert read_version(spark, src).count() == 8  # pre-delete visibility


def test_equality_delete_scd2_fold_interplay(spark, tmp_path):
    """The SCD2 fold's staged rewrites materialize live equality deletes
    for the rows they rewrite (stamped past every seq), while REUSED
    closed-history files stay covered — fold output equals a fresh read."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        read_version,
        write_version,
        write_version_parts,
    )

    path = str(tmp_path / "t")
    write_version(spark.range(10).selectExpr("id as k"), path)
    delete_where_eq(path, "k", [7])
    live = read_version(spark, path)  # 9 rows, 7 invisible
    v = write_version_parts(
        [live], path, reuse_files=[], expected_version=2
    )
    got = sorted(r["k"] for r in read_version(spark, path).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    # the rewrite is stamped past the delete: re-adding 7 now survives
    write_version(spark.createDataFrame([(7,)], "k long"), path)
    assert 7 in {r["k"] for r in read_version(spark, path).collect()}


def test_equality_delete_validation(spark, tmp_path):
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        drop_column,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(5).selectExpr("id as k", "concat('n', id) as name"), path
    )
    with _pytest.raises(ValueError, match="non-empty"):
        delete_where_eq(path, "k", [])
    with _pytest.raises(ValueError, match="NULL"):
        delete_where_eq(path, "k", [1, None])
    with _pytest.raises(TypeError, match="type family"):
        delete_where_eq(path, "k", ["3"])  # string probe on bigint column
    with _pytest.raises(TypeError, match="type family"):
        delete_where_eq(path, "name", [3])
    with _pytest.raises(ValueError, match="no column"):
        delete_where_eq(path, "nope", [1])
    delete_where_eq(path, "name", ["n1"])
    with _pytest.raises(ValueError, match="equality delete"):
        drop_column(path, "name")  # live delete references it


def test_upsert_where_eq_atomic_cdc_commit(spark, tmp_path):
    """The atomic CDC upsert: staged rows + an equality delete land in ONE
    commit with zero table reads — old copies die, fresh copies survive,
    delete_keys vanish, and the whole batch is one version."""
    from tts_etl_pipeline_spark.sources.versioned import (
        current_version,
        manifest,
        read_version,
        upsert_where_eq,
    )

    path = str(tmp_path / "t")
    upsert_where_eq(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string"),
        path,
        "k",
    )
    m1 = manifest(path, 1)
    sig = {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]}
    sc = spark.sparkContext
    b2 = spark.createDataFrame([(2, "B2"), (4, "d")], "k long, s string")
    v2 = upsert_where_eq(b2, path, "k", delete_keys=[3])
    assert current_version(path) == v2 == 2  # ONE commit for the batch
    m2 = manifest(path, v2)
    assert set(m1["files"]) <= set(m2["files"])  # append-only
    assert {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in m2["files"] if f in sig
    } == sig  # merge-on-read: v1 bytes untouched
    assert len(m2.get("eqdeletes") or []) == 1
    assert sorted((r.k, r.s) for r in read_version(spark, path).collect()) == [
        (1, "a"), (2, "B2"), (4, "d"),
    ]


def test_upsert_where_eq_marker_idempotence(spark, tmp_path):
    """marker/marker_version: an at-least-once sink probes the manifest
    scalars (no data reads) and skips an already-landed batch."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        current_version,
        marker_version,
        upsert_where_eq,
    )

    path = str(tmp_path / "t")
    upsert_where_eq(
        spark.createDataFrame([(1, "a")], "k long, s string"),
        path, "k", marker="b0",
    )
    upsert_where_eq(
        spark.createDataFrame([(1, "a2")], "k long, s string"),
        path, "k", marker="b1",
    )
    assert marker_version(path, "b0") == 1
    assert marker_version(path, "b1") == 2
    assert marker_version(path, "b7") is None
    # the CDC apply discipline: duplicate keys in one batch refuse
    with _pytest.raises(ValueError, match="duplicate keys"):
        upsert_where_eq(
            spark.createDataFrame([(9, "x"), (9, "y")], "k long, s string"),
            path, "k",
        )
    assert current_version(path) == 2


def test_partition_spec_hour_transform(spark, tmp_path):
    """hour() completes the Iceberg transform set: timestamp columns lay
    out one file group per epoch hour and a timestamp-range probe plans
    O(matching hours) files; a DATE column refuses the transform."""
    import datetime as dt

    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        read_version_pruned,
        write_version,
    )

    rows = [
        (i, dt.datetime(2024, 1, 1, i % 6, 10 * (i % 5)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp_ntz")
    path = str(tmp_path / "t")
    write_version(df, path, partition_by=(("hour", "ts"),))
    m = manifest(path, 1)
    assert len(m["files"]) == 6  # hours 0..5 of 2024-01-01
    got, skipped, total = read_version_pruned(
        spark, path, "ts", "2024-01-01 02:00:00", "2024-01-01 03:59:59"
    )
    assert (skipped, total) == (4, 6)  # only hours 2 and 3 read
    exp = df.filter(
        "ts between timestamp_ntz'2024-01-01 02:00:00' "
        "and timestamp_ntz'2024-01-01 03:59:59'"
    ).count()
    assert got.count() == exp
    # datetime-object probes derive too
    got2, sk2, _ = read_version_pruned(
        spark, path, "ts",
        dt.datetime(2024, 1, 1, 5, 0), dt.datetime(2024, 1, 1, 5, 59),
    )
    assert sk2 == 5 and got2.count() == df.filter("hour(ts) = 5").count()
    with _pytest.raises(ValueError, match="hour\\(\\) needs a timestamp"):
        write_version(
            spark.createDataFrame([(1, dt.date(2024, 1, 1))], "k long, d date"),
            str(tmp_path / "t2"),
            partition_by=(("hour", "d"),),
        )


def test_read_branch_pruned_audits_at_scale(spark, tmp_path):
    """The WAP audit step prunes staged snapshots from manifest stats
    exactly like main reads — a dq gate on a staging branch never pays a
    full scan (and partition-spec layouts prune on branches too)."""
    import datetime as dt

    from tts_etl_pipeline_spark.sources.versioned import (
        create_branch,
        read_branch_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    rows = [
        (i, dt.date(1992 + i % 4, 1 + i % 12, 1 + i % 28)) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "k long, d date")
    write_version(
        df.filter("d < date'1994-01-01'"), path,
        partition_by=(("year", "d"),),
    )
    create_branch(path, "audit")
    write_version(df.filter("d >= date'1994-01-01'"), path, branch="audit")
    got, skipped, total = read_branch_pruned(
        spark, path, "audit", "d", "1995-01-01", "1995-12-31"
    )
    assert skipped == total - 1  # only the staged 1995 year-file read
    assert got.count() == df.filter("year(d) = 1995").count()
    # at-or-before the fork it is simply main history
    got2, sk2, tot2 = read_branch_pruned(
        spark, path, "audit", "d", "1992-01-01", "1992-12-31", version=1
    )
    assert got2.count() == df.filter("year(d) = 1992").count()
    assert sk2 == tot2 - 1


def test_metadata_tables(spark, tmp_path):
    """Iceberg-style metadata tables: history/snapshots, files (with
    add-version stamps, DV flags and partition tuples), partitions
    rollup, refs — all served from manifests with zero data reads."""
    import datetime as dt

    from tts_etl_pipeline_spark.sources.versioned import (
        create_branch,
        create_tag,
        delete_where_dv,
        metadata_table,
        write_version,
    )

    path = str(tmp_path / "t")
    rows = [(i, dt.date(1992 + i % 3, 1, 1)) for i in range(30)]
    write_version(
        spark.createDataFrame(rows, "k long, d date"),
        path,
        partition_by=(("year", "d"),),
    )
    write_version(spark.createDataFrame([(99, None)], "k long, d date"), path)
    delete_where_dv(spark, path, "k", 0, 0)
    create_branch(path, "audit")
    create_tag(path, "v1", at_version=1)

    hist = metadata_table(spark, path, "history").collect()
    assert [(h.version, h.mode) for h in hist] == [
        (1, "append"), (2, "append"), (3, "delete-dv"),
    ]
    files = metadata_table(spark, path, "files").collect()
    assert len(files) == 4  # 3 year files + the v2 null-date file
    by_add = {}
    for f in files:
        by_add.setdefault(f.add_version, 0)
        by_add[f.add_version] += 1
    assert by_add == {1: 3, 2: 1}
    assert sum(1 for f in files if f.has_dv) == 1
    assert sum(1 for f in files if f.partition) == 3  # the year tuples
    parts = metadata_table(spark, path, "partitions").collect()
    assert sum(p.n_files for p in parts) == 4
    refs = metadata_table(spark, path, "refs").collect()
    assert sorted((r.kind, r.name, r.version) for r in refs) == [
        ("branch", "audit", 3), ("tag", "v1", 1),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown metadata table"):
        metadata_table(spark, path, "nope")


def test_eqdelete_sidecar_vacuum_lifecycle(spark, tmp_path):
    """Equality-delete sidecars live exactly as long as a manifest
    references them — vacuum never sweeps one the retained history still
    points at (time travel to the delete's own version must keep
    applying it, the DV-sidecar contract), and an ORPHAN sidecar (lost
    CAS) ages out like any other."""
    from tts_etl_pipeline_spark.sources.versioned import (
        _write_atomic,
        compact,
        delete_where_eq,
        read_version,
        vacuum,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(spark.range(20).selectExpr("id as k"), path)
    delete_where_eq(path, "k", [3, 7])
    vdir = os.path.join(path, "_versions")
    assert any(f.startswith("eqd-") for f in os.listdir(vdir))
    vacuum(path, keep_versions=1, grace_seconds=0.0)
    # still referenced by the head manifest: must survive and still apply
    assert any(f.startswith("eqd-") for f in os.listdir(vdir))
    assert read_version(spark, path).count() == 18
    compact(spark, path)  # materializes + clears the entries at the head
    vacuum(path, keep_versions=1, grace_seconds=0.0)
    # v2's manifest (history is never deleted at or below the head) still
    # references the sidecar, so it is RETAINED even though the head no
    # longer carries the delete — the DV-sidecar lifecycle contract
    assert any(f.startswith("eqd-") for f in os.listdir(vdir))
    assert read_version(spark, path).count() == 18
    # an ORPHAN sidecar (a lost CAS: valid JSON, referenced by nothing)
    # ages out exactly like bloom/dv orphans
    orphan = os.path.join(vdir, "eqd-deadbeef.json")
    _write_atomic(orphan, {"col": "k", "values": [1]})
    os.utime(orphan, (1, 1))  # ancient
    deleted = vacuum(path, keep_versions=1, grace_seconds=0.0)
    assert not os.path.exists(orphan)


def test_concurrent_equality_deletes_cas(spark, tmp_path):
    """Two equality deletes racing from the same snapshot: exactly one
    wins the manifest CAS, the loser refuses typed and retries cleanly on
    the fresh head (extending the r11 conflict matrix)."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        CommitConflictError,
        delete_where_eq,
        read_version,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(spark.range(10).selectExpr("id as k"), path)
    delete_where_eq(path, "k", [1], expected_version=1)
    with _pytest.raises(CommitConflictError):
        delete_where_eq(path, "k", [2], expected_version=1)  # stale snapshot
    delete_where_eq(path, "k", [2])  # fresh-head retry lands
    assert sorted(r.k for r in read_version(spark, path).collect()) == [
        0, 3, 4, 5, 6, 7, 8, 9,
    ]


# ---------------------------------------------------------------------------
# r12 code-review regression pins
# ---------------------------------------------------------------------------


def test_equality_delete_decimal_and_widened_values_read_cleanly(spark, tmp_path):
    """Review finding 1: JSON value kinds beyond the column's exact Spark
    type (float on decimal, float on bigint, int on double) must READ
    correctly after a validated commit — int values compare in exact
    decimal space, float values under Spark's double widening — never
    poison the table."""
    from decimal import Decimal

    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        read_version,
        write_version,
    )

    p1 = str(tmp_path / "dec")
    write_version(
        spark.createDataFrame(
            [(1, Decimal("10.50")), (2, Decimal("7.00")), (3, Decimal("3.25"))],
            "k long, price decimal(12,2)",
        ),
        p1,
    )
    delete_where_eq(p1, "price", [10.5])  # float on decimal: double space
    assert sorted(r.k for r in read_version(spark, p1).collect()) == [2, 3]
    delete_where_eq(p1, "price", [7])  # int on decimal: exact decimal space
    assert sorted(r.k for r in read_version(spark, p1).collect()) == [3]

    p2 = str(tmp_path / "big")
    write_version(spark.range(5).selectExpr("id as k"), p2)
    delete_where_eq(p2, "k", [2.0])  # widened float on bigint
    delete_where_eq(p2, "k", [3.5])  # fractional: provably matches nothing
    assert sorted(r.k for r in read_version(spark, p2).collect()) == [0, 1, 3, 4]

    p3 = str(tmp_path / "dbl")
    write_version(
        spark.createDataFrame([(1, 1.5), (2, 4.0)], "k long, v double"), p3
    )
    delete_where_eq(p3, "v", [4])  # int on double
    assert sorted(r.k for r in read_version(spark, p3).collect()) == [1]


def test_bucket_probe_refuses_cross_type(spark, tmp_path):
    """Review finding 2: a NUMERIC probe on a STRING bucket column must
    not derive a bucket (the stat is an int whatever the column holds, so
    a cross-type derivation would skip the wrong files) — it degrades to
    reading everything, and Spark's own coercion then matches the row."""
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            # numeric-looking strings: ANSI cast in the row filter succeeds
            [("5.0",), ("7",), ("9",)], "s string"
        ),
        path,
        partition_by=(("bucket", "s", 8),),
    )
    got, skipped, total = read_version_pruned(spark, path, "s", 5.0, 5.0)
    assert skipped == 0  # cross-type: no bucket pruning, sound full read
    assert got.count() == 1  # Spark coerces: '5.0' matches BETWEEN 5.0..5.0
    # same-type string probe still prunes
    got2, sk2, _ = read_version_pruned(spark, path, "s", "7", "7")
    assert sk2 >= 1 and got2.count() == 1


def test_hour_probe_accepts_timezone_aware_endpoints(spark, tmp_path):
    """Review finding 3: tz-aware probe endpoints (aware datetimes or
    offset-suffixed ISO strings) normalize to UTC wall time instead of
    crashing the naive-epoch subtraction."""
    import datetime as dt

    from tts_etl_pipeline_spark.sources.versioned import (
        read_version_pruned,
        write_version,
    )

    rows = [(i, dt.datetime(2024, 1, 1, i % 4)) for i in range(40)]
    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(rows, "k long, ts timestamp_ntz"),
        path,
        partition_by=(("hour", "ts"),),
    )
    aware_lo = dt.datetime(2024, 1, 1, 2, tzinfo=dt.timezone.utc)
    aware_hi = dt.datetime(2024, 1, 1, 2, 59, tzinfo=dt.timezone.utc)
    got, skipped, total = read_version_pruned(spark, path, "ts", aware_lo, aware_hi)
    assert (skipped, total) == (3, 4)
    got2, sk2, _ = read_version_pruned(
        spark, path, "ts", "2024-01-01T03:00:00+00:00", "2024-01-01T03:59:00+00:00"
    )
    assert sk2 == 3


def test_clone_keeps_partition_spec(spark, tmp_path):
    """Review finding 4: a clone keeps the source's partition spec — its
    tuple stats keep pruning AND its future writes keep the declared
    layout (the rollback rule, applied to CLONE)."""
    import datetime as dt

    from tts_etl_pipeline_spark.sources.versioned import (
        clone_table,
        manifest,
        partition_spec,
        read_version_pruned,
        write_version,
    )

    src = str(tmp_path / "s")
    rows = [(i, dt.date(1992 + i % 3, 1, 1)) for i in range(30)]
    write_version(
        spark.createDataFrame(rows, "k long, d date"),
        src,
        partition_by=(("year", "d"),),
    )
    dst = str(tmp_path / "d")
    clone_table(src, dst)
    assert partition_spec(dst)["fields"] == [["year", "d", None]]
    _, skipped, total = read_version_pruned(spark, dst, "d", "1993-01-01", "1993-12-31")
    assert (skipped, total) == (2, 3)  # carried tuples still prune
    write_version(
        spark.createDataFrame([(99, dt.date(1999, 1, 1))], "k long, d date"),
        dst,
    )
    m2 = manifest(dst, 2)
    new_files = [f for f in m2["files"] if f not in set(manifest(dst, 1)["files"])]
    assert all(
        "__p:year:d" in (m2["stats"].get(f) or {}) for f in new_files
    )  # appends to the clone stay partitioned


def test_purge_eq_rewrites_only_affected_files(spark, tmp_path):
    """purge_eq materializes equality-delete debt at O(affected bytes):
    files a live delete covers are rewritten (survivors only), clean
    files — including post-delete appends — carry by inode-identical
    reference, the entries drop, rows stay identical and the change feed
    across the purge is EMPTY."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        manifest,
        purge_eq,
        read_version,
        table_changes,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(100).selectExpr("id as k").repartitionByRange(4, "k"),
        path,
    )
    delete_where_eq(path, "k", [5, 50])
    write_version(spark.createDataFrame([(200,)], "k long"), path)  # clean
    m3 = manifest(path, 3)
    clean_new = [
        f for f in m3["files"] if f not in set(manifest(path, 1)["files"])
    ]
    sig_clean = {
        f: os.stat(os.path.join(path, f)).st_ino for f in clean_new
    }
    before = sorted(r.k for r in read_version(spark, path).collect())
    v4 = purge_eq(spark, path)
    assert v4 == 4
    m4 = manifest(path, v4)
    assert m4.get("eqdeletes") is None  # entries dropped
    # the post-delete append carried by reference (same inode)
    assert {
        f: os.stat(os.path.join(path, f)).st_ino
        for f in m4["files"] if f in sig_clean
    } == sig_clean
    assert sorted(r.k for r in read_version(spark, path).collect()) == before
    assert table_changes(spark, path, 3, 4).count() == 0  # bit-identical
    # nothing live: a second purge is a no-op (None)
    assert purge_eq(spark, path) is None


def test_purge_eq_drops_dead_entries_metadata_only(spark, tmp_path):
    """When every covered file was already rewritten (a compact-by-parts
    or full churn), purge_eq drops the dead entries with a METADATA-ONLY
    commit — no file IO at all."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        manifest,
        purge_eq,
        read_version,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(spark.range(10).selectExpr("id as k"), path)
    delete_where_eq(path, "k", [3])
    write_version(  # full overwrite clears entries on its own...
        spark.range(20, 25).selectExpr("id as k"), path, mode="overwrite"
    )
    assert purge_eq(spark, path) is None  # nothing recorded: no-op
    # ...so manufacture the dead-entry state: delete a key with NO rows
    delete_where_eq(path, "k", [999])
    v = purge_eq(spark, path)
    # 999 matches nothing but the entry COVERS the files (they predate
    # it), so this purge is the REWRITE arm; a later purge is a no-op
    assert v is not None
    assert manifest(path, v).get("eqdeletes") is None
    assert read_version(spark, path).count() == 5


# ---------------------------------------------------------------------------
# Type widening (r12) — Iceberg v3 type promotion
# ---------------------------------------------------------------------------


def test_widen_column_metadata_only(spark, tmp_path):
    """widen_column is a METADATA-ONLY commit: the file list and bytes are
    untouched, reads serve the wide type over the narrow physical
    encoding, appends carry the wide type, time travel before the widen
    serves the narrow type, and pruning stats stay valid."""
    from pyspark.sql.types import LongType

    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        read_version,
        read_version_pruned,
        widen_column,
        write_version,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k int, v float"
    ).repartitionByRange(4, "k")
    write_version(df, path, collect_stats=("k",))
    m1 = manifest(path, 1)
    sig = {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]}
    v2 = widen_column(path, "k", "long")
    v3 = widen_column(path, "v", "double")
    m3 = manifest(path, v3)
    assert m3["files"] == m1["files"]
    assert {
        f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m3["files"]
    } == sig  # zero rewrites
    got = read_version(spark, path)
    assert dict(got.dtypes) == {"k": "bigint", "v": "double"}
    assert got.count() == 100
    # time travel before the widen serves the NARROW schema
    assert dict(read_version(spark, path, 1).dtypes) == {"k": "int", "v": "float"}
    # a wide-typed append lands; the recorded stats still prune
    write_version(
        spark.createDataFrame([(10**12, 1.0)], "k long, v double"), path
    )
    assert read_version(spark, path).count() == 101
    pruned, skipped, total = read_version_pruned(spark, path, "k", 0, 10)
    assert skipped >= 3 and pruned.count() == 11
    assert isinstance(read_version(spark, path).schema["k"].dataType, LongType)


def test_widen_column_refusals(spark, tmp_path):
    """Only value-preserving promotions pass: narrowing, cross-family and
    scale-changing decimals refuse typed."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        widen_column,
        write_version,
    )

    from decimal import Decimal

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(1, "a", Decimal("1.50"))], "k long, s string, d decimal(10,2)"
        ),
        path,
    )
    for col, t in [("k", "int"), ("s", "long"), ("d", "decimal(12,3)"), ("k", "double")]:
        with _pytest.raises(ValueError, match="cannot widen|already has"):
            widen_column(path, col, t)
    with _pytest.raises(ValueError, match="no column"):
        widen_column(path, "nope", "long")
    # decimal PRECISION growth at the same scale is legal
    v = widen_column(path, "d", "decimal(20,2)")
    assert v == 2


def test_widen_column_cdf_and_mutations(spark, tmp_path):
    """The change feed across a widen commit is empty; a feed SPANNING the
    widen diffs in the wider type; merge-on-read mutations keep working on
    the widened column."""
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        read_version,
        table_changes,
        widen_column,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(spark.createDataFrame([(1,), (2,)], "k int"), path)
    v2 = widen_column(path, "k", "long")
    assert table_changes(spark, path, 1, v2).count() == 0  # metadata-only
    write_version(spark.createDataFrame([(3,)], "k long"), path)
    feed = table_changes(spark, path, 1, 3)  # spans the widen
    assert dict(feed.drop("_change_type").dtypes) == {"k": "bigint"}
    assert sorted((r.k, r._change_type) for r in feed.collect()) == [(3, "insert")]
    delete_where_eq(path, "k", [1])  # eq delete on the widened column
    assert sorted(r.k for r in read_version(spark, path).collect()) == [2, 3]


def test_wap_cdc_mutations_on_branch(spark, tmp_path):
    """CDC mutations STAGE on a WAP branch: equality deletes and atomic
    upserts commit to the branch lineage (zero main visibility), the
    audit reads them applied, and fast_forward publishes the exact
    mutation history into main."""
    from tts_etl_pipeline_spark.sources.versioned import (
        create_branch,
        current_version,
        delete_where_eq,
        fast_forward,
        history,
        read_branch,
        read_version,
        upsert_where_eq,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(10)], "k long, s string"
        ),
        path,
    )
    create_branch(path, "cdc")
    delete_where_eq(path, "k", [3], branch="cdc")
    upsert_where_eq(
        spark.createDataFrame([(5, "UPD"), (99, "new")], "k long, s string"),
        path,
        "k",
        delete_keys=[7],
        branch="cdc",
    )
    # main never saw any of it
    assert current_version(path) == 1
    assert read_version(spark, path).count() == 10
    # the audit sees the mutations APPLIED
    staged = {r.k: r.s for r in read_branch(spark, path, "cdc").collect()}
    assert 3 not in staged and 7 not in staged
    assert staged[5] == "UPD" and staged[99] == "new"
    assert len(staged) == 9  # 10 - {3,5,7} + {5',99}
    # publish: main gains exactly the staged mutation commits
    head = fast_forward(path, "cdc")
    assert head == 3
    assert [h["mode"] for h in history(path)] == [
        "append", "delete-eq", "append",
    ]
    final = {r.k: r.s for r in read_version(spark, path).collect()}
    assert final == staged


# -------------------------- r12 ADVICE pins --------------------------


def test_wap_publish_holds_latest_lock_for_whole_loop(spark, tmp_path):
    """r12 ADVICE (medium): fast_forward must hold the _latest flock for
    the ENTIRE publish loop — not just the pointer advance — so vacuum's
    adoption pass (same lock) can never advance main over a partially-
    linked prefix of the staged chain. Pin: while an outside holder owns
    the lock, a publish links NOTHING; on release it completes whole."""
    import fcntl
    import threading
    import time as _time

    V = _wap_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.range(5).selectExpr("id as k"), path)
    V.create_branch(path, "audit")
    V.write_version(spark.range(5, 8).selectExpr("id as k"), path, branch="audit")
    V.write_version(spark.range(8, 9).selectExpr("id as k"), path, branch="audit")
    lock_path = os.path.join(path, "_versions", "_latest.lock")
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    fcntl.flock(fd, fcntl.LOCK_EX)
    done = threading.Event()

    def _publish():
        V.fast_forward(path, "audit")
        done.set()

    t = threading.Thread(target=_publish, daemon=True)
    try:
        t.start()
        deadline = _time.time() + 3.0
        while _time.time() < deadline:
            # blocked publish must not have linked ANY main slot
            assert not os.path.exists(
                os.path.join(path, "_versions", "v00000002.json")
            )
            assert not done.is_set()
            _time.sleep(0.1)
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    t.join(timeout=30)
    assert done.is_set()
    assert V.current_version(path) == 3
    assert V.read_version(spark, path).count() == 9


def test_wap_publish_conflict_links_no_manifests(spark, tmp_path):
    """r12 ADVICE (medium) companion: a conflicted publish leaves main's
    manifest directory EXACTLY as it found it — zero new v-slots — so a
    follow-up vacuum(grace_seconds=0) has no orphaned prefix to adopt and
    main's head stays at the concurrent writer's commit."""
    import pytest as _pytest

    V = _wap_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.range(5).selectExpr("id as k"), path)
    V.create_branch(path, "audit")
    V.write_version(spark.range(5, 8).selectExpr("id as k"), path, branch="audit")
    V.write_version(spark.range(8, 9).selectExpr("id as k"), path, branch="audit")
    V.write_version(spark.range(100, 101).selectExpr("id as k"), path)  # main v2
    vdir = os.path.join(path, "_versions")
    before = sorted(
        f for f in os.listdir(vdir) if f.startswith("v") and "-" not in f
    )
    with _pytest.raises(V.PublishConflictError):
        V.fast_forward(path, "audit")
    after = sorted(
        f for f in os.listdir(vdir) if f.startswith("v") and "-" not in f
    )
    assert after == before  # nothing linked, not even a prefix
    from tts_etl_pipeline_spark.sources.versioned import vacuum

    vacuum(path, grace_seconds=0)
    assert V.current_version(path) == 2  # adoption found nothing staged


def test_recollect_excludes_synthetic_stat_keys(spark, tmp_path):
    """r12 ADVICE (low): optimize_zorder / purge_dvs with
    collect_stats=None rebuild the stat-column list from the parent
    manifest, which carries synthetic '__v' / '__p:*' keys on every file;
    those must be FILTERED (purge_eq's convention), not swept into the
    footer re-collect request."""
    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(i, i % 3) for i in range(20)], "k long, g long"),
        path,
        collect_stats=("k",),
    )
    V.delete_where_dv(spark, path, "k", 3, 3)
    m = V._read_manifest(path, V.current_version(path))
    assert any("__v" in rec for rec in m["stats"].values())  # the hazard exists
    requested: list = []
    orig = V._footer_minmax

    def _spy(p, rel_files, cols, **kw):
        requested.append(tuple(cols))
        return orig(p, rel_files, cols, **kw)

    V._footer_minmax = _spy
    try:
        V.purge_dvs(spark, path)
        V.optimize_zorder(spark, path, ["k"], target_files=2)
    finally:
        V._footer_minmax = orig
    assert requested, "re-collect path did not run"
    for cols in requested:
        assert not any(c.startswith("__") for c in cols), cols
    # and the rebuilt table still prunes on the real stat column
    got, read, total = V.read_version_pruned(spark, path, "k", 0, 0)
    assert got.count() == 1


def test_upsert_mixed_type_delete_keys_typed_error(spark, tmp_path):
    """r12 ADVICE (low): upsert_where_eq with delete_keys whose type
    family differs from the key column (ints against a string key) must
    raise the typed family-mismatch error from _validate_eq_values, not
    the bare TypeError of sorting a mixed str/int set."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources.versioned import (
        upsert_where_eq,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"), path
    )
    with _pytest.raises(TypeError, match="k"):
        upsert_where_eq(
            spark.createDataFrame([("c", 3)], "k string, v long"),
            path,
            "k",
            delete_keys=[7, 8],  # ints against a string key column
        )


def test_bloom_probe_covers_legacy_fractional_decimal_encoding():
    """r12 ADVICE (low): sidecars carry no format version, so a bloom
    built BEFORE the r12 canonical-encoding fix stored 'f:2.0' for a
    non-integral Decimal whose float fold is integral; the probe side now
    ALSO tries that legacy encoding — an old sidecar yields a false
    positive (a read), never a false-negative file skip."""
    import base64
    from decimal import Decimal

    from tts_etl_pipeline_spark.sources.versioned import (
        _BLOOM_K,
        _bloom_might_contain,
        _encoding_positions,
    )

    d = Decimal("2.0000000000000000001")
    m = 1024
    bits = bytearray(m // 8)
    # simulate the PRE-change sidecar: only the legacy 'f:2.0' encoding set
    for pos in _encoding_positions(b"f:2.0", m, _BLOOM_K):
        bits[pos >> 3] |= 1 << (pos & 7)
    legacy = {"m": m, "k": _BLOOM_K, "b64": base64.b64encode(bytes(bits)).decode()}
    assert _bloom_might_contain(legacy, d)  # pre-fix: False -> wrong skip
    # a NEW sidecar (canonical 'i:2') naturally still admits the value
    bits2 = bytearray(m // 8)
    for pos in _encoding_positions(b"i:2", m, _BLOOM_K):
        bits2[pos >> 3] |= 1 << (pos & 7)
    fresh = {"m": m, "k": _BLOOM_K, "b64": base64.b64encode(bytes(bits2)).decode()}
    assert _bloom_might_contain(fresh, d)
    # and an unrelated probe still misses both
    assert not _bloom_might_contain(legacy, Decimal("3.5"))


# ---------------------- r13: branch-aware DV mutations ----------------------


def test_wap_dv_mutations_stage_on_branch(spark, tmp_path):
    """The WAP x MoR composition (r12 verdict task 2): a positional DV
    DELETE and a DV UPDATE staged on a branch — main stays BYTE-IDENTICAL
    (manifest list, file list, mtimes) until fast_forward, the audit read
    sees both mutations applied, and publish delivers them to main with
    the staged lineage intact."""
    import json as _json

    V = _wap_imports()
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        update_where_dv,
    )

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame(
            [(i, f"n{i}", i * 10) for i in range(20)], "k long, s string, v long"
        ),
        path,
    )
    m1 = V.manifest(path, 1)
    sig = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]
    }
    V.create_branch(path, "cdc")
    # stage: DV delete of k in [3,5], then DV update of k=10 -> s='UPD'
    v2 = delete_where_dv(spark, path, "k", 3, 5, branch="cdc")
    assert v2 == 2
    v3 = update_where_dv(
        spark, path, "k", 10, 10, {"s": "'UPD'"}, branch="cdc"
    )
    assert v3 == 3
    # main: untouched in every observable way
    assert V.current_version(path) == 1
    assert V.read_version(spark, path).count() == 20
    assert V.manifest(path, 1)["files"] == m1["files"]
    assert {
        f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]
    } == sig
    # the staged DV delete rides BY REFERENCE: branch v2's file list is
    # exactly main v1's, only the dvs map differs
    with open(
        os.path.join(path, "_versions", "v00000002-cdc.json"),
        encoding="utf-8",
    ) as fh:
        m2 = _json.load(fh)
    assert m2["files"] == m1["files"] and m2.get("dvs")
    # audit: both mutations applied in the staged snapshot
    staged = {r.k: r.s for r in V.read_branch(spark, path, "cdc").collect()}
    assert set(staged) == set(range(20)) - {3, 4, 5}
    assert staged[10] == "UPD"
    # vacuum with zero grace while the branch is live: staged DV sidecars
    # and the updated-copy file survive (branch retention)
    from tts_etl_pipeline_spark.sources.versioned import vacuum

    vacuum(path, grace_seconds=0)
    staged_after = {r.k: r.s for r in V.read_branch(spark, path, "cdc").collect()}
    assert staged_after == staged
    # publish: main gains exactly the staged mutation commits
    head = V.fast_forward(path, "cdc")
    assert head == 3
    assert [h["mode"] for h in V.history(path)] == [
        "append", "delete-dv", "update-dv",
    ]
    final = {r.k: r.s for r in V.read_version(spark, path).collect()}
    assert final == staged


def test_wap_dv_update_on_branch_respects_branch_snapshot(spark, tmp_path):
    """A branch-staged DV mutation must scan the BRANCH snapshot, not
    main: rows appended on the branch after the fork are visible to the
    staged update, and a concurrent main append stays invisible to it."""
    V = _wap_imports()
    from tts_etl_pipeline_spark.sources.versioned import update_where_dv

    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"), path
    )
    V.create_branch(path, "cdc")
    # branch gains k=3; main (concurrently) gains k=4
    V.write_version(
        spark.createDataFrame([(3, "c")], "k long, s string"),
        path, branch="cdc",
    )
    V.write_version(
        spark.createDataFrame([(4, "d")], "k long, s string"), path
    )
    # staged update touches the branch-only row
    v = update_where_dv(spark, path, "k", 3, 3, {"s": "'C'"}, branch="cdc")
    assert v == 3
    staged = {r.k: r.s for r in V.read_branch(spark, path, "cdc").collect()}
    assert staged == {1: "a", 2: "b", 3: "C"}
    # the staged update never saw (or mutated) main's k=4
    main = {r.k: r.s for r in V.read_version(spark, path).collect()}
    assert main == {1: "a", 2: "b", 4: "d"}
    # a main-side DV update against the same table is independent
    update_where_dv(spark, path, "k", 4, 4, {"s": "'D'"})
    assert {r.k: r.s for r in V.read_version(spark, path).collect()}[4] == "D"


def test_metadata_tables_sharded_distributed_build(spark, tmp_path, monkeypatch):
    """r12 verdict task 3: on a SHARDED manifest the files/partitions
    metadata tables build DISTRIBUTED (mapInPandas over shard sidecars,
    flat driver memory) — same rows, same schema as the inline build."""
    import datetime as dt

    from tts_etl_pipeline_spark.sources import versioned as V

    monkeypatch.setattr(V, "_SHARD_SIZE", 4)
    monkeypatch.setattr(V, "_SHARD_INLINE_MAX", 4)  # force a sharded manifest
    path = str(tmp_path / "t")
    rows = [(i, dt.date(1980 + i % 12, 1, 1)) for i in range(60)]
    V.write_version(
        spark.createDataFrame(rows, "k long, d date"),
        path,
        partition_by=(("year", "d"),),
    )
    V.write_version(spark.createDataFrame([(99, None)], "k long, d date"), path)
    V.delete_where_dv(spark, path, "k", 0, 0)
    raw = V._read_manifest(path, V.current_version(path), materialize=False)
    assert "shards" in raw  # the build under test IS the sharded one
    files = V.metadata_table(spark, path, "files")
    # the distributed plan: a MapInPandas stage, no driver row list
    assert "MapInPandas" in files._jdf.queryExecution().executedPlan().toString()
    got = files.collect()
    m = V._read_manifest(path, V.current_version(path))
    assert sorted(r.file for r in got) == sorted(m["files"])
    assert sum(1 for r in got if r.has_dv) == 1
    assert all(r.bytes and r.bytes > 0 for r in got)
    assert {r.add_version for r in got} == {1, 2}
    # partition tuples survive the shard round-trip
    assert sum(1 for r in got if r.partition) == len(
        [f for f, s in (m.get("stats") or {}).items()
         if any(k.startswith("__p:") for k in s)]
    )
    parts = V.metadata_table(spark, path, "partitions").collect()
    assert sum(p.n_files for p in parts) == len(m["files"])


# ------------------- r13: column initial-defaults (j29) -------------------


def _defaults_imports():
    from tts_etl_pipeline_spark.sources import versioned as V

    return V


def test_add_column_default_metadata_only_and_mixed_reads(spark, tmp_path):
    """add_column(default=) is METADATA-ONLY (file list + mtimes
    identical, empty CDF); pre-add files serve the default, post-add
    files their own bytes, time travel the old schema."""
    V = _defaults_imports()
    path = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"), path
    )
    m1 = V.manifest(path, 1)
    sig = {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]}
    v2 = V.add_column(path, "score", "long", default=7)
    m2 = V.manifest(path, v2)
    assert m2["files"] == m1["files"]
    assert {
        f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m2["files"]
    } == sig
    assert V.table_changes(spark, path, 1, v2).count() == 0
    assert V.read_version(spark, path, 1).columns == ["k", "s"]
    V.write_version(
        spark.createDataFrame([(3, "c", 99)], "k long, s string, score long"),
        path,
    )
    got = {r.k: r.score for r in V.read_version(spark, path).collect()}
    assert got == {1: 7, 2: 7, 3: 99}
    # the CDF across the span is exactly the appended row, default-filled
    # rows cancel (unchanged by the metadata default)
    feed = V.table_changes(spark, path, 1, 3).collect()
    assert [(r.k, r.score, r._change_type) for r in feed] == [(3, 99, "insert")]
    # a column added WITHOUT a default serves null for the old vintage
    V.add_column(path, "note", "string")
    got2 = {r.k: r.note for r in V.read_version(spark, path).collect()}
    assert got2 == {1: None, 2: None, 3: None}


def test_add_column_default_widen_interplay(spark, tmp_path):
    """The widen x default matrix: widening a defaulted column keeps the
    default serving (in the wider type), and a default declared on a
    later-widened table composes with beyond-int32 appends."""
    V = _defaults_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1,), (2,)], "k long"), path)
    V.add_column(path, "score", "int", default=7)
    V.widen_column(path, "score", "long")
    assert dict(V.read_version(spark, path).dtypes)["score"] == "bigint"
    big = 1 << 40
    V.write_version(
        spark.createDataFrame([(3, big)], "k long, score long"), path
    )
    got = {r.k: r.score for r in V.read_version(spark, path).collect()}
    assert got == {1: 7, 2: 7, 3: big}
    # time travel between add and widen serves the NARROW defaulted type
    tv = V.read_version(spark, path, 2)
    assert dict(tv.dtypes)["score"] == "int"
    assert {r.score for r in tv.collect()} == {7}


def test_add_column_default_drop_readd_fresh(spark, tmp_path):
    """Drop a defaulted column then re-add the same name with a NEW
    default: old files serve the NEW default (fresh physical), never the
    stale bytes or the dead entry's value."""
    V = _defaults_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1,), (2,)], "k long"), path)
    V.add_column(path, "x", "long", default=1)
    # materialize x=1 physically so stale bytes EXIST to alias onto
    V.write_version(
        V.read_version(spark, path), path, mode="overwrite"
    )
    V.drop_column(path, "x")
    assert all(e["col"] != "x" for e in V.manifest(
        path, V.current_version(path)).get("defaults") or [])
    V.add_column(path, "x", "long", default=2)
    got = {r.k: r.x for r in V.read_version(spark, path).collect()}
    assert got == {1: 2, 2: 2}  # the new default, not stale 1s
    # rename keeps the default serving (physical-keyed metadata)
    V.rename_column(path, "x", "y")
    assert {r.y for r in V.read_version(spark, path).collect()} == {2}


def test_add_column_default_rewrite_materializes(spark, tmp_path):
    """compact() materializes the default into fresh physical bytes —
    rows identical before/after, empty change feed across the rewrite."""
    V = _defaults_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"), path)
    V.add_column(path, "score", "long", default=7)
    before = sorted(
        (r.k, r.s, r.score) for r in V.read_version(spark, path).collect()
    )
    v = V.compact(spark, path)
    assert V.table_changes(spark, path, v - 1, v).count() == 0
    after = sorted(
        (r.k, r.s, r.score) for r in V.read_version(spark, path).collect()
    )
    assert after == before == [(1, "a", 7), (2, "b", 7)]


def test_add_column_default_clone_and_rollback(spark, tmp_path):
    """Clones carry defaults (seq-remapped onto the fresh lineage);
    rollback across the add restores the pre-add schema."""
    V = _defaults_imports()
    path = str(tmp_path / "t")
    dst = str(tmp_path / "c")
    V.write_version(spark.createDataFrame([(1,), (2,)], "k long"), path)
    V.add_column(path, "score", "long", default=7)
    V.clone_table(path, dst)
    got = {r.k: r.score for r in V.read_version(spark, dst).collect()}
    assert got == {1: 7, 2: 7}
    # a post-clone append escapes the carried default (fresh stamps)
    V.write_version(spark.createDataFrame([(3, 9)], "k long, score long"), dst)
    assert {r.k: r.score for r in V.read_version(spark, dst).collect()} == {
        1: 7, 2: 7, 3: 9,
    }
    # rollback the SOURCE to v1: pre-add schema, no column
    V.rollback(path, 1)
    assert V.read_version(spark, path).columns == ["k"]


def test_add_column_default_refusals_and_dv_interplay(spark, tmp_path):
    import pytest as _pytest

    V = _defaults_imports()
    path = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1,), (2,), (3,)], "k long"), path)
    with _pytest.raises(ValueError, match="already exists"):
        V.add_column(path, "k", "long")
    with _pytest.raises(TypeError, match="type family"):
        V.add_column(path, "s", "string", default=5)
    with _pytest.raises(TypeError, match="type family"):
        V.add_column(path, "n", "long", default="x")
    # a DV delete composes with the fill: deleted rows invisible, the
    # rest serve the default
    V.add_column(path, "score", "long", default=7)
    V.delete_where_dv(spark, path, "k", 2, 2)
    got = {r.k: r.score for r in V.read_version(spark, path).collect()}
    assert got == {1: 7, 3: 7}
    # an equality delete probing the DEFAULT value kills pre-add rows
    # (they serve that value — one visibility rule everywhere)
    V.delete_where_eq(path, "score", [7])
    assert V.read_version(spark, path).count() == 0


# ----------------------- r13: row lineage (j30) -----------------------


def _ids(spark, path, version=None):
    from tts_etl_pipeline_spark.sources.versioned import read_version_lineage

    return {
        r.k: r._row_id
        for r in read_version_lineage(spark, path, version).collect()
    }


def test_row_lineage_mint_and_stability(spark, tmp_path):
    """Ids are unique, stable across appends, and minted fresh (never
    reused) for genuinely new rows; normal reads never see the machinery."""
    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(spark.range(0, 50).selectExpr("id as k", "id*2 as v"), path)
    V.enable_row_lineage(path)
    assert V.enable_row_lineage(path) == V.current_version(path)  # idempotent
    ids1 = _ids(spark, path)
    assert len(set(ids1.values())) == 50
    V.write_version(spark.range(50, 60).selectExpr("id as k", "id*2 as v"), path)
    ids2 = _ids(spark, path)
    assert all(ids2[k] == ids1[k] for k in ids1)  # old rows keep their ids
    fresh = {ids2[k] for k in range(50, 60)}
    assert fresh.isdisjoint(set(ids1.values())) and len(fresh) == 10
    head = V.read_version(spark, path)
    assert "__rid" not in head.columns and "_row_id" not in head.columns


def test_row_lineage_survives_every_maintenance_rewrite(spark, tmp_path):
    """THE j30 contract: compact(), optimize_zorder(), purge_dvs() and
    purge_eq() preserve the (row -> id) mapping byte-for-byte — same id
    set, same rows — even though every physical position changes."""
    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.range(0, 200).selectExpr("id as k", "id % 7 as g"), path,
        collect_stats=("k",),
    )
    V.enable_row_lineage(path)
    V.delete_where_dv(spark, path, "k", 10, 19)
    base = _ids(spark, path)
    assert len(base) == 190
    V.purge_dvs(spark, path)
    assert _ids(spark, path) == base
    V.compact(spark, path, target_files=3)
    assert _ids(spark, path) == base
    V.optimize_zorder(spark, path, ["k", "g"], target_files=4)
    assert _ids(spark, path) == base
    V.delete_where_eq(path, "k", [40, 41])
    want = {k: v for k, v in base.items() if k not in (40, 41)}
    assert _ids(spark, path) == want
    V.purge_eq(spark, path)
    assert _ids(spark, path) == want
    # appends after rewrites continue the monotone counter (no collisions)
    V.write_version(spark.range(500, 510).selectExpr("id as k", "id % 7 as g"), path)
    final = _ids(spark, path)
    assert {final[k] for k in range(500, 510)}.isdisjoint(set(base.values()))


def test_row_lineage_clone_rollback_and_updates(spark, tmp_path):
    """Clone carries ids verbatim with a continued counter; rollback
    recovers blocks across the enable boundary from the head's stats;
    DV-update copies mint fresh ids (the documented copy-on-write rule)."""
    from tts_etl_pipeline_spark.sources import versioned as V

    path, dst = str(tmp_path / "t"), str(tmp_path / "c")
    V.write_version(spark.range(0, 30).selectExpr("id as k", "id*2 as v"), path)
    V.enable_row_lineage(path)
    ids = _ids(spark, path)
    V.clone_table(path, dst)
    assert _ids(spark, dst) == ids
    V.write_version(spark.range(100, 103).selectExpr("id as k", "id*2 as v"), dst)
    cids = _ids(spark, dst)
    assert {cids[k] for k in (100, 101, 102)}.isdisjoint(set(ids.values()))
    # rollback to the PRE-enable snapshot: same files -> same ids,
    # recovered from the head's stats (lineage stays on)
    V.rollback(path, 1)
    assert _ids(spark, path) == ids
    # a DV UPDATE's copy KEEPS the row's identity (Iceberg v3): same
    # _row_id, new values — the lineage feed can show it as an update
    v = V.update_where_dv(spark, path, "k", 5, 5, {"v": "999"})
    after = _ids(spark, path)
    assert after == ids  # identical (row -> id) map, values changed
    row5 = V.read_version_lineage(spark, path).filter("k = 5").collect()[0]
    assert row5.v == 999 and row5._row_id == ids[5]
    # and the LINEAGE CHANGE FEED shows the update under ONE id
    feed = V.table_changes_lineage(
        spark, path, v - 1, v
    ).collect()
    assert sorted((r._change_type, r._row_id, r.v) for r in feed) == [
        ("delete", ids[5], 10), ("insert", ids[5], 999),
    ]


def test_row_lineage_refusals_and_sharded(spark, tmp_path, monkeypatch):
    """Reserved-name refusals, the not-enabled refusal, and lineage over
    a SHARDED manifest (blocks ride the shard stats channel)."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    with _pytest.raises(ValueError, match="reserved"):
        V.write_version(spark.range(3).selectExpr("id as __rid"), path)
    # a RENAME onto the reserved name still exists as a back door — the
    # enable gate catches it
    V.write_version(spark.range(3).selectExpr("id as k", "id as x"), path)
    V.rename_column(path, "x", "__rid")
    with _pytest.raises(ValueError, match="reserved"):
        V.enable_row_lineage(path)
    path2 = str(tmp_path / "t2")
    V.write_version(spark.range(3).selectExpr("id as k"), path2)
    with _pytest.raises(ValueError, match="not enabled"):
        V.read_version_lineage(spark, path2)
    with _pytest.raises(ValueError, match="reserved"):
        V.write_version(
            spark.range(3).selectExpr("id as k", "id as __rid"), path2
        )
    # sharded: force the manifest-list format, lineage still exact
    monkeypatch.setattr(V, "_SHARD_SIZE", 4)
    monkeypatch.setattr(V, "_SHARD_INLINE_MAX", 4)
    path3 = str(tmp_path / "t3")
    V.write_version(
        spark.range(0, 60).selectExpr("id as k").repartition(12), path3
    )
    V.enable_row_lineage(path3)
    ids = _ids(spark, path3)
    assert len(set(ids.values())) == 60
    V.write_version(spark.range(60, 70).selectExpr("id as k"), path3)
    ids2 = _ids(spark, path3)
    assert all(ids2[k] == ids[k] for k in ids)
    assert len(set(ids2.values())) == 70


def test_lineage_change_feed(spark, tmp_path):
    """table_changes_lineage: the changelog with stable row ids — deletes
    carry the dead row's id, inserts the new one's; maintenance rewrites
    cancel EXACTLY because ids are preserved; value-identical rows that
    differ only in identity are distinguishable (the thing the value-only
    feed cannot do); refusals typed."""
    import pytest as _pytest

    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    # two VALUE-IDENTICAL rows: only identity tells them apart
    V.write_version(
        spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k long, s string"),
        path,
    )
    V.enable_row_lineage(path)  # v2
    with _pytest.raises(ValueError, match="does not track"):
        V.table_changes_lineage(spark, path, 1, 2)
    ids = sorted(
        r._row_id
        for r in V.read_version_lineage(spark, path).filter("k = 1").collect()
    )
    V.write_version(spark.createDataFrame([(3, "c")], "k long, s string"), path)  # v3
    feed = V.table_changes_lineage(spark, path, 2, 3).collect()
    assert [(r.k, r._change_type) for r in feed] == [(3, "insert")]
    # a DV delete's feed carries the DEAD row's id
    V.delete_where_dv(spark, path, "k", 2, 2)  # v4
    feed2 = V.table_changes_lineage(spark, path, 3, 4).collect()
    assert len(feed2) == 1 and feed2[0]._change_type == "delete"
    dead = feed2[0]._row_id
    assert feed2[0].k == 2
    # compact between versions: EMPTY lineage feed (ids preserved; with
    # fresh ids this would be a fabricated full-table churn)
    V.compact(spark, path, target_files=2)  # v5
    assert V.table_changes_lineage(spark, path, 4, 5).count() == 0
    # spanning everything: net change = +k3, -k2; the duplicate k=1 rows
    # cancel by ID, so neither appears
    span = V.table_changes_lineage(spark, path, 2, 5).collect()
    assert sorted((r.k, r._change_type) for r in span) == [
        (2, "delete"), (3, "insert"),
    ]
    assert {r._row_id for r in span if r.k == 2} == {dead}
    assert not any(r._row_id in ids for r in span)  # k=1 rows never churn
    # schema evolution inside the window: typed refusal
    V.add_column(path, "extra", "long", default=0)
    with _pytest.raises(ValueError, match="schema evolution"):
        V.table_changes_lineage(spark, path, 2, V.current_version(path))


# ----------------------- r13: replace_where (j33) -----------------------


def test_replace_where_atomic_and_pruned(spark, tmp_path):
    """THE j33 contract: one commit removes the matching slice and lands
    the replacement; provably-disjoint files ride by reference (same
    name, same mtime); the change feed across the commit is exactly
    (old slice as deletes) + (df as inserts)."""
    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.range(400).selectExpr("id AS k", "id * 10 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    m1 = V._read_manifest(path, 1)
    sig = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]
    }
    new = spark.range(100, 180).selectExpr("id AS k", "id * 1000 AS v")
    v2 = V.replace_where(new, path, "k", 100, 199)
    assert v2 == 2 and V.current_version(path) == 2
    got = {
        r.k: r.v for r in V.read_version(spark, path).collect()
    }
    want = {k: k * 10 for k in range(400) if not 100 <= k <= 199}
    want.update({k: k * 1000 for k in range(100, 180)})
    assert got == want
    # pruning: files disjoint from [100,199] ride by reference
    m2 = V._read_manifest(path, 2)
    reused = [f for f in m2["files"] if f in sig]
    assert reused, "range-clustered files disjoint from the slice must ride"
    for f in reused:
        assert os.stat(os.path.join(path, f)).st_mtime_ns == sig[f]
    stats1 = m1.get("stats", {})
    for f in m1["files"]:
        r = stats1.get(f, {}).get("k")
        if r and (r[1] < 100 or r[0] > 199):
            assert f in reused  # every provably-disjoint file was kept
    # change feed: exactly the old slice out, the new rows in
    feed = V.table_changes(spark, path, 1, 2).collect()
    dels = sorted(r.k for r in feed if r._change_type == "delete")
    ins = sorted(r.k for r in feed if r._change_type == "insert")
    assert dels == list(range(100, 200))
    assert ins == list(range(100, 180))


def test_replace_where_guards(spark, tmp_path):
    """Incoming rows outside the predicate (or NULL) refuse TYPED before
    anything stages — head unmoved, no stray data files; empty df is a
    pure pruned delete; a no-match predicate still lands the insert."""
    from tts_etl_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
    )
    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.range(100).selectExpr("id AS k", "id AS v"), path,
        collect_stats=("k",),
    )
    files_before = sorted(
        f for f in os.listdir(os.path.join(path, "data"))
    ) if os.path.isdir(os.path.join(path, "data")) else None
    stray = spark.createDataFrame([(500, 1)], "k long, v long")
    with pytest.raises(ConstraintViolationError, match="satisfy the predicate"):
        V.replace_where(stray, path, "k", 10, 19)
    nullk = spark.createDataFrame([(None, 1)], "k long, v long")
    with pytest.raises(ConstraintViolationError, match="satisfy the predicate"):
        V.replace_where(nullk, path, "k", 10, 19)
    assert V.current_version(path) == 1
    if files_before is not None:
        assert sorted(os.listdir(os.path.join(path, "data"))) == files_before
    # empty df: a pure pruned DELETE that still commits atomically
    empty = spark.createDataFrame([], "k long, v long")
    v2 = V.replace_where(empty, path, "k", 10, 19)
    assert v2 == 2
    assert V.read_version(spark, path).count() == 90
    # no-match predicate: the INSERT half must land
    add = spark.createDataFrame([(1000, 7)], "k long, v long")
    v3 = V.replace_where(add, path, "k", 1000, 1000)
    assert v3 == 3 and V.read_version(spark, path).count() == 91
    # schema drift refuses (write_version_parts is the enforcement)
    drift = spark.createDataFrame([(5, "x")], "k long, v string")
    with pytest.raises(ValueError, match="schema"):
        V.replace_where(drift, path, "k", 5, 5)


def test_replace_where_respects_live_deletes(spark, tmp_path):
    """Reused files stay covered by pending equality deletes and keep
    their DVs; rewritten survivors materialize both (they read through
    _read_files) — no deleted row is resurrected by a replace."""
    from tts_etl_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "t")
    V.write_version(
        spark.range(200).selectExpr("id AS k", "id AS v")
        .repartitionByRange(2, "k"),  # file A ~[0,99], file B ~[100,199]
        path,
        collect_stats=("k",),
    )
    V.delete_where_eq(path, "k", [5, 150])      # one key per file
    V.delete_where_dv(spark, path, "k", 6, 6)   # and a DV'd row in file A
    new = spark.createDataFrame([(20, -1)], "k long, v long")
    V.replace_where(new, path, "k", 20, 29)     # rewrites file A only
    got = {r.k: r.v for r in V.read_version(spark, path).collect()}
    assert 5 not in got and 6 not in got and 150 not in got
    assert got[20] == -1 and all(k not in got for k in range(21, 30))
    assert got[30] == 30 and got[199] == 199


def test_every_writer_carries_table_fields_forward(spark, tmp_path):
    """The commit rule: a commit starts from its base manifest and states
    only what it changes. Each public writer runs once on a table whose
    manifest carries every table-level field the writers accept (CHECK
    constraint, rename, dropped column, partition spec, column default,
    row lineage); every new manifest keeps the parent's fields except the
    ones that writer documents as changing, and every per-file map is
    keyed only by files in the new file list. No writer refuses any of
    these fields."""
    from tts_etl_pipeline_spark.sources import versioned as V

    table_fields = (
        "schema", "constraints", "colmap", "dropped_physicals", "pspecs",
        "pspec_id", "eqdeletes", "defaults", "row_lineage", "next_row_id",
    )
    path = str(tmp_path / "t")

    def rows(ks):
        return spark.createDataFrame(
            [(k, k * 10, f"s{k}", 7) for k in ks],
            "k long, x2 long, s string, z long",
        )

    V.write_version(
        spark.createDataFrame(
            [(k, k * 10, f"s{k}", k) for k in range(40)],
            "k long, x long, s string, d long",
        ),
        path,
        collect_stats=("k",),
        partition_by=(("bucket", "k", 2),),
    )
    V.add_constraint(spark, path, "k_pos", "k >= 0")
    V.rename_column(path, "x", "x2")
    V.drop_column(path, "d")
    V.add_column(path, "z", "long", default=7)
    V.enable_row_lineage(path)
    head = V._read_manifest(path, V.current_version(path))
    for k in table_fields:
        if k != "eqdeletes":  # a delete_where_eq below adds the last one
            assert head.get(k), k

    def check(name, parent, child, changes):
        for k in table_fields:
            if k not in changes:
                assert child.get(k) == parent.get(k), (name, k)
        live = set(child["files"])
        for k in ("stats", "blooms", "dvs"):
            assert set(child.get(k) or {}) <= live, (name, k)

    def step(name, run, changes=("next_row_id",)):
        parent = V._read_manifest(path, V.current_version(path))
        v = run()
        assert v == parent["version"] + 1, name
        child = V._read_manifest(path, v)
        check(name, parent, child, changes)
        return parent, child

    overwrite = ("eqdeletes", "next_row_id")  # an overwrite kills deletes
    step("append", lambda: V.write_version(rows([100, 101]), path))
    step(
        "overwrite",
        lambda: V.write_version(
            V.read_version(spark, path), path, mode="overwrite"
        ),
        overwrite,
    )
    step(
        "write_version_parts",
        lambda: V.write_version_parts(
            [rows([102])], path,
            reuse_files=V.manifest(path, V.current_version(path))["files"],
            expected_version=V.current_version(path),
        ),
    )
    step("merge", lambda: V.merge(spark, path, rows([5, 200]), "k"))
    step(
        "merge_upsert",
        lambda: V.merge_upsert(spark, path, rows([6, 201]), "k"),
        overwrite,
    )
    step("delete_where", lambda: V.delete_where(spark, path, "k", 0, 2))
    step(
        "update_where",
        lambda: V.update_where(spark, path, "k", 10, 12, {"x2": "x2 + 1"}),
    )
    step(
        "replace_where",
        lambda: V.replace_where(rows([20, 21]), path, "k", 20, 22),
    )
    step(
        "delete_where_dv",
        lambda: V.delete_where_dv(spark, path, "k", 30, 31), changes=(),
    )
    step(
        "update_where_dv",
        lambda: V.update_where_dv(spark, path, "k", 32, 33, {"x2": "0"}),
    )
    step("purge_dvs", lambda: V.purge_dvs(spark, path))
    _, child = step(
        "delete_where_eq",
        lambda: V.delete_where_eq(path, "k", [34]), changes=("eqdeletes",),
    )
    assert len(child["eqdeletes"]) == 1
    _, child = step("purge_eq", lambda: V.purge_eq(spark, path), overwrite)
    assert not child.get("eqdeletes")
    step("compact", lambda: V.compact(spark, path), overwrite)
    _, child = step(
        "alter",
        lambda: V.add_constraint(spark, path, "x2_pos", "x2 >= 0"),
        changes=("constraints",),
    )
    assert set(child["constraints"]) == {"k_pos", "x2_pos"}
    # a branch commit inherits from the branch head; fast_forward
    # publishes that manifest into main unchanged
    main = V._read_manifest(path, V.current_version(path))
    fork = V.create_branch(path, "b")
    bv = V.write_version(rows([300]), path, branch="b")
    staged = V._read_manifest(path, bv, branch="b", fork=fork)
    check("branch", main, staged, ("next_row_id",))
    assert V.fast_forward(path, "b") == bv
    check(
        "fast_forward", staged, V._read_manifest(path, bv), ()
    )
    assert sorted(r.k for r in V.read_version(spark, path).collect()) == sorted(
        set(range(3, 40)) - {22, 30, 31, 34} | {100, 101, 102, 200, 201, 300}
    )
