"""Full-clause-matrix MERGE (sources/versioned.py::merge, driver query
j35): the complete Delta/Iceberg MERGE INTO surface — ordered matched /
not-matched / not-matched-by-source clauses with first-satisfied-wins —
plus the manifest-level file pruning that makes it the O(overlap) CDC
primitive at 100 TB. Semantics are pinned against a pure-Python
replay of the clause matrix; the scale shape is pinned by mtime (a
provably-disjoint file must ride by reference, never be rewritten)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tts_etl_pipeline_spark.sources.versioned import (
    delete_where_dv,
    manifest,
    merge,
    read_version,
    table_changes,
    write_version,
)


def _mk(spark, n=2000, parts=8):
    base = tempfile.mkdtemp(prefix="mgx_")
    path = f"{base}/t"
    df = spark.range(1, n + 1).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("s"),
        (F.col("id") * 10.0).alias("p"),
    )
    write_version(
        df.repartitionByRange(parts, "k"), path, collect_stats=("k",)
    )
    return base, path, df


def _rows(spark, path):
    return {r["k"]: (r["s"], r["p"]) for r in read_version(spark, path).collect()}


def test_merge_full_matrix_matches_python_replay(spark):
    base, path, df = _mk(spark)
    try:
        src = (
            df.filter(F.col("k") % 10 == 3)
            .withColumn("p", F.col("p") * 2)
            .unionByName(
                df.filter(F.col("k") % 10 == 7).withColumn("p", F.lit(-1.0))
            )
            .unionByName(
                df.filter(F.col("k") % 10 == 1)
                .withColumn("k", F.col("k") + 100000)
            )
        )
        v = merge(
            spark, path, src, "k",
            matched=(("delete", "s.p < 0"), ("update", None)),
            not_matched=(("insert", None),),
            not_matched_by_source=(
                ("delete", "t.k % 10 = 9"),
                ("update", "t.k % 10 = 5", {"p": "t.p + 1"}),
            ),
        )
        assert v == 2
        exp = {}
        for i in range(1, 2001):
            if i % 10 in (7, 9):
                continue  # matched delete / NMBS delete
            p = i * 10.0
            if i % 10 == 3:
                p *= 2  # matched update, source wins
            if i % 10 == 5:
                p += 1  # NMBS update assignment
            exp[i] = (str(i % 3), p)
        for i in range(1, 2001):
            if i % 10 == 1:  # not-matched insert
                exp[i + 100000] = (str(i % 3), i * 10.0)
        assert _rows(spark, path) == exp
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_clause_order_first_satisfied_wins(spark):
    base, path, df = _mk(spark, n=100, parts=2)
    try:
        # source rows 1..20; negative p on evens. Clause ORDER decides:
        # update claims evens first, the unconditional delete takes odds.
        src = df.filter(F.col("k") <= 20).withColumn(
            "p", F.when(F.col("k") % 2 == 0, -5.0).otherwise(F.col("p"))
        )
        merge(
            spark, path, src, "k",
            matched=(("update", "s.p < 0"), ("delete", None)),
            not_matched=(),
        )
        got = _rows(spark, path)
        for i in range(1, 21):
            if i % 2 == 0:
                assert got[i] == (str(i % 3), -5.0)  # first clause won
            else:
                assert i not in got  # fell to the delete
        assert got[21] == ("0", 210.0)  # untouched tail intact
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_unclaimed_rows_keep_their_defaults(spark):
    base, path, df = _mk(spark, n=50, parts=2)
    try:
        # matched clause condition never holds -> target rows unchanged;
        # insert clause condition never holds -> source-only rows dropped
        src = (
            df.filter(F.col("k") <= 5)
            .withColumn("p", F.lit(999.0))
            .unionByName(
                df.filter(F.col("k") <= 3).withColumn("k", F.col("k") + 1000)
            )
        )
        merge(
            spark, path, src, "k",
            matched=(("update", "s.p < 0"),),
            not_matched=(("insert", "s.k < 0"),),
        )
        got = _rows(spark, path)
        assert len(got) == 50  # nothing inserted, nothing deleted
        assert got[1] == ("1", 10.0)  # not updated: clause never claimed it
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_prunes_disjoint_files_by_reference(spark):
    base, path, df = _mk(spark)
    try:
        m1 = manifest(path, 1)
        sig = {
            f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]
        }
        src = df.filter(F.col("k").between(1, 40)).withColumn(
            "p", F.col("p") * 3
        )
        v = merge(spark, path, src, "k")
        stats = m1["stats"]
        carried = 0
        for f in m1["files"]:
            r = stats.get(f, {}).get("k")
            if r and (r[1] < 1 or r[0] > 40):
                assert f in manifest(path, v)["files"]
                assert os.stat(os.path.join(path, f)).st_mtime_ns == sig[f]
                carried += 1
        assert carried >= 6  # 8 range files, only the head overlaps
        # the range exchange keeps the REWRITE key-clustered: a second confined
        # merge still prunes (the hash-partitioned rewrite would not)
        m2 = manifest(path, v)
        sig2 = {
            f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m2["files"]
        }
        v3 = merge(
            spark, path,
            read_version(spark, path)
            .filter(F.col("k").between(1900, 2000))
            .withColumn("p", F.col("p") + 7),
            "k",
        )
        carried2 = sum(
            1
            for f in m2["files"]
            if (r := m2["stats"].get(f, {}).get("k"))
            and (r[1] < 1900 or r[0] > 2000)
            and os.stat(os.path.join(path, f)).st_mtime_ns == sig2[f]
        )
        assert carried2 >= 1
        assert v3 == v + 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_nmbs_clause_forces_full_scan(spark):
    base, path, df = _mk(spark)
    try:
        m1 = manifest(path, 1)
        src = df.filter(F.col("k") <= 5)  # tiny span
        merge(
            spark, path, src, "k",
            matched=(("update", None),),
            not_matched=(("insert", None),),
            not_matched_by_source=(("delete", "t.k > 1990"),),
        )
        # rows beyond every file the span-pruner would keep are gone:
        # NMBS observed the whole table
        got = _rows(spark, path)
        assert all(k <= 1990 for k in got)
        assert len(got) == 1990
        # and the old files are genuinely rewritten/replaced
        assert set(manifest(path, 2)["files"]) != set(m1["files"])
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_insert_only_beyond_range_carries_everything(spark):
    base, path, df = _mk(spark)
    try:
        m1 = manifest(path, 1)
        sig = {
            f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]
        }
        src = df.filter(F.col("k") <= 10).withColumn(
            "k", F.col("k") + 1_000_000
        )
        v = merge(spark, path, src, "k")
        m2 = manifest(path, v)
        for f in m1["files"]:
            assert f in m2["files"]
            assert os.stat(os.path.join(path, f)).st_mtime_ns == sig[f]
        assert len(_rows(spark, path)) == 2010
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_null_key_source_rows_insert(spark):
    base, path, df = _mk(spark, n=20, parts=2)
    try:
        # the range-clustered table, then one laid out by a partition spec:
        # an all-NULL source has no key span, so every file is planned
        # touched and the partition probes over None must not raise
        bucketed = f"{base}/bucketed"
        write_version(df, bucketed, partition_by=(("sbucket", "k", 4),))
        src = df.filter(F.col("k") <= 2).withColumn(
            "k", F.lit(None).cast("long")
        )
        for p in (path, bucketed):
            merge(spark, p, src, "k")
            got = read_version(spark, p)
            # NULL keys never match (Delta): both rows INSERT, nothing updates
            assert got.count() == 22
            assert got.filter(F.col("k").isNull()).count() == 2
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_empty_source(spark):
    base, path, df = _mk(spark, n=30, parts=2)
    try:
        empty = df.limit(0)
        # no NMBS: provably nothing to do -> None, head unmoved
        assert merge(spark, path, empty, "k") is None
        # with NMBS: the clause still applies to every target row
        v = merge(
            spark, path, empty, "k",
            not_matched_by_source=(("delete", "t.k % 2 = 0"),),
        )
        assert v == 2
        assert read_version(spark, path).count() == 15
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_change_feed_is_row_exact(spark):
    base, path, df = _mk(spark)
    try:
        n = 40
        src = df.filter(F.col("k").between(1, n)).withColumn(
            "p", F.col("p") + 1
        )
        v = merge(spark, path, src, "k")
        feed = table_changes(spark, path, 1, v)
        counts = {
            r["_change_type"]: r["cnt"]
            for r in feed.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        # carried identical rows in rewritten files CANCEL: the feed is
        # exactly the n updated rows as delete+insert pairs
        assert counts == {"delete": n, "insert": n}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_respects_deletion_vectors(spark):
    base, path, df = _mk(spark)
    try:
        # DV-delete one row in the low range (will be rewritten) and one
        # in the high range (its file rides by reference, DV carried)
        delete_where_dv(spark, path, "k", 5, 5)
        delete_where_dv(spark, path, "k", 1995, 1995)
        src = df.filter(F.col("k").between(1, 40)).withColumn(
            "p", F.col("p") * 2
        )
        merge(spark, path, src, "k")
        got = _rows(spark, path)
        # the rewrite read THROUGH the low DV (row stays dead, and is NOT
        # resurrected by the merge even though the source mentions k=5:
        # a dead row is not-matched, so the source row INSERTS it anew)
        assert 1995 not in got  # carried file keeps its deletion vector
        assert got[4] == ("1", 80.0)
        # k=5 was DV-dead, the source row re-inserted it (not-matched)
        assert got[5] == ("2", 100.0)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_stages_on_wap_branch(spark):
    """The WAP x MERGE cell of the staging matrix: a full-clause-matrix
    merge staged on a branch leaves main BYTE-IDENTICAL (file list +
    mtimes) until fast_forward; the audit read sees the merged state;
    publish delivers exactly it. A second branch merge targets the
    BRANCH snapshot (the staged state), not main."""
    from tts_etl_pipeline_spark.sources.versioned import (
        create_branch,
        current_version,
        fast_forward,
        read_branch,
    )

    base, path, df = _mk(spark, n=200, parts=4)
    try:
        m1 = manifest(path, 1)
        sig = {
            f: os.stat(os.path.join(path, f)).st_mtime_ns for f in m1["files"]
        }
        create_branch(path, "audit")
        src = (
            df.filter(F.col("k") <= 20)
            .withColumn("p", F.col("p") * 2)
            .unionByName(
                df.filter(F.col("k") <= 5).withColumn("k", F.col("k") + 9000)
            )
        )
        v2 = merge(
            spark, path, src, "k",
            matched=(("update", None),),
            not_matched=(("insert", None),),
            not_matched_by_source=(("delete", "t.k > 190"),),
            branch="audit",
        )
        assert v2 == 2
        # second staged merge sees the FIRST merge's state (branch head)
        src2 = (
            read_branch(spark, path, "audit")
            .filter(F.col("k").between(1, 3))
            .withColumn("p", F.col("p") + 1)
        )
        v3 = merge(spark, path, src2, "k", branch="audit")
        assert v3 == 3
        # main: untouched in every observable way
        assert current_version(path) == 1
        assert manifest(path, 1)["files"] == m1["files"]
        assert {
            f: os.stat(os.path.join(path, f)).st_mtime_ns
            for f in m1["files"]
        } == sig
        assert read_version(spark, path).count() == 200
        # audit read: the composed staged state
        staged = {
            r["k"]: r["p"] for r in read_branch(spark, path, "audit").collect()
        }
        exp = {}
        for i in range(1, 191):  # NMBS deleted k > 190
            p = i * 10.0
            if i <= 20:
                p *= 2
            if i <= 3:
                p += 1
            exp[i] = p
        for i in range(1, 6):
            exp[i + 9000] = i * 10.0
        assert staged == exp
        # publish: main gains exactly the staged lineage
        assert fast_forward(path, "audit") == 3
        final = {r["k"]: r["p"] for r in read_version(spark, path).collect()}
        assert final == exp
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_typed_guards(spark):
    base, path, df = _mk(spark, n=20, parts=2)
    try:
        with pytest.raises(ValueError, match="duplicate keys"):
            merge(spark, path, df.unionByName(df.limit(1)), "k")
        with pytest.raises(ValueError, match="schema mismatch"):
            merge(
                spark, path, df.withColumn("p", F.col("p").cast("float")), "k"
            )
        with pytest.raises(ValueError, match="not a column"):
            merge(spark, path, df, "nope")
        with pytest.raises(ValueError, match="bad matched clause"):
            merge(spark, path, df, "k", matched=(("upsert", None),))
        with pytest.raises(ValueError, match="bad not_matched clause"):
            merge(spark, path, df, "k", not_matched=(("update", None),))
        with pytest.raises(ValueError, match="bad not_matched_by_source"):
            merge(
                spark, path, df, "k",
                not_matched_by_source=(("update", None),),  # missing assigns
            )
        with pytest.raises(ValueError, match="unknown columns"):
            merge(
                spark, path, df, "k",
                not_matched_by_source=(("update", None, {"zz": "t.p"}),),
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
