"""Concurrency stress for the versioned format's ACID claims: parallel
writers against ONE table must never lose an update — every row each
thread believes it committed is present at the end, and every loser saw
a TYPED CommitConflictError (never silent overwrite, never a torn
manifest). Threads share the driver; commits serialize through the
manifest-name CAS (hard-link create-if-absent), which is exactly what
is under test."""

import shutil
import tempfile
import threading

from pyspark.sql import functions as F

from tts_etl_pipeline_spark.sources.maintenance import auto_maintain
from tts_etl_pipeline_spark.sources.versioned import (
    CommitConflictError,
    current_version,
    history,
    manifest,
    merge,
    read_version,
    write_version,
)


def test_parallel_appends_never_lose_rows(spark):
    base = tempfile.mkdtemp(prefix="conc_")
    path = f"{base}/t"
    try:
        write_version(
            spark.createDataFrame([(0, 0)], "k long, w long"), path
        )
        n_threads, per = 6, 4
        errors: list = []

        def worker(tid: int) -> None:
            try:
                for i in range(per):
                    df = spark.createDataFrame(
                        [(1000 * tid + i, tid)], "k long, w long"
                    )
                    # the documented contract: a lost CAS surfaces TYPED
                    # and the client retries against the fresh head (the
                    # Iceberg commit model) — convergence is what's under
                    # test, not absence of conflicts
                    for attempt in range(30):
                        try:
                            write_version(df, path, mode="append")
                            break
                        except CommitConflictError:
                            continue
                    else:
                        raise RuntimeError("retries exhausted")
            except Exception as ex:  # pragma: no cover - failure evidence
                errors.append((tid, repr(ex)))

        threads = [
            threading.Thread(target=worker, args=(t,))
            for t in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        rows = {r["k"] for r in read_version(spark, path).collect()}
        expected = {0} | {
            1000 * t + i for t in range(n_threads) for i in range(per)
        }
        assert rows == expected  # no lost appends, ever
        assert current_version(path) == 1 + n_threads * per
        # lineage is a clean chain: every version's parent is version-1
        for h in history(path):
            assert h["version"] >= 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_conflicting_merges_surface_typed_and_lose_nothing(spark):
    """Two merges computed against the SAME snapshot race their commits:
    exactly one wins, the loser gets CommitConflictError, and a retry on
    the fresh head lands both intents."""
    base = tempfile.mkdtemp(prefix="conc_")
    path = f"{base}/t"
    try:
        df = spark.range(1, 101).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("p")
        )
        write_version(df.repartitionByRange(4, "k"), path, collect_stats=("k",))
        src_a = df.filter(F.col("k") <= 10).withColumn("p", F.lit(-1.0))
        src_b = df.filter(F.col("k") > 90).withColumn("p", F.lit(-2.0))
        results: dict = {}
        barrier = threading.Barrier(2)

        def racer(name: str, src) -> None:
            try:
                barrier.wait()
                results[name] = ("ok", merge(spark, path, src, "k"))
            except CommitConflictError as ex:
                results[name] = ("conflict", repr(ex))

        ta = threading.Thread(target=racer, args=("a", src_a))
        tb = threading.Thread(target=racer, args=("b", src_b))
        ta.start(), tb.start()
        ta.join(), tb.join()
        outcomes = sorted(kind for kind, _ in results.values())
        # at least one committed; a loser (if any) got the TYPED error
        assert outcomes[-1] == "ok"
        assert set(outcomes) <= {"ok", "conflict"}
        for name, src in (("a", src_a), ("b", src_b)):
            if results[name][0] == "conflict":
                merge(spark, path, src, "k")  # retry on the fresh head
        got = {r["k"]: r["p"] for r in read_version(spark, path).collect()}
        for k in range(1, 11):
            assert got[k] == -1.0
        for k in range(91, 101):
            assert got[k] == -2.0
        assert len(got) == 100  # neither merge clobbered the other's rows
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_maintenance_races_a_writer_cleanly(spark):
    """auto_maintain racing a live appender: the loop either completes
    or aborts TYPED with the completed prefix — and no appended row is
    ever lost, whatever interleaving happened."""
    base = tempfile.mkdtemp(prefix="conc_")
    path = f"{base}/t"
    try:
        df = spark.range(1, 201).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("p")
        )
        write_version(df.repartitionByRange(4, "k"), path, collect_stats=("k",))
        for i in range(8):  # small-file debt for compact to chew on
            write_version(
                df.limit(2).withColumn("k", F.col("k") + 1000 + i * 10),
                path, mode="append",
            )
        appended: list = []
        errors: list = []
        stop = threading.Event()

        def appender() -> None:
            try:
                for i in range(20):
                    if stop.is_set():
                        break
                    k = 5000 + i
                    df = spark.createDataFrame([(k, 0.0)], "k long, p double")
                    # a compaction winning the CAS surfaces TYPED; the
                    # client re-reads the head and retries (the
                    # test_parallel_appends_never_lose_rows loop)
                    for attempt in range(30):
                        try:
                            write_version(df, path, mode="append")
                            break
                        except CommitConflictError:
                            continue
                    else:
                        raise RuntimeError("retries exhausted")
                    appended.append(k)
            except Exception as ex:  # pragma: no cover - failure evidence
                errors.append(repr(ex))

        t = threading.Thread(target=appender)
        t.start()
        acts = auto_maintain(
            spark, path,
            {"max_files": 6, "target_files": 4, "max_versions": 10**9},
        )
        stop.set()
        t.join(timeout=600)
        assert not t.is_alive() and not errors, errors
        kinds = [a["action"] for a in acts]
        assert set(kinds) <= {"compact", "aborted"}
        rows = {r["k"] for r in read_version(spark, path).collect()}
        for k in appended:
            assert k in rows, f"maintenance lost appended row {k}"
        assert set(range(1, 201)) <= rows
    finally:
        shutil.rmtree(base, ignore_errors=True)
