"""SparkSession factory tuned for the local[32] test harness.

All knobs default to values that behave identically on a real cluster:
AQE handles runtime partition coalescing and skew joins, shuffle
partitions default to the local core count (on a cluster you would size
this to ~2-3x total cores or leave it to AQE), and Arrow is enabled for
every pandas-UDF exchange.

Python workers start through `worker_daemon` (`spark.python.daemon.module`).
PySpark's worker calls `importlib.invalidate_caches()` at the start of every
task, and on Python 3.11 that re-reads the whole directory of each zip on
the worker path: `pyspark.zip` and Spark's core jar, about 16 importers in
a reused worker, 0.16-0.30 s per task on 4 vCPUs. The daemon skips a
re-read while the archive is unchanged. Its precondition is the one every
package UDF already has: workers can import this package (the checkout is
the working directory or on `PYTHONPATH`). Sessions built anywhere other
than `get_spark` keep PySpark's default daemon and pay the per-task cost.

Spark compiles each whole-stage and expression class it generates with
Janino and keeps the compiled classes in one JVM-wide LRU cache, keyed by
the generated source text (`spark.sql.codegen.cache.maxEntries`, default
100 entries). The working sets here are larger: measured with Spark's
`CodegenMetrics` on 4 vCPUs, one perfbench `queries` pass needs about 195
classes, one `ingest_writes` pass about 107, and one pass over the full
registry at sf0.01 (v5 aside) 4,176. With the default the LRU cycles:
every warm `queries` pass recompiled 185 classes and every warm
`ingest_writes` pass 57, each a fresh class for the JIT to warm up again,
and a single registry pass compiled 6,007 classes. `CODEGEN_CACHE_ENTRIES`
is the smallest power of two above the registry's working set, so a query
shape that has run once in a JVM is not compiled again, unless its
generated source carries a name Spark makes fresh per run (a `LIMIT`
counter, a re-numbered stage; see ROADMAP). It costs class metadata:
metaspace after GC following one registry pass grew from 227 to 256 MB
(compressed class space 29 to 33 MB). The cache holds compiled code only,
never data or results: every run still scans its input and recomputes
every row, as it does under the JVM's JIT. Nor is it a local-mode
setting: on a cluster each executor JVM keeps the same cache, so a
long-lived executor compiles each stage's class once. It is a static
conf, read when the JVM first generates code, so sessions not built by
`get_spark` (`__spark_entry__.py` takes the caller's), or a JVM that
generated code before `get_spark` ran, keep Spark's default.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# spark.sql.codegen.cache.maxEntries: above the 4,176 generated classes of
# one full registry pass at sf0.01 (module docstring)
CODEGEN_CACHE_ENTRIES = 8192


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "tts_etl_pipeline_spark",
    cpus: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-aware defaults.

    `ui=True` enables the Spark UI (REST status API) for profiling
    sessions (scripts/profile_bench.py) — everything else stays the
    bench/driver configuration, so profiled plans match benched plans.

    Workers run `tts_etl_pipeline_spark.worker_daemon`, which stops every
    Python task from re-reading `pyspark.zip` and Spark's core jar (a
    0.16-0.30 s fixed cost per task on Python 3.11; see the module
    docstring). It needs workers that can import this package; a session
    built elsewhere, such as an existing one `getOrCreate` returns, keeps
    PySpark's default daemon.

    Spark's codegen class cache holds `CODEGEN_CACHE_ENTRIES` classes, so
    a warm query re-runs no Janino compile: Spark's default of 100 is
    smaller than one perfbench pass (about 195 classes for `queries`, 107
    for `ingest_writes`) and the full registry (4,176). It caches compiled
    code, not data or results, and applies per executor JVM on a cluster
    too; metaspace grows about 29 MB after a full registry pass. A JVM
    started elsewhere keeps the default (see the module docstring)."""
    n = cpus or cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # match partitions to parallelism; AQE coalesces small ones at runtime
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "tts_etl_pipeline_spark.worker_daemon")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_bounded_window_warnings(spark)
    return spark


def _quiet_bounded_window_warnings(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined" warning for this JVM.

    Every unpartitioned window in this repo runs over a relation whose row
    count is bounded by CONSTRUCTION (a bottom-k sample, a superbucket
    rollup, a capped curriculum head, a calendar-grain rollup) — correct
    at any data scale, but each one re-triggers the warning, and the noise
    means a REAL regression (a window dragging a fact-scale relation
    through one task) could hide in it. A constant partition key cannot
    suppress it either: Spark 4's EliminateWindowPartitions folds lit(0) /
    col*0 / projected-literal partition keys back to the empty spec
    (verified empirically).

    So the warning is demoted to log-level ERROR here, and the guard moves
    to a TEST: tests/test_plans.py::test_unpartitioned_windows_annotated
    fails on any `Window.orderBy` in the package without an adjacent
    `bounded:` comment stating the relation's size bound — a failing test
    is visible where a drowned warning is not."""
    try:
        jvm = spark.sparkContext._jvm
        logger = jvm.org.apache.logging.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec"
        )
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger.getName(), jvm.org.apache.logging.log4j.Level.ERROR
        )
    except Py4JError:
        pass  # non-log4j2 runtime: warnings stay, correctness unaffected
