"""Scratch directories and checkpoints: the one discipline for intermediates.

Several operators materialize an intermediate exactly once so that multiple
downstream branches read it without re-deriving the lineage (the
"materialize the inverted index" step of a dedup pipeline, the pre-agg a
scalar-subquery query reads at two grains, both sides of a set-op). Spark
has no automatic DAG reuse across actions, so without materialization each
branch re-scans the source — tests/test_plans.py pins the one-scan property.

The writer queries (j/st rehearsals of a write path) add a second need:
they write a layout to a temp directory, read it back, and must return a
result that outlives the directory. Both needs use the same two helpers:

    with scratch_dir("j5_") as tmp:
        df.write.parquet(tmp)
        return materialize(spark.read.parquet(tmp).groupBy(...).agg(...))

``scratch_dir`` owns the directory: created on entry, removed on exit even
when the body raises. ``materialize`` owns the result: it is computed while
the directory still exists, and lineage is cut so nothing reads it later.

The materialize mechanism differs by deployment:

- **local / single-JVM** (tests, bench, the driver's local[32]):
  ``localCheckpoint`` — blocks live in executor-local block storage. Cheap,
  but blocks die with an executor, so on a real cluster an executor loss
  makes every downstream job fail irrecoverably.
- **cluster**: reliable ``checkpoint`` against the fault-tolerant directory
  configured via ``spark.sparkContext.setCheckpointDir`` (HDFS/object
  store). Survives executor loss; costs a write to distributed storage.

``materialize`` picks automatically: reliable when a checkpoint dir is
configured, local otherwise. It holds the package's only
``localCheckpoint`` call (tests/test_plans.py
``test_checkpoints_and_scratch_dirs_go_through_the_helpers`` lints this), so
flipping a whole deployment to reliable checkpointing is a single
``setCheckpointDir`` call at session setup — no per-operator code changes.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize `df`, truncating lineage, and return the
    materialized frame. Reliable checkpoint if a checkpoint dir is set on
    the SparkContext, else executor-local checkpoint."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def scratch_dir(prefix: str) -> tempfile.TemporaryDirectory:
    """A fresh temp directory named `prefix`*, removed (with everything
    written under it) when the ``with`` block exits, normally or by
    exception."""
    return tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True)
