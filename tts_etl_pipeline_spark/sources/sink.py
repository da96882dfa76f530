"""Sinks S3-S5 (pa.py:49-76, 335-391).

- `create_table` / `insert_or_ignore`: the SQLite DDL + `INSERT OR IGNORE`
  surface re-expressed as a Parquet table with first-writer-wins append:
  dedup within the incoming batch on the key, then LEFT ANTI join against the
  existing table's keys, then append (SURVEY §2.1-S4). The append is one
  Spark action, like the reference's one `executemany`: the rows are
  written to a sibling staging directory, counted from the parquet footers
  and renamed into the table. The anti join's build side is keys-only — at
  100 TB the sink table's key column is a fraction of the data and the join
  is AQE-optimized; with Delta available this becomes MERGE WHEN NOT
  MATCHED.
- `write_clip` / `clip_name`: the one WAV clip writer and clip naming
  (Spark has no native per-row binary sink). run_pipeline's per-file stage
  (audio/pipeline.py) calls them for each surviving segment, and
  `export_wavs` is the same step as a standalone mapInPandas; a failed
  write yields a null wav_path, which the F7 filter drops (pa.py:348-352).
"""

from __future__ import annotations

import contextlib
import os
import uuid
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from tts_etl_pipeline_spark.audio import params as P


def insert_or_ignore(
    df: DataFrame, table_path: str, key: str = "wav_path"
) -> int:
    """Append rows whose `key` is not already present (first writer wins).

    Returns the number of rows appended. Replicates INSERT OR IGNORE
    (pa.py:377-383) including intra-batch duplicates (executemany applies
    rows in order; we keep an arbitrary single row per key via
    dropDuplicates, matching the reference's per-batch uniqueness).

    One Spark action per call: the new rows are written once, to a sibling
    staging directory; the count is the sum of the staged files' parquet
    footers (no job), and the part files that hold rows are then renamed
    into `table_path`. The upstream DAG (in run_pipeline: the one per-file
    Python stage that decodes, gates, transcribes and writes the clips)
    therefore runs once, and the count is exactly what was written. A
    failed write leaves the table as it was; a zero-row insert creates no
    `table_path`.

    Concurrency: single-writer only, like the SQLite original. The
    read-keys/anti-join/append sequence is not transactional — two writers
    racing on the same table can both miss the other's keys and append
    duplicates. A multi-writer deployment needs a table format with
    optimistic transactions (Delta/Iceberg MERGE WHEN NOT MATCHED).
    Readers can see part of a batch while its files are being renamed in,
    as they can during Spark's own job commit of a direct append.
    """
    import shutil

    import pyarrow.parquet as pq

    spark = df.sparkSession
    incoming = df.dropDuplicates([key])
    if _table_exists(spark, table_path):
        # an explicit one-column schema: no parquet schema-inference job
        existing_keys = spark.read.schema(StructType([df.schema[key]])).parquet(table_path)
        # a USING join moves the key column first; every file keeps df's
        # column order, else the read-back schema depends on which
        # footer Spark happens to infer it from
        incoming = incoming.join(existing_keys, key, "left_anti").select(*df.columns)
    staging = f"{table_path.rstrip('/')}._staging-{uuid.uuid4().hex[:8]}"
    try:
        incoming.write.parquet(staging)
        staged = {}
        for name in sorted(os.listdir(staging)):
            if name.endswith(".parquet"):
                rows = pq.ParquetFile(os.path.join(staging, name)).metadata.num_rows
                if rows:
                    staged[name] = rows
        # part names carry the write job's UUID: a clash is a bug, never
        # a file to overwrite — checked before the first rename
        clash = [f for f in staged if os.path.exists(os.path.join(table_path, f))]
        if clash:
            raise FileExistsError(f"staged part files already in {table_path}: {clash}")
        if staged:
            os.makedirs(table_path, exist_ok=True)
        for name in staged:
            os.replace(os.path.join(staging, name), os.path.join(table_path, name))
    finally:
        if os.path.exists(staging):
            shutil.rmtree(staging)
    return sum(staged.values())


def create_table(spark: SparkSession, table_path: str, refresh: bool = True) -> None:
    """S3 (pa.py:49-76): refresh=True drops existing data first."""
    if refresh and _table_exists(spark, table_path):
        import shutil

        shutil.rmtree(table_path)


def _table_exists(spark: SparkSession, path: str) -> bool:
    if not os.path.isdir(path):
        return False
    # walk: partitioned layouts keep part files in key=value subdirectories
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def clip_name(original_name: str, start_ms: int, end_ms: int) -> str:
    """P9 (pa.py:339-343): {stem}_{start_s:04d}s_{end_s:04d}s.wav with
    integer-second zero padding."""
    stem = original_name.removesuffix(".wav")
    return P.OUTPUT_NAME_FORMAT % (stem, start_ms // 1000, end_ms // 1000)


def write_clip(path: str, samples: np.ndarray, rate: int) -> str | None:
    """S5 (pa.py:335-352): one clip as 16-bit mono PCM. Returns `path`, or
    None when the clip cannot be written (pa.py:348-352), which F7 drops.
    The clip is written under a temporary name and renamed into place, so a
    failed write leaves no clip behind and keeps one already at `path`."""
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.part"
    try:
        ints = (
            np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0) * P.INT16_FULL_SCALE
        ).astype("<i2")
        with wave.open(tmp, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(int(rate))
            w.writeframes(ints.tobytes())
        os.replace(tmp, path)
        return path
    except (OSError, wave.Error):
        with contextlib.suppress(OSError):
            os.remove(tmp)
        return None


def export_wavs(segments_df: DataFrame, out_dir: str) -> DataFrame:
    """S5 (pa.py:335-352): write each segment's padded samples as a WAV clip;
    wav_path column holds the written path or null on failure. The output
    drops `samples`: once the clip is on disk nothing downstream reads
    them, so later shuffles move metadata only."""
    os.makedirs(out_dir, exist_ok=True)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in segments_df.schema.fields
        if f.name != "samples"
    )
    out_schema += ", wav_path string"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths = [
                write_clip(os.path.join(out_dir, clip_name(name, start, end)), x, rate)
                for name, start, end, x, rate in zip(
                    pdf["original_name"], pdf["start_ms"], pdf["end_ms"],
                    pdf["samples"], pdf["frame_rate"],
                )
            ]
            pdf = pdf.drop(columns=["samples"])
            pdf["wav_path"] = paths
            yield pdf

    return segments_df.mapInPandas(gen, out_schema)


def overwrite_partitions(df: DataFrame, table_path: str, partition_cols: list[str]) -> None:
    """Incremental backfill: replace ONLY the partitions present in `df`,
    leaving all other partitions untouched (dynamic partition overwrite).

    The canonical reprocess-one-day pattern for a 100 TB date-partitioned
    table — a static overwrite would truncate the whole table, and
    read-modify-write of the full dataset is O(table) instead of O(day).
    Spark handles this natively via partitionOverwriteMode=dynamic; the
    config is set per-write here (it is session-wide, so restore after).
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(table_path)
    finally:
        spark.conf.set(key, prev)


def compact_parquet(
    spark: SparkSession, table_path: str, target_file_mb: int = 512
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(bytes / target_file_mb) files and swap it in with crash recovery.

    Streaming sinks and fine-grained backfills accrete thousands of tiny
    files; at cluster scale every one is a scan task and a NameNode entry.
    Rewrite is a zero-shuffle coalesce when shrinking (repartition only to
    grow parallelism), staged to a sibling path then swapped in. Returns
    the output file count.

    Atomicity contract (single-writer, like a filesystem table without a
    transaction log): the swap is two renames, so a crash can leave the
    table briefly absent with the data parked at `<table>._compact_old`.
    Both this function (on its next run) and `recover_compaction` roll that
    state back, so no committed data is ever lost — but a concurrent READER
    between the renames can observe a missing table. Concurrent
    reader-safety needs a catalog/table format (Delta/Iceberg) whose commit
    is a single metadata swap; this is documented, not claimed.
    """
    import math
    import shutil

    recover_compaction(table_path)  # roll back any crashed previous swap
    size_b = 0
    for root, _dirs, files in os.walk(table_path):
        size_b += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n_files = max(1, math.ceil(size_b / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(table_path)
    staged = table_path.rstrip("/") + "._compact_tmp"
    df.coalesce(n_files).write.mode("overwrite").parquet(staged)
    old = table_path.rstrip("/") + "._compact_old"
    shutil.rmtree(old, ignore_errors=True)  # leftover from an aborted run
    os.rename(table_path, old)
    try:
        os.rename(staged, table_path)
    except OSError:
        os.rename(old, table_path)  # roll the original back in
        raise
    shutil.rmtree(old)
    return n_files


def recover_compaction(table_path: str) -> bool:
    """Recover a table stranded by a crash between compact_parquet's two
    renames: if the table path is gone but `<table>._compact_old` exists,
    rename the original data back in. Returns True if a rollback happened.
    Safe to call unconditionally at startup; compact_parquet calls it first.
    """
    old = table_path.rstrip("/") + "._compact_old"
    if not os.path.exists(table_path) and os.path.isdir(old):
        os.rename(old, table_path)
        return True
    return False
