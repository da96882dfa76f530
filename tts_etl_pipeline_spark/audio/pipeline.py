"""O1 — the full reference pipeline as ONE lazy DataFrame DAG
(pa.py:393-426). Spark parallelizes across files; each file runs the
reference's per-file loop inside one Python pass, so its waveform never
leaves the task that decoded it:

    read binaryFile (pa.py:396's glob)
      -> process_files: ONE mapInArrow, per file:
           decode + normalize + resample (P1-P3, pa.py:79-92)
           T1 segmentation                (pa.py:406 -> 95-164)
           F3 ASR guard, P4-P7 metrics, F2 gate
                                          (pa.py:409 -> 167-238, 252-254)
           M1 ASR in micro-batches of 8   (pa.py:412 -> 241-278)
           F4-F6 text gates, W1 overlap flag over the survivors in
           start_ms order                 (pa.py:415 -> 281-333)
           S5 clip export                 (pa.py:418 -> 335-352)
      -> F7 (drops rows whose export failed)
      -> S4 insert-or-ignore metadata sink (pa.py:421 -> 354-391): one write
         to a staging dir, rows counted from its parquet footers, files
         renamed in

Only metadata rows come back to the JVM: no float samples cross the
boundary after the file bytes go in, and W1 needs no shuffle or window
because a file's segments are all in one task. The gates, W1 and the ASR
and export steps are the scalar twins and helpers of filters.py,
overlap.py, asr.py and sources/sink.py, next to the composable stage
functions (decode_files -> segment -> with_metrics -> transcribe ->
with_overlap_flag -> export_wavs) that run the same steps as separate
Spark stages. The cost order is the reference's: the cheap audio gates
run before ASR, and the text gates before W1 and the export, so no
rejected segment is transcribed or leaves a clip.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from tts_etl_pipeline_spark.audio import filters
from tts_etl_pipeline_spark.audio import params as P
from tts_etl_pipeline_spark.audio.asr import model_loader, transcribe_rows
from tts_etl_pipeline_spark.audio.batches import record_batch
from tts_etl_pipeline_spark.audio.decode import decoded_files, read_wav_dir
from tts_etl_pipeline_spark.audio.dsp import segment_metrics
from tts_etl_pipeline_spark.audio.overlap import overlap_flags
from tts_etl_pipeline_spark.audio.schema import PROCESSED_DATA_SCHEMA
from tts_etl_pipeline_spark.audio.segmentation import file_segments
from tts_etl_pipeline_spark.sources.sink import (
    clip_name,
    create_table,
    insert_or_ignore,
    write_clip,
)


def _process_file(mdl, name: str, x: np.ndarray, out_dir: str) -> list[pa.Array] | None:
    """One decoded file through T1 .. S5 as PROCESSED_DATA_SCHEMA columns,
    or None when no segment survives the gates."""
    rate = P.TARGET_FRAME_RATE
    gated = []  # (start_ms, end_ms, padded samples, (rms, clipping, music))
    for start, end, s in file_segments(x, rate):
        if filters.asr_length_ok(start, end):
            metrics = segment_metrics(s, rate)
            if filters.audio_quality_ok(*metrics):
                gated.append((start, end, s, metrics))
    if not gated:
        return None
    starts, ends, samples, _ = zip(*gated)
    asr_rows = pd.DataFrame(
        {
            "original_name": [name] * len(gated),
            "start_ms": starts,
            "end_ms": ends,
            "samples": list(samples),
            "frame_rate": [rate] * len(gated),
        }
    )
    # file_segments yields segments in start_ms order, the order W1 reads
    kept = [
        seg + (text,)
        for seg, text in zip(gated, transcribe_rows(mdl, asr_rows))
        if filters.text_quality_ok(text)
    ]
    if not kept:
        return None
    starts, ends, samples, metrics, texts = zip(*kept)
    paths = [
        write_clip(os.path.join(out_dir, clip_name(name, start, end)), s, rate)
        for start, end, s in zip(starts, ends, samples)
    ]
    return [
        pa.array([name] * len(kept), pa.string()),
        pa.array(paths, pa.string()),
        pa.array(texts, pa.string()),
        *(pa.array(m, pa.float64()) for m in zip(*metrics)),
        pa.array(overlap_flags(list(texts)), pa.bool_()),
        pa.array(starts, pa.int64()),
        pa.array(ends, pa.int64()),
    ]


def process_files(binary_df: DataFrame, out_dir: str, asr_model="fake") -> DataFrame:
    """binaryFile rows -> one PROCESSED_DATA_SCHEMA row per segment that
    passes F2-F6, its clip written to `out_dir` (wav_path null when the
    write failed). One output batch per file, so a task holds at most one
    file's waveform. `asr_model` is what `transcribe` takes."""
    os.makedirs(out_dir, exist_ok=True)
    load = model_loader(asr_model)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        mdl = load()
        for name, x in decoded_files(batches):
            columns = _process_file(mdl, name, x, out_dir)
            if columns is not None:
                yield record_batch(PROCESSED_DATA_SCHEMA, columns)

    return binary_df.select("path", "content").mapInArrow(gen, PROCESSED_DATA_SCHEMA)


def build_pipeline(
    spark: SparkSession, wav_dir: str, out_dir: str, asr_model="fake"
) -> DataFrame:
    """The lazy DAG up to the metadata rows; the WAV clips are written when
    it executes."""
    return process_files(read_wav_dir(spark, wav_dir), out_dir, asr_model).filter(
        filters.saved_ok()
    )


def run_pipeline(
    spark: SparkSession,
    wav_dir: str,
    out_dir: str,
    table_path: str,
    asr_model="fake",
    refresh: bool = True,
) -> int:
    """Execute end-to-end; returns rows written to the metadata table."""
    create_table(spark, table_path, refresh=refresh)
    final = build_pipeline(spark, wav_dir, out_dir, asr_model)
    return insert_or_ignore(final, table_path, key="wav_path")
