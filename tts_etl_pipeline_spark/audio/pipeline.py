"""O1 — the full reference pipeline as ONE lazy DataFrame DAG
(pa.py:393-426). The per-file for-loop disappears: Spark parallelizes
across files, and the stage order encodes the reference's cost-based
filter placement (cheap audio gates before ASR, text gates after —
README.md:33, SURVEY §4).

    read binaryFile
      -> score_files: ONE mapInArrow per file — decode + normalize +
         resample (P1-P3), segment (T1), slice, metrics (P4-P7)
      -> F2 gate -> F3 ASR guard -> ASR (M1) -> F4-F6 text gates
      -> S5 wav export (drops `samples`) -> W1 overlap window -> F7
      -> S4 insert-or-ignore metadata sink: one write to a staging dir,
         rows counted from its parquet footers, files renamed in

Like the reference loop (pa.py:393-426), each file's waveform enters
Python once: it is decoded, cut and scored in memory, and only the
segment rows (their own padded slice plus metrics) come back to the JVM.
F2/F3 stay the Catalyst filters of filters.py, applied above that stage.

The export runs before the window because nothing after it reads the
samples: once a clip is on disk the row is metadata only, so W1's shuffle
on original_name moves no audio. F7 and the final select still come after
the window — a failed export keeps its row through W1, so it cannot change
a neighbour's overlap flag, exactly as when the export ran last.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark.audio import filters
from tts_etl_pipeline_spark.audio import params as P
from tts_etl_pipeline_spark.audio.asr import transcribe
from tts_etl_pipeline_spark.audio.batches import record_batch
from tts_etl_pipeline_spark.audio.decode import decoded_files, read_wav_dir
from tts_etl_pipeline_spark.audio.dsp import metric_columns, segment_metrics
from tts_etl_pipeline_spark.audio.overlap import with_overlap_flag
from tts_etl_pipeline_spark.audio.schema import SCORED_SEGMENT_SCHEMA
from tts_etl_pipeline_spark.audio.segmentation import file_segments, segment_columns
from tts_etl_pipeline_spark.sources.sink import create_table, export_wavs, insert_or_ignore


def score_files(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows -> scored segment rows: the composition
    decode_files -> segment -> with_metrics in one Python pass, with one
    output batch per file so a task holds at most one file's waveform."""
    rate = P.TARGET_FRAME_RATE

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for name, x in decoded_files(batches):
            segs = file_segments(x, rate)
            if segs:
                metrics = [segment_metrics(s, rate) for _, _, s in segs]
                yield record_batch(
                    SCORED_SEGMENT_SCHEMA,
                    segment_columns(name, rate, segs) + metric_columns(metrics),
                )

    return binary_df.select("path", "content").mapInArrow(gen, SCORED_SEGMENT_SCHEMA)


def build_pipeline(
    spark: SparkSession, wav_dir: str, out_dir: str, asr_model: str = "fake"
) -> DataFrame:
    """The lazy DAG up to the metadata rows; the WAV clips are written when
    it executes."""
    scored = score_files(read_wav_dir(spark, wav_dir))
    gated = scored.filter(filters.audio_quality_gate()).filter(filters.asr_length_guard())
    clean = transcribe(gated, model=asr_model).filter(filters.text_quality_gate())
    flagged = with_overlap_flag(export_wavs(clean, out_dir))
    return flagged.filter(filters.saved_ok()).select(
        "original_name",
        "wav_path",
        "text",
        "rms",
        "clipping_percent",
        "music_ratio",
        F.coalesce("overlap_flag", F.lit(False)).alias("overlap_flag"),
        "start_ms",
        "end_ms",
    )


def run_pipeline(
    spark: SparkSession,
    wav_dir: str,
    out_dir: str,
    table_path: str,
    asr_model: str = "fake",
    refresh: bool = True,
) -> int:
    """Execute end-to-end; returns rows written to the metadata table."""
    create_table(spark, table_path, refresh=refresh)
    final = build_pipeline(spark, wav_dir, out_dir, asr_model)
    return insert_or_ignore(final, table_path, key="wav_path")
