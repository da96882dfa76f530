"""F1-F7 — the pipeline's predicates as Catalyst column expressions.

Each is a pure filter (whole-stage codegen'd); the DAG applies them in the
reference's cost order — audio gates before ASR, text gates after
(README.md:33, pa.py:406-415) — which SURVEY §4 notes must be encoded by
construction because Catalyst won't hoist filters across a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from tts_etl_pipeline_spark.audio import params as P


def duration_ms() -> Column:
    return F.col("end_ms") - F.col("start_ms")


def min_duration() -> Column:
    """F1 (pa.py:128-132) — also enforced inside T1's merge pass."""
    return duration_ms() >= P.MIN_DURATION_MS


def audio_quality_gate() -> Column:
    """F2 (pa.py:212-238): rms, clipping, music-ratio thresholds + the
    -1.0 error-sentinel rejection (pa.py:227-228)."""
    return (
        (F.col("rms") >= P.MIN_RMS)
        & (F.col("clipping_percent") <= P.MAX_CLIPPING_PERCENT)
        & (F.col("music_ratio") <= P.MUSIC_ENERGY_RATIO)
        & (F.col("music_ratio") != P.MUSIC_ERROR_SENTINEL)
    )


def asr_length_guard() -> Column:
    """F3 (pa.py:252-254) applied BEFORE inference as a DataFrame filter —
    fixes reference bug B1 (index misalignment) by construction. The +2x
    padding accounts for the padded slice the ASR actually consumes."""
    return duration_ms() + 2 * P.SEGMENT_PADDING_MS <= P.MAX_ASR_INPUT_MS


def transcript_nonempty() -> Column:
    """F4 (pa.py:302-303): drop falsy text / word count <= 2."""
    return (F.col("text").isNotNull()) & (
        F.size(F.split(F.trim("text"), r"\s+")) > P.MIN_WORDS
    )


def transcript_alpha() -> Column:
    """F5 (pa.py:304-305): must contain at least one ASCII letter."""
    return F.col("text").rlike("[a-zA-Z]")


def transcript_not_hallucination() -> Column:
    """F6 (pa.py:291-294,306-307): bracketed tags / stock YouTube phrases."""
    return ~F.lower(F.col("text")).rlike(P.HALLUCINATION_RE)


def text_quality_gate() -> Column:
    return transcript_nonempty() & transcript_alpha() & transcript_not_hallucination()


def saved_ok() -> Column:
    """F7 (pa.py:348-352): drop rows whose WAV export failed."""
    return F.col("wav_path").isNotNull()
