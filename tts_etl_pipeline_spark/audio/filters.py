"""F1-F7 — the pipeline's predicates as Catalyst column expressions.

Each is a pure filter (whole-stage codegen'd); the DAG applies them in the
reference's cost order — audio gates before ASR, text gates after
(README.md:33, pa.py:406-415) — which SURVEY §4 notes must be encoded by
construction because Catalyst won't hoist filters across a Python UDF.

F2-F6 also have scalar Python twins (the `*_ok` functions, each next to its
Column, built from the same `params` constants) for run_pipeline's
per-file stage (pipeline.py), which gates segments inside one Python pass.
Each twin keeps exactly the rows Spark keeps: a NULL predicate drops the
row; NaN sorts above every number, so `NaN >= x` is true; `trim` strips
spaces only; Java's whitespace class is ASCII-only and its `.` stops at
every line terminator. tests/test_audio_gate_twins.py checks each pair on
adversarial rows.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from tts_etl_pipeline_spark.audio import params as P

# `\s` and `.` as java.util.regex reads them
_WORD_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")
_JAVA_DOT = "[^\n\r\x85\u2028\u2029]"
_ALPHA = re.compile("[a-zA-Z]")
# HALLUCINATION_RE's only `.` are those of its `.*?` tag bodies
_HALLUCINATION = re.compile(P.HALLUCINATION_RE.replace(".", _JAVA_DOT))


def words(text: str) -> list[str]:
    """split(trim(text), '\\s+') as Spark computes it: a spaces-only trim,
    then a Java whitespace split that keeps leading and trailing empty
    words."""
    return _WORD_SPLIT.split(text.strip(" "))


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


def audio_quality_ok(rms, clipping_percent, music_ratio) -> bool:
    """F2 on one segment's metrics. Python's `<=` and `!=` already agree
    with Spark on NaN; `>=` needs the NaN case spelled out."""
    if rms is None or clipping_percent is None or music_ratio is None:
        return False
    return (
        (rms != rms or rms >= P.MIN_RMS)
        and clipping_percent <= P.MAX_CLIPPING_PERCENT
        and music_ratio <= P.MUSIC_ENERGY_RATIO
        and music_ratio != P.MUSIC_ERROR_SENTINEL
    )


def asr_length_guard() -> Column:
    """F3 (pa.py:252-254) applied BEFORE inference as a DataFrame filter —
    fixes reference bug B1 (index misalignment) by construction. The +2x
    padding accounts for the padded slice the ASR actually consumes."""
    return duration_ms() + 2 * P.SEGMENT_PADDING_MS <= P.MAX_ASR_INPUT_MS


def asr_length_ok(start_ms, end_ms) -> bool:
    """F3 on one segment's bounds."""
    if start_ms is None or end_ms is None:
        return False
    return end_ms - start_ms + 2 * P.SEGMENT_PADDING_MS <= P.MAX_ASR_INPUT_MS


def transcript_nonempty() -> Column:
    """F4 (pa.py:302-303): drop falsy text / word count <= 2."""
    return (F.col("text").isNotNull()) & (
        F.size(F.split(F.trim("text"), r"\s+")) > P.MIN_WORDS
    )


def transcript_nonempty_ok(text) -> bool:
    return text is not None and len(words(text)) > P.MIN_WORDS


def transcript_alpha() -> Column:
    """F5 (pa.py:304-305): must contain at least one ASCII letter."""
    return F.col("text").rlike("[a-zA-Z]")


def transcript_alpha_ok(text) -> bool:
    return text is not None and _ALPHA.search(text) is not None


def transcript_not_hallucination() -> Column:
    """F6 (pa.py:291-294,306-307): bracketed tags / stock YouTube phrases."""
    return ~F.lower(F.col("text")).rlike(P.HALLUCINATION_RE)


def transcript_not_hallucination_ok(text) -> bool:
    return text is not None and _HALLUCINATION.search(text.lower()) is None


def text_quality_gate() -> Column:
    return transcript_nonempty() & transcript_alpha() & transcript_not_hallucination()


def text_quality_ok(text) -> bool:
    return (
        transcript_nonempty_ok(text)
        and transcript_alpha_ok(text)
        and transcript_not_hallucination_ok(text)
    )


def saved_ok() -> Column:
    """F7 (pa.py:348-352): drop rows whose WAV export failed."""
    return F.col("wav_path").isNotNull()
