"""P1 — the full reference audio pipeline as a driver-visible query.

Runs the end-to-end DAG S1 (binaryFile scan) -> decode -> T1 segmentation ->
P4-P7 metrics -> F2 gate -> F3 guard -> fake-M1 ASR -> F4-F6 text gates ->
W1 overlap window -> S5 wav export -> F7 -> S4 insert-or-ignore over the
deterministic synthesized fixture set (audio/synth.py), then returns the
metadata table contents (pa.py:393-426 is the reference spec).

Registered WITHOUT an oracle: the pipeline's inputs are synthesized WAV
bytes, not the driver's parquet tables, so DuckDB has nothing equivalent to
run — the driver records the weaker rows-only check. Row count and every
returned column are nonetheless deterministic (seeded fixtures, fake ASR),
so the rows-only count is stable across runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.checkpoints import materialize, scratch_dir


@registry.query("p1_audio_pipeline_e2e")
def p1_audio_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference pipeline E2E over synth fixtures; returns metadata rows.

    `sf_dir` is unused (the audio pipeline reads WAVs, not the star schema);
    it is part of the driver's uniform query signature.
    """
    from tts_etl_pipeline_spark.audio.pipeline import run_pipeline
    from tts_etl_pipeline_spark.audio.synth import write_fixture_dir

    # private per-call scratch dir: a fixed world-readable /tmp name would
    # race concurrent driver/pytest runs and is a symlink hazard on shared
    # hosts (ADVICE r2); mkdtemp is mode-0700 and collision-free
    with scratch_dir("tts_etl_p1_e2e_") as scratch:
        wav_dir = os.path.join(scratch, "wavs")
        out_dir = os.path.join(scratch, "clips")
        table_path = os.path.join(scratch, "processed_data")
        write_fixture_dir(wav_dir)
        run_pipeline(
            spark, wav_dir, out_dir, table_path, asr_model="fake", refresh=True
        )
        # Project to run-invariant columns: wav_path embeds the scratch dir,
        # so surface only its basename; round floats to dodge FFT libm
        # jitter.
        return materialize(
            spark.read.parquet(table_path)
            .select(
                "original_name",
                F.element_at(F.split("wav_path", "/"), -1).alias("wav_file"),
                "text",
                F.round("rms", 2).alias("rms"),
                F.round("clipping_percent", 4).alias("clipping_percent"),
                F.round("music_ratio", 4).alias("music_ratio"),
                "overlap_flag",
                "start_ms",
                "end_ms",
            )
            .orderBy("original_name", "start_ms")
        )
