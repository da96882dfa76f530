"""Schemas for the audio pipeline (SURVEY.md §1.3 Spark mapping).

The reference's schema-by-convention dict batches (pa.py:79-164) become
declared StructTypes. `samples` is float32 PCM normalized to [-1, 1]
(pa.py:186-188); metrics that the reference computes on raw int16 samples
(RMS, threshold 250 — pa.py:25,182) are rescaled by INT16_FULL_SCALE inside
the metric kernels so thresholds keep their original meaning.
"""

from pyspark.sql import types as T

# one row per source file (post-decode)
AUDIO_FILE_SCHEMA = T.StructType(
    [
        T.StructField("original_name", T.StringType(), False),
        T.StructField("samples", T.ArrayType(T.FloatType()), False),
        T.StructField("frame_rate", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
    ]
)

# one row per segment: unpadded bounds, padded slice (segmentation.py)
SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("original_name", T.StringType(), False),
        T.StructField("start_ms", T.LongType(), False),
        T.StructField("end_ms", T.LongType(), False),
        T.StructField("samples", T.ArrayType(T.FloatType()), False),
        T.StructField("frame_rate", T.IntegerType(), False),
    ]
)

METRICS_TYPE = T.StructType(
    [
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("clipping_percent", T.DoubleType(), True),
        T.StructField("music_ratio", T.DoubleType(), True),
    ]
)

# mirror of the reference's SQLite processed_data table (pa.py:58-69) with the
# modeling fix from SURVEY §1.2: start/end stored as columns, not only in the
# file name. It is also the output of run_pipeline's per-file stage, where a
# null wav_path marks a failed clip export that F7 drops before the sink.
PROCESSED_DATA_SCHEMA = T.StructType(
    [
        T.StructField("original_name", T.StringType(), False),
        T.StructField("wav_path", T.StringType(), True),  # UNIQUE dedup key
        T.StructField("text", T.StringType(), False),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("clipping_percent", T.DoubleType(), True),
        T.StructField("music_ratio", T.DoubleType(), True),
        T.StructField("overlap_flag", T.BooleanType(), True),
        T.StructField("start_ms", T.LongType(), True),
        T.StructField("end_ms", T.LongType(), True),
    ]
)
