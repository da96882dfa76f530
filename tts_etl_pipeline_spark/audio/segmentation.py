"""T1 — silence-based segmentation as a Spark operator (pa.py:95-164).

The interval algebra (detect -> split -> merge -> pad) is sequential within
one file, so `file_segments` runs per file in Python; cross-file
parallelism is free (SURVEY §2.1-T1). It also cuts each padded slice out of
the file's array in numpy, so a segment row carries only its own samples,
never the whole file's. The pipeline's per-file stage (pipeline.py) calls it
between decode and metrics inside one Python pass; `segment` is the same
step as a standalone mapInArrow over decoded file rows.

Straggler note (SURVEY §7 hard-part 4): one giant file serializes inside its
Python call; at 100 TB pre-chunk such files upstream at pass-1 boundaries.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from tts_etl_pipeline_spark.audio import kernels
from tts_etl_pipeline_spark.audio.batches import float_list_array, float_lists, record_batch
from tts_etl_pipeline_spark.audio.schema import SEGMENT_SCHEMA


def file_segments(x: np.ndarray, rate: int) -> list[tuple[int, int, np.ndarray]]:
    """One file's samples -> (start_ms, end_ms, padded slice) per segment.

    start_ms/end_ms are the unpadded bounds (pa.py:159-160); the slice is
    the padded one (pa.py:155), cut as [lo, lo + n) with lo and n truncated
    from pad bounds * samples-per-ms and clamped at the array's end."""
    total_ms = int(x.size * 1000 / rate)
    bounds = kernels.segment_intervals(kernels.detect_nonsilent(x, rate), total_ms)
    spm = rate / 1000.0  # samples per ms
    out = []
    for start, end, pad_start, pad_end in bounds:
        lo = int(pad_start * spm)
        n = int((pad_end - pad_start) * spm)
        out.append((start, end, x[lo : lo + n]))
    return out


def segment_columns(
    name: str, rate: int, segs: list[tuple[int, int, np.ndarray]]
) -> list[pa.Array]:
    """One file's `file_segments` as SEGMENT_SCHEMA columns."""
    return [
        pa.array([name] * len(segs), pa.string()),
        pa.array([s for s, _, _ in segs], pa.int64()),
        pa.array([e for _, e, _ in segs], pa.int64()),
        float_list_array([x for _, _, x in segs]),
        pa.array([rate] * len(segs), pa.int32()),
    ]


def segment(files_df: DataFrame) -> DataFrame:
    """file rows -> segment rows (the reference's flat-map, pa.py:150-164),
    one output batch per file."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            names = batch.column("original_name").to_pylist()
            rates = batch.column("frame_rate").to_pylist()
            for name, x, rate in zip(names, float_lists(batch.column("samples")), rates):
                segs = file_segments(x, rate)
                if segs:
                    yield record_batch(SEGMENT_SCHEMA, segment_columns(name, rate, segs))

    return files_df.select("original_name", "samples", "frame_rate").mapInArrow(
        gen, SEGMENT_SCHEMA
    )
