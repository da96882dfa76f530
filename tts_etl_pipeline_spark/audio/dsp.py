"""P4-P7 — per-segment signal metrics (pa.py:167-238 computes metrics and
filters in a single fused pass). `segment_metrics` is the math for one
segment; the pipeline's per-file stage (pipeline.py) calls it on each
slice right after segmentation and gates it at once with F2's Python twin,
like the reference's fused pass. `with_metrics` is the same step as a
standalone mapInArrow; its metrics come out of a Python map node, which
Catalyst cannot push a filter beneath, so the F2 Column of filters.py
stays a plain Catalyst filter above it and the metrics are computed
exactly once per segment (SURVEY §4 'fused metric-compute + filter').
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from tts_etl_pipeline_spark.audio import kernels
from tts_etl_pipeline_spark.audio.batches import float_lists
from tts_etl_pipeline_spark.audio.schema import METRICS_TYPE


def segment_metrics(x: np.ndarray, rate: int) -> tuple[float, float, float]:
    """(rms, clipping_percent, music_ratio) of one segment's samples."""
    return kernels.rms_int_scale(x), kernels.clipping_percent(x), kernels.music_ratio(x, rate)


def metric_columns(metrics: list[tuple[float, float, float]]) -> list[pa.Array]:
    """Per-segment `segment_metrics` as METRICS_TYPE's three columns."""
    return [pa.array([m[i] for m in metrics], pa.float64()) for i in range(3)]


def with_metrics(segments_df: DataFrame) -> DataFrame:
    """Add rms / clipping_percent / music_ratio columns."""
    out_schema = StructType(segments_df.schema.fields + METRICS_TYPE.fields)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rates = batch.column("frame_rate").to_pylist()
            metrics = [
                segment_metrics(x, rate)
                for x, rate in zip(float_lists(batch.column("samples")), rates)
            ]
            yield pa.RecordBatch.from_arrays(
                batch.columns + metric_columns(metrics), names=out_schema.fieldNames()
            )

    return segments_df.mapInArrow(gen, out_schema)
