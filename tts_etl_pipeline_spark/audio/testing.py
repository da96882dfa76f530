"""Test doubles for the ASR model path (shipped with the library, like
pandas.testing, so executor python workers can import them by reference —
a mock defined inside a test module is not importable worker-side).

MockHfPipeline stands in for ``transformers.pipeline(...)``: it validates
the exact call contract WhisperAsrModel uses (input dict shape, float32 raw
waveform, batch_size=8, english generate_kwargs — pa.py:241-278) and encodes
the observed chunk size into each transcript, making executor-side batching
visible to driver-side assertions.
"""

from __future__ import annotations

import numpy as np

from tts_etl_pipeline_spark.audio.asr import ASR_BATCH_SIZE, WhisperAsrModel


class MockHfPipeline:
    def __init__(self, model_id: str):
        self.model_id = model_id

    def __call__(self, inputs, batch_size=None, generate_kwargs=None):
        assert batch_size == ASR_BATCH_SIZE, f"batch_size={batch_size}, want 8"
        assert generate_kwargs == {"language": "english"}
        for item in inputs:
            assert set(item) == {"sampling_rate", "raw"}
            assert item["raw"].dtype == np.float32
            assert item["sampling_rate"] > 0
        return [
            {"text": f" chunk={len(inputs)} sr={item['sampling_rate']} "}
            for item in inputs
        ]


def mock_whisper_factory() -> WhisperAsrModel:
    return WhisperAsrModel("mock/whisper-tiny", pipeline_factory=MockHfPipeline)


class WordyMockHfPipeline(MockHfPipeline):
    """MockHfPipeline with one more word in each transcript, so the
    transcripts pass the F4-F6 text gates and reach the metadata table."""

    def __call__(self, inputs, batch_size=None, generate_kwargs=None):
        out = super().__call__(inputs, batch_size, generate_kwargs)
        return [{"text": r["text"] + "words "} for r in out]


def mock_whisper_wordy_factory() -> WhisperAsrModel:
    return WhisperAsrModel("mock/whisper-tiny", pipeline_factory=WordyMockHfPipeline)
