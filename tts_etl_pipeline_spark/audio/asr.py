"""M1 — batched ASR behind an injectable interface (pa.py:241-278).

Design (SURVEY §2.1-M1, §7 hard-part 5):
- the model is a PER-EXECUTOR lazy singleton (the reference's module global,
  pa.py:40-46) — never pickled through the driver closure;
- `transcribe_rows` is the one micro-batching loop (reference
  batch_size=8, pa.py:268-271). `transcribe` runs it in mapInPandas, an
  optimizer barrier that keeps the cheap audio filters below the ASR stage
  (SURVEY §4) — if this is ever refactored to a plain pandas_udf column,
  mark it nonDeterministic() to retain that guarantee. run_pipeline's
  per-file stage (pipeline.py) calls it on each file's gated segments;
- the real Whisper model is optional (transformers is not in this runtime);
  tests inject FakeAsrModel, a deterministic stand-in whose output is a pure
  function of (original_name, start_ms, end_ms).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ASR_BATCH_SIZE = 8  # pa.py:270

_VOCAB = (
    "the quick brown fox jumps over a lazy dog while rain falls on green "
    "hills and birds sing softly in morning light near the old stone bridge"
).split()

_MODEL = None  # per-executor singleton slot (pa.py:40-46 equivalent)


class FakeAsrModel:
    """Deterministic ASR stand-in: transcript = seeded word sequence.

    Emits 1 word per ~600 ms of audio, seeded by the segment identity, so
    unit/E2E tests get stable transcripts with realistic word counts.
    """

    def transcribe_batch(self, rows: pd.DataFrame) -> list[str]:
        out = []
        for name, start, end in zip(rows["original_name"], rows["start_ms"], rows["end_ms"]):
            seed = int.from_bytes(
                hashlib.md5(f"{name}:{start}:{end}".encode()).digest()[:4], "big"
            )
            rng = np.random.default_rng(seed)
            n_words = max(1, int((end - start) / 600))
            words = [_VOCAB[i] for i in rng.integers(0, len(_VOCAB), n_words)]
            out.append(" ".join(words))
        return out


class WhisperAsrModel:
    """Real Whisper ASR (pa.py:36-46) against the transformers `pipeline`
    API. transformers+torch are not in this container, so the HF pipeline
    is INJECTABLE: pass ``pipeline_factory(model_id) -> pipe`` to run the
    full path (inputs dict shape, batch_size, text extraction) under a
    mock — tests/test_asr.py does exactly that. With no factory the real
    libraries are imported lazily and failure is explicit."""

    def __init__(
        self, model_id: str = "openai/whisper-medium", pipeline_factory=None
    ):
        if pipeline_factory is not None:
            self._pipe = pipeline_factory(model_id)
            return
        try:
            import torch
            from transformers import pipeline
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                "WhisperAsrModel needs transformers+torch; inject FakeAsrModel "
                "or a pipeline_factory in this runtime"
            ) from e
        device = "cuda:0" if torch.cuda.is_available() else "cpu"  # pa.py:38
        self._pipe = pipeline(  # pragma: no cover
            "automatic-speech-recognition", model=model_id, device=device
        )

    def transcribe_batch(self, rows: pd.DataFrame) -> list[str]:
        # HF long-form API: raw float32 waveform + its sampling rate
        # (pa.py:241-249); batch_size is HF's internal GPU micro-batch
        # (pa.py:268-271) — transcribe_rows chunks to the same size above
        # it so a straggler partition never queues unbounded audio.
        inputs = [
            {"sampling_rate": int(r), "raw": np.asarray(s, dtype=np.float32)}
            for s, r in zip(rows["samples"], rows["frame_rate"])
        ]
        results = self._pipe(
            inputs, batch_size=ASR_BATCH_SIZE, generate_kwargs={"language": "english"}
        )
        return [r["text"] for r in results]


# Named model kinds. A zero-arg factory travels through the Python stage's
# closure pickled BY REFERENCE (module-level class/function), so the model
# itself is only ever constructed executor-side — heavyweight weights never
# enter a pickle.
MODEL_FACTORIES = {
    "fake": FakeAsrModel,
    "whisper": WhisperAsrModel,
}


def _get_model(kind: str, factory):
    """Per-executor-process lazy singleton (pa.py:40-46): the model loads
    once per (python worker, kind) and is reused across batches/tasks."""
    global _MODEL
    if _MODEL is None or _MODEL[0] != kind:
        _MODEL = (kind, factory())
    return _MODEL[1]


def model_loader(model) -> Callable[[], object]:
    """A zero-arg loader of the per-executor model for `model`: a
    MODEL_FACTORIES key ("fake", "whisper") or any importable zero-arg
    factory (e.g. audio.testing.mock_whisper_factory). The key is resolved
    here, on the driver, so an unknown one fails when the DAG is built."""
    if callable(model):
        kind, factory = f"{model.__module__}.{model.__qualname__}", model
    else:
        kind, factory = model, MODEL_FACTORIES[model]
    return lambda: _get_model(kind, factory)


def transcribe_rows(mdl, rows: pd.DataFrame) -> list[str]:
    """One transcript per row of `rows`, in micro-batches of ASR_BATCH_SIZE
    (pa.py:268-271), stripped (P8, pa.py:275)."""
    texts: list[str] = []
    for lo in range(0, len(rows), ASR_BATCH_SIZE):
        texts.extend(mdl.transcribe_batch(rows.iloc[lo : lo + ASR_BATCH_SIZE]))
    return [t.strip() for t in texts]


def transcribe(segments_df: DataFrame, model="fake") -> DataFrame:
    """Add a `text` column (stripped, pa.py:275 / P8).

    ``model`` is what `model_loader` takes."""
    load = model_loader(model)
    fields = segments_df.schema.fields
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    out_schema += ", text string"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mdl = load()
        for pdf in batches:
            pdf = pdf.copy()
            pdf["text"] = transcribe_rows(mdl, pdf)
            yield pdf

    return segments_df.mapInPandas(gen, out_schema)
