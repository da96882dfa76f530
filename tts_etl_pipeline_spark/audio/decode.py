"""S1/S2 — audio source: directory scan + WAV decode (pa.py:79-92,396).

Spark-first design: `binaryFile` gives one row per file with the raw bytes
(path, modificationTime, length, content); decode happens executor-side in
mapInArrow, so a 100 TB corpus decodes in parallel with no driver
involvement and bounded memory per task (the reference's lazy one-file
generator, pa.py:79-92, is exactly Spark's partition iterator).

The reference's sorted() over the glob (pa.py:396) existed only to make the
one-process loop deterministic; order is irrelevant here because downstream
adjacency (W1) orders each file's segments by start_ms.
"""

from __future__ import annotations

import io
import wave
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from tts_etl_pipeline_spark.audio import kernels
from tts_etl_pipeline_spark.audio import params as P
from tts_etl_pipeline_spark.audio.batches import float_list_array, record_batch
from tts_etl_pipeline_spark.audio.schema import AUDIO_FILE_SCHEMA


def read_wav_dir(spark: SparkSession, wav_dir: str) -> DataFrame:
    """Scan *.wav files as binary rows (pa.py:396's glob, distributed)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(wav_dir)
    )


def decode_wav_bytes(content: bytes) -> tuple[np.ndarray, int, int]:
    """WAV bytes -> (float32 samples in [-1,1], frame_rate, channels).

    stdlib-wave based for PCM (pydub/ffmpeg are not in the runtime);
    supports 16-bit and 8/32-bit PCM. Non-PCM tags the stdlib refuses —
    G.711 mu-law/A-law and mono IMA ADPCM — fall back to the manual RIFF
    path in audio/codecs.py (r5; the reference's scope was PCM-only).
    Normalization divides by the int type's max, exactly like
    pa.py:186-188.
    """
    try:
        with wave.open(io.BytesIO(content), "rb") as w:
            rate = w.getframerate()
            channels = w.getnchannels()
            width = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except wave.Error:
        from tts_etl_pipeline_spark.audio import codecs

        fmt = codecs.parse_riff(content)
        tag, raw = fmt["fmt_tag"], fmt["data"]
        if tag == codecs.WAVE_FORMAT_MULAW:
            pcm = codecs.decode_mulaw(raw)
        elif tag == codecs.WAVE_FORMAT_ALAW:
            pcm = codecs.decode_alaw(raw)
        elif tag == codecs.WAVE_FORMAT_IMA_ADPCM and fmt["channels"] == 1:
            pcm = codecs.decode_ima_adpcm(raw, fmt["block_align"])
        else:
            raise ValueError(f"unsupported WAV format tag 0x{tag:04x}")
        x = pcm.astype(np.float32) / 32767.0
        rate, channels = fmt["rate"], fmt["channels"]
    else:
        if width == 2:
            x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32767.0
        elif width == 4:
            x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483647.0
        elif width == 1:  # unsigned 8-bit PCM
            x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 127.0
        else:
            raise ValueError(f"unsupported PCM sample width {width}")
    if rate <= 0:
        raise ValueError(f"bad frame rate {rate}")
    return x, rate, channels


def decode_file(content: bytes, normalize: bool = True) -> np.ndarray | None:
    """One WAV file -> mono float32 at TARGET_FRAME_RATE: decode, P1
    peak-normalize, P2 downmix, P3 resample. None for a file that does not
    decode — the reference's skip-and-continue (pa.py:91-92). The catch
    names what a bad file raises: garbage bytes, a RIFF without fmt/data
    and a header the decoders refuse give ValueError, an empty or truncated
    header EOFError, and wave.Error is the stdlib reader's own refusal;
    anything else is a bug and fails the task."""
    try:
        x, rate, channels = decode_wav_bytes(content)
    except (wave.Error, ValueError, EOFError):
        return None
    x = kernels.downmix_mono(x, channels)
    if normalize:
        x = kernels.peak_normalize(x)
    return kernels.resample_linear(x, rate, P.TARGET_FRAME_RATE)


def decoded_files(
    batches: Iterator[pa.RecordBatch], normalize: bool = True
) -> Iterator[tuple[str, np.ndarray]]:
    """binaryFile (path, content) batches -> (original_name, samples) per
    decodable file, one file's content in Python at a time."""
    for batch in batches:
        paths, contents = batch.column("path"), batch.column("content")
        for i in range(batch.num_rows):
            x = decode_file(contents[i].as_py(), normalize)
            if x is not None:
                yield paths[i].as_py().rsplit("/", 1)[-1], x


def decode_files(binary_df: DataFrame, normalize: bool = True) -> DataFrame:
    """binaryFile rows -> one AUDIO_FILE_SCHEMA row per decodable file
    (mapInArrow, one output batch per file)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for name, x in decoded_files(batches, normalize):
            yield record_batch(
                AUDIO_FILE_SCHEMA,
                [
                    pa.array([name]),
                    float_list_array([x]),
                    pa.array([P.TARGET_FRAME_RATE], pa.int32()),
                    pa.array([P.TARGET_CHANNELS], pa.int32()),
                ],
            )

    return binary_df.select("path", "content").mapInArrow(gen, AUDIO_FILE_SCHEMA)
