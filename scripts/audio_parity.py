#!/usr/bin/env python
"""Audio pipeline parity digest over perfbench's seeded `ingest_writes`
audio batches.

For each seed, writes the WAV batches that perfbench/datagen.py generates
for that seed (sizes from perfbench/workloads.json), runs `run_pipeline`
on batch 0 (refresh), batch 1 and batch 0 again (the re-ingest), and
prints one line:

    AUDIO_PARITY seed=S returns=[a, b, 0] rows=N clips=M digest=<sha1>

The digest covers the three returns, every metadata row (floats as their
repr, wav_path as its basename) and the SHA-1 of every clip. Two checkouts
print identical lines exactly when the pipeline's output is identical, so
an A/B parity check is the same command run in both.

Usage: python scripts/audio_parity.py [seed ...]   (default: 1 2 3)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [ROOT, BENCH]
# Python workers import the package (and nothing from perfbench)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import datagen  # noqa: E402  (perfbench/datagen.py, read only)

from tts_etl_pipeline_spark.audio.pipeline import run_pipeline  # noqa: E402
from tts_etl_pipeline_spark.session import get_spark  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        return json.load(fh)["workloads"]["ingest_writes"]["audio_ingest"]["input"]


def digest_seed(spark, seed: int, work: str) -> str:
    inp = _spec()
    per = inp["files"] // inp["batches"]
    batches = datagen.write_audio_batches(
        os.path.join(work, "wav"), seed, inp["batches"], per, inp["audio_seconds"]
    )
    out_dir, table = os.path.join(work, "clips"), os.path.join(work, "metadata")
    order = [d for d, _ in batches] + [batches[0][0]]
    returns = [
        run_pipeline(spark, d, out_dir, table, asr_model="fake", refresh=i == 0)
        for i, d in enumerate(order)
    ]
    rows = sorted(
        tuple(
            os.path.basename(v) if k == "wav_path" else repr(v)
            for k, v in sorted(r.asDict().items())
        )
        for r in spark.read.parquet(table).collect()
    )
    clips = []
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            clips.append((name, hashlib.sha1(fh.read()).hexdigest()))
    blob = json.dumps([returns, rows, clips]).encode()
    return (
        f"AUDIO_PARITY seed={seed} returns={returns} rows={len(rows)} "
        f"clips={len(clips)} digest={hashlib.sha1(blob).hexdigest()}"
    )


def main() -> int:
    seeds = [int(s) for s in sys.argv[1:]] or [1, 2, 3]
    spark = get_spark("audio-parity", cpus=min(4, len(os.sched_getaffinity(0))))
    for seed in seeds:
        with tempfile.TemporaryDirectory(prefix="audio_parity_") as work:
            print(digest_seed(spark, seed, work), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
