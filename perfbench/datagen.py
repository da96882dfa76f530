"""Seeded input generators for the benchmark.

Everything the package reads during a run is written here from `--seed`:
the ten star-schema/corpus tables (same schemas and value domains as the
package's parquet fixtures, one file and one row group per table), the
WAV corpus for `audio_ingest`, and the keyed lineitem slices plus the
operation sequence for `table_writes`. Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tts_etl_pipeline_spark.audio import synth

# row counts at scale factor 1 (the fixtures scale linearly with sf)
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "red", "small", "tiny"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def table_arrays(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """The ten tables as Arrow tables, deterministic in (seed, sizes)."""
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * sf)) for k, v in _BASE_ROWS.items()}
    n_users = max(10, n["customer"] // 10)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": pa.array(SEGMENTS).take(rng.integers(0, 5, n["customer"])),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": pa.array(names).take(rng.integers(0, len(names), n["part"])),
            "p_brand": pa.array([f"Brand#{i}" for i in range(1, 26)]).take(
                rng.integers(0, 25, n["part"])
            ),
            "p_type": pa.array(PART_TYPES).take(rng.integers(0, 6, n["part"])),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": pa.array(["F", "O", "P"]).take(rng.integers(0, 3, n["orders"])),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n["orders"]),
            "o_orderpriority": pa.array(PRIORITIES).take(rng.integers(0, 5, n["orders"])),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
            "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
            "l_returnflag": pa.array(["A", "N", "R"]).take(rng.integers(0, 3, m)),
            "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, m)),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), m),
        }
    )
    e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, n_users, e), pa.int64()),
            "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, e)),
            "value": _money(rng, 0.01, 490.0, e),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng, n_docs: int) -> pa.Table:
    """Word-soup corpus over a small vocabulary. One document in twenty
    carries the rare token `dup`; every other token sits in more than half
    the corpus, so near-dedup's posting-list cap leaves `dup` as the token
    that links candidate pairs (as in the package's fixtures)."""
    texts: list[str] = []
    for _ in range(n_docs):
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, len(words))), "dup")
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pa.array(LANGS).take(rng.integers(0, len(LANGS), n_docs)),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng, n_vecs: int) -> pa.Table:
    """Unit vectors around ten label centres."""
    centres = rng.standard_normal((10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + 1.5 * rng.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> int:
    """Write `<out_dir>/<table>.parquet` for all ten tables; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in table_arrays(seed, sf, n_docs, n_vecs).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        total += os.path.getsize(path)
    return total


# --- audio_ingest corpus -------------------------------------------------

def audio_files(seed: int, n_files: int, total_s: float) -> list[tuple[str, np.ndarray]]:
    """`n_files` WAV signals built from `audio.synth` primitives, about
    `total_s` seconds in all. Kinds cycle so every batch mixes clean
    multi-burst speech, >15 s monologues and short merge candidates with
    silent, too-quiet, clipped and music-like rejects. Each kind has a
    fixed share of `total_s`, so the amount of work does not depend on the
    seed; the seed picks the signals and where the bursts split."""
    rng = np.random.default_rng(seed)
    kinds = ["bursts", "silent", "monologue", "clipped", "merge", "quiet", "music"]
    weights = {"bursts": 3.0, "monologue": 5.0, "merge": 1.0, "silent": 1.0,
               "quiet": 1.0, "clipped": 1.0, "music": 1.0}
    picked = [kinds[i % len(kinds)] for i in range(n_files)]
    raw = np.array([weights[k] for k in picked])
    secs = raw * (total_s / raw.sum())
    out = []
    for i, (kind, s) in enumerate(zip(picked, secs)):
        ms = int(s * 1000)
        sub = int(rng.integers(0, 2**31))
        if kind == "bursts":
            a = int(ms * rng.uniform(0.25, 0.4))
            b = int(ms * rng.uniform(0.2, 0.35))
            sig = np.concatenate([
                synth.speech_like(a, seed=sub), synth.silence(500),
                synth.speech_like(b, seed=sub + 1), synth.silence(600),
                synth.speech_like(max(3200, ms - a - b - 1100), seed=sub + 2),
            ])
        elif kind == "monologue":
            sig = synth.speech_like(max(ms, 16_000), seed=sub)
        elif kind == "merge":
            sig = np.concatenate([
                synth.speech_like(max(1500, ms // 2 - 200), seed=sub), synth.silence(400),
                synth.speech_like(max(1800, ms // 2 - 200), seed=sub + 1),
            ])
        elif kind == "silent":
            sig = synth.silence(ms)
        elif kind == "quiet":
            sig = synth.speech_like(ms, seed=sub, amp=0.004)
        elif kind == "clipped":
            sig = np.concatenate([synth.clipped(max(1000, ms - 1400)), synth.silence(400),
                                  synth.clipped(1000)])
        else:
            sig = synth.music_like(ms, seed=sub)
        out.append((f"f{i:03d}_{kind}.wav", sig))
    return out


def write_audio_batches(root: str, seed: int, n_batches: int, per_batch: int,
                        total_s: float) -> list[tuple[str, int]]:
    """Write the corpus as `n_batches` directories under `root`; returns
    (dir, wav bytes) per batch."""
    files = audio_files(seed, n_batches * per_batch, total_s)
    batches = []
    for b in range(n_batches):
        d = os.path.join(root, f"batch{b}")
        os.makedirs(d, exist_ok=True)
        size = 0
        for name, sig in files[b * per_batch:(b + 1) * per_batch]:
            data = synth.to_wav_bytes(sig)
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(data)
            size += len(data)
        batches.append((d, size))
    return batches


# --- table_writes inputs ------------------------------------------------

def write_keyed_lineitem(out_path: str, lineitem: pa.Table) -> None:
    """lineitem plus a dense unique `l_rowid` key (its row position)."""
    keyed = lineitem.append_column("l_rowid", pa.array(np.arange(lineitem.num_rows), pa.int64()))
    pq.write_table(keyed, out_path, row_group_size=keyed.num_rows)


def write_ops(seed: int, n_rows: int, n_appends: int, n_mutations: int,
              n_point_reads: int) -> list[tuple]:
    """The seeded `table_writes` operation sequence over row ids
    [0, n_rows). Appends cover consecutive row-id blocks; mutations
    (merge, delete, update in turn) and point reads follow evenly spaced
    appends from the second on, and a compaction precedes the final full
    read. The kinds and their positions are fixed, so a pass's work does
    not depend on the seed; the seed picks the row-id ranges they touch,
    always inside blocks already appended. Every op is a plain tuple:

      ("append", lo, hi)          rows lo <= l_rowid < hi
      ("merge", lo, hi, ilo, ihi) update [lo, hi), insert [ilo, ihi)
                                  from the never-appended tail
      ("delete", lo, hi)          delete_where_dv l_rowid in [lo, hi)
      ("update", lo, hi)          l_quantity += 1 on [lo, hi)
      ("point", lo, hi)           read_version_pruned on [lo, hi)
      ("compact",)
      ("full",)                   read_version, the checked snapshot
    """
    rng = np.random.default_rng(seed)
    block = n_rows // (n_appends + 2)  # tail blocks feed merge inserts
    width = block // 10
    kinds = [("merge", "delete", "update")[i % 3] for i in range(n_mutations)]
    kinds += ["point"] * n_point_reads
    after = [1 + i * (n_appends - 1) // len(kinds) for i in range(len(kinds))]
    ops: list[tuple] = []
    tail = block * n_appends
    for a in range(n_appends):
        ops.append(("append", a * block, (a + 1) * block))
        for kind in [k for k, at in zip(kinds, after) if at == a]:
            lo = int(rng.integers(0, (a + 1) * block - width))
            if kind == "merge":
                ops.append(("merge", lo, lo + width, tail, tail + 32))
                tail += 32
            else:
                ops.append((kind, lo, lo + width))
    ops += [("compact",), ("full",)]
    return ops
