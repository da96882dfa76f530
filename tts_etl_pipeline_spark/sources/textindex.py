"""Inverted token index over versioned tables — Elasticsearch-style file
skipping for token predicates, as a per-version SIDECAR.

The problem at 100 TB: `WHERE text contains <token>` on a document corpus
reads every byte of every file — min/max stats are useless on free text
(every file's range is ~['a...', 'z...']) and a bloom sidecar indexes
whole VALUES, not the tokens inside them. The classic fix is an inverted
index: token -> posting list of files. Per-FILE granularity (not per-row)
keeps the index KB-per-file — it is a pruning accelerator with the same
soundness contract as the manifest stats channel: the posting list may
OVER-approximate (rows later deleted by a DV still contribute their
tokens — extra candidate files, filtered exactly at read), but can never
miss a file that contains the probe token under the index's tokenizer.

Layout: `<table>/_textidx/v<version>_<col>/` holding `meta.json`
(version, column, tokenizer, shard count, indexed file list) and
`shard_NNNN.json` files, each a {token: [rel_file, ...]} map for the
tokens whose md5 hashes to that shard. A probe therefore costs ONE shard
load (vocab/shards tokens, KB-scale) — never the whole vocabulary — and
the build is executor-side: one task per data file tokenizes with
pyarrow + Python regex (the _collect_blooms_spark shape), the shard
writes fan out over executors, and the driver only writes the meta
marker LAST, so a half-built index is never visible.

Tokenizer: lowercase, tokens are maximal [a-z0-9]+ runs — exactly
`array_contains(split(lower(col), '[^a-z0-9]+'), token)` on the read
side, which both Spark and DuckDB can evaluate (string_split_regex /
list_contains), keeping the driver oracle exact.

Reference parity note: the reference pipeline has no text index (its
corpus fits one node); this is a north-star extension, built on public
Lucene/Iceberg-sidecar ideas only.

Pins: tests/test_textindex.py (soundness vs full scan on real testdata,
effectiveness on a clustered corpus, DV interplay, version guards),
driver query ★j36 (oracle = the plain token filter over documents).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession

from tts_etl_pipeline_spark.sources import versioned as V

TOKEN_RE = re.compile(r"[a-z0-9]+")
_SPLIT_RE = "[^a-z0-9]+"  # the equivalent split pattern for Spark/DuckDB


def _shard_of(token: str, shards: int) -> int:
    # md5, not Python hash(): stable across processes and sessions
    return int(hashlib.md5(token.encode()).hexdigest()[:8], 16) % shards


def _index_dir(path: str, version: int, col: str) -> str:
    return os.path.join(path, "_textidx", f"v{version}_{col}")


def build_text_index(
    spark: SparkSession,
    path: str,
    col: str = "text",
    version: int | None = None,
    shards: int = 64,
) -> str:
    """Build the inverted token index for snapshot `version` of the
    versioned table at `path` and return its directory. Idempotent per
    (version, col): an existing complete index (meta.json present) is
    reused — snapshots are immutable, so the index never goes stale for
    ITS version. Zero-row placeholder files are skipped (no rows, no
    tokens). Cost: one executor task per data file (tokenize + hash),
    one shard-grouped shuffle of (token, file) pairs, executor-side
    shard writes — the driver never materializes the vocabulary."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    base = V._open_base(path, version=version)
    v, m = base.version, base.m
    phys = V._phys(m, col)
    if col not in V._schema_from_json(m["schema"]).names:
        raise ValueError(f"{col!r} is not a column of {path}")
    d_seqs = [
        d["seq"] for d in (m.get("defaults") or []) if d.get("col") == phys
    ]
    if d_seqs:
        # a file added BEFORE the default's seq SERVES the recorded
        # initial-default through read_version but carries no physical
        # column to tokenize — an index built over it would MISS those
        # rows' (default) tokens, breaking the never-miss contract.
        # compact() rewrites files with fresh "__v" stamps past every
        # default, after which indexing is sound again; only genuinely
        # pre-default live files refuse.
        max_seq = max(d_seqs)
        st = m.get("stats") or {}
        for f in m["files"]:
            vrec = (st.get(f) or {}).get("__v")
            if vrec is None or int(vrec[0]) < max_seq:
                raise ValueError(
                    f"column {col!r} carries a pending initial-default that "
                    f"covers live file {f!r}; compact() the table to "
                    "materialize it before indexing"
                )
    out = _index_dir(path, v, col)
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    stats = m.get("stats") or {}
    files = [
        f for f in m["files"]
        if (stats.get(f) or {}).get("__n") != [0, 0]
    ]
    os.makedirs(out, exist_ok=True)
    root = os.path.abspath(path)
    n_shards = int(shards)

    def tokenize(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            toks, fs = [], []
            for rel in pdf["f"]:
                pf = pq.ParquetFile(os.path.join(root, rel))
                if phys not in pf.schema_arrow.names:
                    continue  # pre-add-column vintage: no text, no tokens
                seen = set()
                for batch in pf.iter_batches(columns=[phys]):
                    for s in batch.column(0).to_pylist():
                        if s:
                            seen.update(TOKEN_RE.findall(s.lower()))
                toks.extend(seen)
                fs.extend([rel] * len(seen))
            yield pd.DataFrame({"token": toks, "f": fs})

    def write_shard(key, pdf):
        sid = int(key[0])
        posting: dict = {}
        for t, f in zip(pdf["token"], pdf["f"]):
            posting.setdefault(t, []).append(f)
        rec = {t: sorted(set(v)) for t, v in posting.items()}
        tmp = tempfile.mktemp(dir=out, suffix=".tmp")
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, os.path.join(out, f"shard_{sid:04d}.json"))
        return pd.DataFrame({"sid": [sid], "n_tokens": [len(rec)]})

    if files:
        fdf = spark.createDataFrame([(f,) for f in files], "f string")
        n = max(1, min(len(files), spark.sparkContext.defaultParallelism))
        pairs = fdf.repartition(n).mapInPandas(
            tokenize,
            StructType(
                [StructField("token", StringType()), StructField("f", StringType())]
            ),
        )

        # the shard id must match _shard_of (md5) so the PROBE finds the
        # token's shard without scanning: F.md5 IS hashlib.md5, so the
        # whole derivation stays JVM-side (no Python UDF in the build)
        sid = (
            F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10)
            .cast("long") % n_shards
        ).cast("int")
        (
            pairs.withColumn("sid", sid)
            .groupBy("sid")
            .applyInPandas(
                write_shard,
                StructType(
                    [
                        StructField("sid", IntegerType()),
                        StructField("n_tokens", IntegerType()),
                    ]
                ),
            )
            .collect()  # shard-count-sized: one row per written shard
        )
    meta = {
        "version": v,
        "col": col,
        "tokenizer": "word-lower-[a-z0-9]+",
        "shards": n_shards,
        "files": sorted(files),
    }
    tmp = tempfile.mktemp(dir=out, suffix=".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(out, "meta.json"))  # the commit marker
    return out


def read_version_token_pruned(
    spark: SparkSession,
    path: str,
    token: str,
    col: str = "text",
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """TOKEN-SKIPPING snapshot read: rows whose `col` contains `token`
    under the index tokenizer, reading ONLY the files the posting list
    names. Returns (df, files_read, files_total). The row-level filter
    (`array_contains(split(lower(col)))`) still applies to everything
    read, so an over-approximate posting (DV'd rows' tokens) can cost
    extra IO, never a wrong row; a token absent from the index returns
    the empty frame with ZERO file IO. Raises if the index for this
    snapshot has not been built (build_text_index) — an index for a
    DIFFERENT version is never silently substituted: immutable snapshots
    make (version, col) the only sound cache key."""
    from pyspark.sql import functions as F

    base = V._open_base(path, version=version)
    v, m = base.version, base.m
    norm = token.lower()
    if not TOKEN_RE.fullmatch(norm):
        raise ValueError(
            f"{token!r} is not a single token of the index tokenizer "
            f"([a-z0-9]+ runs, lowercased)"
        )
    idx = _index_dir(path, v, col)
    meta_f = os.path.join(idx, "meta.json")
    if not os.path.exists(meta_f):
        raise ValueError(
            f"no text index for version {v} of {path} on {col!r}; run "
            f"build_text_index first (indexes are per-snapshot sidecars)"
        )
    with open(meta_f) as fh:
        meta = json.load(fh)
    total = len(meta["files"])
    shard_f = os.path.join(
        idx, f"shard_{_shard_of(norm, int(meta['shards'])):04d}.json"
    )
    posting: list = []
    if os.path.exists(shard_f):
        with open(shard_f) as fh:
            posting = json.load(fh).get(norm, [])
    live = set(m["files"])
    hit_files = [f for f in posting if f in live]
    pred_col = F.array_contains(
        F.split(F.lower(F.col(col)), _SPLIT_RE), norm
    )
    if hit_files:
        df = V._read_files(spark, path, m, hit_files).filter(pred_col)
    else:
        df = spark.createDataFrame([], V._schema_from_json(m["schema"]))
    return df, len(hit_files), total


def token_filter_expr(col: str, token: str):
    """The exact row-level predicate the index accelerates — usable on a
    plain (unindexed) read for the soundness cross-check."""
    from pyspark.sql import functions as F

    return F.array_contains(F.split(F.lower(F.col(col)), _SPLIT_RE), token)
