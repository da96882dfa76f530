#!/usr/bin/env python
"""Measure the versioned-table manifest's OWN scale curve (round-9 verdict
task 3): each version's manifest is ONE JSON listing every live file, so
commit cost and driver-side planning cost are O(manifest bytes) — the
bound Iceberg splits with manifest lists + sharded manifests. This script
produces the measured table BASELINE.md records, at two levels:

1. REAL end-to-end at 10^3 and 10^4 files: write_version a table with N
   data files (collect_stats on), then measure (a) a 1-file APPEND commit
   — the steady-state commit re-reads the parent manifest and rewrites
   N+1 entries, so it isolates manifest cost from data-write cost, (b)
   read_version DataFrame construction (planning: manifest parse + reader
   construction over N paths; zero footer IO since the recorded schema is
   passed explicitly), (c) read_version_pruned planning (manifest parse +
   N-entry stats loop), (d) a 1% band count() through the pruned reader
   (end-to-end selective-read latency).

2. MANIFEST-ONLY synthetic at 10^3..10^6 entries (fake file names + stats,
   no data files): json dump / load / pruning-loop walls and on-disk size.
   Honest scope: this isolates exactly the component the design note is
   about — at 10^5+ real files the parquet writes themselves would take
   this host minutes without changing the manifest curve being measured.

Usage: python scripts/manifest_scale.py [--real-max 10000]
Prints one human-readable table; copy the numbers into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synthetic(n: int) -> dict:
    files = sorted(f"data/{uuid.uuid4().hex}.parquet" for _ in range(n))
    manifest = {
        "version": 2,
        "files": files,
        "parent": 1,
        "mode": "append",
        "committed_at": time.time(),
        "schema": '{"type":"struct","fields":[]}',
        "stats": {f: {"k": [i * 100, i * 100 + 99]} for i, f in enumerate(files)},
    }
    d = tempfile.mkdtemp(prefix="mscale_")
    p = os.path.join(d, "m.json")
    try:
        t0 = time.perf_counter()
        with open(p, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        t_dump = time.perf_counter() - t0
        size = os.path.getsize(p)
        t0 = time.perf_counter()
        with open(p, encoding="utf-8") as fh:
            m2 = json.load(fh)
        t_load = time.perf_counter() - t0
        lo, hi = 100 * (n // 2), 100 * (n // 2) + 500  # interior band
        t0 = time.perf_counter()
        stats = m2["stats"]
        kept = [
            f
            for f in m2["files"]
            if not (
                (r := stats.get(f, {}).get("k")) is not None
                and (r[1] < lo or r[0] > hi)
            )
        ]
        t_prune = time.perf_counter() - t0
        return {
            "n": n,
            "bytes": size,
            "dump_s": round(t_dump, 4),
            "load_s": round(t_load, 4),
            "prune_s": round(t_prune, 4),
            "kept": len(kept),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def sharded(n: int) -> dict:
    """The round-11 answer to the 10^6 bend: commit the SAME n entries
    through the sharded manifest-list path (versioned._commit auto-shards
    past _SHARD_INLINE_MAX) and measure what the design claims —
    (a) initial sharded commit wall (one-time; content-addressed shards),
    (b) a 1-entry APPEND via the fast path: load ONE bucket, merge,
        rewrite one shard + the KB manifest list — flat in n,
    (c) PRUNED planning load: manifest list + summary skip + only the
        intersecting shards (_plan_pruned_files) — the driver-side cost
        of planning a selective read at 10^6 files,
    (d) manifest-list size/parse wall (what every reader pays up front).
    Fake file names + stats, no data files: this isolates the manifest
    component exactly like synthetic() does for the single-JSON format."""
    from tts_etl_pipeline_spark.sources import versioned as V

    d = tempfile.mkdtemp(prefix="mscale_shard_")
    path = os.path.join(d, "t")
    # a real 1-column schema so the r12 equality-delete arm's column/type
    # validation runs exactly as in production
    k_schema = (
        '{"type":"struct","fields":[{"name":"k","type":"long",'
        '"nullable":true,"metadata":{}}]}'
    )
    try:
        files = sorted(f"data/{uuid.uuid4().hex}.parquet" for _ in range(n))
        # "__n" mirrors what every real commit stamps (record counts, r13)
        # so the metadata-aggregate arm below measures the production path
        stats = {
            f: {"k": [i * 100, i * 100 + 99], "__n": [100, 100]}
            for i, f in enumerate(files)
        }
        t0 = time.perf_counter()
        V._commit(
            path, V._open_base(path, create=True), "overwrite",
            files=files, schema=k_schema, stats=stats,
        )
        t_commit = time.perf_counter() - t0

        # 1-entry append via the write_version fast path's exact steps
        new_f = f"data/{uuid.uuid4().hex}.parquet"
        new_stats = {new_f: {"k": [n * 100, n * 100 + 99], "__n": [100, 100]}}
        t0 = time.perf_counter()
        base = V._open_base(path, materialize=False)
        m = base.m
        plen = m["shards"]["prefix_len"]
        entries = dict(m["shards"]["entries"])
        b = V._bucket_of(new_f, plen)
        old = (
            V._load_shard(path, entries[b]) if b in entries
            else {"files": [], "stats": {}, "blooms": {}, "dvs": {}}
        )
        entries[b] = V._write_shard(
            path,
            sorted(old["files"] + [new_f]),
            {**(old.get("stats") or {}), **new_stats},
            old.get("blooms") or {},
            old.get("dvs") or {},
        )
        V._commit(
            path, base, "append",
            shards={"prefix_len": plen, "entries": entries},
        )
        t_append = time.perf_counter() - t0

        # 1-file DELETION-VECTOR commit via the same delta-plan path
        # delete_where_dv takes (load one bucket, write one shard + list)
        target = files[0]
        dv_sidecar = V._write_dv_sidecar(
            path, {target: {"card": 1, "b64": V._dv_encode([0])}}
        )
        t0 = time.perf_counter()
        base_dv = V._open_base(path, materialize=False)
        plan = V._sharded_delta_plan(
            path, base_dv.m, dv_updates={target: dv_sidecar}
        )
        if plan is None:  # outgrown bucket (possible under shrunk _SHARD_SIZE)
            raise RuntimeError(
                "delta plan refused — rerun with default shard constants"
            )
        V._commit(path, base_dv, "delete-dv", shards=plan)
        t_dv = time.perf_counter() - t0

        # 1000-key EQUALITY-DELETE commit (r12): a commit that names no file
        # list carries the base's shards VERBATIM — the commit cost is one
        # KB value sidecar + the manifest list, FLAT in n (no data read, no
        # shard touched)
        t0 = time.perf_counter()
        V.delete_where_eq(path, "k", list(range(0, 100_000, 100)))
        t_eq = time.perf_counter() - t0

        # METADATA-ONLY AGGREGATION (r13, j32): COUNT(*)+MIN/MAX at the
        # clean append snapshot folds the ENTRY LIST alone (zero shard
        # loads); at the DV'd snapshot COUNT loads exactly the vectored
        # bucket's shard + its KB sidecar. Zero data IO in both.
        t0 = time.perf_counter()
        agg2 = V.plan_metadata_aggregate(path, ("k",), version=2)
        t_agg_clean = time.perf_counter() - t0
        if not agg2["metadata_only"] or agg2["shards_loaded"] != 0:
            raise RuntimeError(f"clean fold not entry-only: {agg2}")
        if agg2["count"] != (n + 1) * 100 or agg2["minmax"]["k"][0] != 0:
            raise RuntimeError(f"wrong fold: {agg2}")
        t0 = time.perf_counter()
        agg3 = V.plan_metadata_aggregate(path, version=3)
        t_agg_dv = time.perf_counter() - t0
        if not agg3["metadata_only"] or agg3["count"] != (n + 1) * 100 - 1:
            raise RuntimeError(f"wrong DV-adjusted count: {agg3}")

        # pruned planning over a ~1% interior band
        lo, hi = 100 * (n // 2), 100 * (n // 2) + 100 * (n // 100)
        t0 = time.perf_counter()
        head = V.current_version(path)
        m2 = V._read_manifest(path, head, materialize=False)
        _, kept, skipped, total = V._plan_pruned_files(path, m2, "k", lo, hi)
        t_plan = time.perf_counter() - t0

        mlist = V._manifest_path(path, head)
        size = os.path.getsize(mlist)
        t0 = time.perf_counter()
        with open(mlist, encoding="utf-8") as fh:
            json.load(fh)
        t_list = time.perf_counter() - t0
        n_shards = len(entries)
        return {
            "n": n,
            "shards": n_shards,
            "commit_s": round(t_commit, 3),
            "append_1_s": round(t_append, 4),
            "dv_delete_1_s": round(t_dv, 4),
            "eq_delete_1000keys_s": round(t_eq, 4),
            "plan_pruned_s": round(t_plan, 4),
            "agg_meta_count_minmax_s": round(t_agg_clean, 4),
            "agg_meta_dv_count_s": round(t_agg_dv, 4),
            "agg_meta_dv_shards_loaded": agg3["shards_loaded"],
            "kept": len(kept),
            "skipped": skipped,
            "total": total,
            "list_bytes": size,
            "list_load_s": round(t_list, 4),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def real(spark, n: int) -> dict:
    from pyspark.sql import functions as F

    from tts_etl_pipeline_spark.sources.versioned import (
        read_version,
        read_version_pruned,
        write_version,
    )

    d = tempfile.mkdtemp(prefix="mscale_real_")
    path = os.path.join(d, "t")
    try:
        rows = n * 50  # 50 rows per file: file COUNT is the variable
        df = (
            spark.range(rows)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .repartitionByRange(n, "k")
        )
        t0 = time.perf_counter()
        write_version(df, path, collect_stats=("k",))
        t_v1 = time.perf_counter() - t0
        one = spark.range(rows, rows + 1).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        t0 = time.perf_counter()
        write_version(one, path, collect_stats=("k",))
        t_append = time.perf_counter() - t0
        t0 = time.perf_counter()
        head = read_version(spark, path)
        t_plan = time.perf_counter() - t0
        lo, hi = rows // 2, rows // 2 + rows // 100  # ~1% interior band
        t0 = time.perf_counter()
        pruned, skipped, total = read_version_pruned(spark, path, "k", lo, hi)
        t_plan_pruned = time.perf_counter() - t0
        t0 = time.perf_counter()
        got = pruned.count()
        t_count = time.perf_counter() - t0
        assert got == hi - lo + 1, (got, lo, hi)
        assert head is not None
        return {
            "n_files": total,
            "v1_write_s": round(t_v1, 3),
            "append_commit_s": round(t_append, 3),
            "plan_full_s": round(t_plan, 4),
            "plan_pruned_s": round(t_plan_pruned, 4),
            "skipped": skipped,
            "band_count_s": round(t_count, 3),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def metadata_tables_scale(spark, n: int) -> dict:
    """r12 verdict task 3 evidence: the files/partitions METADATA TABLES
    on a sharded manifest build DISTRIBUTED (mapInPandas over shard
    sidecars) — wall stays seconds at 10^6 entries and the DRIVER's
    high-water RSS moves by ~zero, because the driver never materializes
    a per-file row list (the python workers do, shard by shard)."""
    import resource

    from tts_etl_pipeline_spark.sources import versioned as V

    d = tempfile.mkdtemp(prefix="mscale_meta_")
    path = os.path.join(d, "t")
    k_schema = (
        '{"type":"struct","fields":[{"name":"k","type":"long",'
        '"nullable":true,"metadata":{}}]}'
    )
    try:
        files = sorted(f"data/{uuid.uuid4().hex}.parquet" for _ in range(n))
        stats = {
            f: {"k": [i * 100, i * 100 + 99], "__v": [1, 1],
                "__p:sbucket[16]:k": [i % 16, i % 16]}
            for i, f in enumerate(files)
        }
        V._commit(
            path, V._open_base(path, create=True), "overwrite",
            files=files, schema=k_schema, stats=stats,
        )
        del files, stats
        rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        t0 = time.perf_counter()
        n_rows = V.metadata_table(spark, path, "files").count()
        t_files = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_parts = V.metadata_table(spark, path, "partitions").count()
        t_parts = time.perf_counter() - t0
        rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {
            "kind": "metadata_tables_distributed",
            "n_entries": n,
            "files_rows": n_rows,
            "partitions_rows": n_parts,
            "t_files_s": round(t_files, 3),
            "t_partitions_s": round(t_parts, 3),
            "driver_maxrss_delta_mb": round((rss1 - rss0) / 1024.0, 1),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    real_max = 10_000
    if "--real-max" in sys.argv:
        real_max = int(sys.argv[sys.argv.index("--real-max") + 1])

    print("== synthetic manifest-only (dump/load/prune walls, driver-side) ==")
    for n in (1_000, 10_000, 100_000, 1_000_000):
        print(json.dumps(synthetic(n)))

    print("== sharded manifest-list (commit/append/pruned-plan walls) ==")
    for n in (200_000, 1_000_000):
        print(json.dumps(sharded(n)))

    from tts_etl_pipeline_spark.session import get_spark

    spark = get_spark("manifest_scale")
    spark.range(1).count()  # JVM warmup outside the timed regions
    print("== metadata tables: distributed build over shard sidecars ==")
    for n in (200_000, 1_000_000):
        print(json.dumps(metadata_tables_scale(spark, n)))

    print("== real versioned table end-to-end ==")
    for n in (1_000, 10_000):
        if n > real_max:
            break
        print(json.dumps(real(spark, n)))


if __name__ == "__main__":
    main()
