"""Storage-partitioned joins (SPJ) over versioned tables — the Iceberg
SPJ feature re-expressed through Spark's own bucketed-table machinery.

The problem at 100 TB: two big versioned tables that share a layout
(both declared ``sbucket(N)`` on the join key via the partition-spec
machinery, versioned.py) still SHUFFLE both sides every time they join,
because a plain parquet scan reports unknown partitioning — the layout
the storage already paid for is invisible to the planner. Iceberg's
storage-partitioned joins fix this by reporting the partition tuples to
the planner (DataSourceV2 ``SupportsReportPartitioning``); that hook is
JVM-only, but Spark has had the equivalent contract for its OWN bucketed
tables since 2.x: a catalog table with a bucket spec reports
``HashPartitioning(key, N)`` and joins bucket-to-bucket with ZERO
Exchange.

The bridge is the hash. The ``sbucket`` transform buckets with
``pmod(hash(key), N)`` — *Spark's* murmur3, the exact partition-id
expression ``bucketBy`` uses — so a versioned snapshot's file groups ARE
a valid Spark bucketed layout already: every row in a file hashes to the
file's recorded bucket id. ``spj_join`` therefore:

1. checks both snapshots are SPJ-compatible (active ``sbucket`` on the
   join key, equal N, every live file carries its bucket tuple, no
   pending merge-on-read state — see ``spj_compatibility``);
2. exposes each snapshot as an ephemeral bucketed catalog table: the
   data files are HARD-LINKED (zero copy, KB of metadata work) under
   bucket-id-encoded file names — ``..._00003.parquet`` is how Spark's
   scan assigns a file to bucket 3 — and registered with
   ``CREATE TABLE ... CLUSTERED BY (key) INTO N BUCKETS LOCATION ...``.
   The claim made to the catalog is TRUE (same hash), so bucket pruning
   on equality filters against the exposed table is also correct;
3. joins the two catalog reads — SortMergeJoin with NO Exchange below
   it: each task reads bucket b's files from BOTH tables (the
   file-group-to-file-group co-located read), sorts in-task, merges.

Incompatible inputs (mismatched N, evolved-spec old-vintage files with
no bucket tuple, pending DVs/equality-deletes, null-key files written
before the spec) degrade to a PLAIN join — correct, just shuffled — so
callers can use spj_join unconditionally and the layout is purely an
optimization, never a correctness dependency.

Parity pins: tests/test_spj.py (murmur3 = F.hash; hardlink bucket ids =
a real bucketBy write's ids; zero-Exchange plan with broadcast disabled;
every fallback arm), driver query ★j28 (oracle = the plain join).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from tts_etl_pipeline_spark.sources import versioned as V


def _active_sbucket(m: dict, key_phys: str):
    """(N, stat_key) when the ACTIVE spec sbuckets `key_phys`, else None."""
    specs = m.get("pspecs") or {}
    sid = m.get("pspec_id")
    for t, c, p in specs.get(sid) or []:
        if t == "sbucket" and c == key_phys:
            return int(p), V._pstat_key(t, c, p)
    return None


def spj_compatibility(path_a: str, path_b: str, key_a: str, key_b: str):
    """(N, manifest_a, manifest_b) when a zero-Exchange storage-partitioned
    join is sound, else (None, reason, None):

    - both ACTIVE specs must sbucket the join key, with EQUAL bucket
      counts (Spark can only co-locate equal counts — the bucketing.py
      rule, inherited);
    - every live file must carry its bucket tuple stat: a file from an
      older spec vintage (or a pre-spec compact) has no bucket id, and
      guessing one would mis-route its rows;
    - no pending deletion vectors or equality deletes: the exposed
      catalog table reads raw files, so merge-on-read state would
      resurrect deleted rows — purge/compact first, or fall back."""
    out = []
    for path, key in ((path_a, key_a), (path_b, key_b)):
        if V.current_version(path) == 0:
            return None, f"{path} has no committed versions", None
        base = V._open_base(path)
        v, m = base.version, base.m
        phys = V._phys(m, key)
        sb = _active_sbucket(m, phys)
        if sb is None:
            return None, f"{path}: active spec does not sbucket {key!r}", None
        n, stat_key = sb
        stats = m.get("stats") or {}
        # a ZERO-ROW file (the schema-bearing placeholder an empty write
        # keeps, __n == [0,0]) contributes no rows to any bucket: it is
        # exempt from the tuple requirement and skipped at exposure
        live = [
            f for f in m["files"]
            if (stats.get(f) or {}).get("__n") != [0, 0]
        ]
        missing = [f for f in live if stat_key not in (stats.get(f) or {})]
        if missing:
            return (
                None,
                f"{path}: {len(missing)} file(s) carry no {stat_key} tuple "
                f"(older spec vintage or null join keys)",
                None,
            )
        if any(f in (m.get("dvs") or {}) for f in m["files"]):
            return None, f"{path}: pending deletion vectors (purge_dvs first)", None
        if m.get("eqdeletes"):
            return None, f"{path}: pending equality deletes (purge_eq first)", None
        if m.get("defaults"):
            # the exposed catalog table reads RAW parquet: a column whose
            # pre-add files serve an initial-default through read_version
            # would silently read NULL here — wrong data, not just slow
            return (
                None,
                f"{path}: pending column initial-defaults (compact() "
                "materializes them)",
                None,
            )
        out.append((n, m, v, phys, stat_key))
    (na, ma, va, pa, ka), (nb, mb, vb, pb, kb) = out
    if na != nb:
        return None, f"bucket counts differ ({na} vs {nb}): cannot co-locate", None
    return na, (ma, va, pa, ka), (mb, vb, pb, kb)


def _expose_bucketed(
    spark: SparkSession, path: str, m: dict, version: int,
    key_phys: str, stat_key: str, n: int,
) -> str:
    """Register snapshot `version` of the table at `path` as a bucketed
    catalog table and return its name. The files are hard-linked under
    bucket-encoded names (fall back to copy across filesystems) — pure
    metadata work, O(files), no data read. Idempotent per (path, version,
    key, N): the name is content-addressed and an existing registration
    is reused, so repeated joins of the same snapshot pay once."""
    digest = hashlib.md5(
        f"{os.path.abspath(path)}|{version}|{key_phys}|{n}".encode()
    ).hexdigest()[:12]
    name = f"spj_{digest}"
    if spark.catalog.tableExists(name):
        return name
    stats = m.get("stats") or {}
    loc = os.path.join(tempfile.gettempdir(), f"spj_expose_{digest}")
    os.makedirs(loc, exist_ok=True)
    for i, f in enumerate(sorted(m["files"])):
        if (stats.get(f) or {}).get("__n") == [0, 0]:
            continue  # zero-row placeholder: no rows, no bucket
        b = int(stats[f][stat_key][0])
        dst = os.path.join(loc, f"part-{i:05d}-{digest}_{b:05d}.c000.parquet")
        if os.path.exists(dst):
            continue  # a prior exposure of this immutable snapshot
        src = os.path.join(path, f)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)  # cross-device: copy instead
    # physical column names in the DDL (stats/blooms discipline): the
    # parquet files store physical names; the reader aliases back
    schema = V._schema_from_json(m["schema"])
    cm = m.get("colmap") or {}
    ddl = ", ".join(
        f"`{cm.get(fld.name, fld.name)}` {fld.dataType.simpleString()}"
        for fld in schema.fields
    )
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING parquet "
        f"CLUSTERED BY (`{key_phys}`) INTO {n} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return name


def _read_exposed(spark: SparkSession, name: str, m: dict) -> DataFrame:
    """The catalog read, physical names aliased back to logical ones —
    a Project over the scan, which PRESERVES the reported bucket
    partitioning (alias-aware output partitioning)."""
    df = spark.table(name)
    cm = m.get("colmap") or {}
    if not cm:
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(cm.get(c, c)).alias(c) for c in
          (f.name for f in V._schema_from_json(m["schema"]).fields)]
    )


def spj_join(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    on,
    how: str = "inner",
    fallback: bool = True,
):
    """JOIN two versioned tables through their shared storage layout —
    zero Exchange when ``spj_compatibility`` holds, a plain (shuffled,
    still correct) join otherwise. `on` is the join key: one column name
    shared by both sides, or a ``(key_a, key_b)`` pair. Single-key only:
    Spark's co-location contract requires the join keys to be exactly
    the bucket columns, so a multi-key equi-join would shuffle anyway —
    pass the extra conjuncts as a post-join filter instead.

    Returns ``(df, colocated)`` — the joined DataFrame plus whether the
    zero-Exchange path was taken (callers that REQUIRE co-location set
    ``fallback=False`` and catch ValueError)."""
    key_a, key_b = (on, on) if isinstance(on, str) else tuple(on)
    n, a, b = spj_compatibility(path_a, path_b, key_a, key_b)
    if n is None:
        if not fallback:
            raise ValueError(f"storage-partitioned join impossible: {a}")
        da = V.read_version(spark, path_a)
        db = V.read_version(spark, path_b)
        cond = da[key_a] == db[key_b] if key_a != key_b else None
        joined = (
            da.join(db, on=key_a, how=how)
            if cond is None
            else da.join(db, on=cond, how=how)
        )
        return joined, False
    ma, va, pa, ka = a
    mb, vb, pb, kb = b
    ta = _expose_bucketed(spark, path_a, ma, va, pa, ka, n)
    tb = _expose_bucketed(spark, path_b, mb, vb, pb, kb, n)
    da = _read_exposed(spark, ta, ma)
    db = _read_exposed(spark, tb, mb)
    if key_a == key_b:
        joined = da.join(db, on=key_a, how=how)
    else:
        joined = da.join(db, on=da[key_a] == db[key_b], how=how)
    return joined, True


def spj_read(spark: SparkSession, path: str, key: str, fallback: bool = True):
    """Read ONE versioned table through its storage-bucket layout so that
    aggregations (and window functions) partitioned by `key` plan with
    ZERO Exchange: the bucketed scan reports ``HashPartitioning(key, N)``
    and Catalyst's partial+final HashAggregate collapses onto it — the
    groupBy twin of spj_join, and the other half of what a pre-bucketed
    100 TB layout buys (a daily per-key rollup re-shuffles the fact table
    every run unless the layout is visible to the planner).

    Same soundness gate as the join side (active sbucket spec on `key`,
    every file carries its tuple, no pending merge-on-read state); an
    incompatible snapshot degrades to the plain read. Returns
    ``(df, colocated)``."""
    base = V._open_base(path)
    v, m = base.version, base.m
    phys = V._phys(m, key)
    sb = _active_sbucket(m, phys)
    reason = None
    if sb is None:
        reason = f"{path}: active spec does not sbucket {key!r}"
    else:
        n, stat_key = sb
        stats = m.get("stats") or {}
        # zero-row placeholder files (__n == [0, 0]) carry no rows and so
        # no bucket tuple: exempt, same as spj_compatibility
        live = [
            f for f in m["files"]
            if (stats.get(f) or {}).get("__n") != [0, 0]
        ]
        if any(stat_key not in (stats.get(f) or {}) for f in live):
            reason = f"{path}: file(s) carry no {stat_key} tuple"
        elif any(f in (m.get("dvs") or {}) for f in m["files"]):
            reason = f"{path}: pending deletion vectors"
        elif m.get("eqdeletes"):
            reason = f"{path}: pending equality deletes"
        elif m.get("defaults"):
            # raw-parquet exposure would serve NULL where read_version
            # serves the recorded initial-default — wrong data, refuse
            reason = f"{path}: pending column initial-defaults"
    if reason is not None:
        if not fallback:
            raise ValueError(f"storage-bucketed read impossible: {reason}")
        return V.read_version(spark, path), False
    name = _expose_bucketed(spark, path, m, v, phys, stat_key, n)
    return _read_exposed(spark, name, m), True


def drop_spj_exposures(spark: SparkSession) -> int:
    """Drop every ephemeral spj_* catalog table and its hard-link dir —
    session-scope cleanup for long-lived sessions."""
    n = 0
    for t in spark.catalog.listTables():
        if t.name.startswith("spj_"):
            loc = os.path.join(
                tempfile.gettempdir(), f"spj_expose_{t.name[len('spj_'):]}"
            )
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            shutil.rmtree(loc, ignore_errors=True)
            n += 1
    return n
