"""Type-2 slowly-changing-dimension maintenance on the versioned table —
the warehouse pattern for "keep every historical value of a dimension
row" (Kimball SCD type 2), composed from primitives this engine already
has: one full-outer join per change batch (the versioned.merge shape) and an
atomic manifest commit (sources/versioned.py), so readers see either the
old history or the new one, never a torn mix.

History schema: <key>, <attrs...>, valid_from, valid_to, is_current —
validity bounds are bigint epoch-micros (exact integer arithmetic both in
Spark and in any SQL oracle), `valid_to IS NULL` iff `is_current`.

Fold semantics per change batch (key, attrs..., eff):
- key matched, any attr differs (NULL-SAFE comparison — NULL->NULL is
  "same", NULL->value is a change): the current row CLOSES
  (valid_to = eff) and a new current row opens (valid_from = eff);
- key matched, all attrs equal: no-op (consecutive duplicates collapse —
  re-delivering an unchanged state never forks a version);
- key only in the batch (including NULL keys, the versioned.merge contract):
  a new current row opens;
- key only in the dimension: untouched;
- key in the optional `deletes` relation (key, eff): the current row
  CLOSES at eff with NO replacement — the Kimball type-2 soft delete
  (the entity left the source; its history stays queryable). Deleting an
  absent or already-closed key is a no-op, which is what makes a
  re-delivered delete batch idempotent; a key in BOTH changes and
  deletes of one batch raises (no well-defined order); NULL-keyed
  deletes match nothing and are dropped.

Scale shape, BOTH sides of the fold (round-10 — the write side used to
rewrite the whole history every batch):
- JOIN: current rows x batch, never history x batch — closed rows are
  never rejoined;
- WRITE: closed-history data files ride through every fold BY MANIFEST
  REFERENCE (write_version_parts reuses their entries verbatim — zero
  read, zero rewrite); the fold stages only (a) the rows it newly closed
  and (b) the post-fold current slice, so a fold writes
  O(current + batch) bytes regardless of how much history accumulated.
  Classification is driver-side from manifest stats: the fold always
  stages closed rows and current rows as separate file groups with
  is_current stats collected, so a closed-only file's recorded range is
  [false, false] and the NEXT fold reuses it without opening it. A file
  without usable stats (stats-free table, empty file) is conservatively
  treated as live — read and re-split once, correct either way.
  Closure-delta files accumulate one small group per fold; compact()
  folds them together when file count matters.
- KEY-CLUSTERED folds (cluster_files=N, the round-10 "next rung"): the
  current slice is staged as N key-range files (repartitionByRange on the
  key) with per-file key min/max recorded in the manifest, and the NEXT
  fold reuses BY REFERENCE any current-only file whose key range contains
  no batch key (changes or deletes) — so a key-LOCALIZED batch reads and
  rewrites only the current files it touches, not the whole current
  slice. Soundness: an untouched current file's rows are exactly the
  fold's keep-verbatim arm (no batch key can match them; NULL-keyed
  current rows can never be matched or deleted by ANY batch — equality
  joins never match NULL and NULL-keyed deletes are dropped — so skipping
  them preserves their open state, which is the fold's semantics for
  them). Pruning needs numeric keys (the manifest stats soundness scope);
  non-numeric keys simply never record ranges and every fold reads the
  full current slice — slower, never wrong. Fresh current files written
  by a localized fold span only that fold's key footprint, so clustering
  degrades gradually as opened keys accumulate; recluster_current()
  restores it (bit-identical rows, empty change feed) without touching
  closed history.

Contract the caller owes (documented, not enforced): batches apply in
non-decreasing `eff` order per key — this is a fold over a change STREAM,
and an out-of-order batch would write a negative validity span, exactly
as it would in any warehouse SCD pipeline. Duplicate non-null keys within
one batch raise (two states for one key in one batch has no well-defined
order). All input-contract checks (duplicate keys, NULL eff on either
arm, a key in both changes and deletes) are answered by ONE aggregation
job over the tagged key union — per-batch driver overhead is one job,
not five, which matters when a streaming sync folds every micro-batch
(st22). The snapshot is conflict-checked: a concurrent commit surfaces
as CommitConflictError, never a silent overwrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark.sources.versioned import (
    _phys,
    current_version,
    manifest,
    read_version_files,
    write_version,
    write_version_parts,
)

RESERVED = ("valid_from", "valid_to", "is_current")


def _validate_batch(
    changes: DataFrame, key: str, eff_col: str, deletes: DataFrame | None
) -> None:
    """Every per-batch input-contract check in ONE Spark job: duplicate
    non-null keys per arm, NULL eff on either arm, a key in both arms.
    The tagged union groups by key with conditional aggregates; limit(1)
    over the violation filter is the single driver collect."""
    key_type = changes.schema[key].dataType
    tagged = changes.select(
        F.col(key).alias("__k"),
        F.lit(1).alias("__c"),
        F.lit(0).alias("__d"),
        F.col(eff_col).isNull().cast("int").alias("__ne"),
    )
    if deletes is not None:
        tagged = tagged.unionByName(
            deletes.select(
                F.col(key).cast(key_type).alias("__k"),
                F.lit(0).alias("__c"),
                F.lit(1).alias("__d"),
                F.col(eff_col).isNull().cast("int").alias("__ne"),
            )
        )
    per_key = tagged.groupBy("__k").agg(
        F.sum("__c").alias("cn"),
        F.sum("__d").alias("dn"),
        F.sum(F.col("__c") * F.col("__ne")).alias("cne"),
        F.sum(F.col("__d") * F.col("__ne")).alias("dne"),
    )
    keyed = F.col("__k").isNotNull()
    viol = (
        per_key.filter(
            (F.col("cne") > 0)
            | (F.col("dne") > 0)
            | (keyed & (F.col("cn") > 1))
            | (keyed & (F.col("dn") > 1))
            | (keyed & (F.col("cn") >= 1) & (F.col("dn") >= 1))
        )
        .limit(1)
        .collect()
    )
    if not viol:
        return
    r = viol[0]
    if r["__k"] is not None and r["cn"] > 1:
        raise ValueError(f"multiple change rows share key {r['__k']!r}")
    if r["__k"] is not None and r["dn"] > 1:
        raise ValueError(f"multiple delete rows share key {r['__k']!r}")
    if r["__k"] is not None and r["cn"] >= 1 and r["dn"] >= 1:
        raise ValueError(
            f"key {r['__k']!r} appears in BOTH changes and deletes "
            "of one batch — no well-defined order"
        )
    if r["cne"] > 0:
        raise ValueError(f"change batch has a NULL {eff_col!r}")
    raise ValueError(f"delete batch has a NULL {eff_col!r}")


def closed_history_files(path: str, version: int) -> list[str]:
    """The version's data files holding ONLY closed rows, classified from
    manifest stats alone (is_current range [false, false]) — zero file IO.
    These are exactly the files a fold carries by reference and a reader
    of `is_current = TRUE` could skip; files without usable stats are
    conservatively absent (treated as live)."""
    m = manifest(path, version)
    stats = m.get("stats", {})
    pic = _phys(m, "is_current")  # stats keys are physical names
    return [
        f
        for f in m["files"]
        if stats.get(f, {}).get(pic) == [False, False]
    ]


def compact_closed(
    spark: SparkSession, path: str, target_files: int = 1
) -> int | None:
    """Coalesce the dimension's closed-history file groups into
    `target_files` files, REUSING the current-slice files untouched — the
    maintenance pass that bounds what the incremental fold accretes (one
    small closure group per fold) without ever paying compact()'s full
    rewrite of the current slice. Rows are bit-identical, so the change
    feed across this commit is EMPTY (exceptAll bag cancellation — the
    compact() contract), and the rewritten file carries is_current stats
    so the NEXT fold classifies it reusable again. Returns the committed
    version, or None when there is nothing to fold together. Conflict
    safety: the commit carries the snapshot's expected_version, like every
    maintenance commit here."""
    v = current_version(path)
    if v == 0:
        return None
    closed = closed_history_files(path, v)
    if len(closed) <= max(1, target_files):
        return None  # already compact
    m = manifest(path, v)
    live = [f for f in m["files"] if f not in set(closed)]
    merged = read_version_files(spark, path, v, closed).coalesce(
        max(1, target_files)
    )
    return write_version_parts(
        [merged],
        path,
        reuse_files=live,
        expected_version=v,
        collect_stats=("is_current",),
    )


def _untouched_current_files(
    spark: SparkSession,
    m: dict,
    key: str,
    batch_key_type,
    batch_keys: DataFrame,
) -> list[str]:
    """Current-only files (manifest is_current range [true, true]) with a
    recorded key range that contains NO batch key — the files a
    key-localized fold may carry by reference instead of reading. The
    check is one small Spark job: the per-file ranges (driver-built,
    O(#files) rows, broadcast) range-joined against the batch's non-null
    keys; only file NAMES come back to the driver. Returns [] when the
    manifest carries no key ranges (un-clustered table: zero extra cost)
    or when the batch's key type differs from the table's (the fold
    raises on that later — never prune on a lossy comparison), or when
    the key is FLOAT/DOUBLE: Spark's join semantics treat NaN = NaN and
    NaN greater than every double, while parquet footer stats EXCLUDE
    NaN — a NaN batch key would range-join into no file's [min, max] and
    misclassify a current file holding NaN-keyed rows as untouched, so
    the fold would silently miss the close/update Spark's own equality
    performs (r10 ADVICE). Floating-point SCD2 keys therefore never
    prune — a full fold, never a lost row; real dimensions key on
    int/string/date types, which keep the fast path."""
    from tts_etl_pipeline_spark.sources.versioned import _schema_from_json

    dim_schema = _schema_from_json(m["schema"])
    if key not in dim_schema.names:
        return []
    key_type = dim_schema[key].dataType
    if key_type != batch_key_type:
        return []
    from pyspark.sql.types import DoubleType, FloatType

    if isinstance(key_type, (FloatType, DoubleType)):
        return []
    stats = m.get("stats", {})
    pic = _phys(m, "is_current")
    pkey = _phys(m, key)
    candidates = []
    for f in m["files"]:
        st = stats.get(f, {})
        krange = st.get(pkey)
        if st.get(pic) == [True, True] and krange is not None:
            candidates.append((f, krange[0], krange[1]))
    if not candidates:
        return []
    from pyspark.sql.types import StringType, StructField, StructType

    ranges = spark.createDataFrame(
        candidates,
        StructType(
            [
                StructField("__f", StringType()),
                StructField("__kmin", key_type),
                StructField("__kmax", key_type),
            ]
        ),
    )
    touched = {
        r["__f"]
        for r in batch_keys.join(
            F.broadcast(ranges),
            (F.col("__bk") >= F.col("__kmin"))
            & (F.col("__bk") <= F.col("__kmax")),
            "inner",
        )
        .select("__f")
        .distinct()
        .collect()
    }
    return [f for f, _, _ in candidates if f not in touched]


def recluster_current(
    spark: SparkSession, path: str, key: str, target_files: int = 4
) -> int | None:
    """Re-cluster the dimension's current slice into `target_files`
    key-range files (fresh key min/max manifest stats), REUSING every
    closed-only file untouched — the OPTIMIZE pass that restores
    cluster_files-fold pruning after localized folds have accreted
    overlapping current files. Rows are bit-identical, so the change feed
    across this commit is EMPTY (the compact()/compact_closed contract).
    Returns the committed version, or None on an empty/uncommitted table.
    Conflict safety: the commit carries the snapshot's expected_version."""
    if target_files < 1:
        raise ValueError("target_files must be >= 1")
    v = current_version(path)
    if v == 0:
        return None
    m = manifest(path, v)
    closed = closed_history_files(path, v)
    live = [f for f in m["files"] if f not in set(closed)]
    if not live:
        return None
    df = read_version_files(spark, path, v, live)
    return write_version_parts(
        [
            df.filter(~F.col("is_current")),
            df.filter(F.col("is_current")).repartitionByRange(
                target_files, key
            ),
        ],
        path,
        reuse_files=sorted(closed),
        expected_version=v,
        collect_stats=("is_current", key),
    )


def scd2_apply(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key: str,
    attrs: list[str],
    eff_col: str,
    deletes: DataFrame | None = None,
    cluster_files: int | None = None,
) -> int:
    """Fold one change batch into the SCD2 dimension at `path`; returns
    the committed version. `changes` columns: key, attrs..., eff_col
    (castable to bigint epoch-micros); optional `deletes` columns: key,
    eff_col — soft-deleted keys close their current row at eff.

    `cluster_files=N` stages the post-fold current slice as N key-range
    files with key min/max manifest stats (see the module docstring's
    KEY-CLUSTERED section); whenever the PARENT manifest already carries
    key ranges — from an earlier clustered fold or recluster_current —
    the fold reuses untouched current files by reference regardless of
    this flag, so a localized batch costs O(touched files + batch), not
    O(current)."""
    if cluster_files is not None and cluster_files < 1:
        raise ValueError("cluster_files must be >= 1")
    for r in RESERVED:
        if r in (key, *attrs) or r == eff_col:
            raise ValueError(f"column name {r!r} is reserved by SCD2 history")
    if eff_col in (key, *attrs):
        raise ValueError(f"eff_col {eff_col!r} collides with key/attrs")
    missing = [c for c in (key, *attrs, eff_col) if c not in changes.columns]
    if missing:
        raise ValueError(f"change batch lacks columns {missing}")
    if deletes is not None:
        missing_d = [c for c in (key, eff_col) if c not in deletes.columns]
        if missing_d:
            raise ValueError(f"delete batch lacks columns {missing_d}")
    # duplicate keys / NULL eff / both-arms membership: one job, not five —
    # a NULL eff would write a row violating the 'valid_to IS NULL iff
    # is_current' / non-null valid_from invariants, so it is refused like
    # every other input-contract violation
    _validate_batch(changes, key, eff_col, deletes)
    d = None
    if deletes is not None:
        # NULL-keyed deletes can never match a current row
        d = deletes.filter(F.col(key).isNotNull()).select(
            F.col(key).alias("__d_key"),
            F.col(eff_col).cast("long").alias("__d_eff"),
        )

    cols = [key, *attrs]
    fresh = changes.select(
        *cols,
        F.col(eff_col).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    base_version = current_version(path)
    stats_cols = ("is_current",) if cluster_files is None else ("is_current", key)
    if base_version == 0:  # first batch: every change row opens a version
        # is_current stats make the very next fold's file classification
        # work (all-current files are live, but future closure files skip)
        return write_version(
            fresh
            if cluster_files is None
            else fresh.repartitionByRange(cluster_files, key),
            path,
            mode="append",
            expected_version=0,
            collect_stats=stats_cols,
        )

    m = manifest(path, base_version)
    # the O(changed) write path: files provably closed-only (manifest
    # is_current stats [false, false]) ride through by reference; only the
    # LIVE slice (current rows + any unclassifiable file) is read
    closed_files = set(closed_history_files(path, base_version))
    # ...and on a clustered table, so do current-only files whose key
    # range contains no batch key (one small range-join job; [] — zero
    # cost — when the manifest has no key ranges)
    batch_keys = changes.select(F.col(key).alias("__bk"))
    if d is not None:
        batch_keys = batch_keys.unionByName(d.select(F.col("__d_key").alias("__bk")))
    untouched = set(
        _untouched_current_files(
            spark,
            m,
            key,
            changes.schema[key].dataType,
            batch_keys.filter(F.col("__bk").isNotNull()),
        )
    )
    reused = closed_files | untouched
    live_files = [f for f in m["files"] if f not in reused]
    if live_files:
        live = read_version_files(spark, path, base_version, live_files)
    else:  # every key soft-deleted, or every current file range-pruned
        from tts_etl_pipeline_spark.sources.versioned import _schema_from_json

        live = spark.createDataFrame([], _schema_from_json(m["schema"]))
    c_types = {f.name: f.dataType for f in live.schema.fields if f.name in cols}
    f_types = {f.name: f.dataType for f in fresh.schema.fields if f.name in cols}
    if c_types != f_types:
        raise ValueError(
            f"SCD2 schema mismatch: dimension {sorted(c_types.items(), key=str)}"
            f" vs batch {sorted(f_types.items(), key=str)}"
        )
    # closed rows still living in unclassified files (stats-free table, or the
    # pre-split first fold) migrate into this fold's closed file group once
    closed_in_live = live.filter(~F.col("is_current"))
    current = live.filter(F.col("is_current"))
    t = current.select(
        *[F.col(c).alias(f"__t_{c}") for c in cols],
        F.col("valid_from").alias("__t_from"),
        F.lit(True).alias("__t_exists"),
    )
    s = fresh.select(
        *[F.col(c).alias(f"__s_{c}") for c in cols],
        F.col("valid_from").alias("__s_eff"),
        F.lit(True).alias("__s_exists"),
    )
    from tts_etl_pipeline_spark.functions.checkpoints import materialize

    # materialized once: three filtered passes below would otherwise each
    # recompute the full-outer join (and re-scan the snapshot under it)
    joined = materialize(
        t.join(s, t[f"__t_{key}"] == s[f"__s_{key}"], "full_outer")
    )
    matched = F.col("__t_exists").isNotNull() & F.col("__s_exists").isNotNull()
    differs = F.lit(False)
    for a in attrs:  # null-safe: NULL->NULL is "same", NULL->value changes
        differs = differs | ~F.col(f"__t_{a}").eqNullSafe(F.col(f"__s_{a}"))
    # one joined row can emit TWO history rows (the closure + the new
    # current); the join is current-x-batch sized, so three filtered
    # passes over it are dimension-cheap
    closures = joined.filter(matched & differs).select(
        *[F.col(f"__t_{c}").alias(c) for c in cols],
        F.col("__t_from").alias("valid_from"),
        F.col("__s_eff").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = joined.filter(
        (matched & differs) | (~matched & F.col("__s_exists").isNotNull())
    ).select(
        *[F.col(f"__s_{c}").alias(c) for c in cols],
        F.col("__s_eff").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    kept = joined.filter(
        F.col("__t_exists").isNotNull() & (~matched | ~differs)
    ).select(
        *[F.col(f"__t_{c}").alias(c) for c in cols],
        F.col("__t_from").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    if d is not None:
        # soft-delete pass over the SURVIVING current rows (t-only and
        # matched-unchanged — a newly-opened key cannot be deleted in the
        # same batch, enforced above): a matched delete closes the row at
        # its eff, everything else stays current. One left join; the
        # no-match NULL is exactly the open row's valid_to.
        kept = materialize(  # consumed by BOTH parts below — pay the join once
            kept.join(d, kept[key] == d["__d_key"], "left").select(
                *cols,
                "valid_from",
                F.col("__d_eff").alias("valid_to"),
                F.col("__d_key").isNull().alias("is_current"),
            )
        )
        closed_delta = closures.unionByName(kept.filter(~F.col("is_current")))
        kept_current = kept.filter(F.col("is_current"))
    else:
        closed_delta = closures
        kept_current = kept
    hist_cols = [*cols, "valid_from", "valid_to", "is_current"]
    # two staged file groups + the reused files = ONE atomic commit:
    # group 1 is closed-only (its is_current stats classify it reusable for
    # every later fold), group 2 is the post-fold current slice —
    # key-range-clustered with key stats when cluster_files asks for it
    cur_out = kept_current.unionByName(opened).select(*hist_cols)
    if cluster_files is not None:
        cur_out = cur_out.repartitionByRange(cluster_files, key)
    return write_version_parts(
        [
            closed_in_live.unionByName(closed_delta).select(*hist_cols),
            cur_out,
        ],
        path,
        reuse_files=sorted(reused),
        expected_version=base_version,
        collect_stats=stats_cols,
    )
