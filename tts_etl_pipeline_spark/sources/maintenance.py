"""Policy-driven table maintenance — the one-call `OPTIMIZE` loop a
production lakehouse runs on a schedule (Delta's auto-optimize /
Iceberg's maintenance actions), composed from the format's own
primitives and driven ENTIRELY by manifest-derived metrics, so deciding
what to do costs KB of driver work, never a table scan.

auto_maintain(spark, path, policy) inspects the head manifest and fires
the primitives whose debt metric crosses its threshold, in dependency
order:

1. purge_eq    — accreted equality-delete entries (CDC upsert debt):
                 each entry taxes every read's anti-join; past
                 `max_eq_deletes` they materialize into the data files.
2. purge_dvs   — deletion-vector debt: DV'd rows are re-filtered by
                 every read; past `max_dv_ratio` (dead rows / live rows,
                 both straight from the stats channel) vectors fold into
                 rewritten files.
3. compact     — small-file debt: past `max_files` live data files, the
                 per-file overheads (task scheduling, footer IO, open
                 costs) dominate; compact to `target_files`.
4. vacuum      — version debt: past `max_versions` commits since the
                 LAST vacuum this loop ran (tracked in a marker sidecar
                 — the head number alone would re-trigger forever),
                 unreferenced files from superseded versions accumulate;
                 expire to `keep_versions` (age-gated by
                 `grace_seconds`, the vacuum contract).
5. reindex     — text-index freshness: a table that opted into
                 sources/textindex.py sidecars (any _textidx dir) gets
                 its head snapshot indexed for every indexed column;
                 runs LAST so it indexes the post-maintenance head.

Every action is CONTENT-PRESERVING (same rows before and after — the
j40 oracle holds the whole loop to value equality); each returns a
typed record {action, reason, version} and any action's conflict
(CommitConflictError from a concurrent writer) aborts the loop cleanly
with the completed prefix reported — maintenance never wrestles a live
writer. A fresh debt-free table yields zero actions (the idempotence
pin).

Pins: tests/test_maintenance.py (per-trigger thresholds, ordering,
idempotence, conflict abort), driver query ★j40.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

import json
import os

from tts_etl_pipeline_spark.sources import versioned as V

DEFAULT_POLICY = {
    "max_files": 64,
    "target_files": 8,
    "max_dv_ratio": 0.05,
    "max_eq_deletes": 16,
    "max_versions": 32,
    "keep_versions": 4,
    "grace_seconds": 3600.0,
    "collect_stats": (),
    # a table that HAS text indexes (any _textidx sidecar) keeps them
    # fresh: the head snapshot gets an index for every indexed column.
    # Opt-out for write-heavy tables where probes are rare.
    "reindex_text": True,
}


def table_debt(path: str) -> dict:
    """The maintenance-relevant metrics, read from the head manifest
    alone: live file count, DV'd-row ratio, equality-delete entry count,
    retained version count. KB-scale driver work at any table size
    (sharded manifests: the summary channel carries per-shard counts)."""
    # RAW read: a sharded manifest's summary channel ("n"/"rows"/"dvf"
    # per shard entry) answers everything below without loading shards —
    # materializing 10^6 per-file records to DECIDE maintenance would be
    # the O(table) planning cost the whole loop exists to avoid. Only
    # DV-BEARING shards load (for the dead-row cardinality), exactly the
    # aggregate_metadata discipline.
    base = V._open_base(path, materialize=False)
    head, m = base.version, base.m
    total_rows = 0
    rows_known = True
    dv_dead = 0
    if "shards" in m:
        n_files = 0
        for _b, entry in sorted(m["shards"]["entries"].items()):
            n_files += entry["n"]
            if "rows" in entry:
                total_rows += int(entry["rows"])
            else:
                rows_known = False
            if entry.get("dvf"):
                payload = V._load_shard(path, entry)
                dvs = payload.get("dvs") or {}
                loaded = V._load_dvs(path, {"dvs": dvs}, list(dvs))
                dv_dead += sum(len(v) for v in loaded.values())
        n_files += len(m.get("files") or [])  # unsharded stragglers
    else:
        stats = m.get("stats") or {}
        files = [
            f for f in m["files"]
            if (stats.get(f) or {}).get("__n") != [0, 0]
        ]
        n_files = len(files)
        for f in files:
            n = (stats.get(f) or {}).get("__n")
            if n is None:
                rows_known = False
                break
            total_rows += int(n[0])
        dv_files = list((m.get("dvs") or {}).keys())
        if dv_files:
            # one batched sidecar load, only on DV-bearing tables
            loaded = V._load_dvs(path, m, dv_files)
            dv_dead = sum(len(v) for v in loaded.values())
    return {
        "head": head,
        "n_files": n_files,
        "n_rows": total_rows if rows_known else None,
        "dv_dead_rows": dv_dead,
        # an unknown denominator (pre-"__n" files) yields None, and the
        # purge trigger treats None as "do not auto-fire" — a partial sum
        # would either suppress a real purge or fire one on every pass
        "dv_ratio": (
            (dv_dead / total_rows if total_rows else 0.0)
            if rows_known
            else None
        ),
        "n_eq_deletes": len(m.get("eqdeletes") or []),
        # versions accumulated SINCE THE LAST VACUUM this loop ran (the
        # head number alone would re-trigger forever: vacuum reclaims
        # files, it never renumbers history)
        "versions_since_vacuum": head - _marker(path).get("last_vacuum_head", 0),
    }


def _stale_text_indexes(path: str) -> list[str]:
    """Columns with SOME _textidx sidecar but none for the HEAD snapshot
    — the indexed-but-stale set the reindex action refreshes. Pure
    directory listing; an empty/absent _textidx dir means the table
    never opted into text indexing and nothing fires."""
    root = os.path.join(path, "_textidx")
    if not os.path.isdir(root):
        return []
    head = V.current_version(path)
    have_head: set = set()
    cols: set = set()
    for d in os.listdir(root):
        if not d.startswith("v") or "_" not in d:
            continue
        if not os.path.exists(os.path.join(root, d, "meta.json")):
            continue  # half-built: not a commitment to the feature
        vstr, col = d[1:].split("_", 1)
        try:
            v = int(vstr)
        except ValueError:
            continue
        cols.add(col)
        if v == head:
            have_head.add(col)
    return sorted(cols - have_head)


def _marker_path(path: str) -> str:
    return os.path.join(V._vdir(path), "_maintenance.json")


def _marker(path: str) -> dict:
    try:
        with open(_marker_path(path), encoding="utf-8") as fh:
            return json.load(fh)
    except (FileNotFoundError, ValueError):
        return {}


def auto_maintain(
    spark: SparkSession, path: str, policy: dict | None = None
) -> list[dict]:
    """Run the maintenance loop once; returns the action records (empty
    when no debt metric crosses its threshold)."""
    p = dict(DEFAULT_POLICY)
    p.update(policy or {})
    actions: list[dict] = []

    def record(action: str, reason: str) -> None:
        actions.append(
            {"action": action, "reason": reason, "version": V.current_version(path)}
        )

    try:
        debt = table_debt(path)
        if debt["n_eq_deletes"] > p["max_eq_deletes"]:
            V.purge_eq(spark, path, collect_stats=p["collect_stats"] or None)
            record(
                "purge_eq",
                f"{debt['n_eq_deletes']} equality-delete entries > "
                f"{p['max_eq_deletes']}",
            )
        debt = table_debt(path)
        if (
            debt["dv_ratio"] is not None
            and debt["dv_ratio"] > p["max_dv_ratio"]
            and debt["dv_dead_rows"]
        ):
            V.purge_dvs(spark, path, collect_stats=p["collect_stats"] or None)
            record(
                "purge_dvs",
                f"dv ratio {debt['dv_ratio']:.3f} > {p['max_dv_ratio']}",
            )
        debt = table_debt(path)
        if debt["n_files"] > p["max_files"]:
            V.compact(
                spark, path, target_files=p["target_files"],
                collect_stats=p["collect_stats"],
            )
            record(
                "compact",
                f"{debt['n_files']} live files > {p['max_files']}",
            )
        debt = table_debt(path)
        if debt["versions_since_vacuum"] > p["max_versions"]:
            removed = V.vacuum(
                path,
                keep_versions=p["keep_versions"],
                grace_seconds=p["grace_seconds"],
            )
            record(
                "vacuum",
                f"{debt['versions_since_vacuum']} versions since last "
                f"vacuum > {p['max_versions']} "
                f"({len(removed)} files reclaimed)",
            )
            mk = _marker(path)
            mk["last_vacuum_head"] = V.current_version(path)
            V._write_atomic(_marker_path(path), mk)
        if p["reindex_text"]:
            for col in _stale_text_indexes(path):
                from tts_etl_pipeline_spark.sources.textindex import (
                    build_text_index,
                )

                build_text_index(spark, path, col)
                record(
                    "reindex",
                    f"text index for {col!r} lagged the head snapshot",
                )
    except V.CommitConflictError as ex:
        # a live writer won a CAS mid-loop: stop cleanly, report the
        # completed prefix — maintenance re-runs on the next schedule
        actions.append(
            {"action": "aborted", "reason": str(ex), "version": V.current_version(path)}
        )
    return actions
