"""Versioned parquet tables: snapshot isolation, time travel and rollback
on plain parquet — the table-format primitives (B11) a lakehouse format
(Delta/Iceberg/Hudi) provides, rebuilt from first principles on what this
runtime has: immutable data files + an atomically-renamed JSON manifest
per version (the Iceberg "metadata file per snapshot" idea, arXiv has the
Delta Lake VLDB'20 paper describing the same commit protocol).

Layout under a table root:

    data/<uuid>.parquet ...          immutable data files (never rewritten)
    _versions/v00000001.json ...     one manifest per committed version:
                                     {"version", "files", "parent", "mode",
                                      "schema" (the version's logical
                                      schema — add-column evolution +
                                      schema-correct time travel),
                                      "stats" (optional per-file column
                                      min/max — manifest-level file
                                      skipping, read_version_pruned),
                                      "constraints" (optional CHECK
                                      constraints, name -> SQL expr —
                                      enforced on every commit's staged
                                      rows, add_/drop_constraint),
                                      "blooms" (optional file -> sidecar
                                      map for equality file skipping,
                                      read_version_bloom_pruned),
                                      "colmap" + "dropped_physicals"
                                      (optional column mapping — RENAME/
                                      DROP evolution with STABLE physical
                                      file-column names, zero rewrite;
                                      rename_column / drop_column)}
    _versions/blooms-<uuid>.json ... bloom SIDECARS (per-file equality
                                     filters stay out of the manifest;
                                     lookups lazy-load only what they
                                     reference — the Iceberg puffin idea)
    _versions/dv-<uuid>.json ...     DELETION-VECTOR sidecars (r11):
                                     per-file deleted-row positions,
                                     varint-delta encoded — merge-on-read
                                     DELETE/UPDATE (delete_where_dv /
                                     update_where_dv) commit these and
                                     leave data files byte-untouched;
                                     reads anti-apply them in _read_files;
                                     purge_dvs / compact() materialize
    _versions/shard-<sha>.json ...   MANIFEST-LIST shards (r11): past
                                     _SHARD_INLINE_MAX files the per-file
                                     payload (names/stats/blooms/dvs)
                                     moves into content-addressed
                                     hex-prefix bucket shards; the
                                     manifest keeps scalars + a KB-scale
                                     "shards" map with per-column
                                     summaries (see the sharded block
                                     before _bucket_prefix_len)
    _versions/_latest.json           pointer to the current version

Commit protocol (multi-writer OPTIMISTIC CONCURRENCY, crash-safe):
1. write new data files into data/ (invisible — no manifest references them)
2. CAS step: create the next manifest v(N+1) with an ATOMIC
   create-if-absent (hard-link from a temp file — os.link fails with
   EEXIST if the name is taken). The manifest NAME is the compare-and-swap
   token, exactly Iceberg's rename-if-absent / Delta's put-if-absent on
   the _delta_log entry: of two writers racing from base N, exactly one
   creates v(N+1); the loser gets CommitConflictError, its staged files
   stay invisible (vacuum removes them), and it retries from the new head.
3. advance _latest.json, forward-only, under a short flock — so a slow
   winner of v(N+1) can never regress the pointer after v(N+2) landed.
A torn crash leaves either the old latest (fully consistent), orphaned
data files (invisible; vacuum reclaims them after a grace period), or a
committed-but-unpointed manifest — the crash hit between the CAS link
(the true commit point) and the pointer advance. Until repaired, such a
manifest makes later commits at N+1 raise CommitConflictError (the safe
side of the race); vacuum() repairs it by ADOPTING the manifest —
advancing _latest to it under the pointer flock — never by deleting it.
On a shared filesystem this is a complete multi-writer protocol; on an
object store without atomic create-if-absent you'd swap step 2 for a
catalog/DynamoDB-style CAS, as Delta and Iceberg do.

Commit rule: a commit starts from a BASE manifest (_open_base: the head
of main or of a branch, or the snapshot the writer computed its rows
from) and states only what it changes (_commit). Table-level fields —
schema, constraints, colmap, dropped_physicals, pspecs/pspec_id,
eqdeletes, defaults, row_lineage, next_row_id — inherit from the base
unless the writer passes them. The per-file payload — files, stats,
blooms, dvs, shards — carries verbatim when the writer passes no file
list (metadata-only commits: ALTERs, equality deletes), and is entirely
the writer's when it passes `files` or a `shards` plan. Writers that add
rows stage them through _stage_rows, which stamps every new file's add
version ("__v"), record count ("__n"), requested min/max and row ids.

Readers NEVER list data/: they read the manifest's file list, so a reader
holding version N is isolated from any concurrent commit of N+1
(snapshot isolation) and `read_version(path, n)` is time travel for free.
`rollback(path, n)` commits a NEW version whose file list equals version
n's — history is append-only, like Delta's RESTORE.

At 100 TB the manifest holds file paths only (thousands of entries — KBs),
so planning stays driver-light; past ~10^5 files the manifest becomes a
KB-scale list over bucket shards (r11) so appends and pruned planning stay
flat in the file count. Data files are immutable, and vacuum only
reclaims unreferenced files older than a grace period, which is what makes
compaction/vacuum safe to run online (with grace_seconds sized above the
longest write+commit; grace_seconds=0 requires quiesced writers).
"""

from __future__ import annotations

import contextlib
import json
import numbers
import os
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class CommitConflictError(RuntimeError):
    """Another writer committed this version first (optimistic-concurrency
    CAS lost). The losing write left only invisible staged files; re-read
    the table head and retry the operation."""


class ConstraintViolationError(ValueError):
    """A row fails a table CHECK constraint (SQL CHECK truth: a violation
    is an expression evaluating to FALSE — NULL passes). Raised by
    add_constraint when EXISTING rows violate the new expression, and by
    every commit path (append, overwrite, parts/merge/mutation commits)
    when STAGED rows violate a recorded constraint — the refused commit
    leaves only invisible staged files, which vacuum reclaims."""


def _vdir(path: str) -> str:
    return os.path.join(path, "_versions")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_vdir(path), f"v{version:08d}.json")


# --- named refs (branches + tags) --------------------------------------
# A BRANCH is a staging lineage: its commits live in the same _versions/
# pool as manifests named v{N:08d}-{branch}.json, numbered from the MAIN
# version the branch forked at — invisible to main readers (current_version
# never points at them, vacuum never adopts them) until fast_forward
# publishes them by hard-linking content-identical clean manifests into
# the main lineage. A TAG is an immutable named pointer to a main version;
# vacuum retains tagged snapshots' files, so a tag is a reproducible read
# for as long as it exists. Refs live in _versions/_refs.json, mutated
# only under the _latest flock.

_REF_NAME_OK = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-."

# v{8 digits}.json = a MAIN manifest; v{8 digits}-{branch}.json = a branch's
# staged manifest. Vacuum tells them apart with this (a staged manifest of a
# LIVE branch is never swept; a dead branch's files age out like any orphan).
import re as _re

_MANIFEST_RE = _re.compile(r"^v(\d{8})(?:-(.+))?\.json$")


def _check_ref_name(name: str) -> str:
    if not name or any(ch not in _REF_NAME_OK for ch in name) or name[0] in "-.":
        raise ValueError(
            f"invalid ref name {name!r}: use letters/digits/[-_.], not "
            f"starting with '-' or '.'"
        )
    return name


def _refs_path(path: str) -> str:
    return os.path.join(_vdir(path), "_refs.json")


def _load_refs(path: str) -> dict:
    p = _refs_path(path)
    if not os.path.exists(p):
        return {"branches": {}, "tags": {}}
    with open(p, encoding="utf-8") as fh:
        refs = json.load(fh)
    refs.setdefault("branches", {})
    refs.setdefault("tags", {})
    return refs


def _branch_manifest_file(path: str, version: int, branch: str) -> str:
    return os.path.join(_vdir(path), f"v{version:08d}-{branch}.json")


def _resolve_manifest_file(
    path: str, version: int, branch: str | None = None, fork: int | None = None
) -> str:
    """The file holding `version`'s manifest as seen FROM `branch` (None =
    main): a branch serves its own manifests past its fork point and
    main's at or before it — the shared-prefix lineage."""
    if branch is not None and fork is not None and version > fork:
        return _branch_manifest_file(path, version, branch)
    return _manifest_path(path, version)


class PublishConflictError(CommitConflictError):
    """fast_forward found a MAIN commit occupying a version slot the
    branch staged with DIFFERENT content: main advanced past the fork, so
    the staged chain no longer fast-forwards. Rebase by re-staging onto
    the new head (create a fresh branch) — never force-publish."""


def _fsynced_tmp(target: str, payload: dict) -> str:
    """`payload` as JSON in a durable temp file beside `target`."""
    tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    return tmp


def _write_atomic(target: str, payload: dict) -> None:
    os.replace(_fsynced_tmp(target, payload), target)


def _cas_create(target: str, payload: dict) -> bool:
    """The commit CAS every lineage shares (table manifests, fast_forward's
    publish, the catalog): create `target` holding `payload` only if the
    name is free. A hard link is atomic create-if-absent on POSIX, so of
    N racers exactly one gets True; the others get False and choose their
    own conflict error."""
    tmp = _fsynced_tmp(target, payload)
    try:
        os.link(tmp, target)
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)
    return True


def current_version(path: str) -> int:
    latest = os.path.join(_vdir(path), "_latest.json")
    if not os.path.exists(latest):
        return 0
    with open(latest, encoding="utf-8") as fh:
        return json.load(fh)["version"]


# --------------------------------------------------------------------------
# Sharded manifests (r10 verdict task 5): ONE json listing every file is
# the right format to ~10^5 entries (measured: 10^5 parses in ~0.3 s);
# at 10^6 it bends (3.4 s parse / 6.7 s dump / 127 MB — the one recorded
# cliff in the 100 TB posture when files are small). Beyond
# _SHARD_INLINE_MAX files a commit therefore writes a MANIFEST LIST:
# the v*.json keeps every scalar field (schema, constraints, colmap,
# mode, parent) plus a "shards" map, and the per-file payload (names,
# stats, blooms, dvs) moves into per-shard sidecar files.
#
# Shard key: the first `prefix_len` hex chars of the data file's uuid
# basename — a fixed RANGE partition of the (uniform) filename space, so
# membership is STABLE under inserts and deletes: a commit that touches
# k files rewrites at most k shards, never the neighbors. Shard files
# are CONTENT-ADDRESSED (sha256 of canonical payload), so an untouched
# bucket re-references the same sidecar byte-for-byte across versions —
# zero rewrite — and vacuum sweeps unreferenced "shard-*" files exactly
# like bloom/dv sidecars. Each shard entry carries per-column [lo, hi]
# SUMMARIES (the Iceberg manifest-list partition summaries), so pruned
# planning loads the manifest list + only the shards whose summary
# intersects the predicate: sub-second at 10^6 files (measured in
# scripts/manifest_scale.py).
# --------------------------------------------------------------------------
_SHARD_INLINE_MAX = 100_000
_SHARD_SIZE = 20_000  # target entries/shard when choosing prefix_len


def _bucket_prefix_len(total: int) -> int:
    """Smallest k with 16^k buckets keeping expected entries/shard under
    _SHARD_SIZE (k >= 1)."""
    k = 1
    while total > _SHARD_SIZE * (16 ** k) and k < 8:
        k += 1
    return k


def _bucket_of(rel_file: str, prefix_len: int) -> str:
    return os.path.basename(rel_file)[:prefix_len]


def _shard_summary(files: list[str], stats: dict) -> dict:
    """{col: [lo, hi]} over the shard's files, for every column where ALL
    files carry stats — a file without stats makes the column unbounded
    for the whole shard (omit: the shard can then never be skipped on
    that column, the sound side)."""
    if not files:
        return {}
    per_col: dict = {}
    for i, f in enumerate(files):
        rec = stats.get(f)
        if not rec:
            return {}  # one statless file unbounds every column
        if i == 0:
            per_col = {c: [v[0], v[1]] for c, v in rec.items()}
            continue
        for c in list(per_col):
            v = rec.get(c)
            if v is None:
                del per_col[c]
                continue
            if v[0] < per_col[c][0]:
                per_col[c][0] = v[0]
            if v[1] > per_col[c][1]:
                per_col[c][1] = v[1]
    return per_col


def _write_shard(
    path: str, files: list[str], stats: dict, blooms: dict, dvs: dict
) -> dict:
    """Write one shard sidecar (content-addressed; an existing identical
    shard is reused without a write) and return its manifest entry."""
    import hashlib

    payload = {
        "files": files,
        "stats": {f: stats[f] for f in files if f in stats},
        "blooms": {f: blooms[f] for f in files if f in blooms},
        "dvs": {f: dvs[f] for f in files if f in dvs},
    }
    blob = json.dumps(payload, sort_keys=True).encode("utf-8")
    digest = hashlib.sha256(blob).hexdigest()[:24]
    rel = os.path.join("_versions", f"shard-{digest}.json")
    full = os.path.join(path, rel)
    refreshed = False
    if os.path.exists(full):
        # keep a referenced shard inside every vacuum grace window (same
        # freshness contract rollback uses for re-referenced data files)
        try:
            os.utime(full)
            refreshed = True
        except FileNotFoundError:
            pass  # vacuum swept it inside the probe gap: rewrite below
    if not refreshed:
        os.makedirs(_vdir(path), exist_ok=True)
        tmp = full + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(blob)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, full)  # benign race: identical content either way
    entry = {"path": rel, "n": len(files)}
    summary = _shard_summary(files, stats)
    if summary:
        entry["summary"] = summary
    # shard-level aggregate channel (aggregate_metadata): total record
    # count when EVERY file carries its "__n" stamp, plus the number of
    # DV-bearing files. "rows" and "dvf" were introduced together, so an
    # entry with "rows" but no "dvf" PROVES the shard is vector-free —
    # COUNT(*) then folds the entry without loading the shard at all.
    n_recs = [(stats.get(f) or {}).get("__n") for f in files]
    if files and all(r is not None for r in n_recs):
        entry["rows"] = sum(int(r[0]) for r in n_recs)
        ndv = sum(1 for f in files if f in payload["dvs"])
        if ndv:
            entry["dvf"] = ndv
    return entry


def _shard_commit_payload(
    files: list[str], stats: dict, blooms: dict, dvs: dict, path: str
) -> dict:
    """Group a fully-materialized file set into bucket shards and write
    them; returns the manifest's 'shards' map. Content addressing makes
    this O(changed shards) in DISK IO for any writer (an unchanged
    bucket hashes to the existing sidecar), O(total entries) in driver
    CPU — the append fast path in write_version avoids even that by
    carrying the parent's untouched shard entries verbatim."""
    prefix_len = _bucket_prefix_len(len(files))
    buckets: dict = {}
    for f in sorted(files):
        buckets.setdefault(_bucket_of(f, prefix_len), []).append(f)
    return {
        "prefix_len": prefix_len,
        "entries": {
            b: _write_shard(path, fs, stats or {}, blooms or {}, dvs or {})
            for b, fs in sorted(buckets.items())
        },
    }


def _sharded_delta_plan(
    path: str,
    m_raw: dict,
    new_files: list[str] = (),
    new_stats: dict | None = None,
    new_blooms: dict | None = None,
    dv_updates: dict | None = None,
    shard_cache: dict | None = None,
) -> dict | None:
    """Apply a DELTA (appended files and/or per-file DV reference
    updates) to a sharded parent manifest, touching ONLY the buckets the
    delta hashes into: untouched buckets carry the parent's
    content-addressed entries verbatim (zero read, zero write). This is
    the O(changed shards) commit plan every sharded writer shares —
    write_version's append fast path, delete_where_dv, update_where_dv —
    so a 1-row mutation on a 10^6-file table loads and rewrites ONE
    ~_SHARD_SIZE-entry shard plus the KB manifest list.

    Returns None when a touched bucket would exceed 4 x _SHARD_SIZE
    entries: the parent's prefix_len (frozen at its last full build) has
    been outgrown by appends, and the caller must fall back to one full
    materialized reshard (fresh prefix_len) — amortized like a hash-table
    resize (O(table) once per ~16x growth decade), keeping per-shard size
    and so per-mutation cost bounded forever instead of growing with the
    table."""
    new_stats = new_stats or {}
    new_blooms = new_blooms or {}
    dv_updates = dv_updates or {}
    plen = m_raw["shards"]["prefix_len"]
    entries = dict(m_raw["shards"]["entries"])
    hit: dict = {}
    for f in new_files:
        hit.setdefault(_bucket_of(f, plen), {}).setdefault("files", []).append(f)
    for f in dv_updates:
        hit.setdefault(_bucket_of(f, plen), {}).setdefault("dvs", []).append(f)
    resplit = 4 * _SHARD_SIZE  # read live: tests shrink _SHARD_SIZE
    # validate EVERY touched bucket before writing ANY shard: a refusal
    # after partial writes would orphan the already-written sidecars (and
    # pay their IO twice when the caller's full reshard rewrites them);
    # a bucket absent from the parent counts from zero — a bulk append
    # can overfill a fresh bucket just as well as an existing one
    for b, delta in sorted(hit.items()):
        n_old = entries[b]["n"] if b in entries else 0
        if n_old + len(delta.get("files", ())) > resplit:
            return None  # bucket outgrown: one full reshard, then flat again
    for b, delta in sorted(hit.items()):
        old = (
            _load_shard(path, entries[b], cache=shard_cache)
            if b in entries
            else {"files": [], "stats": {}, "blooms": {}, "dvs": {}}
        )
        files = sorted(old["files"] + delta.get("files", []))
        stats = dict(old.get("stats") or {})
        blooms = dict(old.get("blooms") or {})
        for f in delta.get("files", []):
            if f in new_stats:
                stats[f] = new_stats[f]
            if f in new_blooms:
                blooms[f] = new_blooms[f]
        dvs = dict(old.get("dvs") or {})
        for f in delta.get("dvs", []):
            dvs[f] = dv_updates[f]
        entries[b] = _write_shard(path, files, stats, blooms, dvs)
    return {"prefix_len": plen, "entries": entries}


def _read_manifest(
    path: str,
    version: int,
    materialize: bool = True,
    branch: str | None = None,
    fork: int | None = None,
) -> dict:
    """Load one committed manifest. Sharded manifests (a 'shards' map
    instead of inline per-file payload) are MATERIALIZED by default —
    files/stats/blooms/dvs merged from every shard — so every reader
    keeps its inline-format view; pass materialize=False for planning
    paths that use shard summaries to avoid loading the world
    (read_version_pruned) or writers that carry untouched shards
    verbatim (the write_version append fast path). branch/fork resolve
    versions past the fork to the branch's own staged manifests."""
    with open(
        _resolve_manifest_file(path, version, branch, fork), encoding="utf-8"
    ) as fh:
        m = json.load(fh)
    if not materialize or "shards" not in m:
        return m
    files: list[str] = []
    stats: dict = {}
    blooms: dict = {}
    dvs: dict = {}
    for b, entry in sorted(m["shards"]["entries"].items()):
        payload = _load_shard(path, entry)
        files.extend(payload["files"])
        stats.update(payload.get("stats") or {})
        blooms.update(payload.get("blooms") or {})
        dvs.update(payload.get("dvs") or {})
    m["files"] = files
    if stats:
        m["stats"] = stats
    if blooms:
        m["blooms"] = blooms
    if dvs:
        m["dvs"] = dvs
    return m


def _load_shard(path: str, entry: dict, cache: dict | None = None) -> dict:
    """Parse one shard sidecar; `cache` (a per-CALL dict keyed by shard
    path) lets a mutation that plans AND commits over the same buckets
    parse each one once — shard files are content-addressed and immutable,
    so within-call reuse is always sound."""
    if cache is not None and entry["path"] in cache:
        return cache[entry["path"]]
    with open(os.path.join(path, entry["path"]), encoding="utf-8") as fh:
        payload = json.load(fh)
    if cache is not None:
        cache[entry["path"]] = payload
    return payload


@contextlib.contextmanager
def _latest_lock(path: str):
    """Short flock guarding the forward-only _latest.json advance (NOT the
    commit itself — that is the lock-free manifest CAS)."""
    import fcntl

    lock_path = os.path.join(_vdir(path), "_latest.lock")
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


class _Base(NamedTuple):
    """The snapshot a commit starts from: `version` is the parent its CAS
    targets (the commit creates version+1), `branch`/`fork` name the
    lineage it lands on (None = main), and `m` is the manifest whose
    fields the commit inherits ({} for a table's first commit)."""

    version: int
    branch: str | None
    fork: int | None
    m: dict


def _branch_info(path: str, branch: str) -> dict:
    """The refs entry ({'fork', 'head'}) of a live branch."""
    info = _load_refs(path)["branches"].get(branch)
    if info is None:
        raise ValueError(f"no branch {branch!r} at {path}")
    return info


def _open_base(
    path: str,
    branch: str | None = None,
    version: int | None = None,
    materialize: bool = True,
    create: bool = False,
) -> _Base:
    """The base snapshot of one write: `version` when the caller computed
    its rows from an earlier snapshot, else the head of `branch` (main
    when None). An empty table refuses unless the writer `create`s it.
    `materialize=False` keeps a sharded manifest as its KB manifest list
    (see _read_manifest) for writers that plan from shard summaries or
    carry untouched shards verbatim."""
    fork = None
    if branch is not None:
        fork = _branch_info(path, branch)["fork"]
        if version is None:
            version = branch_head(path, branch)
    if version is None:
        version = current_version(path)
    if version == 0:
        if not create:
            raise ValueError(f"no versions at {path}")
        return _Base(0, branch, fork, {})
    m = _read_manifest(path, version, materialize, branch=branch, fork=fork)
    return _Base(version, branch, fork, m)


# the fields a commit inherits from its base unless the writer passes them
_TABLE_FIELDS = (
    "schema", "constraints", "colmap", "dropped_physicals", "pspecs",
    "pspec_id", "eqdeletes", "defaults", "row_lineage", "next_row_id",
)
# the per-file payload: carried verbatim from the base when the writer
# names no file list (files or shards), the writer's own when it does
_PAYLOAD_FIELDS = ("files", "stats", "blooms", "dvs", "shards")


def _commit(
    path: str, base: _Base, mode: str, marker: str | None = None, **changes
) -> int:
    """Commit version base.version+1 via the manifest-name CAS: the new
    manifest is `base.m` with `changes` applied (the commit rule in the
    module docstring). A concurrent commit of the same version surfaces
    as CommitConflictError. `marker` records an idempotence token (see
    marker_version)."""
    unknown = sorted(set(changes) - set(_TABLE_FIELDS) - set(_PAYLOAD_FIELDS))
    if unknown:
        raise TypeError(f"_commit got unknown manifest fields {unknown}")
    if "files" in changes or "shards" in changes:
        payload = {k: changes.pop(k, None) for k in _PAYLOAD_FIELDS}
    elif set(changes) & set(_PAYLOAD_FIELDS):
        raise TypeError("per-file maps need the file list they key; pass files")
    elif "shards" in base.m:
        # zero payload IO: re-bucketing 10^6 entries for a scalar change
        # would be exactly the O(table) cost sharding retires
        payload = {"shards": base.m["shards"]}
    else:
        payload = {k: base.m.get(k) for k in _PAYLOAD_FIELDS}
    table = {k: changes.get(k, base.m.get(k)) for k in _TABLE_FIELDS}
    files = payload.get("files") or []
    shards = payload.get("shards")
    stats, blooms, dvs = (payload.get(k) for k in ("stats", "blooms", "dvs"))
    os.makedirs(_vdir(path), exist_ok=True)
    version = base.version + 1
    target = _resolve_manifest_file(path, version, base.branch, base.fork)
    import time

    # beyond the inline envelope the per-file payload moves into bucket
    # shards (see the sharded-manifest block above); a prebuilt `shards`
    # plan (the append fast path) wins over the auto decision
    if shards is None and len(files) > _SHARD_INLINE_MAX:
        shards = _shard_commit_payload(
            files, stats or {}, blooms or {}, dvs or {}, path
        )
        files, stats, blooms, dvs = [], None, None, None
    manifest = {
        "version": version,
        "parent": base.version,
        "mode": mode,
        # Delta/Iceberg record a commit timestamp per snapshot; it powers
        # timestamp AS OF time travel (version_asof). Wall-clock honesty:
        # this is the WRITER's clock — commits from clock-skewed writers
        # can record non-monotonic times, so the as-of resolver scans all
        # manifests rather than binary-searching.
        "committed_at": time.time(),
    }
    if shards is not None:
        manifest["shards"] = shards
        manifest["n_files"] = sum(
            e["n"] for e in shards["entries"].values()
        ) + len(files)
        if files:  # a fast-path plan may not cover freshly staged files
            raise ValueError(
                "a shards plan must cover every file; stage new files "
                "into their buckets before committing"
            )
    else:
        manifest["files"] = sorted(files)
    # empty fields are omitted: "stats"/"blooms"/"dvs" are file -> record
    # or file -> sidecar maps ("blooms-<uuid>.json", "dv-<uuid>.json"
    # under _versions/); "eqdeletes" is [{sc, col, seq}] (each applies to
    # files whose "__v" add-version stat is BELOW its seq); "defaults" is
    # [{col: PHYSICAL, value, seq}] (Iceberg v3 initial-defaults: files
    # added before seq serve `value` instead of null)
    manifest.update(
        (k, v)
        for k, v in (
            ("schema", table["schema"]),
            ("stats", stats),
            ("constraints", table["constraints"]),
            ("blooms", blooms),
            ("colmap", table["colmap"]),
            ("dropped_physicals", table["dropped_physicals"]),
            ("dvs", dvs),
            ("pspecs", table["pspecs"]),
            ("eqdeletes", table["eqdeletes"]),
            ("defaults", table["defaults"]),
        )
        if v
    )
    if table["pspecs"] and table["pspec_id"] is not None:
        manifest["pspec_id"] = table["pspec_id"]
    if table["row_lineage"]:
        # Iceberg v3 row lineage: per-file first-row-id blocks live in the
        # stats channel ("__rid"); the counter only ever moves forward
        manifest["row_lineage"] = True
        manifest["next_row_id"] = int(table["next_row_id"] or 0)
    if base.branch is not None:
        # provenance marker: a staged (unpublished) commit names its
        # branch; fast_forward strips this when publishing into main
        manifest["branch"] = base.branch
    if marker is not None:
        # caller-supplied IDEMPOTENCE token (e.g. a streaming batch id):
        # marker_version() probes committed manifests for it, so an
        # at-least-once redelivery can skip its already-landed commit
        # without scanning a single data row
        manifest["marker"] = marker
    if not _cas_create(target, manifest):
        raise CommitConflictError(
            f"version {version} at {path} was committed by another writer "
            f"(or is a torn commit — run vacuum() if no writer is active); "
            f"re-read the head and retry"
        )
    # forward-only pointer advance: a slow v(N+1) winner must never
    # regress _latest after v(N+2) already landed. Branch commits advance
    # the BRANCH head cache instead — main's pointer never sees them.
    with _latest_lock(path):
        if base.branch is not None:
            refs = _load_refs(path)
            info = refs["branches"].get(base.branch)
            if info is not None and info.get("head", info["fork"]) < version:
                info["head"] = version
                _write_atomic(_refs_path(path), refs)
        elif current_version(path) < version:
            _write_atomic(os.path.join(_vdir(path), "_latest.json"), {"version": version})
    return version


def _schema_from_json(schema_json: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(schema_json))


def _phys(manifest: dict, col: str) -> str:
    """Logical -> PHYSICAL column name under this version's column
    mapping (identity when the table never renamed anything). Stats and
    bloom sidecars are keyed by PHYSICAL names — stable across renames —
    so pruning metadata survives schema evolution with zero rewrites."""
    return (manifest.get("colmap") or {}).get(col, col)


def _physical_struct(logical, colmap: dict | None):
    from pyspark.sql.types import StructField, StructType

    cm = colmap or {}
    return StructType(
        [
            StructField(cm.get(f.name, f.name), f.dataType, True)
            for f in logical.fields
        ]
    )


def _stage_physical(df: DataFrame, colmap: dict | None) -> DataFrame:
    """Rename a LOGICAL-schema DataFrame to physical column names for
    staging (no-op without a mapping)."""
    if not colmap:
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(colmap.get(c, c)) for c in df.columns]
    )


def _constraint_mentions(constraints: dict, col: str) -> list[str]:
    """Constraint names whose expression mentions `col` as an identifier
    (word-boundary match — conservative: a string literal containing the
    name also matches, and refusing is the safe side)."""
    import re

    pat = re.compile(rf"\b{re.escape(col)}\b")
    return sorted(n for n, e in (constraints or {}).items() if pat.search(e))


def _evolved_schema(base_schema, new_schema, merge_schema: bool):
    """Validate an append's schema against the version it extends and
    return the committed (possibly evolved) schema.

    Rules (the Delta mergeSchema contract):
    - identical schemas: fine, no flag needed;
    - common columns must keep their exact type — a type CHANGE is never
      an evolution, it is a different table (raise);
    - with merge_schema=True, the commit schema is base columns + any NEW
      df columns appended as nullable (old files serve null for them);
      df may also omit base columns (its rows serve null there);
    - without the flag, any difference raises — silent schema drift is
      how lakehouse tables rot."""
    base_fields = {f.name: f for f in base_schema.fields}
    new_fields = {f.name: f for f in new_schema.fields}
    for name in base_fields.keys() & new_fields.keys():
        if base_fields[name].dataType != new_fields[name].dataType:
            raise ValueError(
                f"schema evolution cannot change column {name!r}: "
                f"{base_fields[name].dataType} -> {new_fields[name].dataType}"
            )
    added = [f.name for f in new_schema.fields if f.name not in base_fields]
    missing = [f.name for f in base_schema.fields if f.name not in new_fields]
    if not added and not missing:
        return base_schema
    if not merge_schema:
        raise ValueError(
            f"append schema differs from table schema (added {added}, "
            f"missing {missing}); pass merge_schema=True to evolve"
        )
    from pyspark.sql.types import StructField, StructType

    evolved = list(base_schema.fields) + [
        StructField(f.name, f.dataType, nullable=True)
        for f in new_schema.fields
        if f.name not in base_fields
    ]
    return StructType(evolved)


# Iceberg's write.metadata.metrics.default truncate(16): long enough to
# separate real-world key prefixes, short enough that a manifest of 10^5
# files stays KB-per-column whatever the strings hold
_STRING_BOUND_LEN = 16


def _footer_minmax(
    path: str, rel_files: list[str], cols: tuple, with_counts: bool = False
) -> dict:
    """Per-file [min, max] per requested column from the parquet FOOTERS of
    freshly committed files — recorded once, at commit time, into the
    manifest (Iceberg's manifest-entry column stats). Planning-time file
    skipping then never touches a footer.

    Soundness scope (enforced by zorder.column_minmax, the ONE shared
    footer extractor): NUMERIC and BOOLEAN min/max are recorded exactly;
    STRING min/max are recorded as truncate(16) BOUNDS — prefix lower
    bound, last-code-point-incremented upper bound (the Iceberg
    truncateStringMax scheme; see truncated_string_bounds for why this
    is sound against writer truncation, and sound period: truncation
    only WIDENS the range). A file with no usable stats (empty, missing
    column, unsupported type, or a string max with no representable
    upper bound) simply gets no entry and is never skipped: pruning
    degrades to a full read, never to a wrong answer."""
    import pyarrow.parquet as pq

    from tts_etl_pipeline_spark.sources.zorder import column_minmax

    out: dict = {}
    for rel in rel_files:
        meta = pq.ParquetFile(os.path.join(path, rel)).metadata
        rec = {
            c: [v[0], v[1]]  # JSON-friendly lists
            for c, v in column_minmax(
                meta,
                cols,
                numeric_only=True,
                string_truncate=_STRING_BOUND_LEN,
            ).items()
            if v is not None
        }
        if with_counts:
            # "__n" from the footer THIS loop already opened — callers
            # collecting stats never pay a second per-file footer read
            rec["__n"] = [meta.num_rows, meta.num_rows]
        if rec:
            out[rel] = rec
    return out


def _bloom_canonical(value) -> bytes:
    """Type-tagged canonical bytes: numerically-EQUAL values hash the
    same whatever Python type delivered them (int 5, float 5.0,
    Decimal('5.00') — pyarrow's to_pylist and a caller's arithmetic
    routinely disagree on type), because a type-sensitive encoding would
    turn an equal probe into a FALSE NEGATIVE — a skipped file that
    contains the value. Cross-kind tags (int-like / fractional / string /
    bytes / bool) can only collide into false POSITIVES, which merely
    read a file.

    Integral-valued numbers encode their EXACT digits: int and Decimal
    convert exactly, and an integral float converts exactly too (every
    float whose is_integer() holds IS some exact integer). Folding
    int/Decimal through float here would round values beyond 2^53 and
    hash Decimal('9007199254740993') as ...992 — an exact-equality probe
    for the real digits would then miss the file (a false negative, the
    r10 ADVICE finding). The residual hazard — Spark's WIDENED equality
    making a bigint probe match a float-rounded double value — is handled
    by _bloom_encodings setting/probing BOTH encodings past 2^53."""
    if isinstance(value, bool):
        return b"b:1" if value else b"b:0"
    if isinstance(value, numbers.Integral):
        return b"i:" + str(int(value)).encode("ascii")
    if type(value).__name__ == "Decimal":
        if value.is_finite() and value == value.to_integral_value():
            return b"i:" + str(int(value)).encode("ascii")
        # non-integral Decimal: fold through float EXACTLY like the Real
        # branch below — a Decimal whose float fold is integral (e.g.
        # Decimal('2.0000000000000000001') -> 2.0) must encode 'i:2' so a
        # widened double probe 2.0 (which encodes 'i:2') still hits; an
        # 'f:2.0' here would be a silent false NEGATIVE under Spark's
        # decimal<->double widened equality (the r11 ADVICE finding)
        f = float(value)
        if f.is_integer():
            return b"i:" + str(int(f)).encode("ascii")
        return b"f:" + repr(f).encode("ascii")
    if isinstance(value, numbers.Real):
        f = float(value)
        if f.is_integer():
            return b"i:" + str(int(f)).encode("ascii")
        return b"f:" + repr(f).encode("ascii")
    if isinstance(value, (bytes, bytearray)):
        return b"y:" + bytes(value)
    return b"s:" + str(value).encode("utf-8")


# above 2^53 consecutive integers stop being float-representable, so
# Spark's type-widened equality (BIGINT col == DOUBLE lit and vice versa
# compare as double) can hold between values whose exact digits differ
_FLOAT_EXACT_INT = 1 << 53


def _bloom_encodings(value) -> list[bytes]:
    """Every canonical encoding this value must match under BOTH exact
    and float-WIDENED equality — used symmetrically at build and probe
    time, so widening can never produce a false negative:

    - the exact canonical bytes, always;
    - for integral-valued numbers beyond the float-exact range, ALSO the
      float-folded digits: a DOUBLE column holding 9007199254740992.0
      equals a BIGINT probe 9007199254740993 under Spark's widening, and
      the two exact encodings differ — building and probing the folded
      encoding too makes either side's bloom admit the other.

    A float-side value needs no extra work beyond the shared fold: its
    exact encoding already IS its float-folded encoding. Cost: the extra
    encoding only exists past 2^53 — everyday keys build/probe one."""
    encs = [_bloom_canonical(value)]
    if isinstance(value, bool):
        return encs
    v = None
    if isinstance(value, numbers.Integral):
        v = int(value)
    elif type(value).__name__ == "Decimal":
        if value.is_finite() and value == value.to_integral_value():
            v = int(value)
    elif isinstance(value, numbers.Real) and float(value).is_integer():
        v = int(float(value))
    if v is not None and abs(v) > _FLOAT_EXACT_INT:
        try:
            folded = b"i:" + str(int(float(v))).encode("ascii")
        except OverflowError:  # beyond float range: no widened twin exists
            return encs
        if folded != encs[0]:
            encs.append(folded)
    return encs


def _encoding_positions(enc: bytes, m: int, k: int) -> list[int]:
    """Deterministic double-hashing positions for one canonical encoding —
    md5 split into two 64-bit halves (never Python's salted hash()), so a
    bloom built at commit time answers probes from any later process
    identically."""
    import hashlib

    d = hashlib.md5(enc).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """BUILD-side positions: the union over ALL of `value`'s encodings
    (see _bloom_encodings) — a stored value sets every encoding a widened
    probe might arrive under. The PROBE side (_bloom_might_contain) is the
    dual: ANY single encoding fully present admits the file. Build=AND of
    encodings, probe=OR — this asymmetry is what keeps no-false-negatives
    under Spark's float-widened equality while exact probes stay exact."""
    out: list[int] = []
    for enc in _bloom_encodings(value):
        out.extend(_encoding_positions(enc, m, k))
    return out


# ~10 bits/value + 7 hashes ~= 1% false-positive rate; the cap bounds any
# one file's bloom at 16 KiB of bits (b64 ~21 KB in the sidecar) — beyond
# ~13k distinct values per file the fpp degrades gracefully instead of the
# sidecar growing without bound. Pruning soundness never depends on fpp:
# a false positive reads a file needlessly, a miss is impossible.
_BLOOM_BITS_PER_VALUE = 10
_BLOOM_K = 7
_BLOOM_MAX_BITS = 1 << 17


def _bloom_build_one(full: str, cols: tuple) -> dict:
    """ONE file's bloom record {col: {"m","k","b64"}} — the shared builder
    both the driver fallback and the distributed build call, so commit-time
    bits are byte-identical whichever side computes them (md5 double
    hashing, never Python's salted hash()). Sized from the footer's row
    count (an upper bound on distinct values — duplicates only make the
    filter sparser); the column folds in RECORD BATCHES so memory stays
    batch-bounded, never O(file rows)."""
    import base64

    import pyarrow.parquet as pq

    pf = pq.ParquetFile(full)
    present = [c for c in cols if c in pf.schema_arrow.names]
    if not present or pf.metadata.num_rows == 0:
        return {}
    m = min(
        _BLOOM_MAX_BITS,
        max(64, pf.metadata.num_rows * _BLOOM_BITS_PER_VALUE),
    )
    bits = {c: bytearray((m + 7) // 8) for c in present}
    seen = {c: False for c in present}
    for batch in pf.iter_batches(columns=list(present)):
        for c in present:
            for v in batch.column(c).to_pylist():
                if v is None:
                    continue
                seen[c] = True
                for pos in _bloom_positions(v, m, _BLOOM_K):
                    bits[c][pos >> 3] |= 1 << (pos & 7)
    return {
        c: {
            "m": m,
            "k": _BLOOM_K,
            "b64": base64.b64encode(bytes(bits[c])).decode("ascii"),
        }
        for c in present
        if seen[c]
    }


def _collect_blooms(path: str, rel_files: list[str], cols: tuple) -> dict:
    """Per-file bloom filters over each requested column's NON-NULL values,
    built from the freshly staged files at commit time — the DRIVER-side
    fallback (single file, or no session at hand); multi-file commits go
    through _collect_blooms_spark, which runs the same builder one task
    per file so the O(rows x cols) fold scales with EXECUTORS, not driver
    CPU. Returns {rel_file: {col: {"m", "k", "b64"}}}; files where a
    column is missing or all-NULL get no entry for it and are never
    skipped.

    This is the SOUND equality-skipping structure for the cases range
    stats cannot serve: string keys (parquet writers may truncate string
    min/max — the j9 soundness scope) and hash-distributed layouts (every
    file's range spans the whole key space, so range pruning keeps
    everything; a bloom still skips every file that provably lacks the
    probed value)."""
    out: dict = {}
    for rel in rel_files:
        rec = _bloom_build_one(os.path.join(path, rel), cols)
        if rec:
            out[rel] = rec
    return out


def _collect_blooms_spark(
    spark, path: str, rel_files: list[str], cols: tuple
) -> dict:
    """EXECUTOR-side commit-time bloom build: one task per staged file
    runs _bloom_build_one (the d10 partial-bloom pattern of
    functions/bloom.py applied to the commit path), and the driver
    collects only the finished KB-scale records — commit cost scales with
    executor count, not driver CPU, which is what a 100 TB commit needs.
    Bits are identical to the driver fallback by construction (shared
    builder, deterministic md5 positions). Single-file commits (or no
    session) fall back to the driver loop, where a Spark job is pure
    overhead."""
    if spark is None or len(rel_files) <= 1:
        return _collect_blooms(path, rel_files, cols)
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    cols_t = tuple(cols)
    root = os.path.abspath(path)

    def build(batches):
        for pdf in batches:
            out_f, out_j = [], []
            for rel in pdf["f"]:
                rec = _bloom_build_one(os.path.join(root, rel), cols_t)
                if rec:
                    out_f.append(rel)
                    out_j.append(json.dumps(rec))
            yield pd.DataFrame({"f": out_f, "j": out_j})

    fdf = spark.createDataFrame([(f,) for f in rel_files], "f string")
    n = max(1, min(len(rel_files), spark.sparkContext.defaultParallelism))
    rows = (
        fdf.repartition(n)
        .mapInPandas(
            build,
            StructType(
                [StructField("f", StringType()), StructField("j", StringType())]
            ),
        )
        .collect()
    )
    return {r["f"]: json.loads(r["j"]) for r in rows}


def _legacy_bloom_encodings(value) -> list[bytes]:
    """PROBE-ONLY compatibility encodings for sidecars built before an
    encoding change (sidecars carry no format version to gate on, so the
    probe side carries the history instead; extra probes can only cost a
    false POSITIVE — a read, never a wrong skip):

    - r12 change: a non-integral Decimal whose float fold IS integral
      (Decimal('2.0000000000000000001') -> 2.0) now canonicalizes 'i:2';
      pre-change sidecars set 'f:2.0' for it — probe that too. Rebuilt
      sidecars (compact/optimize) retire the need, but correctness must
      not depend on a maintenance pass having run."""
    if (
        type(value).__name__ == "Decimal"
        and value.is_finite()
        and value != value.to_integral_value()
    ):
        f = float(value)
        if f.is_integer():
            return [b"f:" + repr(f).encode("ascii")]
    return []


def _bloom_might_contain(bloom: dict, value) -> bool:
    """True when ANY of `value`'s encodings is fully present (probe=OR —
    the dual of build's set-every-encoding; see _bloom_positions)."""
    import base64

    bits = base64.b64decode(bloom["b64"])
    for enc in _bloom_encodings(value) + _legacy_bloom_encodings(value):
        if all(
            (bits[pos >> 3] >> (pos & 7)) & 1
            for pos in _encoding_positions(enc, bloom["m"], bloom["k"])
        ):
            return True
    return False


def _write_bloom_sidecar(path: str, blooms: dict) -> str:
    """Blooms live in a SIDECAR next to the manifests (Iceberg's puffin
    idea): the manifest itself stays KB-scale and maps file -> sidecar;
    an equality lookup lazy-loads only the sidecars its files reference.
    Content-addressed uuid name: a lost commit CAS leaves a small orphan
    sidecar, swept by vacuum's unreferenced-blooms pass. The 'blooms-'
    prefix keeps it invisible to the beyond-head manifest sweep."""
    os.makedirs(_vdir(path), exist_ok=True)  # may precede the first commit
    rel = os.path.join("_versions", f"blooms-{uuid.uuid4().hex}.json")
    _write_atomic(os.path.join(path, rel), blooms)
    return rel


# --------------------------------------------------------------------------
# Deletion vectors (merge-on-read row-level deletes — Delta's DV feature,
# r10 verdict task 3): a per-file bitmap of DELETED ROW POSITIONS stored in
# a commit sidecar; the data files themselves are NEVER rewritten. A 1-row
# DELETE on a 100 TB table costs one position-finding scan of the touched
# files + one KB-scale sidecar + one manifest commit — delete_where's
# copy-on-write rewrite of every touched file becomes read-time filtering
# instead. Reads anti-apply the positions (every reader funnels through
# _read_files); compact() materializes survivors and clears the vectors.
#
# Encoding: sorted row positions, delta-coded, LEB128 varints, base64 — a
# k-row delete costs O(k) bytes (~1-5 B/row), not O(file rows) bits. Delta
# uses roaring bitmaps for the same reason; varint deltas are the
# dependency-free equivalent at this sidecar scale. Read-side application
# is a broadcast ANTI-JOIN on (file name, row position) against the scan's
# _metadata.row_index — JVM-side row filtering, no Python in the hot path.
# The positions frame is built driver-side, so the honest bound is
# O(live deleted rows) driver memory per read — the reason compact() (which
# clears DVs) remains the remedy once deletes accrete; delete_where stays
# the right call for LARGE deletes, DVs for the narrow ones.
# --------------------------------------------------------------------------


def _dv_encode(sorted_positions) -> str:
    """base64(LEB128 varint deltas) of strictly-increasing row positions."""
    import base64

    out = bytearray()
    prev = -1
    for p in sorted_positions:
        d = int(p) - prev
        prev = int(p)
        while True:
            b = d & 0x7F
            d >>= 7
            if d:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return base64.b64encode(bytes(out)).decode("ascii")


def _dv_decode(b64: str) -> list[int]:
    import base64

    raw = base64.b64decode(b64)
    out: list[int] = []
    acc = shift = 0
    prev = -1
    for byte in raw:
        acc |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            prev += acc
            out.append(prev)
            acc = shift = 0
    if shift:
        # a trailing varint with its continuation bit still set: the
        # payload was truncated mid-position — silently dropping it would
        # serve deleted rows back (the _load_dvs docstring's contract)
        raise ValueError("damaged deletion vector: dangling continuation byte")
    return out


def _write_dv_sidecar(path: str, dvs: dict) -> str:
    """DV sidecar next to the manifests (same lifecycle as bloom sidecars:
    content-addressed uuid name, orphans from a lost CAS swept age-gated by
    vacuum, referenced sidecars live as long as their manifests). Payload:
    {rel_file: {"card": n_deleted, "b64": varint-delta positions}}."""
    os.makedirs(_vdir(path), exist_ok=True)
    rel = os.path.join("_versions", f"dv-{uuid.uuid4().hex}.json")
    _write_atomic(os.path.join(path, rel), dvs)
    return rel


def _load_dvs(path: str, manifest: dict, files: list[str]) -> dict:
    """{rel_file: sorted deleted positions} for the subset of `files` that
    carry a DV under this manifest — lazy: only referenced sidecars load,
    each parsed once per call. A damaged sidecar raises: silently serving
    deleted rows back would be a CORRECTNESS failure, not a degraded read
    (unlike blooms, where a lost sidecar merely skips less)."""
    dmap = manifest.get("dvs") or {}
    sidecars: dict = {}
    out: dict = {}
    for f in files:
        sc = dmap.get(f)
        if sc is None:
            continue
        if sc not in sidecars:
            with open(os.path.join(path, sc), encoding="utf-8") as fh:
                sidecars[sc] = json.load(fh)
        rec = sidecars[sc].get(f)
        if rec is not None:
            pos = _dv_decode(rec["b64"])
            if len(pos) != rec["card"]:
                # bit-truncated-but-valid-JSON sidecar: decoding fewer
                # positions than the recorded cardinality would resurrect
                # deleted rows — raise, per this function's contract
                raise ValueError(
                    f"damaged deletion vector for {f}: decoded {len(pos)} "
                    f"positions, sidecar records card={rec['card']}"
                )
            out[f] = pos
    return out


def _stage_files(df: DataFrame, path: str) -> list[str]:
    """Write `df`'s rows as new immutable data files under data/ and return
    their table-relative names. Staged files are INVISIBLE until a manifest
    commit references them (a crash here leaves only vacuum-able orphans) —
    this is step 1 of the commit protocol, shared by write_version and
    write_version_parts."""
    data_dir = os.path.join(path, "data")
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(staging)
    os.makedirs(data_dir, exist_ok=True)
    new_files = []
    for fn in sorted(os.listdir(staging)):
        if fn.endswith(".parquet"):
            dst = f"{uuid.uuid4().hex}.parquet"
            os.replace(os.path.join(staging, fn), os.path.join(data_dir, dst))
            new_files.append(os.path.join("data", dst))
    # remove staging leftovers (_SUCCESS etc.)
    for fn in os.listdir(staging):
        os.remove(os.path.join(staging, fn))
    os.rmdir(staging)
    return new_files


def _stage_rows(
    path: str,
    base: _Base,
    parts: list,
    colmap: dict | None,
    collect_stats: tuple = (),
    collect_blooms: tuple = (),
    rid_materialized: bool = False,
    layout: tuple | None = None,
) -> tuple[list[str], dict, dict, int | None]:
    """Stage every DataFrame in `parts` as its own file group and stamp
    the new files' commit metadata — the one staging path of every writer
    that adds rows. Returns (new_files, stats, blooms, next_row_id), the
    maps covering the new files only.

    Each file's stats entry comes from ONE footer read: "__v" (its add
    version, the Iceberg data sequence number: equality deletes apply
    only to files added BEFORE them), "__n" (Iceberg's record_count,
    which makes COUNT(*) a manifest fold — aggregate_metadata), min/max
    of `collect_stats` (logical names) and "__ridm" when the rows carry
    materialized row ids. Row-lineage tables then get fresh id blocks
    (_assign_row_ids) and `collect_blooms` a bloom sidecar. `layout` =
    (active spec fields, commit schema) lays the files out one group per
    partition tuple and records each tuple as synthetic [v, v] stats."""
    phys_of = (colmap or {}).get
    new_files: list[str] = []
    pstats: dict = {}
    for p in parts:
        staged: list[str] = []
        if layout:
            staged, ps = _stage_partitioned(p, path, layout[0], colmap, layout[1])
            pstats.update(ps)
        if not staged:  # unpartitioned, or empty input under a spec
            staged = _stage_files(_stage_physical(p, colmap), path)
        new_files.extend(staged)
    stats = _footer_minmax(
        path, new_files, tuple(phys_of(c, c) for c in collect_stats),
        with_counts=True,
    )
    for f in new_files:
        rec = stats[f]
        rec["__v"] = [base.version + 1, base.version + 1]
        rec.update(pstats.get(f) or {})
        if rid_materialized:
            # this file's parquet bytes CARRY their row ids — the lineage
            # read must trust them, never mint a fresh block
            rec["__ridm"] = [1, 1]
    next_rid = _assign_row_ids(path, base.m, new_files, stats)
    blooms: dict = {}
    if collect_blooms:
        built = _collect_blooms_spark(
            parts[0].sparkSession if parts else None, path, new_files,
            tuple(phys_of(c, c) for c in collect_blooms),
        )
        if built:
            sidecar = _write_bloom_sidecar(path, built)
            blooms = {f: sidecar for f in built}
    return new_files, stats, blooms, next_rid


UNIQUE_PREFIX = "unique:"


def _enforce_unique(
    spark: SparkSession,
    path: str,
    df,
    uniques: list,
    against: tuple | None,
    exempt_col: str | None = None,
) -> None:
    """UNIQUE enforcement at the commit boundary (the PRIMARY KEY half
    Delta famously lacks): the staged rows must hold distinct non-NULL
    values per unique column (SQL UNIQUE: NULLs never collide), and —
    when `against` supplies (manifest, files) context — must not collide
    with the rows already live in those files. The cross-check is
    manifest-PRUNED: the staged key span plans via _plan_pruned_files
    (summary-first on sharded manifests), the kept set intersects the
    caller's `against` files, and the probe is one broadcast semi-join of
    the batch keys — O(batch) + O(overlapping files), never O(table).
    Reads go through _read_files, so rows dead under deletion vectors or
    equality deletes never count as conflicts."""
    from pyspark.sql import functions as F

    for name, ucol in uniques:
        if ucol not in df.columns:
            raise ValueError(
                f"UNIQUE constraint {name!r} references {ucol!r}, absent "
                "from this commit's schema; drop the constraint first"
            )
        keys = df.select(F.col(ucol)).filter(F.col(ucol).isNotNull())
        stat = keys.agg(
            F.min(ucol).alias("lo"),
            F.max(ucol).alias("hi"),
            (F.count(ucol) - F.count_distinct(F.col(ucol))).alias("dups"),
        ).first()
        if stat["dups"]:
            raise ConstraintViolationError(
                f"UNIQUE constraint {name!r} ({ucol}) violated by duplicate "
                "values within this commit; nothing was committed"
            )
        if against is None or stat["lo"] is None or ucol == exempt_col:
            # exempt_col: this commit's equality delete retires every
            # older copy of the staged keys on that column — colliding
            # parent rows are dead on arrival, not violations
            continue
        a_m, a_files = against  # a_files None = every file in a_m
        if a_files is not None and not a_files:
            continue
        read_m, kept, _skipped, _total = _plan_pruned_files(
            path, a_m, ucol, stat["lo"], stat["hi"]
        )
        if a_files is not None:
            a_set = set(a_files)
            kept = [f for f in kept if f in a_set]
        if not kept:
            continue
        hit = (
            _read_files(spark, path, read_m, kept)
            .select(F.col(ucol))
            .join(F.broadcast(keys), ucol, "left_semi")
            .limit(1)
            .collect()
        )
        if hit:
            raise ConstraintViolationError(
                f"UNIQUE constraint {name!r} ({ucol}) violated: value "
                f"{hit[0][0]!r} already exists in the table; nothing was "
                "committed"
            )


def _enforce_constraints(
    spark: SparkSession,
    path: str,
    staged: list[str],
    constraints: dict,
    schema_json: str | None,
    colmap: dict | None = None,
    unique_against: tuple | None = None,
    unique_exempt_col: str | None = None,
) -> None:
    """CHECK enforcement at the commit boundary: probe the STAGED files
    (what will actually be committed — never a recomputation of the
    caller's possibly-non-deterministic DataFrame) for any row where a
    constraint expression is FALSE (SQL CHECK truth: NULL passes). ONE
    job for all constraints; raises ConstraintViolationError naming the
    first violated constraint, leaving the staged files as invisible
    vacuum-able orphans. Reads with the COMMIT schema when available, so
    a merge_schema append that omitted a constrained column serves NULL
    for it (which passes CHECK) instead of failing analysis.

    Constraint entries whose recorded expression starts with
    ``unique:<col>`` route to _enforce_unique instead of the CHECK probe
    — `unique_against` supplies the (manifest, files) the staged rows
    must not collide with (None = in-commit distinctness only: the
    overwrite / DV-update / CDC-upsert paths, where the same commit
    retires the rows a naive cross-check would falsely collide with)."""
    if not constraints or not staged:
        return
    from pyspark.sql import functions as F

    reader = spark.read
    if schema_json is not None:
        logical = _schema_from_json(schema_json)
        reader = reader.schema(_physical_struct(logical, colmap))
    df = reader.parquet(*[os.path.join(path, f) for f in staged])
    if colmap and schema_json is not None:
        cm = {v: k for k, v in colmap.items()}
        df = df.select(*[F.col(c).alias(cm.get(c, c)) for c in df.columns])
    uniques = [
        (n, e[len(UNIQUE_PREFIX):])
        for n, e in sorted(constraints.items())
        if e.startswith(UNIQUE_PREFIX)
    ]
    if uniques:
        _enforce_unique(
            spark, path, df, uniques, unique_against,
            exempt_col=unique_exempt_col,
        )
    checks = sorted(
        (n, e)
        for n, e in constraints.items()
        if not e.startswith(UNIQUE_PREFIX)
    )
    if not checks:
        return
    try:
        probe = df.select(
            *[
                (~F.coalesce(F.expr(expr), F.lit(True))).alias(f"__viol_{i}")
                for i, (_, expr) in enumerate(checks)
            ]
        )
        any_viol = None
        for i in range(len(checks)):
            c = F.col(f"__viol_{i}")
            any_viol = c if any_viol is None else (any_viol | c)
        hit = probe.filter(any_viol).limit(1).collect()
    except Exception as ex:  # typed refusal beats a raw analysis error
        from pyspark.errors import AnalysisException

        if isinstance(ex, AnalysisException):
            raise ValueError(
                "a CHECK constraint references a column absent from this "
                f"commit's schema ({[n for n, _ in checks]}); drop the "
                "constraint before overwriting with a narrower schema"
            ) from ex
        raise
    if hit:
        i = next(j for j in range(len(checks)) if hit[0][f"__viol_{j}"])
        name, expr = checks[i]
        raise ConstraintViolationError(
            f"CHECK constraint {name!r} ({expr}) violated by a row in "
            f"this commit; nothing was committed"
        )


# Iceberg v3 type-promotion rules: a stored value reads identically under
# the wider type, so widening is METADATA-ONLY (old files keep their narrow
# physical encoding; the recorded schema read serves the wide type — Spark's
# parquet reader up-converts int32->int64 and float->double natively,
# verified on 4.1.2). Narrowing or cross-family changes remain refusals.
_WIDENINGS = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def _wider_type(a, b):
    """The wider of two SAME-FAMILY promotable types, or None when the
    pair is not a legal widening in either direction."""
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if bn in _WIDENINGS.get(an, ()):
        return b
    if an in _WIDENINGS.get(bn, ()):
        return a
    if an == bn == "decimal" and a.scale == b.scale:
        return a if a.precision >= b.precision else b
    return None


def widen_column(path: str, col: str, new_type) -> int:
    """ALTER TABLE ... ALTER COLUMN col TYPE <wider> — TYPE WIDENING as a
    METADATA-ONLY commit (Iceberg v3 type promotion): byte->short->int->
    long, float->double, decimal(P,S)->decimal(P',S) with P' > P. The
    file list is untouched; old files keep their narrow physical encoding
    and every read serves the recorded (wide) schema — Spark's parquet
    reader up-converts natively. Stats/blooms/partition tuples stay valid
    (numeric probes are type-insensitive by design throughout this
    module). Appends after the widen must carry the WIDE type (the
    no-silent-retype append rule still holds — cast explicitly). Time
    travel before the widen serves the narrow type, per the
    schema-per-snapshot contract. Anything not a legal promotion refuses
    typed."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    base = _open_base(path, materialize=False)
    m = base.m
    if m.get("schema") is None:
        raise ValueError("legacy manifest records no schema to widen")
    schema = _schema_from_json(m["schema"])
    if col not in schema.names:
        raise ValueError(f"no column {col!r} to widen")
    old_t = schema[col].dataType
    new_t = (
        _parse_datatype_string(new_type) if isinstance(new_type, str) else new_type
    )
    if new_t == old_t:
        raise ValueError(f"column {col!r} already has type {old_t.simpleString()}")
    if _wider_type(old_t, new_t) != new_t:
        raise ValueError(
            f"cannot widen {col!r} from {old_t.simpleString()} to "
            f"{new_t.simpleString()}: only byte->short->int->long, "
            f"float->double and same-scale decimal precision growth are "
            f"value-preserving promotions"
        )
    new_schema = StructType(
        [
            StructField(f.name, new_t if f.name == col else f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    return _commit(path, base, "alter-widen", schema=new_schema.json())


def add_column(path: str, name: str, dtype, default=None) -> int:
    """ALTER TABLE ADD COLUMN [WITH DEFAULT] — a METADATA-ONLY commit
    (Iceberg v3 ``initial-default``): the logical schema gains the
    column; NO data file is touched. Files added BEFORE this commit
    serve `default` for the column (null when no default) — the value
    lives inline in the manifest, scoped by the same per-file add-version
    ("__v") channel equality deletes use, so a later rewrite
    (compact/purge/zorder) materializes it physically and new files
    simply read their own bytes. Time travel before the add serves the
    old schema, per the schema-per-snapshot contract.

    Appends after the add should carry the column explicitly; an append
    that omits it writes files that serve NULL (not the default) — the
    initial-default covers the PRE-ADD history only, exactly Iceberg's
    semantics (write-defaults are the caller's job).

    `default` must be JSON-plain (int/float/str/bool) and in the
    column's own type family — string values also serve date/timestamp
    columns (cast from ISO form at read). A re-added previously-dropped
    name gets a fresh physical (never aliasing retired bytes)."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    base = _open_base(path, materialize=False)
    m = base.m
    if m.get("schema") is None:
        raise ValueError("legacy manifest records no schema to add to")
    schema = _schema_from_json(m["schema"])
    if name in schema.names:
        raise ValueError(f"column {name!r} already exists")
    new_t = _parse_datatype_string(dtype) if isinstance(dtype, str) else dtype
    if default is not None:
        tn = new_t.typeName()
        ok = (
            (isinstance(default, bool) and tn == "boolean")
            or (
                isinstance(default, (int, float))
                and not isinstance(default, bool)
                and tn in (
                    "byte", "short", "integer", "long", "float", "double",
                    "decimal",
                )
            )
            or (
                isinstance(default, str)
                and tn in (
                    "string", "varchar", "char", "date", "timestamp",
                    "timestamp_ntz",
                )
            )
        )
        if not ok:
            raise TypeError(
                f"default {default!r} is not in {tn}'s type family "
                f"(JSON-plain values only; ISO strings for date/timestamp)"
            )
    # physical naming: a retired (dropped) physical must never be aliased
    # onto — old files still hold its stale bytes (the append-path rule)
    changes: dict = {
        "schema": StructType(
            list(schema.fields) + [StructField(name, new_t, True)]
        ).json()
    }
    cm = m.get("colmap") or {}
    dropped = m.get("dropped_physicals") or []
    phys = name
    if cm or dropped:
        full_cm = {n: cm.get(n, n) for n in schema.names}
        forbidden = set(full_cm.values()) | set(dropped)
        if name in forbidden:
            phys = f"{name}_{uuid.uuid4().hex[:8]}"
        changes["colmap"] = {**full_cm, name: phys}
    if default is not None:
        # seq = this commit's version: covers every file in the current
        # snapshot (add versions <= v < v+1), nothing written after
        changes["defaults"] = list(m.get("defaults") or []) + [
            {"col": phys, "value": default, "seq": base.version + 1}
        ]
    return _commit(path, base, "alter-add", **changes)


def rename_column(path: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN — a METADATA-ONLY commit (zero data
    rewrite, Delta's column-mapping name mode): the logical schema gets
    the new name while every data file keeps the column's STABLE physical
    name; reads alias physical -> logical, writes alias back. Stats and
    bloom sidecars are keyed by the physical name, so every pruning
    structure survives the rename untouched. Time travel is
    schema-correct: versions before the rename serve the OLD name.
    Refused when a CHECK constraint mentions the old name (drop and
    re-add the constraint against the new name — silent rewrite of a
    recorded expression is how audits rot)."""
    # raw read: everything an ALTER touches is a manifest-list scalar
    base = _open_base(path, materialize=False)
    m = base.m
    if m.get("schema") is None:
        raise ValueError("legacy manifest has no recorded schema to rename in")
    schema = _schema_from_json(m["schema"])
    if old not in schema.names:
        raise ValueError(f"no column {old!r} to rename")
    if new in schema.names:
        raise ValueError(f"column {new!r} already exists")
    hit = _constraint_mentions(m.get("constraints"), old)
    if hit:
        raise ValueError(
            f"CHECK constraint(s) {hit} mention column {old!r}; drop them "
            "before renaming and re-add against the new name"
        )
    from pyspark.sql.types import StructField, StructType

    cm = dict(m.get("colmap") or {n: n for n in schema.names})
    cm[new] = cm.pop(old)  # the physical name never changes
    new_schema = StructType(
        [
            StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    return _commit(path, base, "alter", schema=new_schema.json(), colmap=cm)


def drop_column(path: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN — a METADATA-ONLY commit (zero data
    rewrite): the logical schema loses the column; old files keep its
    physical bytes, which readers simply never project (parquet reads
    only requested columns, so the dead bytes cost nothing at scan
    time). The retired physical name is RECORDED so a later re-added
    column with the same logical name gets a fresh physical and can
    never alias onto the stale data. Time travel before the drop still
    serves the column. Refused for the last column and when a CHECK
    constraint mentions it."""
    base = _open_base(path, materialize=False)  # scalars suffice
    m = base.m
    if m.get("schema") is None:
        raise ValueError("legacy manifest has no recorded schema to drop from")
    schema = _schema_from_json(m["schema"])
    if name not in schema.names:
        raise ValueError(f"no column {name!r} to drop")
    if len(schema.fields) == 1:
        raise ValueError("cannot drop the last column")
    hit = _constraint_mentions(m.get("constraints"), name)
    if hit:
        raise ValueError(
            f"CHECK constraint(s) {hit} mention column {name!r}; drop them "
            "before dropping the column"
        )
    retiring = (m.get("colmap") or {}).get(name, name)
    if any(e["col"] == retiring for e in m.get("eqdeletes") or []):
        raise ValueError(
            f"live equality delete(s) reference column {name!r}; "
            "materialize them first (compact)"
        )
    from pyspark.sql.types import StructType

    cm = dict(m.get("colmap") or {n: n for n in schema.names})
    retired = cm.pop(name)
    dropped = list(m.get("dropped_physicals") or []) + [retired]
    new_schema = StructType([f for f in schema.fields if f.name != name])
    payload: dict = {}
    if "shards" not in m:
        # strip the dead column's pruning metadata (stats are
        # physical-keyed). Sharded parents skip the strip: rewriting every
        # bucket to drop dead-weight entries would be the O(table) cost
        # ALTERs must never pay, and stale stats on a RETIRED physical are
        # harmless by construction (retired names are never reused, so no
        # probe ever consults them).
        stats = {
            f: {c: r for c, r in rec.items() if c != retired}
            for f, rec in (m.get("stats") or {}).items()
        }
        payload = {
            "files": m["files"],
            "stats": {f: rec for f, rec in stats.items() if rec},
            "blooms": m.get("blooms"),
            "dvs": m.get("dvs"),
        }
    return _commit(
        path,
        base,
        "alter",
        schema=new_schema.json(),
        colmap=cm,
        dropped_physicals=dropped,
        # the retired physical's initial-default dies with the column (a
        # re-added name gets a fresh physical, so the stale entry could
        # never match — dropping it just keeps the manifest clean)
        defaults=[
            e for e in (m.get("defaults") or []) if e["col"] != retired
        ],
        **payload,
    )


def table_constraints(path: str, version: int | None = None) -> dict:
    """The CHECK constraints recorded at `version` (default: head) —
    name -> SQL expression. Constraints are per-version metadata like the
    schema, so time travel answers 'what was enforced then'."""
    v = current_version(path) if version is None else version
    if v == 0:
        return {}
    _check_version(path, v)
    # raw read: constraints are a manifest-list scalar
    return dict(
        _read_manifest(path, v, materialize=False).get("constraints") or {}
    )


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT name CHECK (expr) — Delta's contract:
    EXISTING rows are validated first (one probe over the snapshot; a
    violation raises and commits nothing), then a METADATA-ONLY version
    commits with the constraint recorded (same file list — the change
    feed across it is empty). Every later commit on any write path
    enforces it against the staged rows until drop_constraint."""
    if expr.startswith(UNIQUE_PREFIX):
        raise ValueError(
            f"the {UNIQUE_PREFIX!r} prefix is reserved for "
            "add_unique_constraint's recorded form"
        )
    base = _open_base(path, materialize=False)  # scalars suffice
    cons = dict(base.m.get("constraints") or {})
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
    from pyspark.sql import functions as F

    existing = read_version(spark, path, base.version)
    hit = (
        existing.filter(~F.coalesce(F.expr(expr), F.lit(True)))
        .limit(1)
        .collect()
    )
    if hit:
        raise ConstraintViolationError(
            f"cannot add CHECK constraint {name!r} ({expr}): existing rows "
            f"violate it, e.g. {hit[0].asDict()}"
        )
    cons[name] = expr
    return _commit(path, base, "alter", constraints=cons)


def add_unique_constraint(
    spark: SparkSession, path: str, name: str, col: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT name UNIQUE (col) — the PRIMARY-KEY-
    style guarantee the mainstream lakehouse formats decline to enforce
    (Delta/Iceberg record PK metadata as informational only). EXISTING
    rows are validated first (one distinct-count probe; duplicates
    refuse and commit nothing), then a METADATA-ONLY version records the
    constraint as ``unique:<col>`` in the constraints channel, where
    every later commit enforces it via _enforce_unique:

    - in-commit duplicates always refuse (every write path);
    - appends cross-check against the PARENT snapshot with
      manifest-pruned IO (staged key span -> _plan_pruned_files ->
      broadcast semi-join): O(batch) + O(overlapping files);
    - rewrite commits (merge, replace_where, update_where — the
      write_version_parts family) cross-check against the files that
      RIDE ALONG unrewritten; rows retiring in the same commit never
      count as conflicts;
    - paths that retire old copies within the commit itself (overwrite,
      DV updates, CDC upserts whose equality delete covers the key)
      enforce in-commit distinctness only — their uniqueness-vs-table is
      held by construction when the unique column IS the mutation key,
      and an UPDATE that sets the unique column to an existing value is
      the documented enforcement gap (probe before updating).

    NULL values never collide (SQL UNIQUE). drop_constraint removes the
    guarantee like any CHECK."""
    base = _open_base(path, materialize=False)
    schema_json = base.m.get("schema")
    if schema_json and col not in _schema_from_json(schema_json).names:
        raise ValueError(f"{col!r} is not a column of {path}")
    cons = dict(base.m.get("constraints") or {})
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
    from pyspark.sql import functions as F

    dup = (
        read_version(spark, path, base.version)
        .filter(F.col(col).isNotNull())
        .groupBy(col)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ConstraintViolationError(
            f"cannot add UNIQUE constraint {name!r} ({col}): existing rows "
            f"duplicate value {dup[0][0]!r}"
        )
    cons[name] = f"{UNIQUE_PREFIX}{col}"
    return _commit(path, base, "alter", constraints=cons)


def drop_constraint(path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT — a metadata-only commit without the
    named constraint. Raises if it does not exist (dropping a typo'd name
    silently would leave the caller believing enforcement stopped)."""
    base = _open_base(path, materialize=False)  # scalars suffice
    cons = dict(base.m.get("constraints") or {})
    if name not in cons:
        raise ValueError(f"no constraint {name!r} at {path}")
    del cons[name]
    return _commit(path, base, "alter", constraints=cons)


# ---------------------------------------------------------------------------
# Partition-spec transforms + spec evolution (Iceberg spec.md "Partitioning")
#
# A table may declare a PARTITION SPEC — ordered (transform, column[, param])
# fields: identity / year / month / day / bucket(N) / truncate(W). Writers lay
# data out one file group per partition TUPLE; each file records its tuple as
# synthetic per-file stats (key "__p:<t>[<p>]:<col>" -> [v, v]) in the SAME
# stats map range pruning reads. Partition pruning is therefore stats pruning
# over transform values: _plan_pruned_files derives transform-space probes
# from the raw predicate and a file is skipped when ANY probe proves its
# recorded value disjoint. Reusing the stats channel is what makes every
# existing consumer — sharded manifests (shard summaries aggregate the
# synthetic keys like any column), DV commits (carry stats verbatim), SCD2
# file reuse, vacuum, time travel — carry partition metadata with zero new
# code paths.
#
# Spec EVOLUTION is Iceberg's: alter_partition_spec commits a new spec id
# that applies to files written AFTER it; existing files keep their original
# vintage's synthetic stats and keep pruning under them (no rewrite). A read
# probes EVERY recorded vintage — each file answers under whichever spec laid
# it out; files with no tuple (pre-spec, compacted, SCD2 parts) are simply
# never skipped. Soundness: every transform derivation below is either
# MONOTONE (closed range -> closed range: identity/year/month/day/truncate)
# or derived only from an equality probe (bucket), and an underivable probe
# contributes no pruning rather than a wrong skip.
# ---------------------------------------------------------------------------

# transform name -> whether it takes an int parameter (the full Iceberg
# transform set: identity/year/month/day/hour/bucket(N)/truncate(W), plus
# sbucket(N) — bucket via SPARK's own hash (murmur3 seed 42, the bucketBy
# partition-id expression) instead of crc32, which makes the layout
# storage-bucket compatible: sources/spj.py can expose the snapshot as a
# genuine bucketed catalog table and join it with zero Exchange)
_PARTITION_TRANSFORMS = {
    "identity": False,
    "year": False,
    "month": False,
    "day": False,
    "hour": False,
    "bucket": True,
    "sbucket": True,
    "truncate": True,
}


def _pstat_key(t: str, phys: str, param) -> str:
    """Synthetic stats key for one spec field — the '__p:' prefix keeps it
    out of any physical column's namespace, and the key doubles as the
    partitionBy directory name at stage time."""
    return f"__p:{t}[{param}]:{phys}" if param is not None else f"__p:{t}:{phys}"


def _parse_partition_spec(partition_by, schema, colmap) -> list:
    """Validate a user spec into canonical [transform, PHYSICAL col, param]
    triples (physical names: specs survive renames exactly like stats).
    Transform/type pairs are checked here so a bad spec fails the DECLARING
    commit, not a later writer: year/month/day need a date/timestamp
    column; bucket and truncate need int-family or string (bucket's
    probe-side derivation is crc32 of Spark's cast-to-string, which is
    reproducible driver-side only for those families)."""
    cm = colmap or {}
    types = {f.name: f.dataType for f in schema.fields}
    fields: list = []
    seen: set = set()
    for item in tuple(partition_by):
        if isinstance(item, str):
            item = ("identity", item)
        t, col, *rest = item
        t = str(t).lower()
        if t not in _PARTITION_TRANSFORMS:
            raise ValueError(
                f"unknown partition transform {t!r}; supported: "
                f"{sorted(_PARTITION_TRANSFORMS)}"
            )
        param = rest[0] if rest else None
        if _PARTITION_TRANSFORMS[t]:
            if not isinstance(param, int) or isinstance(param, bool) or param <= 0:
                raise ValueError(f"{t}() requires a positive int parameter")
        elif rest:
            raise ValueError(f"{t}() takes no parameter")
        if col not in types:
            raise ValueError(f"partition column {col!r} not in the schema")
        tn = types[col].typeName()
        if t in ("year", "month", "day") and tn not in (
            "date", "timestamp", "timestamp_ntz"
        ):
            raise ValueError(f"{t}() needs a date/timestamp column; {col} is {tn}")
        if t == "hour" and tn not in ("timestamp", "timestamp_ntz"):
            raise ValueError(f"hour() needs a timestamp column; {col} is {tn}")
        if t in ("bucket", "sbucket", "truncate") and tn not in (
            "byte", "short", "integer", "long", "string", "varchar", "char"
        ):
            raise ValueError(
                f"{t}() supports int-family and string columns; {col} is {tn}"
            )
        trip = [t, cm.get(col, col), param]
        if tuple(trip) in seen:
            raise ValueError(f"duplicate partition field {trip}")
        seen.add(tuple(trip))
        fields.append(trip)
    return fields


def _partition_expr(t: str, phys: str, param, dtype):
    """Spark Column computing one spec field's transform value — the WRITE
    side of the derivation _derive_probe reproduces driver-side."""
    from pyspark.sql import functions as F

    c = F.col(phys)
    if t == "identity":
        return c
    if t == "year":
        return (F.year(c.cast("date")) - F.lit(1970)).cast("int")
    if t == "month":
        d = c.cast("date")
        return ((F.year(d) - F.lit(1970)) * 12 + F.month(d) - 1).cast("int")
    if t == "day":
        return F.datediff(c.cast("date"), F.to_date(F.lit("1970-01-01"))).cast(
            "int"
        )
    if t == "hour":
        # epoch hours; the session runs UTC so the driver-side derivation
        # (naive micros // 3.6e9) matches exactly
        return F.floor(
            F.unix_micros(c.cast("timestamp")) / F.lit(3_600_000_000)
        ).cast("int")
    if t == "bucket":
        # crc32 over Spark's canonical string form: identical bytes are
        # reproducible driver-side with zlib.crc32 (same polynomial as
        # java.util.zip.CRC32) without reimplementing Spark's hash
        return F.pmod(F.crc32(c.cast("string")), F.lit(int(param))).cast("int")
    if t == "sbucket":
        # Spark's OWN bucket function: pmod(murmur3_hash(col), N) is
        # byte-identical to the bucket id bucketBy assigns, so this layout
        # doubles as a storage-bucketed table (spj.py); the driver-side
        # probe twin is functions/murmur3.spark_hash
        return F.pmod(F.hash(c), F.lit(int(param))).cast("int")
    if t == "truncate":
        if dtype.typeName() in ("string", "varchar", "char"):
            return F.substring(c, 1, int(param))
        # floor to the W-multiple (Iceberg truncate semantics): pmod is the
        # POSITIVE remainder, so negatives floor correctly too
        return (c - F.pmod(c, F.lit(int(param)))).cast(dtype)
    raise ValueError(f"unknown partition transform {t!r}")


def _pvalue_parse(t: str, param, raw: str, dtype):
    """Parse one partitionBy directory value back into the comparison space
    _derive_probe probes in; None (unparseable / exotic type) records no
    stat — the file is simply never skipped on this field."""
    tn = dtype.typeName()
    try:
        if t in ("year", "month", "day", "hour", "bucket", "sbucket"):
            return int(raw)
        if t == "truncate":
            return raw if tn in ("string", "varchar", "char") else int(raw)
        # identity: restore the column's own ordering space (ISO date
        # strings order lexically, so dates stay strings on both sides)
        if tn in ("byte", "short", "integer", "long"):
            return int(raw)
        if tn in ("float", "double"):
            return float(raw)
        if tn in ("string", "varchar", "char", "date"):
            return raw
        return None
    except ValueError:
        return None


def _ymd_value(t: str, v):
    """year/month/day/hour transform value of one raw probe endpoint
    (str / date / datetime); None when unparseable. Closed raw ranges map
    to closed transform ranges because all four are monotone."""
    import datetime as dt

    if t == "hour":
        if isinstance(v, dt.datetime):
            ts = v
        elif isinstance(v, dt.date):
            ts = dt.datetime(v.year, v.month, v.day)
        elif isinstance(v, str):
            try:
                ts = dt.datetime.fromisoformat(v.strip())
            except ValueError:
                return None
        else:
            return None
        if ts.tzinfo is not None:
            # an AWARE probe (tz-suffixed ISO string / tz-aware datetime)
            # normalizes to UTC wall time — the session runs UTC, so this
            # matches the write side instead of crashing the subtraction
            ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
        # floor-division epoch hours (naive, matching the UTC session)
        epoch = dt.datetime(1970, 1, 1)
        return int((ts - epoch) // dt.timedelta(hours=1))
    if isinstance(v, dt.datetime):
        d = v.date()
    elif isinstance(v, dt.date):
        d = v
    elif isinstance(v, str):
        try:
            d = dt.date.fromisoformat(v.strip()[:10])
        except ValueError:
            return None
    else:
        return None
    if t == "day":
        return (d - dt.date(1970, 1, 1)).days
    if t == "month":
        return (d.year - 1970) * 12 + d.month - 1
    return d.year - 1970


def _bucket_probe_str(v):
    """The string Spark's CAST(col AS STRING) yields for a column value
    equal to probe `v` on a bucket-legal column (int-family or string);
    None refuses the derivation (no pruning)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real) and float(v).is_integer():
        return str(int(float(v)))  # widened probe 5.0 on a bigint column
    return None


def _derive_probe(t: str, param, lo, hi):
    """(lo', hi') in TRANSFORM space covering every raw value in [lo, hi],
    or None when the transform cannot bound the probe (bucket over a
    genuine range; an unparseable endpoint) — None means no pruning from
    this field, never a wrong skip."""
    if lo is None or hi is None:
        return None
    if t == "identity":
        import datetime as dt

        def norm(v):
            if isinstance(v, dt.datetime):
                return None  # date-typed identity stats are ISO DATE strings
            if isinstance(v, dt.date):
                return v.isoformat()
            if isinstance(v, (int, float, str)) and not isinstance(v, bool):
                return v
            return None

        lo2, hi2 = norm(lo), norm(hi)
        return None if lo2 is None or hi2 is None else (lo2, hi2)
    if t in ("year", "month", "day", "hour"):
        d0, d1 = _ymd_value(t, lo), _ymd_value(t, hi)
        return None if d0 is None or d1 is None else (d0, d1)
    if t == "bucket":
        if lo != hi:
            return None
        s = _bucket_probe_str(lo)
        if s is None:
            return None
        import zlib

        b = zlib.crc32(s.encode("utf-8")) % int(param)
        return (b, b)
    if t == "truncate":
        w = int(param)
        if isinstance(lo, str) and isinstance(hi, str):
            return (lo[:w], hi[:w])
        if (
            isinstance(lo, numbers.Integral)
            and isinstance(hi, numbers.Integral)
            and not isinstance(lo, bool)
            and not isinstance(hi, bool)
        ):
            return (int(lo) - int(lo) % w, int(hi) - int(hi) % w)
        return None
    return None


def _partition_probes(m: dict, pcol: str, lo, hi) -> list:
    """Transform-space (stat_key, lo', hi') probes for a raw predicate on
    physical column `pcol`, across EVERY recorded spec vintage — each file
    answers under whichever spec laid it out, which is exactly how spec
    evolution prunes both vintages in one read. BUCKET probes additionally
    require the probe value's kind to match the column's type family: the
    bucket stat is an int whatever the column holds, so a cross-type
    probe (numeric on a string bucket column) would derive the WRONG
    bucket and skip unsoundly — refuse the derivation instead (the
    _stat_disjoint cross-type rule, applied where the type info would
    otherwise be destroyed)."""
    specs = m.get("pspecs")
    if not specs:
        return []
    bucket_tn = None
    if m.get("schema") is not None:
        cm = m.get("colmap") or {}
        bucket_tn = {
            cm.get(f.name, f.name): f.dataType.typeName()
            for f in _schema_from_json(m["schema"]).fields
        }.get(pcol)
    probes: list = []
    seen: set = set()
    for sid in specs:
        for t, c, p in specs[sid]:
            if c != pcol:
                continue
            key = _pstat_key(t, c, p)
            if key in seen:
                continue
            seen.add(key)
            if t in ("bucket", "sbucket"):
                is_str_col = bucket_tn in ("string", "varchar", "char")
                probe_is_str = isinstance(lo, str)
                if bucket_tn is None or is_str_col != probe_is_str:
                    continue  # cross-type (or unknowable): no pruning
            if t == "sbucket":
                # Spark-hash bucket: derivable only from an EQUALITY probe,
                # and the hash is TYPE-SENSITIVE (int vs long blocks), so
                # the column's own type drives the driver-side twin
                if lo != hi:
                    continue
                from tts_etl_pipeline_spark.functions.murmur3 import bucket_id

                try:
                    b = bucket_id(lo, bucket_tn, int(p))
                except (ValueError, TypeError):
                    continue  # underivable: no pruning, never a wrong skip
                probes.append((key, b, b))
                continue
            d = _derive_probe(t, p, lo, hi)
            if d is not None:
                probes.append((key, d[0], d[1]))
    return probes


def _stage_partitioned(
    df: DataFrame, path: str, fields: list, colmap: dict | None, schema
) -> tuple[list[str], dict]:
    """Stage `df` laid out by the active partition spec: hash-repartition
    on the transform columns (a tuple never straddles tasks, so the file
    count is O(live partition tuples), not O(tasks x tuples)), write via
    partitionBy, then walk the staging tree moving each file into data/
    and recording its tuple values as synthetic [v, v] stats. NULL
    transform values land in Spark's default partition dir and record no
    stat for that field — never skipped, always read (the same sound
    degradation as files that predate stats collection)."""
    import shutil
    import urllib.parse

    from pyspark.sql import functions as F

    cm = colmap or {}
    dtype_of = {cm.get(f.name, f.name): f.dataType for f in schema.fields}
    staged = _stage_physical(df, colmap)
    meta: dict = {}  # stat key -> (transform, param, column dtype)
    for t, c, p in fields:
        if c not in dtype_of:
            raise ValueError(
                f"partition spec field {t}({c!r}) references a column absent "
                f"from this commit's schema; evolve the spec first "
                f"(alter_partition_spec)"
            )
        key = _pstat_key(t, c, p)
        meta[key] = (t, p, dtype_of[c])
        staged = staged.withColumn(key, _partition_expr(t, c, p, dtype_of[c]))
    keys = list(meta)
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex[:8]}")
    (
        staged.repartition(*[F.col(k) for k in keys])
        .write.mode("overwrite")
        .partitionBy(*keys)
        .parquet(staging)
    )
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    new_files: list[str] = []
    pstats: dict = {}
    for root, _dirs, fns in sorted(os.walk(staging)):
        rel_dir = os.path.relpath(root, staging)
        parts = () if rel_dir == "." else tuple(rel_dir.split(os.sep))
        for fn in sorted(fns):
            if not fn.endswith(".parquet"):
                continue
            rec = {}
            for part in parts:
                k, _, raw = part.partition("=")
                # Spark Hive-escapes special chars in dir names (the ':'
                # in the synthetic key becomes %3A) — unquote BOTH sides
                k = urllib.parse.unquote(k)
                if k not in meta or raw == "__HIVE_DEFAULT_PARTITION__":
                    continue  # null tuple value: unprunable on this field
                t, p, dt = meta[k]
                v = _pvalue_parse(t, p, urllib.parse.unquote(raw), dt)
                if v is not None:
                    rec[k] = [v, v]
            dst = f"{uuid.uuid4().hex}.parquet"
            os.replace(os.path.join(root, fn), os.path.join(data_dir, dst))
            rel = os.path.join("data", dst)
            new_files.append(rel)
            if rec:
                pstats[rel] = rec
    shutil.rmtree(staging, ignore_errors=True)
    return new_files, pstats


def _resolve_pspec(base_m: dict, partition_by, commit_schema, cm):
    """(pspecs, pspec_id, active_fields) for one commit: reuse an existing
    vintage when the declared fields already exist (idempotent re-declare),
    else mint the next id. Empty partition_by with no parent spec stays
    unpartitioned (None id)."""
    pspecs = {k: v for k, v in (base_m.get("pspecs") or {}).items()}
    pspec_id = base_m.get("pspec_id")
    if partition_by is not None:
        fields = _parse_partition_spec(partition_by, commit_schema, cm)
        for sid, fs in sorted(pspecs.items(), key=lambda kv: int(kv[0])):
            if [list(x) for x in fs] == fields:
                pspec_id = sid
                break
        else:
            pspec_id = str(max((int(s) for s in pspecs), default=0) + 1)
            pspecs[pspec_id] = fields
    active = pspecs.get(pspec_id) if pspec_id is not None else None
    return pspecs, pspec_id, (active or None)


def alter_partition_spec(path: str, partition_by) -> int:
    """ALTER TABLE ... SET PARTITION SPEC — Iceberg-style spec EVOLUTION
    as a METADATA-ONLY commit (same file list; the change feed across it
    is empty): the new spec lays out files written AFTER this commit;
    every existing file keeps its own vintage's partition tuple and keeps
    pruning under it — no data is rewritten, ever. `partition_by=()`
    evolves to UNPARTITIONED (new files get no tuple). Re-declaring an
    existing vintage reuses its id (idempotent)."""
    base = _open_base(path, materialize=False)
    m = base.m
    if m.get("schema") is None:
        raise ValueError(
            "legacy manifest records no schema; cannot validate a spec"
        )
    pspecs, pspec_id, _ = _resolve_pspec(
        m, tuple(partition_by), _schema_from_json(m["schema"]), m.get("colmap")
    )
    return _commit(
        path, base, "alter-partition-spec", pspecs=pspecs, pspec_id=pspec_id
    )


def partition_spec(path: str, version: int | None = None) -> dict:
    """Introspection: {'id', 'fields', 'history'} at a version (default
    head) — fields is the ACTIVE spec's [transform, column, param] list
    (None when unpartitioned), history maps every vintage ever declared."""
    v = current_version(path) if version is None else version
    _check_version(path, v)
    m = _read_manifest(path, v, materialize=False)
    specs = m.get("pspecs") or {}
    sid = m.get("pspec_id")
    # an EMPTY evolved spec (alter to ()) reads as unpartitioned: None,
    # exactly as documented — the vintage itself stays in history
    return {
        "id": sid,
        "fields": (specs.get(sid) or None) if sid is not None else None,
        "history": specs,
    }


def write_version(
    df: DataFrame,
    path: str,
    mode: str = "append",
    expected_version: int | None = None,
    merge_schema: bool = False,
    collect_stats: tuple = (),
    collect_blooms: tuple = (),
    partition_by: tuple | None = None,
    branch: str | None = None,
    eq_delete: tuple | None = None,
    marker: str | None = None,
    _rid_materialized: bool = False,
) -> int:
    """Commit `df` as the next version. mode='append' adds to the current
    file list; mode='overwrite' replaces it (old files stay on disk for
    time travel until vacuum).

    `_rid_materialized` (module-internal, maintenance rewrites only):
    `df` carries the hidden '__rid' row-lineage column — it is staged
    physically but EXCLUDED from the recorded schema, and the staged
    files are flagged "__ridm" so the lineage read trusts their bytes
    instead of minting fresh id blocks.

    Optimistic concurrency: the base version is captured ONCE, up front
    (or taken from `expected_version` when the caller computed `df` from
    an earlier snapshot — merge_upsert does); if another writer commits
    base+1 first, the manifest CAS raises CommitConflictError and this
    writer's staged files stay invisible until vacuum.

    Schema evolution (merge_schema=True, append mode): new nullable
    columns may be ADDED — old files serve null for them on read; the
    manifest records each version's schema, so time travel to an older
    version serves the OLDER schema. Type changes always raise.

    `collect_stats`: column names whose per-file min/max are recorded in
    the manifest at commit time (see _footer_minmax for the soundness
    scope) — read_version_pruned then skips files from the MANIFEST alone.
    Appends carry the parent's stats forward (files are immutable); files
    committed without stats are simply never skipped.

    `collect_blooms`: column names whose per-file BLOOM FILTERS are built
    from the staged files and recorded in a commit sidecar — SOUND
    equality skipping (read_version_bloom_pruned) for the cases range
    stats cannot serve: string keys and hash-distributed layouts. Same
    carry-forward rules as stats.

    `partition_by`: declare (or re-declare) the table's PARTITION SPEC —
    tuples like ("day", "o_orderdate") / ("bucket", "o_custkey", 16) /
    ("truncate", "p_name", 4) / "o_orderstatus" (identity shorthand).
    This commit AND every later write lay files out one group per
    partition tuple and record the tuple as synthetic per-file stats;
    read_version_pruned / bloom_pruned / delete_where / *_dv then prune
    declaratively on the transform (see the partition-spec section
    above). Omit it (None) to keep writing under the parent's active
    spec — appends to a partitioned table stay partitioned without
    re-declaring anything.

    `branch`: commit to a STAGING BRANCH (create_branch) instead of main —
    the write-audit-publish staging step: the commit is invisible to every
    main reader until fast_forward publishes it. Branch commits extend the
    branch's own lineage (append/overwrite/stats/blooms/spec layout all
    behave identically) with the same optimistic CAS per branch.

    `eq_delete=(col, values)`: record an EQUALITY DELETE of these key
    values in the SAME commit (seq = this commit, covering every OLDER
    file while this commit's fresh stamps exempt the staged rows) — the
    Iceberg v2 CDC commit shape: new data files + a delete file in one
    atomic snapshot. upsert_where_eq is the ergonomic wrapper. Append
    mode only.

    `marker`: idempotence token recorded in the manifest; probe with
    marker_version() before re-applying an at-least-once redelivery."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    # raw read: every field this function needs except the append base's
    # per-file payload is a manifest-list scalar, and the SHARDED append
    # path below carries untouched shards verbatim — materializing a
    # 10^6-entry parent here would be exactly the O(table) planning cost
    # sharding exists to retire
    base = _open_base(
        path, branch, expected_version, materialize=False, create=True
    )
    base_m = base.m
    from pyspark.sql.types import StructType as _ST

    if _rid_materialized and _RID_COL not in df.columns:
        raise ValueError("_rid_materialized requires a '__rid' column")
    if not _rid_materialized and _RID_COL in df.columns:
        raise ValueError(f"{_RID_COL!r} is reserved by row lineage")
    logical_schema = (
        _ST([f for f in df.schema.fields if f.name != _RID_COL])
        if _rid_materialized
        else df.schema
    )
    commit_schema = logical_schema
    if mode == "append" and base_m.get("schema") is not None:
        # legacy manifests have no schema
        commit_schema = _evolved_schema(
            _schema_from_json(base_m["schema"]), logical_schema, merge_schema
        )
    # column mapping (rename/drop evolution): every commit keeps writing
    # the STABLE physical names — appends for their evolved schema,
    # overwrites for whichever logical names persist (physical identity
    # across a compaction is what keeps the change feed cancelling after
    # a rename). A column NEW to the mapping gets a collision-free
    # physical: a retired physical still lives in old files with stale
    # data, so a re-added logical name must never alias onto it.
    cm_parent = base_m.get("colmap")
    cm: dict | None = None
    if cm_parent is not None:
        cm = {}
        forbidden = set(cm_parent.values()) | set(
            base_m.get("dropped_physicals") or []
        )
        for f in commit_schema.fields:
            if f.name in cm_parent:
                cm[f.name] = cm_parent[f.name]
            else:
                phys = f.name
                if phys in forbidden:
                    phys = f"{f.name}_{uuid.uuid4().hex[:8]}"
                cm[f.name] = phys
                forbidden.add(phys)
    pspecs, pspec_id, active_spec = _resolve_pspec(
        base_m, partition_by, commit_schema, cm
    )
    changes: dict = {"schema": commit_schema.json(), "colmap": cm}
    if partition_by is not None:
        changes.update(pspecs=pspecs, pspec_id=pspec_id)
    if mode == "overwrite":
        # an overwrite replaces the snapshot: every staged file is stamped
        # past any live delete's seq, so the entries are dead — drop them
        changes["eqdeletes"] = []
    if eq_delete is not None:
        # the atomic CDC-upsert shape: this commit's staged files carry a
        # fresh "__v" stamp, so the delete (seq = this commit) covers
        # every OLDER copy of the keys and none of the staged rows
        if mode != "append":
            raise ValueError("eq_delete composes with append commits only")
        eq_col, eq_vals = eq_delete
        eq_vals = list(eq_vals)
        _validate_eq_values(commit_schema, eq_col, eq_vals)
        os.makedirs(_vdir(path), exist_ok=True)
        eq_phys = (cm or {}).get(eq_col, eq_col)
        eq_rel = os.path.join("_versions", f"eqd-{uuid.uuid4().hex}.json")
        _write_atomic(
            os.path.join(path, eq_rel), {"col": eq_phys, "values": eq_vals}
        )
        changes["eqdeletes"] = list(base_m.get("eqdeletes") or []) + [
            {"sc": eq_rel, "col": eq_phys, "seq": base.version + 1}
        ]
    new_files, stats, blooms, next_rid = _stage_rows(
        path, base, [df], cm, collect_stats, collect_blooms,
        rid_materialized=_rid_materialized,
        layout=(active_spec, commit_schema) if active_spec else None,
    )
    changes["next_row_id"] = next_rid
    cons = base_m.get("constraints")
    if cons:
        # CHECK constraints apply to appended AND overwriting rows alike;
        # UNIQUE cross-checks against the parent snapshot only on APPEND
        # (an overwrite retires every parent row in the same commit). A
        # CDC upsert's equality delete retires EVERY older copy of the
        # staged keys in this same commit, so the cross-check is skipped
        # for a unique column the delete covers — refusing there would
        # block every legitimate update (in-commit distinctness still
        # enforced)
        _enforce_constraints(
            df.sparkSession, path, new_files, cons,
            commit_schema.json(), colmap=cm,
            unique_against=(base_m, None) if mode == "append" else None,
            unique_exempt_col=(
                eq_delete[0] if eq_delete is not None else None
            ),
        )
    payload: dict = {"files": new_files, "stats": stats, "blooms": blooms}
    if mode == "append" and base.version > 0:
        plan = None
        if "shards" in base_m:
            # SHARDED append fast path: untouched buckets carry by
            # reference (same content-addressed sidecar — zero read, zero
            # write); only the buckets the new files hash into are loaded,
            # merged and rewritten. A k-file append therefore costs O(k
            # shards), flat in the table's file count — measured in
            # scripts/manifest_scale.py.
            plan = _sharded_delta_plan(
                path, base_m, new_files, new_stats=stats, new_blooms=blooms
            )
        if plan is not None:
            payload = {"shards": plan}
        else:
            # parent stats/blooms/deletion-vectors stay valid: data files
            # are immutable, and an append adds files without resurrecting
            # rows. A sharded parent whose bucket outgrew its frozen
            # prefix_len pays ONE full materialized reshard (fresh
            # prefix_len via _commit's auto-shard) — amortized O(1) per
            # ~16x growth, flat after
            parent = (
                _read_manifest(path, base.version, branch=branch, fork=base.fork)
                if "shards" in base_m
                else base_m
            )
            payload = {
                "files": parent["files"] + new_files,
                "stats": {**parent.get("stats", {}), **stats},
                "blooms": {**parent.get("blooms", {}), **blooms},
                "dvs": parent.get("dvs"),
            }
    return _commit(path, base, mode, marker=marker, **payload, **changes)


def write_version_parts(
    parts: list[DataFrame],
    path: str,
    reuse_files: list[str],
    expected_version: int,
    collect_stats: tuple = (),
    collect_blooms: tuple = (),
    eqdeletes: list | None = None,
    branch: str | None = None,
    _rid_materialized: bool = False,
) -> int:
    """Commit a new snapshot as REUSED parent data files + freshly staged
    part groups — the Iceberg "overwrite with existing data files" shape
    that makes an incremental rewrite O(changed), not O(table): a caller
    that can prove (e.g. from manifest stats) that some parent files are
    untouched by its rewrite lists them in `reuse_files` VERBATIM — those
    bytes are never read, never rewritten — and stages only the `parts`
    DataFrames as new files. The SCD2 fold (sources/scd.py) is the
    canonical caller: closed-history files ride through every fold by
    manifest reference; only the current slice and the fold's delta are
    written.

    Each part is staged as its OWN file group so per-file stats keep the
    groups distinguishable (the SCD2 fold stages closed rows and current
    rows separately: a closed-only file's is_current manifest stats read
    [false, false], which is exactly how the NEXT fold classifies it as
    reusable without opening it).

    Guards:
    - `reuse_files` must be a subset of the parent version's file list —
      re-referencing a file the parent snapshot never held would resurrect
      vacuum-able data into the head;
    - every part must match the parent's recorded schema exactly (names +
      types): this is a REWRITE of one snapshot, not a schema evolution;
    - staged files with ZERO rows are dropped from the commit (an empty
      part group would otherwise accrete one stat-less file per fold),
      unless the commit would then reference no files at all — one empty
      file is kept so the snapshot stays readable.

    The commit carries the parent's stats for reused files (immutable
    files, still-valid ranges) plus freshly collected stats for the new
    files, and the parent-version CAS: a commit landing between the
    caller's snapshot read and this write surfaces as CommitConflictError,
    exactly like write_version(expected_version=...)."""
    if expected_version <= 0:
        raise ValueError("write_version_parts requires a committed parent version")
    base = _open_base(path, branch, expected_version)
    base_m = base.m
    base_files = set(base_m["files"])
    foreign = [f for f in reuse_files if f not in base_files]
    if foreign:
        raise ValueError(
            f"reuse_files not referenced by version {expected_version}: "
            f"{foreign[:3]}"
        )
    schema_json = base_m.get("schema")
    if schema_json is not None:
        base_types = [
            (f.name, f.dataType) for f in _schema_from_json(schema_json).fields
        ]
        for p in parts:
            got = [
                (f.name, f.dataType)
                for f in p.schema.fields
                if not (_rid_materialized and f.name == _RID_COL)
            ]
            if got != base_types:
                raise ValueError(
                    f"part schema {got} differs from the table schema "
                    f"{base_types}; write_version_parts rewrites one "
                    "snapshot — it never evolves the schema"
                )
    elif parts:  # legacy manifest: adopt the parts' schema going forward
        schema_json = parts[0].schema.json()

    cm = base_m.get("colmap")
    # staged parts are rewrites read through _read_files (live equality
    # deletes already applied): their fresh "__v" stamps them past every
    # live delete's seq, while REUSED files keep their original add
    # version and so stay covered — the fold materializes deletes only
    # for what it rewrote
    staged, new_stats, new_blooms, next_rid = _stage_rows(
        path, base, parts, cm, collect_stats, collect_blooms,
        rid_materialized=_rid_materialized,
    )
    new_files = [f for f in staged if new_stats[f]["__n"][0] > 0]
    empties = [f for f in staged if f not in set(new_files)]
    if not new_files and not reuse_files and empties:
        # an all-empty snapshot still needs one schema-bearing file so
        # read_version can serve it (empty FILE LIST is a refused state)
        new_files, empties = empties[:1], empties[1:]
    for f in empties:
        os.remove(os.path.join(path, f))
    cons = base_m.get("constraints")
    if cons and parts:
        # reused files carry rows the parent already validated; only the
        # freshly staged rows need the CHECK probe. UNIQUE cross-checks
        # against the REUSED files only: the rewritten files' rows retire
        # with this commit, so colliding with them is not a violation
        _enforce_constraints(
            parts[0].sparkSession, path, new_files, cons, schema_json,
            colmap=cm,
            unique_against=(base_m, list(reuse_files)),
        )
    # reused files keep their stats, blooms and deletion vectors (their
    # deleted rows stay deleted); a REWRITTEN file's vector dies with the
    # file — the rewrite read through _read_files, which already
    # anti-applied it
    keep = {
        k: {f: base_m[k][f] for f in reuse_files if f in base_m.get(k, {})}
        for k in ("stats", "blooms", "dvs")
    }
    # eqdeletes=None keeps the base's live deletes (reused files may still
    # be covered); purge_eq passes [] once every affected file is rewritten
    changes: dict = {} if eqdeletes is None else {"eqdeletes": eqdeletes}
    return _commit(
        path,
        base,
        "overwrite",
        files=list(reuse_files) + new_files,
        stats={**keep["stats"], **{f: new_stats[f] for f in new_files}},
        blooms={**keep["blooms"], **new_blooms},
        dvs=keep["dvs"],
        schema=schema_json,
        next_row_id=next_rid,
        **changes,
    )


def manifest(path: str, version: int) -> dict:
    """The committed manifest of `version`, verbatim (files, parent, mode,
    schema, per-file stats, committed_at) — the public read surface callers
    use to PLAN against a snapshot driver-side (file classification from
    stats, file-identity assertions) without touching any data file."""
    _check_version(path, version)
    return _read_manifest(path, version)


def read_version_files(
    spark: SparkSession, path: str, version: int, files: list[str]
) -> DataFrame:
    """Read a SUBSET of one committed version's data files, aligned to that
    version's recorded schema — the primitive under every manifest-planned
    partial read (read_version_pruned's range pruning, the SCD2 fold's
    live-slice read). `files` must belong to the version's manifest:
    reading unreferenced files would break snapshot isolation."""
    _check_version(path, version)
    m = _read_manifest(path, version)
    member = set(m["files"])
    foreign = [f for f in files if f not in member]
    if foreign:
        raise ValueError(
            f"files not referenced by version {version}: {foreign[:3]}"
        )
    if not files:
        raise ValueError("read_version_files needs a non-empty file subset")
    return _read_files(spark, path, m, list(files))


def _check_version(path: str, v: int) -> int:
    """Validate that `v` is a COMMITTED version and return the head.

    v > head guards the torn-crash window: a manifest written but never
    pointed to by _latest is UNCOMMITTED and must stay invisible."""
    cur = current_version(path)
    if v <= 0 or v > cur or not os.path.exists(_manifest_path(path, v)):
        raise ValueError(f"version {v} does not exist at {path}")
    return cur


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the table at `version` (default: latest). Empty table (v0) is
    an error — there is no schema to serve.

    Schema-evolved tables: the read is pinned to THIS version's recorded
    schema — files written before a column existed serve null for it
    (mergeSchema fills the gap), files from other schema lineages never
    leak columns into this snapshot, and time travel to a pre-evolution
    version serves the pre-evolution schema."""
    v = current_version(path) if version is None else version
    _check_version(path, v)
    m = _read_manifest(path, v)
    files = m["files"]
    if not files:
        raise ValueError(f"version {v} is empty")
    return _read_files(spark, path, m, files)


# explicit multi-path reads are resolved by Spark ONE PATH AT A TIME on the
# driver (sequential globStatus per path — measured ~1.5 ms each, 15 s at
# 10^4 files; BASELINE.md round-10 has the curve), where a single directory
# path resolves in one distributed listing (0.2 s for the same files). Above
# this file count, reads go through a content-addressed HARDLINK directory.
_LINKDIR_MIN_FILES = 256


def _snapshot_linkdir(path: str, files: list[str]) -> str:
    """Materialize (once) a directory of hardlinks to exactly `files` and
    return its path — the planning artifact that lets Spark resolve a
    large snapshot read as ONE directory instead of 10^4 qualified paths
    (the role Delta/Iceberg fill with a custom FileIndex, rebuilt here
    with filesystem primitives). Safe by construction: data files are
    immutable and the file SET fully determines the directory content, so
    a completed link dir keyed by the sorted file-list hash is reusable
    forever; hardlinks cost no space and no copy (same filesystem as the
    table). Concurrent builders race benignly: the content under both
    temp dirs is identical, one atomic rename wins, the loser's temp is
    removed (or served as-is if the rename raced a half-published dir).
    vacuum() sweeps _snapshots/ entries age-gated like any other
    rebuildable artifact."""
    import hashlib
    import shutil

    key = hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest()[:16]
    target = os.path.join(path, "_snapshots", key)
    marker = os.path.join(target, "_LINKED")
    if os.path.exists(marker):
        return target
    tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    for f in files:
        os.link(os.path.join(path, f), os.path.join(tmp, os.path.basename(f)))
    with open(os.path.join(tmp, "_LINKED"), "w", encoding="utf-8") as fh:
        fh.write(f"{len(files)}\n")
    try:
        os.rename(tmp, target)
    except OSError:
        # a concurrent builder won (target exists). If theirs is complete,
        # use it; a half-published target without the marker means an
        # in-flight build we must not consume — serve our own temp dir
        # (identical content, just uncached; vacuum reclaims it later).
        if os.path.exists(marker):
            shutil.rmtree(tmp, ignore_errors=True)
            return target
        return tmp
    return target


def _load_eqdeletes(path: str, manifest: dict) -> list[dict]:
    """Load this manifest's equality-delete sidecars, seq-ascending. A
    damaged sidecar RAISES (the _load_dvs contract: silently serving
    deleted rows back is a correctness failure, not a degraded read)."""
    out = []
    for e in manifest.get("eqdeletes") or []:
        with open(os.path.join(path, e["sc"]), encoding="utf-8") as fh:
            payload = json.load(fh)
        if payload.get("col") != e["col"] or not isinstance(
            payload.get("values"), list
        ):
            raise ValueError(f"damaged equality-delete sidecar {e['sc']}")
        out.append(
            {"seq": e["seq"], "col": e["col"], "values": payload["values"]}
        )
    return sorted(out, key=lambda d: d["seq"])


def _eqdelete_groups(path: str, manifest: dict, files: list[str]) -> list:
    """[(file_subset, applicable_deletes)] — an equality delete applies to
    files ADDED BEFORE it (add-version stat "__v" < seq; files without
    the stamp read as ancient, the sound direction), so applicability is
    a SUFFIX of the seq-sorted delete list and the group count is bounded
    by live deletes + 1, never by file count. compact()/purge bound the
    delete count like they bound DV debt."""
    if not manifest.get("eqdeletes"):
        return [(files, [])]
    import bisect

    loaded = _load_eqdeletes(path, manifest)
    seqs = [e["seq"] for e in loaded]
    stats = manifest.get("stats") or {}
    groups: dict = {}
    for f in files:
        # a file with no stamp is ANCIENT: affected by every delete —
        # -inf (not 0) so clone-remapped seqs (which may be <= 0) still
        # cover it
        rec = stats.get(f, {}).get("__v")
        av = rec[0] if rec else float("-inf")
        i = bisect.bisect_right(seqs, av)  # deletes with seq > av apply
        groups.setdefault(i, []).append(f)
    return [(fs, loaded[i:]) for i, fs in sorted(groups.items())]


def _read_files(
    spark: SparkSession,
    path: str,
    manifest: dict,
    files: list[str],
    with_positions: bool = False,
    extra_phys_cols: tuple = (),
) -> DataFrame:
    """The snapshot file-set reader every consumer funnels through.
    EQUALITY DELETES (delete_where_eq — Iceberg v2 equality delete files)
    are applied here: files are grouped by which deletes touch them (a
    delete applies only to files added before it — see _eqdelete_groups),
    each group anti-joins its applicable value lists (broadcast, JVM-side,
    O(delete values) per join), and the groups union. The common case —
    no live equality deletes — is a zero-cost passthrough to the raw
    reader; DV anti-application happens inside the raw reader as before."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    groups = _eqdelete_groups(path, manifest, files)
    if len(groups) == 1 and not groups[0][1]:
        return _read_files_raw(
            spark, path, manifest, files, with_positions, extra_phys_cols
        )
    cm_inv = {v: k for k, v in (manifest.get("colmap") or {}).items()}
    phys_types = (
        {
            (manifest.get("colmap") or {}).get(f.name, f.name): f.dataType
            for f in _schema_from_json(manifest["schema"]).fields
        }
        if manifest.get("schema")
        else {}
    )
    parts = []
    for fs, eqds in groups:
        d = _read_files_raw(
            spark, path, manifest, fs, with_positions, extra_phys_cols
        )
        for eq in eqds:
            logical = cm_inv.get(eq["col"], eq["col"])
            if logical not in d.columns:
                raise ValueError(
                    f"equality delete references column {eq['col']!r} "
                    f"missing from the snapshot schema; the table metadata "
                    f"is damaged (drop_column refuses live-delete columns)"
                )
            dtype = phys_types.get(eq["col"])
            for frame_type, coerced, via_double in _eq_join_plans(
                eq["values"], dtype
            ):
                if not coerced:
                    continue  # every value provably matches nothing
                vals = spark.createDataFrame(
                    [(v,) for v in coerced],
                    StructType([StructField("__eq_val", frame_type, True)]),
                )
                lhs = (
                    F.col(logical).cast("double")
                    if via_double
                    else F.col(logical)
                )
                d = d.join(
                    F.broadcast(vals),
                    lhs == F.col("__eq_val"),
                    "left_anti",
                )
        parts.append(d)
    return reduce(lambda a, b: a.unionByName(b), parts)


_INT_RANGES = {
    "byte": (-(1 << 7), (1 << 7) - 1),
    "short": (-(1 << 15), (1 << 15) - 1),
    "integer": (-(1 << 31), (1 << 31) - 1),
    "long": (-(1 << 63), (1 << 63) - 1),
}


def _eq_join_plans(values: list, dtype) -> list:
    """[(frame_type, coerced_values, compare_via_double)] — how one
    equality delete's JSON values (int/float/str/bool only) anti-join a
    column of `dtype`, matching the equality Spark itself would apply to
    a literal of the value's kind:

    - int-family column: ints (and integral floats) in the column's own
      type; out-of-range or fractional values provably match no row and
      are dropped, never poisoning the read (the r12 review finding);
    - float/double column: everything folds to float;
    - DECIMAL column: int values compare in exact DECIMAL space (the
      bigint-literal rule), float values in DOUBLE space via a cast on
      the column side (the double-literal widening rule) — two plans;
    - string/boolean: values pass through (the validator already pinned
      the family)."""
    from pyspark.sql.types import DoubleType

    tn = dtype.typeName() if dtype is not None else None
    if tn in _INT_RANGES:
        lo, hi = _INT_RANGES[tn]
        out = []
        for v in values:
            if isinstance(v, bool):
                continue
            if isinstance(v, float):
                if not v.is_integer():
                    continue
                v = int(v)
            if isinstance(v, int) and lo <= v <= hi:
                out.append(v)
        return [(dtype, out, False)]
    if tn in ("float", "double"):
        return [
            (
                dtype,
                [
                    float(v)
                    for v in values
                    if isinstance(v, (int, float)) and not isinstance(v, bool)
                ],
                False,
            )
        ]
    if tn == "decimal":
        from decimal import Decimal

        lim = 10 ** (dtype.precision - dtype.scale)  # ints beyond the
        ints = [  # representable range provably match no stored decimal
            Decimal(v)
            for v in values
            if isinstance(v, int) and not isinstance(v, bool)
            and -lim < v < lim
        ]
        floats = [float(v) for v in values if isinstance(v, float)]
        return [(dtype, ints, False), (DoubleType(), floats, True)]
    return [(dtype, list(values), False)]


def _default_groups(manifest: dict, files: list[str]) -> list:
    """[(file_subset, applicable_default_entries)] — an initial-default
    applies to files ADDED BEFORE the column (add-version stat "__v" <
    seq; unstamped files read as ancient — they provably predate the
    column, the direction that serves the default). Applicability is a
    suffix of the seq-sorted entry list, so group count is bounded by
    live defaulted columns + 1 (the _eqdelete_groups shape)."""
    dmap = manifest.get("defaults") or []
    if not dmap:
        return [(files, [])]
    import bisect

    entries = sorted(dmap, key=lambda e: e["seq"])
    seqs = [e["seq"] for e in entries]
    stats = manifest.get("stats") or {}
    groups: dict = {}
    for f in files:
        rec = stats.get(f, {}).get("__v")
        av = rec[0] if rec else float("-inf")
        i = bisect.bisect_right(seqs, av)  # defaults with seq > av apply
        groups.setdefault(i, []).append(f)
    return [(fs, entries[i:]) for i, fs in sorted(groups.items())]


def _read_files_raw(
    spark: SparkSession,
    path: str,
    manifest: dict,
    files: list[str],
    with_positions: bool = False,
    extra_phys_cols: tuple = (),
) -> DataFrame:
    """The one snapshot file-set reader (read_version serves the full
    list, read_version_pruned / read_version_files a subset).
    `extra_phys_cols`: physical column names appended to the scan schema
    beyond the recorded logical schema (the row-lineage reader asks for
    the hidden '__rid' column rewrites materialize); files lacking one
    serve null for it — parquet missing-column semantics.

    COLUMN INITIAL-DEFAULTS (add_column(default=)) are applied here:
    files are grouped by which defaults cover them (at most live
    defaulted columns + 1 groups), each pre-add group's scan replaces
    the missing column's nulls with the recorded literal (constant-
    folded, JVM-side), and the groups union — the same per-vintage
    funnel equality deletes ride one level up.

    DELETION VECTORS are anti-applied here — the single funnel every
    reader (full read, pruned read, CDF side, fold, merge) goes through,
    so a DV'd row is invisible to all of them: rows are keyed by
    (_metadata.file_name, _metadata.row_index) and removed with one
    broadcast LEFT ANTI join against the manifest's recorded positions
    (JVM-side hash join — no Python in the row path; the positions frame
    is O(live deleted rows), the compact() remedy bounds it).

    `with_positions=True` (DV writers only) keeps the `__dv_file`
    (file base name) and `__dv_pos` (row position) columns on the result
    so a new delete can record positions; requires a schema-bearing
    manifest (every commit this writer makes — legacy tables predate
    DVs).

    Schema-bearing manifests (every commit this writer makes) read with
    the RECORDED schema passed explicitly — planning then costs ZERO
    footer IO in the file count, where option(mergeSchema) runs a
    distributed footer-merge job over every file before the first byte of
    data moves (the j9 lesson, applied to the read side: at 10^5 files
    that job IS the planning cost). The recorded schema is authoritative
    by protocol — evolution is append-only and type-stable
    (_evolved_schema) — so files predating a column serve null for it via
    parquet missing-column semantics, identical to what the mergeSchema +
    alignment path produced. Fields are read nullable: a file written
    before a column existed serves nulls regardless of the declared
    nullability, and lying to the optimizer about non-nullness would be
    wrong in exactly that case. Legacy manifests (no recorded schema)
    keep the mergeSchema + alignment path.

    Large file sets (>= _LINKDIR_MIN_FILES) read through the snapshot
    hardlink directory — driver-side path resolution is the OTHER
    O(files) planning cost, and a single directory path retires it."""
    from pyspark.sql import functions as F

    schema_json = manifest.get("schema")
    dv_pos = _load_dvs(path, manifest, files)
    need_meta = with_positions or bool(dv_pos)
    if schema_json is None:
        if need_meta:
            # unreachable by protocol: DVs are committed only by
            # delete_where_dv, which refuses legacy manifests
            raise ValueError(
                "deletion vectors / row positions require a schema-bearing "
                "manifest; this legacy table predates both"
            )
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(path, f) for f in files]
        )
        return _align_to_schema(df, manifest)
    recorded = _schema_from_json(schema_json)
    dgroups = _default_groups(manifest, files)
    if dgroups and (len(dgroups) > 1 or dgroups[0][1]):
        from functools import reduce

        sub = {k: vv for k, vv in manifest.items() if k != "defaults"}
        cm_inv = {p: l for l, p in (manifest.get("colmap") or {}).items()}
        parts = []
        for fs, fills in dgroups:
            d = _read_files_raw(
                spark, path, sub, fs, with_positions, extra_phys_cols
            )
            for e in fills:
                logical = cm_inv.get(e["col"], e["col"])
                if logical in d.columns:
                    d = d.withColumn(
                        logical,
                        F.lit(e["value"]).cast(recorded[logical].dataType),
                    )
            parts.append(d)
        return reduce(lambda a, b: a.unionByName(b), parts)
    colmap = manifest.get("colmap")
    # files store PHYSICAL names (stable across renames); the read
    # plans physical and aliases back to this version's LOGICAL names
    nullable = _physical_struct(recorded, colmap)
    if extra_phys_cols:
        from pyspark.sql.types import LongType, StructField, StructType

        nullable = StructType(
            list(nullable.fields)
            + [
                StructField(c, LongType(), True)
                for c in extra_phys_cols
                if c not in nullable.names
            ]
        )
    if len(files) >= _LINKDIR_MIN_FILES:
        linked = _snapshot_linkdir(path, files)
        df = (
            spark.read.schema(nullable)
            .option("pathGlobFilter", "*.parquet")  # skip the marker
            .parquet(linked)
        )
    else:
        df = spark.read.schema(nullable).parquet(
            *[os.path.join(path, f) for f in files]
        )
    if need_meta:
        if {"__dv_file", "__dv_pos"} & set(df.columns):
            raise ValueError(
                "__dv_file/__dv_pos are reserved by the deletion-vector "
                "read path"
            )
        # attach ON the scan (hidden _metadata resolves only there); the
        # file NAME (uuid base name) is table-unique by construction and
        # stable across the linkdir indirection, unlike the full path
        df = df.select(
            "*",
            F.col("_metadata.file_name").alias("__dv_file"),
            F.col("_metadata.row_index").alias("__dv_pos"),
        )
    if colmap:
        cm = {v: k for k, v in colmap.items()}  # physical -> logical
        df = df.select(
            *[F.col(c).alias(cm.get(c, c)) for c in df.columns]
        )
    if dv_pos:
        rows = [
            (os.path.basename(f), int(p))
            for f, ps in dv_pos.items()
            for p in ps
        ]
        deleted = spark.createDataFrame(rows, "__del_file string, __del_pos long")
        df = df.join(
            F.broadcast(deleted),
            (F.col("__dv_file") == F.col("__del_file"))
            & (F.col("__dv_pos") == F.col("__del_pos")),
            "left_anti",
        )
    if need_meta and not with_positions:
        df = df.drop("__dv_file", "__dv_pos")
    return df


def _align_to_schema(df: DataFrame, manifest: dict) -> DataFrame:
    """Pin a snapshot read to the manifest's recorded schema (column set,
    order and types); files predating a column serve null for it. Legacy
    manifests (no schema) serve the merged file schema as-is."""
    from pyspark.sql import functions as F

    schema_json = manifest.get("schema")
    if schema_json is None:
        return df
    schema = _schema_from_json(schema_json)
    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _stat_disjoint(r, lo, hi) -> bool:
    """True only when the recorded range [r[0], r[1]] PROVABLY cannot
    contain a row matching `col BETWEEN lo AND hi` under BOTH comparison
    regimes Spark may use: exact (same types) and FLOAT-WIDENED (mixed
    int/float compare as double — past 2^53 the two orders disagree, the
    same hazard _bloom_encodings handles for equality). Requiring
    disjointness in the exact AND the double order keeps file skipping
    sound whatever type the caller's literal arrives in; when the values
    cannot fold to float (strings; overflow), the exact order alone is
    the only regime Spark could use, so it decides. A CROSS-TYPE probe
    (numeric BETWEEN against recorded string bounds, or vice versa —
    possible since string truncate bounds are recorded) can prove
    nothing: degrade to reading the file like any unprunable stat,
    never crash the caller's plan."""
    try:
        if not (r[1] < lo or r[0] > hi):
            return False
    except TypeError:
        return False  # cross-type stat vs probe: unprunable, read the file
    if isinstance(lo, numbers.Number) and not isinstance(lo, bool):
        try:
            fl, fh = float(lo), float(hi)
            f0, f1 = float(r[0]), float(r[1])
        except (OverflowError, TypeError, ValueError):
            return False  # cannot prove under widening: read the file
        return f1 < fl or f0 > fh
    return True


def _plan_pruned_files(
    path: str, m: dict, col: str, lo, hi, shard_cache: dict | None = None
) -> tuple[dict, list[str], int, int]:
    """Classify one snapshot's files against `col BETWEEN lo AND hi` from
    recorded stats alone: returns (read_manifest, kept, skipped, total).
    Inline manifests walk the stats map (O(files) dict lookups). SHARDED
    manifests go summary-first: a shard whose per-column summary is
    provably disjoint is skipped WITHOUT LOADING IT — planning cost is
    the manifest list + only the intersecting shards, sub-second at 10^6
    files (scripts/manifest_scale.py) — then per-file stats inside the
    loaded shards refine as usual. The returned read_manifest carries the
    scalar fields plus exactly the loaded shards' dvs, so _read_files
    anti-applies deletion vectors for every kept file."""
    pcol = _phys(m, col)
    # the raw-column probe plus every partition-transform derivation the
    # table's spec vintages admit: a file (or whole shard) is skipped when
    # ANY probe proves its recorded value disjoint — files without a given
    # key are never skipped by it, which is what lets two spec vintages
    # (and pre-spec files) coexist under one read
    probes = [(pcol, lo, hi)] + _partition_probes(m, pcol, lo, hi)

    def _skip(rec: dict) -> bool:
        for key, pl, ph in probes:
            r = rec.get(key)
            if r is not None and _stat_disjoint(r, pl, ph):
                return True
        return False

    if "shards" not in m:
        files = m["files"]
        stats = m.get("stats", {})
        kept = [f for f in files if not _skip(stats.get(f, {}))]
        return m, kept, len(files) - len(kept), len(files)
    total = skipped = 0
    kept = []
    dvs: dict = {}
    blooms: dict = {}
    kept_stats: dict = {}
    for b, entry in sorted(m["shards"]["entries"].items()):
        total += entry["n"]
        if _skip(entry.get("summary") or {}):
            skipped += entry["n"]
            continue  # the whole bucket is provably disjoint: never loaded
        payload = _load_shard(path, entry, cache=shard_cache)
        st = payload.get("stats") or {}
        for f in payload["files"]:
            if _skip(st.get(f, {})):
                skipped += 1
                continue
            kept.append(f)
            if f in st:
                kept_stats[f] = st[f]
        dvs.update(payload.get("dvs") or {})
        blooms.update(payload.get("blooms") or {})
    read_m = {k: v for k, v in m.items() if k != "shards"}
    read_m["files"] = kept
    if kept_stats:
        # kept files' stats ride along: _read_files needs each file's
        # "__v" add version to scope equality deletes correctly
        read_m["stats"] = kept_stats
    if dvs:
        read_m["dvs"] = dvs
    if blooms:
        # loaded shards' bloom refs ride along so an equality caller
        # (read_version_bloom_pruned) can refine the range-kept set
        read_m["blooms"] = blooms
    return read_m, kept, skipped, total


def read_version_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """FILE-SKIPPING snapshot read: `col BETWEEN lo AND hi`, planned from
    the MANIFEST's per-file column stats alone (collect_stats at commit
    time) — the Iceberg manifest-entry pruning story, and the answer to
    j6's mergeSchema caveat: at a million files, per-file footer IO at
    planning time is the scalability bug; a KB-scale manifest consulted
    driver-side is the fix. Returns (df, files_skipped, files_total).

    Soundness: a file is skipped ONLY when its recorded range lies fully
    outside [lo, hi] (max < lo or min > hi); files without recorded stats
    for `col` are always read, and the row-level filter still applies to
    everything that is read — pruning can degrade to a full scan, never
    to a wrong answer. Snapshot semantics match read_version (version
    pinning, schema alignment, empty-version refusal)."""
    from pyspark.sql import functions as F

    v = current_version(path) if version is None else version
    _check_version(path, v)
    # RAW read: sharded manifests plan summary-first in _plan_pruned_files
    # (loading every shard here would be the O(files) cost to avoid)
    m = _read_manifest(path, v, materialize=False)
    if ("shards" not in m and not m["files"]) or (
        "shards" in m and m.get("n_files", 0) == 0
    ):
        raise ValueError(f"version {v} is empty")
    read_m, kept, skipped, total = _plan_pruned_files(path, m, col, lo, hi)
    if kept:
        df = _read_files(spark, path, read_m, kept)
    elif m.get("schema") is not None:
        # everything pruned: the manifest already records the schema, so
        # the zero-row frame costs ZERO file IO — reading all footers via
        # read_version().limit(0) here would be exactly the O(files)
        # planning cost this feature exists to avoid
        df = spark.createDataFrame([], _schema_from_json(m["schema"]))
    else:  # legacy manifest: the files are the only schema source
        df = read_version(spark, path, v).limit(0)
    return (
        df.filter(F.col(col).between(F.lit(lo), F.lit(hi))),
        skipped,
        total,
    )


def read_version_bloom_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """EQUALITY file-skipping snapshot read: `col = value`, planned from
    the commit BLOOM sidecars alone (collect_blooms at commit time) — the
    sound point-lookup complement to read_version_pruned's ranges, and the
    only manifest-level skip that works where ranges cannot: HASH-
    distributed layouts (every file's range spans the whole key space, so
    range pruning keeps everything; a bloom still skips every file that
    provably lacks the value) and string keys whose truncate(16) bounds
    collide (keys sharing a 16-char prefix make every file's recorded
    range identical — the c_name shape — where a bloom still
    distinguishes exact values). Returns (df, skipped, total).

    Soundness: a bloom has NO false negatives — a skipped file provably
    lacks `value` among its non-NULL `col` values; false positives just
    read a file needlessly, and the row filter applies to everything read.
    Files without a bloom for `col` are always read. A None `value` reads
    nothing into the filter's `col = NULL` (never TRUE) — callers probe
    real keys. Planning cost: the manifest map + only the referenced
    sidecars (lazy, cached per sidecar within the call).

    Probe TYPE contract (r11): `value` must be in the column's own type
    family (string column -> str probe, numeric column -> number). A
    cross-kind probe REFUSES with TypeError instead of planning: Spark's
    ANSI coercion CASTS one side (bigint k = '123' matches k = 123)
    while the bloom encodes exact in-family values, so silently skipping
    files that coerced equality would match would be a false negative —
    and a caller holding a string can express the numeric probe exactly
    by converting it. Refusal keeps blooms compact (no both-ways
    encoding of every numeric-looking string on ID columns)."""
    from pyspark.sql import functions as F

    v = current_version(path) if version is None else version
    _check_version(path, v)
    # raw read + summary-first planning: an equality probe IS the range
    # [value, value], so recorded RANGE stats pre-prune for free (r11 —
    # the two structures compose: ranges skip whole shards/files, blooms
    # refine what ranges keep)
    m = _read_manifest(path, v, materialize=False)
    if value is not None and m.get("schema") is not None:
        field = {f.name: f.dataType for f in
                 _schema_from_json(m["schema"]).fields}.get(col)
        tname = field.typeName() if field is not None else None
        is_str_col = tname in ("string", "varchar", "char")
        is_num_col = tname in (
            "byte", "short", "integer", "long", "float", "double", "decimal"
        )
        is_bool_col = tname == "boolean"
        # bool is its OWN family: Spark coerces bigint k = true to k = 1
        # while the bloom tags b:/i: differently, so a bool probe on a
        # numeric column (bool IS a numbers.Number) or an int probe on a
        # boolean column must refuse like any other cross-kind probe
        bad = (
            (is_str_col and not isinstance(value, str))
            or (
                is_num_col
                and (
                    isinstance(value, bool)
                    or not (
                        isinstance(value, numbers.Number)
                        or type(value).__name__ == "Decimal"
                    )
                )
            )
            or (is_bool_col and not isinstance(value, bool))
        )
        if bad:
            raise TypeError(
                f"bloom probe {value!r} is outside column {col!r}'s type "
                f"family ({tname}); Spark's coerced equality and the "
                "bloom's exact encoding disagree across kinds — pass the "
                "probe in the column's own type"
            )
    if ("shards" not in m and not m["files"]) or (
        "shards" in m and m.get("n_files", 0) == 0
    ):
        raise ValueError(f"version {v} is empty")
    candidates: list[str] | None = None
    total = None
    read_m = None
    if value is not None:
        try:
            read_m, candidates, _, total = _plan_pruned_files(
                path, m, col, value, value
            )
        except TypeError:
            candidates = None  # incomparable probe/stat types: no pre-prune
    if candidates is None:
        read_m = _read_manifest(path, v)  # materialized fallback
        candidates = read_m["files"]
        total = len(candidates)
    bmap = read_m.get("blooms", {})
    sidecars: dict = {}
    kept: list[str] = []
    for f in candidates:
        sc = bmap.get(f)
        bloom = None
        if sc is not None and value is not None:
            if sc not in sidecars:
                try:
                    with open(os.path.join(path, sc), encoding="utf-8") as fh:
                        sidecars[sc] = json.load(fh)
                except (OSError, json.JSONDecodeError):
                    sidecars[sc] = {}  # damaged sidecar: degrade to reads
            bloom = sidecars[sc].get(f, {}).get(_phys(m, col))
        if bloom is not None and not _bloom_might_contain(bloom, value):
            continue  # provably lacks `value`
        kept.append(f)
    if kept:
        df = _read_files(spark, path, read_m, kept)
    elif m.get("schema") is not None:
        df = spark.createDataFrame([], _schema_from_json(m["schema"]))
    else:  # legacy manifest: files are the only schema source
        df = read_version(spark, path, v).limit(0)
    return (
        df.filter(F.col(col) == F.lit(value)),
        total - len(kept),
        total,
    )


def version_asof(path: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution (Delta's `timestampAsOf` /
    Iceberg's snapshot-at): the newest COMMITTED version whose recorded
    commit time is <= `ts` (epoch seconds). Pass the result to
    read_version for the actual time-travel read. Legacy manifests without
    a recorded time fall back to the manifest file's mtime (same signal
    vacuum's age gates trust). Raises if the table predates nothing —
    i.e. every version is newer than `ts`."""
    head = current_version(path)
    if head == 0:
        raise ValueError(f"no versions at {path}")
    best = None
    for v in range(1, head + 1):
        # raw read: committed_at is a manifest-list scalar — materializing
        # a sharded manifest's payload here would turn a timestamp lookup
        # into the very O(files) parse sharding retires
        m = _read_manifest(path, v, materialize=False)
        t = m.get("committed_at")
        if t is None:  # legacy manifest: the file's own mtime
            t = os.path.getmtime(_manifest_path(path, v))
        if t <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"every version at {path} was committed after {ts}; "
            f"nothing to travel to"
        )
    return best


def rollback(path: str, to_version: int) -> int:
    """Append-only restore: commit a NEW version with `to_version`'s files.
    Refuses if vacuum already deleted any of them — committing a head that
    references missing files would brick every subsequent read."""
    _check_version(path, to_version)
    m = _read_manifest(path, to_version)
    files = m["files"]
    missing = [f for f in files if not os.path.exists(os.path.join(path, f))]
    if missing:
        raise ValueError(
            f"version {to_version} was vacuumed; missing files: {missing[:3]}"
        )
    # Refresh the re-referenced files' mtimes BEFORE the commit: rollback
    # re-references HISTORICAL files that are older than any grace window
    # by construction, so without this a concurrent vacuum (whose sweep is
    # age-gated, not lock-gated) could delete them between our existence
    # check and the head advancing — bricking the new head. Touching them
    # puts them back inside every in-flight/future vacuum's grace window,
    # the same freshness signal a normal writer's staged files carry.
    for f in files:
        try:
            os.utime(os.path.join(path, f))  # stamp current time
        except FileNotFoundError:
            raise ValueError(
                f"version {to_version} was vacuumed concurrently; "
                f"missing file: {f}"
            ) from None
    # the restored version is the commit's BASE: its schema (a rollback
    # across a schema evolution must serve the pre-evolution columns),
    # its own constraints (they provably hold over its rows — the head's
    # might never have been checked against them), its equality deletes
    # and defaults (its row visibility) and its partition spec (the layout
    # its files were written under); its file STATS, BLOOMS and DELETION
    # VECTORS carry with the file list
    head = current_version(path)
    stats = m.get("stats")
    rl_kwargs: dict = {}
    head_raw = _read_manifest(path, head, materialize=False)
    if head_raw.get("row_lineage"):
        # rollback ACROSS a lineage enable: the restored stats may predate
        # the id blocks — recover each file's block from the HEAD's stats
        # (same immutable file = same rows = same ids), minting fresh ones
        # only for files the head no longer tracks. The counter continues
        # the head's (ids burned on the abandoned timeline stay burned).
        hstats = _read_manifest(path, head).get("stats") or {}
        stats = {f: dict(rec) for f, rec in (stats or {}).items()}
        nxt = int(head_raw.get("next_row_id") or 0)
        for f in files:
            rec = stats.setdefault(f, {})
            if _RID_COL in rec or "__ridm" in rec:
                continue
            src = hstats.get(f) or {}
            if _RID_COL in src:
                rec[_RID_COL] = src[_RID_COL]
            elif "__ridm" in src:
                rec["__ridm"] = src["__ridm"]
            else:
                rec[_RID_COL] = [nxt, nxt]
                nxt += _footer_num_rows(path, f)
        rl_kwargs = {"row_lineage": True, "next_row_id": nxt}
    return _commit(
        path, _Base(head, None, None, m), "rollback",
        files=files, stats=stats, blooms=m.get("blooms"), dvs=m.get("dvs"),
        **rl_kwargs,
    )


def clone_table(
    src: str, dst: str, version: int | None = None
) -> int:
    """ZERO-COPY table clone (Delta's CLONE command): commit `dst` as a
    fresh table (v1) whose data equals `src` at `version` (default: head),
    without copying a byte — every data file is HARDLINKED into the new
    table's data/ (same filesystem; immutable-by-protocol files make the
    shared inodes safe: neither table ever rewrites a committed file, and
    either side's vacuum only unlinks its own name). Schema and per-file
    stats carry over verbatim, so a pruned read of the clone plans exactly
    like the source. The clone is a fully independent table afterwards:
    its own manifest lineage, its own commits, its own vacuum horizon —
    the dev/test-against-production-data pattern. Honest scope: hardlinks
    are the local-filesystem analogue of what Delta/Iceberg do on object
    stores with shallow (absolute-URI) clones; a cross-filesystem dst
    raises (no silent fallback to a full copy)."""
    v = current_version(src) if version is None else version
    _check_version(src, v)
    m = _read_manifest(src, v)
    if os.path.isdir(_vdir(dst)) and current_version(dst) > 0:
        raise ValueError(f"clone destination {dst} is already a table")
    data_dir = os.path.join(dst, "data")
    os.makedirs(data_dir, exist_ok=True)
    files = []
    for f in m["files"]:
        name = os.path.basename(f)
        try:
            os.link(os.path.join(src, f), os.path.join(data_dir, name))
        except FileExistsError:
            pass  # idempotent retry after a crashed clone attempt
        files.append(os.path.join("data", name))
    # blooms carry too — each referenced sidecar is COPIED under the
    # clone's own _versions (independent lineage: the clone must never
    # depend on the source's metadata directory), file keys renamed like
    # the stats keys
    cloned_blooms: dict = {}
    src_bloom_map = m.get("blooms", {})
    if src_bloom_map:
        import shutil as _shutil

        copied: dict = {}
        os.makedirs(_vdir(dst), exist_ok=True)
        for f, sc in src_bloom_map.items():
            if sc not in copied:
                new_rel = os.path.join(
                    "_versions", f"blooms-{uuid.uuid4().hex}.json"
                )
                _shutil.copyfile(
                    os.path.join(src, sc), os.path.join(dst, new_rel)
                )
                copied[sc] = new_rel
            cloned_blooms[
                os.path.join("data", os.path.basename(f))
            ] = copied[sc]
    # deletion vectors carry the same way (copied sidecars, renamed file
    # keys): the clone's row visibility must equal the source snapshot's.
    # Sidecar payload keys are 'data/<basename>' on both sides — basenames
    # are preserved by the hardlink loop above, so the payload reads
    # verbatim in the clone.
    cloned_dvs: dict = {}
    src_dv_map = m.get("dvs", {})
    if src_dv_map:
        import shutil as _shutil

        copied_dv: dict = {}
        os.makedirs(_vdir(dst), exist_ok=True)
        for f, sc in src_dv_map.items():
            if sc not in copied_dv:
                new_rel = os.path.join(
                    "_versions", f"dv-{uuid.uuid4().hex}.json"
                )
                _shutil.copyfile(
                    os.path.join(src, sc), os.path.join(dst, new_rel)
                )
                copied_dv[sc] = new_rel
            cloned_dvs[
                os.path.join("data", os.path.basename(f))
            ] = copied_dv[sc]
    # EQUALITY deletes carry too (copied sidecars): the clone's visible
    # rows must equal the source snapshot's. Seq numbers and per-file
    # "__v" add-version stamps are SOURCE-lineage version numbers, but the
    # clone is a fresh table at v1 — REMAP both order-preserving onto
    # integers <= 1 (largest source number -> 1, descending): carried
    # applicability is exactly preserved, every future clone commit
    # (stamps >= 2) escapes the carried deletes, and every future delete
    # (seq >= 2) covers all carried files — no resurrection either way.
    src_stats = m.get("stats", {})
    axis = sorted(
        {r["__v"][0] for r in src_stats.values() if "__v" in r}
        | {e["seq"] for e in m.get("eqdeletes") or []}
        | {e["seq"] for e in m.get("defaults") or []}
    )
    remap = {x: 1 - (len(axis) - 1 - i) for i, x in enumerate(axis)}
    # column initial-defaults carry with the SAME remap (inline values, no
    # sidecar to copy): carried applicability — which files predate which
    # column — is exactly preserved in the clone's fresh lineage
    cloned_defaults = [
        {**e, "seq": remap[e["seq"]]} for e in m.get("defaults") or []
    ]
    cloned_eqs: list = []
    if m.get("eqdeletes"):
        import shutil as _shutil

        os.makedirs(_vdir(dst), exist_ok=True)
        for e in m["eqdeletes"]:
            new_rel = os.path.join("_versions", f"eqd-{uuid.uuid4().hex}.json")
            _shutil.copyfile(
                os.path.join(src, e["sc"]), os.path.join(dst, new_rel)
            )
            cloned_eqs.append({**e, "sc": new_rel, "seq": remap[e["seq"]]})
    # the source manifest is the clone's base (v0 -> v1): schema,
    # constraints, column mapping, partition spec and row lineage carry
    # verbatim — row ids are row identities, not version numbers, and the
    # counter continues the source's so future rows never collide
    return _commit(
        dst,
        _Base(0, None, None, m),
        "clone",
        files=files,
        stats={
            os.path.join("data", os.path.basename(f)): (
                {**s, "__v": [remap[s["__v"][0]]] * 2} if "__v" in s else s
            )
            for f, s in src_stats.items()
        },
        blooms=cloned_blooms,
        dvs=cloned_dvs,
        eqdeletes=cloned_eqs,
        defaults=cloned_defaults,
    )


def table_detail(path: str, version: int | None = None) -> dict:
    """DESCRIBE DETAIL — one dict summarizing a committed version, the
    operational introspection surface (Delta's DESCRIBE DETAIL / the
    Iceberg snapshot metadata tables): answered from the manifest, the
    referenced bloom sidecars and one os.stat per data file — no Spark
    session, no data-file reads. At 10^5 files the stat pass is the same
    O(files) cost class as the vacuum/compaction maintenance calls this
    sits beside; every other field is manifest-resident."""
    head = current_version(path)
    v = head if version is None else version
    _check_version(path, v)
    m = _read_manifest(path, v)
    size = 0
    missing = 0
    for f in m["files"]:
        try:
            size += os.stat(os.path.join(path, f)).st_size
        except FileNotFoundError:
            missing += 1  # vacuumed history: report, don't raise
    stats_cols: set = set()
    for rec in (m.get("stats") or {}).values():
        # protocol-internal keys (the "__v" add-version stamp, "__p:..."
        # partition tuples) are not user pruning columns — hide them
        stats_cols.update(c for c in rec if not c.startswith("__"))
    bloom_cols: set = set()
    for sc in sorted(set((m.get("blooms") or {}).values())):
        try:
            with open(os.path.join(path, sc), encoding="utf-8") as fh:
                for rec in json.load(fh).values():
                    bloom_cols.update(rec)
        except (OSError, json.JSONDecodeError):
            continue  # damaged/missing sidecar degrades reads, not detail
    # deletion vectors: files carrying one + total deleted-row count (the
    # "how much merge-on-read debt has accreted / time to compact()" gauge)
    dv_map = m.get("dvs") or {}
    dv_rows = 0
    for sc in sorted(set(dv_map.values())):
        try:
            with open(os.path.join(path, sc), encoding="utf-8") as fh:
                payload = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue  # damaged/missing sidecar degrades reads, not detail
        dv_rows += sum(
            int(rec.get("card", 0))
            for f, rec in payload.items()
            if dv_map.get(f) == sc  # only entries this manifest references
        )
    cm = m.get("colmap") or {}
    schema = (
        _schema_from_json(m["schema"]).names if m.get("schema") else None
    )
    return {
        "path": path,
        "version": v,
        "head": head,
        "mode": m.get("mode"),
        "committed_at": m.get("committed_at"),
        "num_files": len(m["files"]),
        "missing_files": missing,
        "size_bytes": size,
        "columns": schema,
        "stats_columns": sorted(stats_cols),
        "bloom_columns": sorted(bloom_cols),
        "constraints": dict(m.get("constraints") or {}),
        # only the NON-identity part of the mapping is interesting
        "renamed_columns": {k: p for k, p in cm.items() if k != p},
        "dropped_physicals": list(m.get("dropped_physicals") or []),
        "dv_files": len(dv_map),
        "dv_deleted_rows": dv_rows,
    }


def history(path: str) -> list[dict]:
    out = []
    for v in range(1, current_version(path) + 1):
        # raw read: n_files/mode are manifest-list scalars on sharded
        # manifests (n_files recorded at commit); inline manifests count
        # their files list directly
        m = _read_manifest(path, v, materialize=False)
        n = m.get("n_files") if "shards" in m else len(m["files"])
        out.append({"version": v, "n_files": n, "mode": m.get("mode", "?")})
    return out


# ---------------------------------------------------------------------------
# Branch / tag refs + write-audit-publish (Iceberg branching & tagging;
# the Netflix WAP pattern). See the refs section by _manifest_path for the
# storage model. The canonical flow:
#   create_branch(path, "audit")                      # step 0: fork
#   write_version(df, path, branch="audit")           # step 1: WRITE staged
#   read_branch(spark, path, "audit") ... checks ...  # step 2: AUDIT
#   fast_forward(path, "audit")                       # step 3: PUBLISH
# A pre-publish main reader NEVER sees staged commits; a failed audit just
# delete_branch()es and vacuum reclaims the staged files.
# ---------------------------------------------------------------------------


def create_branch(path: str, name: str, at_version: int | None = None) -> int:
    """Fork a staging branch at `at_version` (default: the current main
    head; 0 on an empty table — staging the very first load is the
    standard WAP bootstrap). Returns the fork version. Refusing an
    existing name is typed: silently reusing a live branch would let two
    writers interleave staged lineages."""
    _check_ref_name(name)
    os.makedirs(_vdir(path), exist_ok=True)
    with _latest_lock(path):
        refs = _load_refs(path)
        if name in refs["branches"]:
            raise ValueError(f"branch {name!r} already exists at {path}")
        v = current_version(path) if at_version is None else at_version
        if at_version is not None:
            _check_version(path, v)
        refs["branches"][name] = {"fork": v, "head": v}
        _write_atomic(_refs_path(path), refs)
    return v


def branch_head(path: str, name: str) -> int:
    """The branch's newest staged version — the refs entry is a
    forward-only CACHE exactly like _latest (the manifest-name CAS is the
    truth), so probe past it for commits whose pointer advance was lost."""
    info = _branch_info(path, name)
    h = info.get("head", info["fork"])
    while os.path.exists(_branch_manifest_file(path, h + 1, name)):
        h += 1
    return h


def delete_branch(path: str, name: str) -> None:
    """Drop a branch ref (an ABANDONED audit): its staged manifests and
    any files only they reference become unreferenced garbage that vacuum
    reclaims age-gated. Raises on a missing name (dropping a typo'd branch
    silently would leave the caller believing the staging was discarded)."""
    with _latest_lock(path):
        refs = _load_refs(path)
        if name not in refs["branches"]:
            raise ValueError(f"no branch {name!r} at {path}")
        del refs["branches"][name]
        _write_atomic(_refs_path(path), refs)


def read_branch(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> DataFrame:
    """Snapshot read of a STAGED branch (the WAP audit step): the branch's
    newest staged version by default, or any version along its lineage —
    at or before the fork it is simply main history. Deletion vectors,
    column mapping and recorded schema apply exactly as on main (one
    shared _read_files funnel)."""
    fork = _branch_info(path, name)["fork"]
    v = branch_head(path, name) if version is None else version
    if v <= fork:
        return read_version(spark, path, v)
    m = _read_manifest(path, v, branch=name, fork=fork)
    if not m["files"]:
        raise ValueError(f"branch {name!r} version {v} is empty")
    return _read_files(spark, path, m, m["files"])


def read_branch_pruned(
    spark: SparkSession,
    path: str,
    name: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """FILE-SKIPPING read of a STAGED branch snapshot — the audit step at
    scale: a 100 TB staging branch's dq gate wants `col BETWEEN lo AND hi`
    planned from manifest stats (and partition-transform probes) exactly
    like read_version_pruned on main, not a full scan. Returns
    (df, files_skipped, files_total); same soundness contract."""
    from pyspark.sql import functions as F

    fork = _branch_info(path, name)["fork"]
    v = branch_head(path, name) if version is None else version
    if v <= fork:
        return read_version_pruned(spark, path, col, lo, hi, version=v)
    m = _read_manifest(path, v, materialize=False, branch=name, fork=fork)
    if ("shards" not in m and not m["files"]) or (
        "shards" in m and m.get("n_files", 0) == 0
    ):
        raise ValueError(f"branch {name!r} version {v} is empty")
    read_m, kept, skipped, total = _plan_pruned_files(path, m, col, lo, hi)
    if kept:
        df = _read_files(spark, path, read_m, kept)
    elif m.get("schema") is not None:
        df = spark.createDataFrame([], _schema_from_json(m["schema"]))
    else:
        df = read_branch(spark, path, name, version=v).limit(0)
    return (
        df.filter(F.col(col).between(F.lit(lo), F.lit(hi))),
        skipped,
        total,
    )


def create_tag(path: str, name: str, at_version: int | None = None) -> int:
    """Pin an immutable named TAG at a main version (default: head) — a
    reproducible read: vacuum retains the tagged snapshot's files for as
    long as the tag exists, so `read_tag` answers identically forever."""
    _check_ref_name(name)
    with _latest_lock(path):
        refs = _load_refs(path)
        if name in refs["tags"]:
            raise ValueError(f"tag {name!r} already exists at {path}")
        v = current_version(path) if at_version is None else at_version
        _check_version(path, v)  # a tag must name a committed main version
        refs["tags"][name] = v
        _write_atomic(_refs_path(path), refs)
    return v


def delete_tag(path: str, name: str) -> None:
    with _latest_lock(path):
        refs = _load_refs(path)
        if name not in refs["tags"]:
            raise ValueError(f"no tag {name!r} at {path}")
        del refs["tags"][name]
        _write_atomic(_refs_path(path), refs)


def read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Time travel by TAG: the pinned snapshot, exactly as tagged."""
    v = _load_refs(path)["tags"].get(name)
    if v is None:
        raise ValueError(f"no tag {name!r} at {path}")
    return read_version(spark, path, v)


def list_refs(path: str) -> dict:
    """{'branches': {name: {'fork', 'head'}}, 'tags': {name: version}}."""
    return _load_refs(path)


def fast_forward(path: str, branch: str) -> int:
    """PUBLISH a staged branch into main (WAP step 3): each staged commit
    past the fork is re-written as a CLEAN manifest ('branch' marker
    replaced by 'published_from' provenance) and hard-linked into the main
    lineage under the SAME manifest-name CAS every writer uses, then
    _latest advances to the branch head — main's history gains exactly
    the staged commits, parent chain intact. Returns the new main head.

    ALL-OR-NOTHING on conflict, crash-RESUMABLE on death. The whole
    publish runs under the _latest flock — the same lock every pointer
    advance and vacuum's adoption pass take — so while it holds, no
    concurrent writer can observe an advanced pointer (writers pick
    their slot from _latest, which stays at the fork until we finish)
    and vacuum cannot adopt a partially-linked prefix. A slot conflict
    can therefore only be detected at the FIRST slot we touch, before
    any new slot is linked: PublishConflictError means main truly moved
    past the fork before we started, and the publish changed nothing —
    re-stage onto the new head, never force. A main slot already holding
    content-identical bytes (an earlier publish that DIED mid-loop —
    vacuum may even have adopted its prefix; that is the one window the
    lock cannot close, since death releases the flock) is skipped, so
    re-running fast_forward completes the interrupted publish. After
    publishing, the branch re-roots at the new head (fork = head, no
    staged work) rather than dangling at the old fork."""

    def _strip(d: dict) -> dict:
        return {k: v for k, v in d.items() if k not in ("branch", "published_from")}

    fork = _branch_info(path, branch)["fork"]
    head = branch_head(path, branch)
    with _latest_lock(path):
        linked_any = False
        for v in range(fork + 1, head + 1):
            with open(_branch_manifest_file(path, v, branch), encoding="utf-8") as fh:
                m = json.load(fh)
            m.pop("branch", None)
            m["published_from"] = branch
            target = _manifest_path(path, v)
            if _cas_create(target, m):
                linked_any = True
                continue
            with open(target, encoding="utf-8") as fh:
                if _strip(json.load(fh)) == _strip(m):
                    continue  # resume: a prior (dead) publish landed this slot
            # under the lock nobody else can link new slots mid-loop
            # (writers target _latest+1 = fork+1, our first slot), so a
            # foreign slot here predates this call or raced our very first
            # link: nothing of ours is linked yet and the publish is a
            # clean no-op failure
            assert not linked_any, (
                "publish invariant violated: foreign manifest appeared "
                "inside the locked publish loop"
            )
            raise PublishConflictError(
                f"cannot fast-forward {branch!r} into {path}: main already "
                f"holds a different v{v} (a concurrent commit landed after "
                f"the fork at v{fork}); re-stage onto the new head"
            )
        # pointer advance INLINE under the same (non-reentrant) flock
        if current_version(path) < head:
            _write_atomic(
                os.path.join(_vdir(path), "_latest.json"), {"version": head}
            )
        refs = _load_refs(path)
        if branch in refs["branches"]:
            refs["branches"][branch] = {"fork": head, "head": head}
            _write_atomic(_refs_path(path), refs)
    # the staged copies are now redundant (content-identical manifests
    # live at the main names and the branch re-rooted past them): drop
    # them so a long-lived branch doesn't accrete dead staged files that
    # the live-branch vacuum guard would retain forever
    for v in range(fork + 1, head + 1):
        try:
            os.remove(_branch_manifest_file(path, v, branch))
        except FileNotFoundError:
            pass  # a concurrent publish already cleaned it; fine
    return head


# ---------------------------------------------------------------------------
# ROW LINEAGE (Iceberg v3 `_row_id`): every row carries a STABLE id minted
# at commit time — the audit-trail primitive CDC consumers need ("which
# physical rows is this derived record built from?"). Design:
#
# - each data file owns a CONTIGUOUS id block: its first-row-id lives in
#   the stats channel ("__rid" -> [first, first]); a row's id is
#   first + row position. Assignment costs one footer num_rows read per
#   NEW file at commit (the _footer_minmax cost class) and a monotone
#   manifest counter ("next_row_id") — ids are never reused, rollback
#   inherits the head's counter, vacuum can't resurrect a burned id.
# - MAINTENANCE rewrites (compact / optimize_zorder / purge_dvs /
#   purge_eq) preserve ids by MATERIALIZING them: the rewrite reads rows
#   with their computed ids and stages files that physically carry a
#   hidden '__rid' long column (invisible to normal reads — the recorded
#   schema never mentions it; such files are flagged "__ridm" in stats).
#   The lineage read coalesces: materialized column if present, else
#   block arithmetic.
# - update_where_dv CARRIES ids: the copied row keeps the original row's
#   identity (materialized like a maintenance rewrite), so the lineage
#   change feed shows an update as delete+insert under ONE _row_id — the
#   Iceberg v3 update semantics. Full row REWRITES that lose row
#   provenance (overwrite, merge, SCD2 folds) mint fresh ids — the
#   rewritten row is a new row, id-wise, and claiming otherwise without
#   per-row transport would fabricate lineage.
# ---------------------------------------------------------------------------

_RID_COL = "__rid"  # the reserved hidden physical column + stats key


def _footer_num_rows(path: str, rel: str) -> int:
    import pyarrow.parquet as pq

    return int(pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows)


def _assign_row_ids(
    path: str, parent_m: dict, new_files: list[str], stats: dict
) -> int | None:
    """When the parent tracks row lineage, stamp a fresh contiguous id
    block ("__rid") into `stats` for every new file that doesn't already
    carry lineage (a rewrite-materialized file has "__ridm" instead) and
    return the advanced counter; None when lineage is off. One footer
    num_rows read per new file — same cost class as stats collection."""
    if not parent_m.get("row_lineage"):
        return None
    nxt = int(parent_m.get("next_row_id") or 0)
    for f in sorted(new_files):
        rec = stats.setdefault(f, {})
        if _RID_COL in rec or "__ridm" in rec:
            continue  # already lineage-bearing (materialized or carried)
        n_rec = rec.get("__n")  # commit already stamped record_count
        n = n_rec[0] if n_rec else _footer_num_rows(path, f)
        rec[_RID_COL] = [nxt, nxt]
        nxt += n
    return nxt


def enable_row_lineage(path: str) -> int:
    """ALTER TABLE ... SET ROW LINEAGE — a metadata commit assigning
    every EXISTING file its first-row-id block (one footer num_rows
    sweep, zero data rewrites) and turning the flag on; every later
    commit assigns blocks to its new files automatically. Idempotent
    (returns the head untouched when already enabled). Refused when the
    schema claims the reserved '__rid' name."""
    base = _open_base(path)
    m = base.m
    if m.get("row_lineage"):
        return base.version
    if m.get("schema") is None:
        raise ValueError("legacy manifest records no schema; lineage needs one")
    schema = _schema_from_json(m["schema"])
    cm = m.get("colmap") or {}
    if _RID_COL in schema.names or _RID_COL in {
        cm.get(n, n) for n in schema.names
    }:
        raise ValueError(f"{_RID_COL!r} is reserved by row lineage")
    stats = {f: dict(rec) for f, rec in (m.get("stats") or {}).items()}
    nxt = 0
    for f in m["files"]:
        rec = stats.setdefault(f, {})
        rec[_RID_COL] = [nxt, nxt]
        nxt += _footer_num_rows(path, f)
    return _commit(
        path,
        base,
        "alter-lineage",
        files=m["files"],
        stats=stats,
        blooms=m.get("blooms"),
        dvs=m.get("dvs"),
        row_lineage=True,
        next_row_id=nxt,
    )


def _read_files_lineage(
    spark: SparkSession, path: str, m: dict, files: list[str]
) -> DataFrame:
    """`files` read with a `_row_id` column: materialized '__rid' bytes
    where a rewrite wrote them, first-block + row-position arithmetic
    everywhere else (one broadcast of the O(files) first-id map)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    stats = m.get("stats") or {}
    d = _read_files(
        spark, path, m, files, with_positions=True,
        extra_phys_cols=(_RID_COL,),
    )
    firsts = [
        (os.path.basename(f), int(stats[f][_RID_COL][0]))
        for f in files
        if _RID_COL in (stats.get(f) or {})
    ]
    fdf = spark.createDataFrame(
        firsts,
        StructType(
            [
                StructField("__rl_file", StringType(), False),
                StructField("__rl_first", LongType(), False),
            ]
        ),
    )
    d = d.join(
        F.broadcast(fdf), d["__dv_file"] == F.col("__rl_file"), "left"
    )
    d = d.withColumn(
        "_row_id",
        F.coalesce(F.col(_RID_COL), F.col("__rl_first") + F.col("__dv_pos")),
    )
    return d.drop(_RID_COL, "__rl_file", "__rl_first", "__dv_file", "__dv_pos")


def read_version_lineage(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The snapshot with its `_row_id` column — stable across every
    maintenance rewrite, fresh only for genuinely new rows."""
    v = current_version(path) if version is None else version
    _check_version(path, v)
    m = _read_manifest(path, v)
    if not m.get("row_lineage"):
        raise ValueError(
            f"row lineage is not enabled at {path} (enable_row_lineage)"
        )
    if "_row_id" in _schema_from_json(m["schema"]).names:
        raise ValueError("table has a _row_id column — the name is reserved")
    return _read_files_lineage(spark, path, m, m["files"])


def _metadata_file_rows(table_path: str, files, stats: dict, dvs: dict):
    """One metadata-table row per data file — module-level so the sharded
    build's executor tasks and the inline driver build share one
    definition (identical rows whichever side computes them)."""
    for f in files:
        try:
            size = os.stat(os.path.join(table_path, f)).st_size
        except FileNotFoundError:
            size = None  # vacuumed history: report, don't raise
        rec = stats.get(f) or {}
        av = rec.get("__v")
        tup = {k: str(vv[0]) for k, vv in rec.items() if k.startswith("__p:")}
        yield (f, size, av[0] if av else None, f in dvs, tup or None)


def metadata_table(
    spark: SparkSession, path: str, kind: str, version: int | None = None
) -> DataFrame:
    """Iceberg-style METADATA TABLES — the table's own bookkeeping served
    as DataFrames (SELECT * FROM t.history / t.files / ...):

    - "history" / "snapshots": one row per committed version — version,
      parent, mode, committed_at, n_files, branch provenance, marker;
    - "files": one row per data file AT `version` (default head) — path,
      bytes, add_version (the "__v" stamp; null predates it), has_dv,
      partition tuple as a map of transform-key -> value;
    - "partitions": the files table aggregated per partition tuple —
      n_files + total bytes;
    - "refs": one row per branch/tag (kind, name, version, fork).

    Cost shape (files/partitions kinds): a SHARDED manifest builds the
    relation DISTRIBUTED — one task per manifest shard parses its own
    sidecar and stats its own files via mapInPandas, so a 10^6-file
    table materializes in O(shards/executors) wall time with FLAT driver
    memory (the driver holds only the KB-scale shard entry list, never a
    per-file row list). Inline manifests (small tables by construction —
    growth reshards) keep the direct driver build. history/snapshots/refs
    are O(versions)/O(refs) driver-side scalars either way. Zero data
    file reads in all kinds."""
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    head = current_version(path)
    if kind in ("history", "snapshots"):
        rows = []
        for v in range(1, head + 1):
            m = _read_manifest(path, v, materialize=False)
            n = m.get("n_files") if "shards" in m else len(m["files"])
            rows.append(
                (
                    v,
                    m.get("parent"),
                    m.get("mode", "?"),
                    float(m.get("committed_at") or 0.0),
                    n,
                    m.get("published_from"),
                    m.get("marker"),
                )
            )
        return spark.createDataFrame(
            rows,
            StructType(
                [
                    StructField("version", LongType(), False),
                    StructField("parent", LongType(), True),
                    StructField("mode", StringType(), True),
                    StructField("committed_at", DoubleType(), True),
                    StructField("n_files", LongType(), True),
                    StructField("published_from", StringType(), True),
                    StructField("marker", StringType(), True),
                ]
            ),
        )
    if kind == "refs":
        refs = _load_refs(path)
        rows = [
            ("branch", n, info.get("head", info["fork"]), info["fork"])
            for n, info in sorted(refs["branches"].items())
        ] + [("tag", n, v, None) for n, v in sorted(refs["tags"].items())]
        return spark.createDataFrame(
            rows,
            StructType(
                [
                    StructField("kind", StringType(), False),
                    StructField("name", StringType(), False),
                    StructField("version", LongType(), True),
                    StructField("fork", LongType(), True),
                ]
            ),
        )
    if kind in ("files", "partitions"):
        v = head if version is None else version
        _check_version(path, v)
        files_schema = StructType(
            [
                StructField("file", StringType(), False),
                StructField("bytes", LongType(), True),
                StructField("add_version", LongType(), True),
                StructField("has_dv", BooleanType(), True),
                StructField(
                    "partition", MapType(StringType(), StringType()), True
                ),
            ]
        )

        raw = _read_manifest(path, v, materialize=False)
        if "shards" in raw:
            # DISTRIBUTED build: one row per shard entry in, the shard's
            # file rows out — the driver never materializes the file list
            import pandas as pd

            table_path = path  # plain string closure: picklable
            shard_rels = sorted(
                e["path"] for e in raw["shards"]["entries"].values()
            )

            def _expand(batches):
                for pdf in batches:
                    out = {c: [] for c in
                           ("file", "bytes", "add_version", "has_dv",
                            "partition")}
                    for rel in pdf["shard"]:
                        with open(
                            os.path.join(table_path, rel), encoding="utf-8"
                        ) as fh:
                            payload = json.load(fh)
                        for row in _metadata_file_rows(
                            table_path,
                            payload["files"],
                            payload.get("stats") or {},
                            payload.get("dvs") or {},
                        ):
                            for c, val in zip(out, row):
                                out[c].append(val)
                    yield pd.DataFrame(out)

            n_slices = max(
                1, min(len(shard_rels), spark.sparkContext.defaultParallelism)
            )
            files_df = (
                spark.createDataFrame(
                    [(s,) for s in shard_rels], "shard string"
                )
                .repartition(n_slices)
                .mapInPandas(_expand, files_schema)
            )
            if kind == "files":
                return files_df
        else:
            m = _read_manifest(path, v)
            rows = list(
                _metadata_file_rows(
                    path, m["files"], m.get("stats") or {}, m.get("dvs") or {}
                )
            )
            files_df = spark.createDataFrame(rows, files_schema)
        if kind == "files":
            return files_df
        from pyspark.sql import functions as F

        return (
            files_df.withColumn(
                "partition_key",
                F.coalesce(
                    F.map_entries("partition").cast("string"), F.lit("<none>")
                ),
            )
            .groupBy("partition_key")
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("bytes").alias("total_bytes"),
            )
        )
    raise ValueError(
        f"unknown metadata table {kind!r}; use history|snapshots|files|"
        f"partitions|refs"
    )


class _MetaAggFallback(Exception):
    """Internal: the manifest cannot answer this aggregate exactly."""


def plan_metadata_aggregate(
    path: str, cols: tuple = (), version: int | None = None
) -> dict:
    """Plan COUNT(*) / MIN(col) / MAX(col) from the MANIFEST alone —
    Iceberg's metadata aggregate pushdown (SELECT COUNT(*) answered from
    per-file record counts, MIN/MAX from manifest column stats) — and
    return either the answer or a typed refusal, never a wrong number.

    Returns {"metadata_only": True, "count": N, "minmax": {col: [lo, hi]
    | None}, "version": v, "shards_loaded": k} when every contribution is
    provably exact, else {"metadata_only": False, "reason": ...} and the
    caller (aggregate_metadata) degrades to a snapshot scan.

    Cost shape — the 100 TB point: on a sharded manifest a clean COUNT(*)
    + MIN/MAX folds the O(shards) entry list alone (each entry carries
    "rows" and the column summary), loading ZERO shard sidecars and ZERO
    data bytes: a 10^6-file table answers in milliseconds of driver work.
    A shard is loaded (KB of JSON, still zero data IO) only when its
    entry predates the "rows" channel or carries deletion vectors whose
    cardinality COUNT must subtract.

    Exactness rules (each violation is a typed fallback, mirroring the
    pruning stack's degrade-to-read discipline):
    - COUNT(*): every file must carry its commit-time "__n" record count
      (tables written before the channel fall back); DV-deleted positions
      subtract via the KB sidecars; PENDING equality deletes fall back
      (their matched-row count is unknowable without a scan).
    - MIN/MAX: integer/float/boolean columns only — footer stats for
      these are recorded EXACTLY by column_minmax, while string stats are
      truncated BOUNDS (sound for pruning, not exact values) and decimal
      stats fold through JSON floats; both refuse. Any DV in scope
      refuses (the vector may have deleted the extreme row). A file
      missing the column's stats refuses (all-NULL is indistinguishable
      from not-collected) — except a 0-row file (contributes nothing) or
      a file that PREDATES the column (add_version "__v" below a
      defaults entry's seq): those rows all serve the initial-default,
      which folds as a constant, Iceberg v3's default-aware scan planning
      applied to aggregation. NaN caveat: parquet float stats share the
      pruning stack's trust in writer NaN handling; pyarrow (this
      engine's only writer) omits stats for NaN-bearing pages, which
      lands on the refusing side."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    v = current_version(path) if version is None else version
    if version is not None:
        _check_version(path, version)
    if v == 0:
        raise ValueError(f"no versions at {path}")
    m = _read_manifest(path, v, materialize=False)

    def fallback(reason: str) -> dict:
        return {"metadata_only": False, "reason": reason, "version": v}

    if m.get("schema") is None:
        return fallback("legacy manifest without a recorded schema")
    schema = _schema_from_json(m["schema"])
    cm = m.get("colmap") or {}
    ok_types = (
        ByteType, ShortType, IntegerType, LongType,
        FloatType, DoubleType, BooleanType,
    )
    phys_cols: dict = {}
    unsupported: str | None = None
    for c in cols:
        if c not in schema.names:
            # a typo refuses LOUDLY — falling back would scan and then
            # raise anyway, after paying for the read
            raise ValueError(f"no column {c!r} in the table schema")
        if unsupported is None and not isinstance(
            schema[c].dataType, ok_types
        ):
            unsupported = (
                f"column {c!r} is {schema[c].dataType.simpleString()}: "
                "manifest stats are exact only for int/float/boolean"
            )
        phys_cols[c] = cm.get(c, c)
    if unsupported:
        return fallback(unsupported)
    if m.get("eqdeletes"):
        return fallback("pending equality deletes: matched rows unknowable")
    # initial-defaults: phys -> (value, seq); a file whose add version
    # precedes seq serves `value` for every row (versioned._commit)
    dflt: dict = {}
    for d in m.get("defaults") or []:
        if d["col"] not in dflt or d["seq"] > dflt[d["col"]][1]:
            dflt[d["col"]] = (d.get("value"), d["seq"])

    count = 0
    mm: dict = {p: None for p in phys_cols.values()}
    shards_loaded = 0

    def fold_val(p: str, lo, hi) -> None:
        cur = mm[p]
        mm[p] = (
            [lo, hi]
            if cur is None
            else [min(cur[0], lo), max(cur[1], hi)]
        )

    def fold_files(files: list, stats: dict, dvs_map: dict) -> None:
        nonlocal count
        for f in files:
            rec = stats.get(f) or {}
            n = rec.get("__n")
            if n is None:
                raise _MetaAggFallback(
                    f"{f} predates per-file record counts"
                )
            count += int(n[0])
            if not phys_cols:
                continue
            if f in dvs_map:
                raise _MetaAggFallback(
                    f"{f} carries a deletion vector: MIN/MAX may have "
                    "been deleted"
                )
            if int(n[0]) == 0:
                continue  # an empty file bounds nothing
            fv = (rec.get("__v") or [0])[0]
            for p in mm:
                s = rec.get(p)
                if s is not None:
                    fold_val(p, s[0], s[1])
                elif p in dflt and fv < dflt[p][1]:
                    if dflt[p][0] is not None:
                        fold_val(p, dflt[p][0], dflt[p][0])
                    # default NULL: the file's rows bound nothing
                else:
                    raise _MetaAggFallback(
                        f"{f} has no recorded stats for {p!r} (all-NULL "
                        "and not-collected are indistinguishable)"
                    )
        if dvs_map:
            # KB sidecars, still zero data IO: subtract deleted positions
            for pos in _load_dvs(
                path, {"dvs": dvs_map}, [f for f in files if f in dvs_map]
            ).values():
                count -= len(pos)

    try:
        if "shards" in m:
            cache: dict = {}
            for b, entry in sorted(m["shards"]["entries"].items()):
                summ = entry.get("summary") or {}
                if (
                    "rows" in entry
                    and "dvf" not in entry
                    and all(p in summ for p in phys_cols.values())
                ):
                    # entry-only fold: "rows" with no "dvf" proves the
                    # shard vector-free; a summary column proves every
                    # file carries that stat (see _shard_summary)
                    count += int(entry["rows"])
                    for p in phys_cols.values():
                        fold_val(p, summ[p][0], summ[p][1])
                    continue
                payload = _load_shard(path, entry, cache=cache)
                shards_loaded += 1
                fold_files(
                    payload["files"],
                    payload.get("stats") or {},
                    payload.get("dvs") or {},
                )
        else:
            fold_files(
                m["files"], m.get("stats") or {}, m.get("dvs") or {}
            )
    except _MetaAggFallback as e:
        return fallback(str(e))
    inv = {p: c for c, p in phys_cols.items()}
    return {
        "metadata_only": True,
        "reason": None,
        "version": v,
        "count": count,
        "minmax": {inv[p]: mm[p] for p in mm},
        "shards_loaded": shards_loaded,
    }


def aggregate_metadata(
    spark: SparkSession,
    path: str,
    cols: tuple = (),
    version: int | None = None,
) -> DataFrame:
    """SELECT COUNT(*), MIN(c), MAX(c)... answered from the MANIFEST when
    plan_metadata_aggregate proves it exact (zero data IO — the files can
    be cold, compressed, or on another continent), else by the plain
    snapshot scan. One row either way: count_rows BIGINT plus
    min_<c>/max_<c> in each column's own type, so callers cannot tell
    which path served them except by asking the planner."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    plan = plan_metadata_aggregate(path, cols, version)
    if plan["metadata_only"]:
        m = _read_manifest(path, plan["version"], materialize=False)
        schema = _schema_from_json(m["schema"])
        fields = [StructField("count_rows", LongType(), True)]
        row = [plan["count"]]
        for c in cols:
            lohi = plan["minmax"][c]
            fields += [
                StructField(f"min_{c}", schema[c].dataType, True),
                StructField(f"max_{c}", schema[c].dataType, True),
            ]
            row += [None, None] if lohi is None else [lohi[0], lohi[1]]
        return spark.createDataFrame([tuple(row)], StructType(fields))
    df = read_version(spark, path, version)
    aggs = [F.count(F.lit(1)).cast("long").alias("count_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.agg(*aggs)


def vacuum(
    path: str, keep_versions: int = 1, grace_seconds: float = 3600.0
) -> list[str]:
    """Delete data files referenced by NO retained version (the newest
    `keep_versions` manifests plus everything they reference stay). Returns
    the deleted file names. Like every vacuum, it shortens the time-travel
    horizon it deletes from.

    Concurrency contract: safe alongside live writers PROVIDED
    `grace_seconds` exceeds the longest plausible write+commit duration
    (the Delta VACUUM retention-period idea):
    - a committed-but-unpointed manifest — a writer crashed or paused
      between the CAS hard-link (the true commit point) and the _latest
      advance — is ADOPTED: the pointer is advanced to it under the same
      flock _commit uses, never deleted;
    - a manifest beyond the head whose data files are missing (torn
      beyond repair) is removed only once older than `grace_seconds`;
    - unreferenced data files (an in-flight writer's staged output moved
      into data/ but not yet committed, or a lost CAS) are removed only
      once older than `grace_seconds`, so a racing commit never ends up
      referencing deleted files.
    `grace_seconds=0` reclaims everything immediately — use it only with
    no active writers (quiesced maintenance). In particular rollback() is
    UNSAFE alongside a grace_seconds=0 vacuum: rollback's protection is
    re-freshening the historical files it re-references (putting them back
    inside the grace window), and a zero window disables both freshness
    probes below."""
    import time

    if not os.path.isdir(_vdir(path)):
        return []  # nothing committed -> maintenance no-op
    data_dir = os.path.join(path, "data")
    now = time.time()
    deleted: list[str] = []
    with _latest_lock(path):
        cur = current_version(path)
        # adopt committed-but-unpointed manifests: the CAS link IS the
        # commit (manifest content is fsync'd before the link), _latest is
        # only a forward-only cache of it — deleting such a manifest would
        # let a later commit reuse its version number and fork history
        adopted = cur
        while os.path.exists(_manifest_path(path, adopted + 1)):
            try:
                m = _read_manifest(path, adopted + 1)
                intact = all(
                    os.path.exists(os.path.join(path, f)) for f in m["files"]
                )
            except (
                ValueError, KeyError, TypeError, json.JSONDecodeError,
                OSError,  # a sharded manifest whose shard sidecar is gone
            ):
                # TypeError: valid JSON of the wrong shape (non-dict, or a
                # non-list "files") is damage too — age-gate it below
                intact = False
            if not intact:
                break  # damaged: leave it to the age-gated sweep below
            adopted += 1
        if adopted > cur:
            _write_atomic(
                os.path.join(_vdir(path), "_latest.json"), {"version": adopted}
            )
            cur = adopted
        keep: set | None = None
        refs = _load_refs(path)
        if cur > 0 and os.path.isdir(data_dir):
            keep = set()
            for v in range(max(1, cur - keep_versions + 1), cur + 1):
                keep.update(_read_manifest(path, v)["files"])
            # LIVE branches' staged snapshots and TAGGED versions pin
            # their files exactly like retained main versions — a staged
            # write must survive until published or the branch is deleted,
            # and a tag is a reproducible read by contract
            for bname, info in refs["branches"].items():
                for v in range(info["fork"] + 1, branch_head(path, bname) + 1):
                    try:
                        keep.update(
                            _read_manifest(
                                path, v, branch=bname, fork=info["fork"]
                            )["files"]
                        )
                    except (OSError, ValueError, KeyError, json.JSONDecodeError):
                        continue  # torn staged commit: its own sweep applies
            for tv in set(refs["tags"].values()):
                try:
                    keep.update(_read_manifest(path, tv)["files"])
                except (OSError, ValueError, KeyError, json.JSONDecodeError):
                    continue
    # the sweeps run OUTSIDE the lock: manifests and data files are
    # immutable once published, and the age gate makes removal safe against
    # in-flight writers (fresh staged files by mtime; rollback() explicitly
    # re-freshens the historical files it re-references before committing,
    # so they re-enter the grace window too) — holding the flock for the whole
    # mtime-probe + os.remove pass would block every concurrent writer's
    # pointer advance for the full sweep duration on a large table.
    # FileNotFoundError = a concurrent vacuum won the race; fine.
    # age-gated removal of manifests still beyond the head (damaged /
    # gapped): a YOUNG one may be a writer mid-commit — leave it. A LIVE
    # branch's staged manifests are never swept whatever their age (a
    # branch may stage for longer than any grace window — publication is
    # the human-paced audit step); a DEAD branch's manifests age out.
    live_branches = set(refs["branches"])
    for fn in sorted(os.listdir(_vdir(path))):
        mt = _MANIFEST_RE.match(fn)
        if mt:
            br = mt.group(2)
            if br is not None and br in live_branches:
                continue  # staged commit of a live branch: retained
            if br is None and int(mt.group(1)) <= cur:
                continue  # main history: retained for time travel
            full = os.path.join(_vdir(path), fn)
            try:
                if now - os.path.getmtime(full) >= grace_seconds:
                    os.remove(full)
            except FileNotFoundError:
                pass
    # bloom / deletion-vector sidecars referenced by NO manifest (a lost
    # commit CAS staged one, or a damaged manifest was swept above) are
    # small orphans: age-gated removal like staged data files. Referenced
    # sidecars live exactly as long as their manifests, which vacuum
    # retains.
    referenced_sidecars: set = set()
    for fn in sorted(os.listdir(_vdir(path))):
        if _MANIFEST_RE.match(fn):
            # read the ACTUAL file (main or branch-staged): a branch
            # manifest's sidecars are referenced metadata exactly like a
            # main manifest's — resolving by version number alone would
            # read the wrong lineage and sweep a live branch's sidecars
            try:
                with open(os.path.join(_vdir(path), fn), encoding="utf-8") as fh:
                    mm = json.load(fh)
                referenced_sidecars.update((mm.get("blooms") or {}).values())
                referenced_sidecars.update((mm.get("dvs") or {}).values())
                referenced_sidecars.update(
                    e["sc"] for e in mm.get("eqdeletes") or []
                )
                # sharded manifests: the shard files themselves are
                # referenced metadata, exactly like bloom/dv sidecars
                referenced_sidecars.update(
                    e["path"]
                    for e in (mm.get("shards") or {}).get("entries", {}).values()
                )
            except (
                ValueError, KeyError, TypeError, json.JSONDecodeError,
                AttributeError,  # valid JSON of the wrong shape
                OSError,  # swept by a concurrent vacuum; fine
            ):
                continue  # damaged/raced manifest: handled by its own sweep
    # bloom/dv references INSIDE shard payloads: each unique shard is
    # content-addressed and shared across versions, so one pass over the
    # referenced shard set (never per-manifest) collects them all
    for sc in sorted(
        s for s in referenced_sidecars
        if os.path.basename(s).startswith("shard-")
    ):
        try:
            with open(os.path.join(path, sc), encoding="utf-8") as fh:
                payload = json.load(fh)
            referenced_sidecars.update((payload.get("blooms") or {}).values())
            referenced_sidecars.update((payload.get("dvs") or {}).values())
        except (OSError, json.JSONDecodeError, AttributeError, TypeError):
            continue  # damaged shard: its manifest is damaged too
    for fn in sorted(os.listdir(_vdir(path))):
        if (
            fn.startswith("blooms-")
            or fn.startswith("dv-")
            or fn.startswith("eqd-")
            or fn.startswith("shard-")
        ) and fn.endswith(".json"):
            rel = os.path.join("_versions", fn)
            full = os.path.join(path, rel)
            try:
                if (
                    rel not in referenced_sidecars
                    and now - os.path.getmtime(full) >= grace_seconds
                ):
                    # re-stat with a CURRENT clock immediately before the
                    # unlink (mirrors the data-file sweep below):
                    # _write_shard utime-refreshes a re-referenced shard
                    # BEFORE its commit, so a just-refreshed mtime means a
                    # writer is adopting this sidecar mid-commit — abort
                    # this delete rather than orphan a committed manifest
                    if time.time() - os.path.getmtime(full) < grace_seconds:
                        continue
                    os.remove(full)
                    deleted.append(rel)
            except FileNotFoundError:
                pass  # concurrent vacuum won; fine
    # snapshot hardlink dirs (_snapshots/<hash>) are rebuildable planning
    # artifacts: any entry older than the grace window is reclaimable — a
    # live reader inside the window keeps its dir (same freshness contract
    # as staged data files). Hardlinks mean removing a data file below
    # reclaims no space until its snapshot dirs go too, so this sweep runs
    # BEFORE the data sweep.
    snap_root = os.path.join(path, "_snapshots")
    if os.path.isdir(snap_root):
        import hashlib
        import shutil

        # never sweep the RETAINED versions' own linkdirs, whatever their
        # age: their data files survive this vacuum by definition, and a
        # live reader of the head must not lose its planned file set to a
        # maintenance pass (pre-linkdir, head reads never broke under
        # vacuum — keep that property). Linkdirs are content-addressed, so
        # the retained dirs are exactly the retained manifests' hashes.
        retained = set()
        for v in range(max(1, cur - keep_versions + 1), cur + 1):
            fs = _read_manifest(path, v)["files"]
            retained.add(
                hashlib.sha256("\n".join(sorted(fs)).encode()).hexdigest()[:16]
            )
        for fn in sorted(os.listdir(snap_root)):
            if fn in retained:
                continue
            full = os.path.join(snap_root, fn)
            try:
                if now - os.path.getmtime(full) >= grace_seconds:
                    shutil.rmtree(full, ignore_errors=True)
            except FileNotFoundError:
                pass
    if keep is None:
        return []
    for fn in sorted(os.listdir(data_dir)):
        rel = os.path.join("data", fn)
        full = os.path.join(data_dir, fn)
        try:
            if rel in keep or now - os.path.getmtime(full) < grace_seconds:
                continue
            # re-stat with a CURRENT clock immediately before the unlink:
            # rollback() utimes every file it re-references BEFORE its
            # commit, so a just-refreshed mtime here means a rollback is
            # mid-flight — abort this file's delete. This narrows the
            # probe->remove race from the whole sweep duration to one
            # stat->remove gap; grace_seconds=0 disables both probes,
            # which is why rollback is documented unsafe alongside it.
            if time.time() - os.path.getmtime(full) < grace_seconds:
                continue
            os.remove(full)
            deleted.append(rel)
        except FileNotFoundError:
            pass
    return deleted


def merge_upsert(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    delete_on: str | None = None,
) -> int:
    """Delta-style MERGE INTO on a versioned table, committed as one new
    version (atomic at the manifest level — readers see either the old or
    the new snapshot, never a mix):

      WHEN MATCHED AND <delete_on>  THEN DELETE
      WHEN MATCHED                  THEN UPDATE SET * (source row wins)
      WHEN NOT MATCHED              THEN INSERT *

    Expressed as ONE full-outer join on `key` + row picks — the join is
    the unavoidable cost of any merge; everything else is column logic.
    Unmatched target rows pass through untouched. Semantics guards (the
    Delta contract): `delete_on` evaluates on the SOURCE row BEFORE the
    join (string literals are never rewritten) and a NULL condition falls
    through to UPDATE; duplicate source keys raise (two updates for one
    target row would multiply it); schema comparison checks names AND
    types; a NULL-keyed source row never matches — it inserts."""
    from pyspark.sql import functions as F

    # snapshot-isolation conflict detection: the merge is computed against
    # THIS version; if another writer commits before our CAS, the commit
    # raises CommitConflictError instead of silently dropping their rows
    base_version = current_version(path)
    target = read_version(spark, path, base_version if base_version else None)
    t_schema = {f.name: f.dataType for f in target.schema.fields}
    s_schema = {f.name: f.dataType for f in source.schema.fields}
    if t_schema != s_schema:
        raise ValueError(
            f"merge schema mismatch: target {sorted(t_schema.items(), key=str)} "
            f"vs source {sorted(s_schema.items(), key=str)}"
        )
    if key not in t_schema:
        raise ValueError(f"merge key {key!r} is not a column")
    dup = (
        source.filter(F.col(key).isNotNull())
        .groupBy(key)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(f"multiple source rows share merge key {dup[0][key]!r}")

    cols = target.columns
    # evaluate the delete predicate on the RAW source row (no identifier
    # rewriting — a regex rename would also corrupt string literals), and
    # carry existence markers so NULL keys never masquerade as 'no row'
    s_prep = source.withColumn("__s_exists", F.lit(True))
    if delete_on is not None:
        s_prep = s_prep.withColumn(
            "__s_del", F.coalesce(F.expr(delete_on), F.lit(False))
        )
    else:
        s_prep = s_prep.withColumn("__s_del", F.lit(False))
    t = target.select(
        [F.col(c).alias(f"__t_{c}") for c in cols] + [F.lit(True).alias("__t_exists")]
    )
    s = s_prep.select(
        [F.col(c).alias(f"__s_{c}") for c in cols] + ["__s_exists", "__s_del"]
    )
    joined = t.join(s, t[f"__t_{key}"] == s[f"__s_{key}"], "full_outer")
    matched = F.col("__t_exists").isNotNull() & F.col("__s_exists").isNotNull()
    from_source = F.col("__s_exists").isNotNull()
    # NULL delete predicate already coalesced to False => falls through to
    # UPDATE, per Delta semantics
    joined = joined.filter(~(matched & F.coalesce("__s_del", F.lit(False))))
    merged = joined.select(
        *[
            F.when(from_source, F.col(f"__s_{c}")).otherwise(F.col(f"__t_{c}")).alias(c)
            for c in cols
        ]
    )
    return write_version(merged, path, mode="overwrite", expected_version=base_version)


def _merge_clause_decision(clauses, kind: str, default: str):
    """First-satisfied-clause-wins decision column (the Delta MERGE clause
    semantics): evaluates the ordered `clauses` conditions and yields the
    tag of the FIRST whose condition holds ('u3'/'d1'/'i0'), else
    `default`. A NULL condition coalesces to False (SQL WHERE), so a row
    no clause claims falls through to the kind's default action."""
    from pyspark.sql import functions as F

    expr = F.lit(default)
    for i in reversed(range(len(clauses))):
        action, cond = clauses[i][0], clauses[i][1]
        hit = (
            F.lit(True)
            if cond is None
            else F.coalesce(F.expr(cond), F.lit(False))
        )
        expr = F.when(hit, F.lit(f"{action[0]}{i}")).otherwise(expr)
    return expr


def merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    matched: tuple = (("update", None),),
    not_matched: tuple = (("insert", None),),
    not_matched_by_source: tuple = (),
    collect_stats: tuple | None = None,
    cluster: bool = True,
    branch: str | None = None,
) -> int | None:
    """Full-clause-matrix MERGE INTO on a versioned table — the complete
    Delta / Iceberg `MERGE` surface that merge_upsert's fixed
    update/delete/insert shape special-cases:

      WHEN MATCHED [AND cond]               THEN UPDATE SET * | DELETE
      WHEN NOT MATCHED [AND cond]           THEN INSERT *
      WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE
                                                 | UPDATE SET assignments

    Clause lists are ORDERED and the first clause whose condition holds
    wins (the Delta contract); a row no clause claims keeps its default
    (matched/target-only rows pass through unchanged, source-only rows
    are dropped). Conditions are SQL strings over the aliases `t.` and
    `s.` ("s.qty < 0", "t.status = 'closed'"); an unqualified name is
    ambiguous by construction and refuses at analysis, which is the
    safe failure. `matched` clauses are ("update"|"delete", cond);
    `not_matched` clauses are ("insert", cond); `not_matched_by_source`
    clauses are ("delete", cond) or ("update", cond, {col: expr-over-t}).

    Pruning shape (the 100 TB point, and what merge_upsert's whole-table
    rewrite lacks): when there are NO not-matched-by-source clauses, only
    target files whose recorded `key` range intersects the SOURCE key
    span [min, max] are read and rewritten; every provably-disjoint file
    rides into the new version BY REFERENCE via write_version_parts — a
    CDC batch against a key-clustered table costs O(overlapping files),
    not O(table). Not-matched-by-source clauses must observe EVERY
    target row, so their presence forces the full scan (the same rule
    Delta applies). The commit is ONE snapshot (CAS on the base version:
    concurrent writers surface as CommitConflictError, never lost rows),
    and the change feed across it is exactly the changed rows — carried
    identical rows cancel under table_changes' bag-semantics diff.

    Guards (shared with merge_upsert): source schema must equal the
    table schema (names AND types); duplicate non-NULL source keys raise
    (one target row cannot take two updates); NULL-keyed source rows
    never match — they flow to the not_matched clauses. Returns the
    committed version, or None when the merge provably touches nothing
    (empty source, no pruned-in files, no NMBS clauses).

    `branch` stages the whole merge on a WAP branch (the delete_where_eq
    / upsert_where_eq discipline): the target is the BRANCH head, the
    commit lands on the branch, and main stays byte-identical until
    fast_forward publishes the staged lineage — completing the WAP x
    MERGE cell of the staging matrix."""
    from pyspark.sql import functions as F

    for cl in matched:
        if cl[0] not in ("update", "delete") or len(cl) != 2:
            raise ValueError(f"bad matched clause {cl!r}")
    for cl in not_matched:
        if cl[0] != "insert" or len(cl) != 2:
            raise ValueError(f"bad not_matched clause {cl!r}")
    for cl in not_matched_by_source:
        if cl[0] == "delete" and len(cl) == 2:
            continue
        if cl[0] == "update" and len(cl) == 3 and isinstance(cl[2], dict):
            continue
        raise ValueError(f"bad not_matched_by_source clause {cl!r}")

    base = _open_base(path, branch)
    v, m = base.version, base.m
    if m.get("schema"):
        t_schema = [
            (f.name, f.dataType)
            for f in _schema_from_json(m["schema"]).fields
        ]
        s_schema = [(f.name, f.dataType) for f in source.schema.fields]
        if t_schema != s_schema:
            raise ValueError(
                f"merge schema mismatch: target {t_schema} vs source {s_schema}"
            )
    cols = [f.name for f in source.schema.fields]
    if key not in cols:
        raise ValueError(f"merge key {key!r} is not a column")
    for cl in not_matched_by_source:
        if cl[0] == "update":
            unknown = sorted(set(cl[2]) - set(cols))
            if unknown:
                raise ValueError(
                    f"not_matched_by_source update assigns unknown columns "
                    f"{unknown}"
                )

    # ONE batch-sized job proves key uniqueness AND yields the key span
    # the pruner needs (the merge_upsert discipline, extended)
    stat = source.agg(
        F.min(key).alias("lo"),
        F.max(key).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        (
            F.count(F.col(key))
            - F.count_distinct(F.col(key))
        ).alias("dups"),
    ).first()
    if stat["dups"]:
        raise ValueError(
            "merge source holds duplicate keys; dedup to one row per key "
            "first (two updates for one target row would be ambiguous)"
        )
    if not_matched_by_source:
        touched, untouched = list(m["files"]), []
    elif stat["n"] == 0:
        return None  # no source rows, no NMBS clauses: nothing can change
    else:
        touched, untouched = _split_files_by_range(m, key, stat["lo"], stat["hi"])
        if not touched and not any(True for _ in not_matched):
            return None  # nothing overlaps and inserts are impossible
    if touched:
        target = _read_files(spark, path, m, touched)
    elif m.get("schema"):
        target = spark.createDataFrame([], _schema_from_json(m["schema"]))
    else:
        target = read_version(spark, path, v).limit(0)

    t = target.withColumn("__t_ex", F.lit(True)).alias("t")
    s = source.withColumn("__s_ex", F.lit(True)).alias("s")
    j = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    is_m = F.col("__t_ex").isNotNull() & F.col("__s_ex").isNotNull()
    t_only = F.col("__t_ex").isNotNull() & F.col("__s_ex").isNull()
    m_dec = _merge_clause_decision(matched, "m", "keep")
    i_dec = _merge_clause_decision(not_matched, "i", "drop")
    n_dec = _merge_clause_decision(not_matched_by_source, "n", "keep")
    dec = F.when(is_m, m_dec).when(t_only, n_dec).otherwise(i_dec)
    j = j.withColumn("__dec", dec).filter(
        ~F.col("__dec").startswith("d") & (F.col("__dec") != "drop")
    )
    take_s = (is_m | ~t_only) & F.col("__dec").startswith(
        F.when(is_m, F.lit("u")).otherwise(F.lit("i"))
    )
    out = []
    for c in cols:
        e = F.when(take_s, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
        for i, cl in enumerate(not_matched_by_source):
            if cl[0] == "update" and c in cl[2]:
                e = F.when(
                    t_only & (F.col("__dec") == f"u{i}"), F.expr(cl[2][c])
                ).otherwise(e)
        out.append(e.alias(c))
    merged = j.select(*out)
    if cluster:
        # the join leaves the rewrite HASH-partitioned on the key — every
        # output file would span the whole key domain and the NEXT merge
        # could prune nothing. One extra range exchange of O(changed)
        # keeps the rewritten files key-clustered (the optimized-write
        # tradeoff), so the pruning above keeps paying off commit after
        # commit; pass cluster=False to skip it when the caller reclusters
        # via optimize_zorder anyway.
        merged = merged.repartitionByRange(F.col(key))
    return write_version_parts(
        [merged],
        path,
        reuse_files=untouched,
        expected_version=v,
        collect_stats=(key,) if collect_stats is None else collect_stats,
        branch=branch,
    )


def _split_files_by_range(m: dict, col: str, lo, hi) -> tuple[list[str], list[str]]:
    """(touched, untouched): a file is untouched when its recorded manifest
    stats for `col` prove it DISJOINT from [lo, hi] (max < lo or min > hi —
    the read_version_pruned rule); files without usable stats are always
    touched (read), never skipped, so pruning degrades to a full rewrite,
    never to a lost row."""
    stats = m.get("stats", {})
    pcol = _phys(m, col)  # stats are keyed by stable PHYSICAL names
    touched: list[str] = []
    untouched: list[str] = []
    for f in m["files"]:
        r = stats.get(f, {}).get(pcol)
        # disjointness must hold under Spark's widened order too
        # (_stat_disjoint), or a >2^53 mixed-type predicate could skip a
        # file whose rows Spark's own comparison would mutate
        if r is not None and _stat_disjoint(r, lo, hi):
            untouched.append(f)
        else:
            touched.append(f)
    return touched, untouched


def _row_predicate(col: str, lo, hi, condition):
    """`col BETWEEN lo AND hi [AND condition]` as a Column. The range is
    BOTH the row filter and the file-pruning scope — callers never supply
    a separate hint that could silently disagree with the predicate."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    pred = F.col(col).between(F.lit(lo), F.lit(hi))
    if condition is not None:
        pred = pred & (
            F.expr(condition) if not isinstance(condition, Column) else condition
        )
    return pred


def delete_where(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    condition=None,
    collect_stats: tuple | None = None,
    branch: str | None = None,
) -> int | None:
    """Row-level DELETE on the versioned table — Delta's `DELETE FROM t
    WHERE ...` with MANIFEST-level file pruning: rows matching
    `col BETWEEN lo AND hi [AND condition]` are removed by REWRITING ONLY
    the data files whose recorded `col` range intersects [lo, hi]; every
    provably-disjoint file rides into the new version BY REFERENCE (never
    read, never rewritten — the write_version_parts shape the SCD2 fold
    uses). On a range-clustered table a narrow delete therefore costs
    O(touched files), not O(table). Returns the committed version, or
    None when no row matches (no pointless commit, no file churn).

    Semantics (SQL DELETE): a row is deleted iff the predicate is TRUE —
    NULL `col` (or a NULL `condition`) keeps the row, exactly like the
    engines' WHERE. `condition` (Column or SQL string) may only NARROW
    within the range; the range itself is the pruning scope, so the two
    can never disagree. Rewritten files get fresh manifest stats
    (default: `col`, keeping later pruned reads/deletes alive; pass
    collect_stats to record more). The change feed across the commit is
    exactly the deleted rows (bag exceptAll). Conflict safety: the commit
    carries the snapshot's version CAS, like every writer here. `branch`
    stages the delete on a WAP branch (targets the BRANCH snapshot; main
    stays byte-identical until fast_forward)."""
    from pyspark.sql import functions as F

    base = _open_base(path, branch)
    v, m = base.version, base.m
    touched, untouched = _split_files_by_range(m, col, lo, hi)
    if not touched:
        return None  # every file provably disjoint: nothing to delete
    df = _read_files(spark, path, m, touched)
    pred = _row_predicate(col, lo, hi, condition)
    # one control-plane probe: an all-miss predicate must not burn a
    # commit (and a new file generation) for a no-op
    if not df.filter(pred).limit(1).collect():
        return None
    survivors = df.filter(~F.coalesce(pred, F.lit(False)))
    return write_version_parts(
        [survivors],
        path,
        reuse_files=untouched,
        expected_version=v,
        collect_stats=(col,) if collect_stats is None else collect_stats,
        branch=branch,
    )


def delete_where_dv(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    condition=None,
    branch: str | None = None,
) -> int | None:
    """MERGE-ON-READ row-level DELETE (Delta's deletion vectors): rows
    matching `col BETWEEN lo AND hi [AND condition]` are removed by
    recording their (file, row position) pairs in a commit SIDECAR — every
    data file rides into the new version BY REFERENCE, byte-untouched
    (same inode, same mtime; the j20 driver query asserts exactly that).
    Where delete_where rewrites every touched file (right for LARGE
    deletes — the survivors dominate), a DV delete costs one
    position-finding scan of the range-pruned touched files + a KB-scale
    sidecar + one manifest commit: O(matched rows) written, not O(touched
    file bytes) — the only shape that makes a 1-row DELETE on a 100 TB
    table sane.

    Semantics match delete_where exactly (SQL DELETE: predicate TRUE
    deletes, NULL keeps; `condition` only narrows within the range; the
    change feed across the commit is exactly the deleted rows). Repeated
    DV deletes UNION per-file positions; reads anti-apply them via one
    broadcast hash anti-join (see _read_files); compact() materializes
    survivors and clears the vectors — run it once accreted positions
    make the broadcast frame heavy. Returns the committed version, or
    None when no LIVE row matches (already-deleted rows never burn a
    commit). Conflict safety: the snapshot-version CAS, like every
    writer here. Positions are encoded EXECUTOR-side (one compact row
    per touched file comes back), so the driver never holds the matched
    rows themselves. update_where_dv is the UPDATE twin; purge_dvs the
    targeted materialization once vectors accrete.

    `branch`: stage the DV delete on a WAP branch instead of main (the
    delete_where_eq discipline) — the position-finding scan runs against
    the BRANCH snapshot, the vector commit lands in the branch lineage,
    main readers never see it until fast_forward publishes."""
    # RAW read + summary-first range planning: on a SHARDED parent the
    # whole mutation is O(touched shards) — the manifest list plus only
    # the buckets whose summary intersects [lo, hi] load at plan time,
    # and only the buckets whose files gained a vector rewrite at commit
    # time (_sharded_delta_plan); inline parents keep the direct path.
    base = _open_base(path, branch, materialize=False)
    m = base.m
    if m.get("schema") is None:
        raise ValueError(
            "deletion vectors require a schema-bearing manifest; this "
            "legacy table predates them — use delete_where (copy-on-write)"
        )
    shard_cache: dict = {}  # plan + commit parse each bucket ONCE
    read_m, touched, _, _ = _plan_pruned_files(
        path, m, col, lo, hi, shard_cache=shard_cache
    )
    if not touched:
        return None  # every file provably disjoint: nothing to delete
    df = _read_files(spark, path, read_m, touched, with_positions=True)
    pred = _row_predicate(col, lo, hi, condition)
    updates = _grow_dv_map(spark, path, read_m, touched, df.filter(pred))
    if updates is None:
        return None  # no live row matches: no pointless commit
    return _commit(
        path, base, "delete-dv",
        **_dv_payload(path, base, updates, shard_cache=shard_cache),
    )


def _dv_payload(
    path: str,
    base: _Base,
    dv_updates: dict,
    new_files: list[str] = (),
    new_stats: dict | None = None,
    shard_cache: dict | None = None,
) -> dict:
    """The per-file payload of a deletion-vector commit (delete_where_dv,
    update_where_dv): the base's file list — IDENTICAL, the whole point —
    plus any appended `new_files`, with `dv_updates` merged into the
    vectors (untouched files keep theirs) and the base's stats and blooms
    carried (immutable files: ranges stay valid bounds). A sharded base
    rewrites only the touched buckets (_sharded_delta_plan), or reshards
    once when a bucket outgrew its prefix."""
    new_stats = new_stats or {}
    m = base.m
    if "shards" in m:
        plan = _sharded_delta_plan(
            path, m, new_files, new_stats=new_stats, dv_updates=dv_updates,
            shard_cache=shard_cache,
        )
        if plan is not None:
            return {"shards": plan}
        m = _read_manifest(path, base.version, branch=base.branch, fork=base.fork)
    return {
        "files": m["files"] + list(new_files),
        "stats": {**(m.get("stats") or {}), **new_stats},
        "blooms": m.get("blooms"),
        "dvs": {**(m.get("dvs") or {}), **dv_updates},
    }


def _grow_dv_map(
    spark: SparkSession, path: str, m: dict, touched: list[str], hit_rows
) -> dict | None:
    """Encode `hit_rows`' (__dv_file, __dv_pos) pairs EXECUTOR-side (one
    compact row per file — the driver never holds the matched rows),
    union them into the touched files' existing vectors (looked up from
    `m`'s dvs map — for sharded parents the caller passes the planning
    read_manifest, whose dvs cover every loaded shard), write one DV
    sidecar and return {rel_file: sidecar_rel} for EXACTLY the files
    whose vector changed. None when no live row hit (nothing to commit).
    Shared by delete_where_dv and update_where_dv."""
    import pandas as pd

    def _encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pos = np.unique(pdf["__dv_pos"].to_numpy())
        return pd.DataFrame(
            {
                "file": [pdf["__dv_file"].iloc[0]],
                "card": [int(len(pos))],
                "b64": [_dv_encode(pos)],
            }
        )

    enc = (
        hit_rows.select("__dv_file", "__dv_pos")
        .groupBy("__dv_file")
        .applyInPandas(_encode_group, "file string, card long, b64 string")
        .collect()
    )
    if not enc:
        return None
    rel_of = {os.path.basename(f): f for f in touched}
    old = _load_dvs(path, m, touched)  # merge with prior vectors
    new_dv: dict = {}
    for r in enc:
        rel = rel_of[r["file"]]
        pos = _dv_decode(r["b64"])
        if rel in old:
            pos = sorted(set(old[rel]) | set(pos))
        new_dv[rel] = {"card": len(pos), "b64": _dv_encode(pos)}
    sidecar = _write_dv_sidecar(path, new_dv)
    return {rel: sidecar for rel in new_dv}


def _validate_eq_values(schema, col: str, vals: list) -> None:
    """The equality-delete value contract (shared by delete_where_eq and
    write_version's eq_delete): non-empty, None-free, and in the column's
    own type family — a cross-family delete would depend on Spark's
    coercion rules the sidecar can't reproduce, so it refuses typed
    (the read_version_bloom_pruned probe contract)."""
    if not vals:
        raise ValueError("equality delete requires a non-empty value list")
    if any(v is None for v in vals):
        raise ValueError(
            "equality deletes cannot target NULL (col = NULL is never true)"
        )
    field = {f.name: f.dataType for f in schema.fields}.get(col)
    if field is None:
        raise ValueError(f"no column {col!r} in the table schema")
    tname = field.typeName()
    is_str = tname in ("string", "varchar", "char")
    is_num = tname in (
        "byte", "short", "integer", "long", "float", "double", "decimal"
    )
    is_bool = tname == "boolean"
    for val in vals:
        ok = (
            (is_str and isinstance(val, str))
            or (is_bool and isinstance(val, bool))
            or (
                is_num
                and isinstance(val, (int, float))
                and not isinstance(val, bool)
            )
        )
        if not ok:
            raise TypeError(
                f"equality delete value {val!r} is outside column {col!r}'s "
                f"type family ({tname}); convert it exactly instead"
            )


def marker_version(path: str, marker: str) -> int | None:
    """The committed version carrying idempotence token `marker`, or None —
    the at-least-once redelivery probe (manifest scalars only: KB per
    version, no data-file IO; scan newest-first since redeliveries are
    recent by construction)."""
    for v in range(current_version(path), 0, -1):
        try:
            if _read_manifest(path, v, materialize=False).get("marker") == marker:
                return v
        except (OSError, json.JSONDecodeError):
            continue  # vacuumed/raced history: not this one
    return None


def upsert_where_eq(
    df: DataFrame,
    path: str,
    key: str,
    delete_keys=(),
    expected_version: int | None = None,
    marker: str | None = None,
    branch: str | None = None,
) -> int:
    """ATOMIC CDC UPSERT in ONE commit with ZERO table reads — the Iceberg
    v2 CDC commit shape (new data files + an equality-delete file in the
    same snapshot): `df`'s rows are staged as fresh files stamped with
    this commit's add version, and one equality delete over df's key
    values plus `delete_keys` (seq = this commit) covers every OLDER copy
    while the fresh stamps exempt the staged rows. Cost is O(batch)
    staging + a KB sidecar + the manifest — contrast merge_upsert's
    full-outer join over the whole table: THIS is the 100 TB streaming
    CDC shape, with compact()/purge bounding the accreted delete list
    like DV debt.

    In-batch discipline: `df` must hold at most one row per key (a real
    CDC apply dedups to the latest change first) — duplicate keys would
    all survive, since the delete only covers older files. `delete_keys`
    are keys whose rows are deleted WITHOUT replacement. `marker` records
    an idempotence token (see marker_version) for at-least-once sinks.
    On an empty table the upsert degrades to a plain first write (nothing
    older to delete). `branch` stages the upsert on a WAP branch —
    CDC-mutation staging, invisible to main until fast_forward."""
    # ONE batch-sized job collects the keys and proves uniqueness together
    key_rows = df.groupBy(key).count().collect()
    if any(r["count"] > 1 for r in key_rows):
        raise ValueError(
            "upsert batch holds duplicate keys; dedup to the latest change "
            "per key first (the CDC apply discipline)"
        )
    keys = [r[0] for r in key_rows]
    if any(k is None for k in keys):
        raise ValueError(
            "upsert batch holds a NULL key; equality deletes cannot target "
            "NULL (col = NULL is never true) — filter or key the row first"
        )
    if delete_keys:
        # validate against the batch's own key column NOW, so a
        # cross-family delete_keys list (e.g. ints against a string key)
        # fails with the typed family-mismatch error instead of the bare
        # TypeError the mixed-type sort below would raise first
        _validate_eq_values(df.schema, key, list(delete_keys))
    all_keys = sorted(set(keys) | set(delete_keys))
    if expected_version is None and branch is not None:
        base = branch_head(path, branch)
    elif expected_version is None:
        base = current_version(path)
    else:
        base = expected_version
    if base == 0 or not all_keys:
        return write_version(
            df, path, expected_version=expected_version, marker=marker,
            branch=branch,
        )
    return write_version(
        df,
        path,
        expected_version=expected_version,
        eq_delete=(key, all_keys),
        marker=marker,
        branch=branch,
    )


def delete_where_eq(
    path: str,
    col: str,
    values,
    expected_version: int | None = None,
    branch: str | None = None,
) -> int:
    """EQUALITY DELETE (Iceberg v2 equality delete files — the CDC-shaped
    merge-on-read): commit a small sidecar of KEY VALUES whose rows are
    deleted, WITHOUT READING A SINGLE DATA FILE — no Spark job, no scan,
    no positions; the commit cost is one KB-scale sidecar + the manifest.
    This is what a streaming CDC upsert needs: j20's deletion vectors are
    positional (every delete pays a read to find which file/row matched),
    while an equality delete defers that work to readers, who anti-join
    the value list per intersecting file group (see _read_files /
    _eqdelete_groups).

    SCOPE semantics (Iceberg sequence numbers): the delete applies to
    rows in files ADDED BEFORE this commit — a later re-insert of a
    deleted key survives, which is exactly the CDC delete+reinsert
    ordering. compact() (a full rewrite) materializes and clears the
    debt; purge_dvs and the SCD2 fold stamp their rewritten files past
    every live delete, so maintenance composes without resurrections.

    Guards: the column must exist in the recorded schema; values must be
    non-empty, None-free, JSON-plain (int/float/str/bool), and in the
    column's own type family — a cross-family delete would depend on
    Spark's coercion rules the sidecar can't reproduce, so it refuses
    typed instead (the read_version_bloom_pruned probe contract).

    `branch`: stage the delete on a WAP branch instead of main — the
    CDC-mutation staging step: invisible to main readers until
    fast_forward, auditable via read_branch(_pruned)."""
    vals = list(values)
    base = _open_base(path, branch, expected_version, materialize=False)
    m = base.m
    if m.get("schema") is None:
        raise ValueError(
            "legacy manifest records no schema; equality deletes need one"
        )
    _validate_eq_values(_schema_from_json(m["schema"]), col, vals)
    phys = _phys(m, col)
    os.makedirs(_vdir(path), exist_ok=True)
    rel = os.path.join("_versions", f"eqd-{uuid.uuid4().hex}.json")
    _write_atomic(os.path.join(path, rel), {"col": phys, "values": vals})
    # seq = THIS commit's version: applies to every file in the current
    # snapshot (their add versions are <= v < v+1), to nothing after
    eqds = list(m.get("eqdeletes") or []) + [
        {"sc": rel, "col": phys, "seq": base.version + 1}
    ]
    return _commit(path, base, "delete-eq", eqdeletes=eqds)


def update_where_dv(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    assignments: dict,
    condition=None,
    collect_stats: tuple | None = None,
    branch: str | None = None,
) -> int | None:
    """MERGE-ON-READ row-level UPDATE: the matched rows' positions go into
    deletion vectors (their files ride by reference, byte-untouched) and
    the UPDATED COPIES are appended as fresh files — Delta's
    DVs-for-UPDATE shape. Where update_where rewrites every touched file
    (right when most of a file's rows match), a DV update writes
    O(matched rows), so a 1-row UPDATE on a 100 TB table costs one
    position-finding scan + one tiny appended file + one commit.

    Semantics match update_where exactly: `assignments` (column ->
    Column/SQL) evaluate against the PRE-update row (swaps well-defined),
    unknown columns refuse, `condition` narrows within the range, NULL
    predicate keeps the row, no-match returns None without a commit, and
    the change feed across the commit is delete+insert pairs for exactly
    the updated rows. CHECK constraints probe the staged updated rows at
    the commit boundary like every write path. Rewritten copies get
    fresh manifest stats (default: `col`); the old files keep theirs
    (still-sound bounds — a DV only hides rows).

    `branch`: stage the DV update on a WAP branch (the delete_where_eq
    discipline) — positions AND updated-copy files land in the branch
    lineage, invisible to main until fast_forward publishes."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    # raw read + summary-first planning (the delete_where_dv discipline):
    # sharded parents pay O(touched shards) at plan AND commit time
    base = _open_base(path, branch, materialize=False)
    m = base.m
    if m.get("schema") is None:
        raise ValueError(
            "deletion vectors require a schema-bearing manifest; this "
            "legacy table predates them — use update_where (copy-on-write)"
        )
    unknown = sorted(
        set(assignments) - set(_schema_from_json(m["schema"]).names)
    )
    if unknown:
        raise ValueError(f"UPDATE assigns unknown columns {unknown}")
    shard_cache: dict = {}  # plan + commit parse each bucket ONCE
    read_m, touched, _, _ = _plan_pruned_files(
        path, m, col, lo, hi, shard_cache=shard_cache
    )
    if not touched:
        return None
    lineage = bool(m.get("row_lineage"))
    df = _read_files(
        spark, path, read_m, touched, with_positions=True,
        extra_phys_cols=(_RID_COL,) if lineage else (),
    )
    pred = _row_predicate(col, lo, hi, condition)
    hit = df.filter(F.coalesce(pred, F.lit(False)))
    # data files are immutable and the predicate deterministic, so the
    # two passes below (positions; updated copies) see identical rows
    updates = _grow_dv_map(spark, path, read_m, touched, hit)
    if updates is None:
        return None
    if lineage:
        # an UPDATE keeps the row's IDENTITY (Iceberg v3 row lineage):
        # resolve each hit row's id — materialized bytes or block
        # arithmetic — and materialize it into the copied rows, so the
        # lineage change feed shows delete+insert under the SAME _row_id
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        stats_src = read_m.get("stats") or {}
        firsts = [
            (os.path.basename(f), int(stats_src[f][_RID_COL][0]))
            for f in touched
            if _RID_COL in (stats_src.get(f) or {})
        ]
        fdf = spark.createDataFrame(
            firsts,
            StructType(
                [
                    StructField("__rl_file", StringType(), False),
                    StructField("__rl_first", LongType(), False),
                ]
            ),
        )
        hit = (
            hit.join(
                F.broadcast(fdf),
                hit["__dv_file"] == F.col("__rl_file"),
                "left",
            )
            .withColumn(
                _RID_COL,
                F.coalesce(
                    F.col(_RID_COL), F.col("__rl_first") + F.col("__dv_pos")
                ),
            )
            .drop("__rl_file", "__rl_first")
        )
    updated = hit.select(
        *[
            (F.expr(a) if not isinstance(a, Column) else a).alias(c)
            if (a := assignments.get(c)) is not None
            else F.col(c)
            for c in df.columns
            if c not in ("__dv_file", "__dv_pos", _RID_COL)
        ],
        *([F.col(_RID_COL)] if lineage else []),
    )
    # the appended updated-row files carry THIS commit's add version, so
    # a live equality delete (seq <= v) never re-kills the fresh copies;
    # on a lineage table they CARRY their rows' ids in their own bytes
    new_files, new_stats, _, next_rid = _stage_rows(
        path, base, [updated], m.get("colmap"),
        (col,) if collect_stats is None else collect_stats,
        rid_materialized=lineage,
    )
    cons = m.get("constraints")
    if cons:
        _enforce_constraints(
            spark, path, new_files, cons, m.get("schema"),
            colmap=m.get("colmap"),
        )
    return _commit(
        path, base, "update-dv", next_row_id=next_rid,
        **_dv_payload(
            path, base, updates, new_files, new_stats, shard_cache=shard_cache
        ),
    )


def purge_dvs(
    spark: SparkSession,
    path: str,
    collect_stats: tuple | None = None,
    collect_blooms: tuple | None = None,
) -> int | None:
    """Materialize the deletion-vector debt: rewrite ONLY the files that
    carry a vector (their survivors become fresh files), carrying every
    clean file BY REFERENCE — Delta's REORG TABLE ... APPLY (PURGE).
    compact() also clears vectors but rewrites the WHOLE table; purge
    costs O(DV'd file bytes), which is the right maintenance shape once
    vectors accrete on a few hot files of a 100 TB table. Rows are
    bit-identical to the pre-purge visible set, so the change feed
    across the commit is EMPTY (exceptAll bag cancellation — the
    compact() contract). Returns the committed version, or None when no
    file carries a vector.

    `collect_stats=None` / `collect_blooms=None` re-collect, for the
    rewritten files, stats and blooms for every LOGICAL column the parent
    manifest already tracked on them — a purged table keeps BOTH pruning
    structures like the original (losing the bloom half silently would
    turn every later point lookup into a read of the purged files,
    forever); pass tuples to override."""
    base = _open_base(path, create=True)
    v, m = base.version, base.m
    dv_files = sorted(f for f in (m.get("dvs") or {}) if f in set(m["files"]))
    if not dv_files:
        return None
    reuse = [f for f in m["files"] if f not in set(dv_files)]
    lineage = bool(m.get("row_lineage"))
    if lineage:
        # survivors keep their ids: read with lineage, materialize into
        # the rewritten files' own bytes (positions change, ids must not)
        survivors = _read_files_lineage(spark, path, m, dv_files).withColumnRenamed(
            "_row_id", _RID_COL
        )
    else:
        survivors = _read_files(spark, path, m, dv_files)  # vectors applied
    cm_inv = {p: c for c, p in (m.get("colmap") or {}).items()}
    if collect_stats is None:
        phys_cols: set = set()
        for f in dv_files:
            phys_cols.update(
                c
                for c in (m.get("stats") or {}).get(f, {})
                if not c.startswith("__")  # synthetic keys ('__v', '__p:*')
            )
        collect_stats = tuple(sorted(cm_inv.get(p, p) for p in phys_cols))
    if collect_blooms is None:
        # bloom columns live in the referenced sidecars (a small set —
        # content shared across files); one driver-side pass recovers them
        bmap = m.get("blooms") or {}
        bloom_phys: set = set()
        sidecars: dict = {}
        for f in dv_files:
            sc = bmap.get(f)
            if sc is None:
                continue
            if sc not in sidecars:
                try:
                    with open(os.path.join(path, sc), encoding="utf-8") as fh:
                        sidecars[sc] = json.load(fh)
                except (OSError, json.JSONDecodeError):
                    sidecars[sc] = {}
            bloom_phys.update(sidecars[sc].get(f, {}))
        collect_blooms = tuple(sorted(cm_inv.get(p, p) for p in bloom_phys))
    return write_version_parts(
        [survivors],
        path,
        reuse_files=reuse,
        expected_version=v,
        collect_stats=collect_stats,
        collect_blooms=collect_blooms,
        _rid_materialized=lineage,
    )


def purge_eq(
    spark: SparkSession,
    path: str,
    collect_stats: tuple | None = None,
) -> int | None:
    """Materialize the EQUALITY-DELETE debt: rewrite ONLY the files some
    live delete still applies to (their survivors become fresh files
    stamped past every seq), carrying clean files BY REFERENCE and
    DROPPING the now-dead delete entries — purge_dvs' twin for the r12
    CDC shape, and the bounded-maintenance answer to delete-list
    accretion (compact() also clears them but rewrites the WHOLE table;
    after heavy CDC traffic only recent file groups are typically
    covered, so this costs O(affected bytes)). Deletion vectors riding on
    rewritten files materialize with them (the _read_files funnel) and
    their entries die with the files; clean files keep theirs. The
    visible row set is bit-identical, so the change feed across the
    commit is EMPTY. Returns the committed version, or None when no live
    delete applies to any file.

    `collect_stats=None` re-collects whatever stat columns the affected
    files carried (internal __-keys excluded; partition tuples are NOT
    reconstructed — rewritten files simply stop partition-pruning until
    the next spec-laid write, the compact()/zorder degradation)."""
    base = _open_base(path, create=True)
    v, m = base.version, base.m
    if not m.get("eqdeletes"):
        return None
    affected: list[str] = []
    clean: list[str] = []
    for fs, eqds in _eqdelete_groups(path, m, m["files"]):
        (affected if eqds else clean).extend(fs)
    if not affected:
        # every entry is already dead (e.g. all covered files rewritten):
        # drop the bookkeeping with a metadata-only commit
        return _commit(path, base, "purge-eq", eqdeletes=[])
    affected_sorted = sorted(affected)
    lineage = bool(m.get("row_lineage"))
    if lineage:
        survivors = _read_files_lineage(
            spark, path, m, affected_sorted
        ).withColumnRenamed("_row_id", _RID_COL)
    else:
        survivors = _read_files(spark, path, m, affected_sorted)
    cm_inv = {p: c for c, p in (m.get("colmap") or {}).items()}
    if collect_stats is None:
        phys_cols: set = set()
        for f in affected_sorted:
            phys_cols.update(
                c
                for c in (m.get("stats") or {}).get(f, {})
                if not c.startswith("__")
            )
        collect_stats = tuple(sorted(cm_inv.get(p, p) for p in phys_cols))
    return write_version_parts(
        [survivors],
        path,
        reuse_files=sorted(clean),
        expected_version=v,
        collect_stats=collect_stats,
        eqdeletes=[],  # every affected file rewritten: all entries dead
        _rid_materialized=lineage,
    )


def update_where(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    assignments: dict,
    condition=None,
    collect_stats: tuple | None = None,
    branch: str | None = None,
) -> int | None:
    """Row-level UPDATE on the versioned table — Delta's `UPDATE t SET ...
    WHERE ...` with the same MANIFEST-level file pruning as delete_where:
    only files whose recorded `col` range intersects [lo, hi] are read and
    rewritten (matching rows get `assignments` applied, the rest of the
    file's rows are carried verbatim); provably-disjoint files ride by
    reference. Returns the committed version, or None when no row matches.

    `assignments` maps existing column names to Columns or SQL strings,
    evaluated against the PRE-update row (standard SQL UPDATE: all
    assignments see the old values, so swaps are well-defined). Unknown
    columns raise — UPDATE never evolves the schema (and
    write_version_parts independently refuses a type change). The change
    feed across the commit is delete+insert pairs for exactly the updated
    rows. `branch` stages the update on a WAP branch (the delete_where
    contract)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    base = _open_base(path, branch)
    v, m = base.version, base.m
    if m.get("schema"):
        unknown = sorted(
            set(assignments) - set(_schema_from_json(m["schema"]).names)
        )
        if unknown:
            raise ValueError(f"UPDATE assigns unknown columns {unknown}")
    touched, untouched = _split_files_by_range(m, col, lo, hi)
    if not touched:
        return None
    df = _read_files(spark, path, m, touched)
    # legacy manifests have no recorded schema: the read's columns are the
    # authority — a typo'd assignment must refuse, never no-op silently
    unknown = sorted(set(assignments) - set(df.columns))
    if unknown:
        raise ValueError(f"UPDATE assigns unknown columns {unknown}")
    pred = _row_predicate(col, lo, hi, condition)
    if not df.filter(pred).limit(1).collect():
        return None
    hit = F.coalesce(pred, F.lit(False))
    rewritten = df.select(
        *[
            F.when(
                hit,
                F.expr(a) if not isinstance(a, Column) else a,
            )
            .otherwise(F.col(c))
            .alias(c)
            if (a := assignments.get(c)) is not None
            else F.col(c)
            for c in df.columns
        ]
    )
    return write_version_parts(
        [rewritten],
        path,
        reuse_files=untouched,
        expected_version=v,
        collect_stats=(col,) if collect_stats is None else collect_stats,
        branch=branch,
    )


def replace_where(
    df: DataFrame,
    path: str,
    col: str,
    lo,
    hi,
    condition=None,
    collect_stats: tuple | None = None,
    branch: str | None = None,
) -> int:
    """ATOMIC predicate overwrite — Delta's `INSERT OVERWRITE ...
    replaceWhere` / Iceberg's overwrite-by-filter: ONE commit that both
    removes every existing row matching `col BETWEEN lo AND hi [AND
    condition]` and inserts `df`'s rows. There is no intermediate
    version: a reader sees the old slice or the new slice, never neither
    (the delete-then-append composition this replaces leaks exactly that
    torn state between its two commits, and can strand the delete if the
    writer dies between them — the backfill bug replaceWhere exists to
    close).

    Pruning shape (the 100 TB point): same as delete_where — only files
    whose recorded `col` range intersects [lo, hi] are read and rewritten
    to their surviving rows; every provably-disjoint file rides into the
    new version BY REFERENCE (never read, never rewritten). A day's
    backfill on a date-clustered table therefore costs O(that day's
    files) + O(new rows), not O(table).

    Guards:
    - every `df` row must SATISFY the predicate (NULL fails like SQL
      WHERE): rows outside the replaced slice would silently survive the
      next replace of their own slice's key — Delta's replaceWhere
      constraint, enforced here as ConstraintViolationError before
      anything stages;
    - `df` must match the table schema exactly (write_version_parts);
    - CHECK constraints apply to the staged rows like every commit.

    Unlike delete_where, a no-match predicate still commits (the INSERT
    half must land); an empty `df` makes this a pure pruned DELETE with
    overwrite semantics. The change feed across the commit is exactly
    (old matching rows as deletes) + (df's rows as inserts). Row-lineage
    tables follow the copy-on-write rule: rewritten survivors mint fresh
    ids (stage the mutation as delete_where_dv + append when id
    stability matters). Conflict safety: the snapshot-version CAS.
    `branch` stages the replace on a WAP branch (the delete_where
    contract)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    base = _open_base(path, branch)
    v, m = base.version, base.m
    pred = _row_predicate(col, lo, hi, condition)
    stray = df.filter(~F.coalesce(pred, F.lit(False))).limit(1).collect()
    if stray:
        raise ConstraintViolationError(
            f"replace_where: incoming rows must satisfy the predicate "
            f"({col} BETWEEN {lo!r} AND {hi!r}"
            f"{' AND <condition>' if condition is not None else ''}); "
            f"offending row: {stray[0]}"
        )
    touched, untouched = _split_files_by_range(m, col, lo, hi)
    parts = []
    if touched:
        survivors = _read_files(spark, path, m, touched).filter(
            ~F.coalesce(pred, F.lit(False))
        )
        parts.append(survivors)
    parts.append(df)
    return write_version_parts(
        parts,
        path,
        reuse_files=untouched,
        expected_version=v,
        collect_stats=(col,) if collect_stats is None else collect_stats,
        branch=branch,
    )


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    collect_stats: tuple = (),
    collect_blooms: tuple = (),
) -> int:
    """OPTIMIZE-style compaction: rewrite the head snapshot's rows into
    `target_files` files and commit as a new overwrite version. Rows are
    bit-identical (the change feed across a compaction is EMPTY — pinned
    by the CDF tests), old files stay for time travel until vacuum, and
    the commit carries the snapshot's expected_version so a concurrent
    writer's commit surfaces as CommitConflictError instead of being
    silently clobbered (retry by re-running: compaction is idempotent
    work, not state)."""
    base = _open_base(path, materialize=False, create=True)
    lineage = bool(base.m.get("row_lineage"))
    if lineage:
        # row lineage: compaction must not change a single row's id — the
        # rewrite reads rows WITH their ids and materializes them into the
        # new files' own bytes (the "__ridm" channel)
        snap = read_version_lineage(spark, path, base.version).withColumnRenamed(
            "_row_id", _RID_COL
        )
    else:
        snap = read_version(spark, path, base.version or None)
    # collect_stats: OPTIMIZE re-collects manifest column stats for the
    # rewritten files (an overwrite cannot inherit per-file ranges — the
    # files are new), so a pruned table stays pruned across compactions
    return write_version(
        snap.coalesce(max(1, target_files)),
        path,
        mode="overwrite",
        expected_version=base.version,
        collect_stats=collect_stats,
        collect_blooms=collect_blooms,
        _rid_materialized=lineage,
    )


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: tuple,
    target_files: int = 8,
    collect_stats: tuple | None = None,
    collect_blooms: tuple | None = None,
) -> int:
    """OPTIMIZE ... ZORDER BY on the versioned table (Delta's flagship
    maintenance command): rewrite the head snapshot MORTON-clustered on
    `cols` into ~`target_files` key-range files and commit as one
    overwrite version with fresh manifest stats on exactly those columns
    — after it, read_version_pruned skips files on EVERY zorder column
    (a linear sort covers one), which is what multi-dimension point/range
    workloads need at 100 TB. Rows are bit-identical to the pre-optimize
    VISIBLE set (deletion vectors are applied by the snapshot read and
    cleared by the rewrite — OPTIMIZE doubles as a full purge), so the
    change feed across the commit is EMPTY. Scale shape: one sampled
    quantile-cuts pass + one range exchange (zorder_cluster's window-free
    discipline, shared with zorder_write — no global sort, no ntile
    window); conflict safety via the snapshot-version CAS like compact().

    `collect_stats=None` / `collect_blooms=None` keep EVERY pruning
    structure the parent tracked (stats columns from the parent manifest
    UNION the zorder columns; bloom columns from the referenced sidecars
    — the purge_dvs convention): OPTIMIZE rewrites 100% of files, so
    defaulting to zorder-only stats would silently retire every other
    column's file skipping forever. Pass tuples to override."""
    from tts_etl_pipeline_spark.sources.zorder import zorder_cluster

    if target_files < 1:
        raise ValueError("target_files must be >= 1")
    base = _open_base(path, create=True)
    m = base.m
    lineage = bool(m.get("row_lineage"))
    if lineage:
        # the re-cluster moves every row between files: ids materialize
        # into the new files' bytes, the only way they can survive
        snap = read_version_lineage(spark, path, base.version).withColumnRenamed(
            "_row_id", _RID_COL
        )
    else:
        snap = read_version(spark, path, base.version or None)
    missing = [c for c in cols if c not in snap.columns]
    if missing:
        raise ValueError(f"zorder columns not in the table: {missing}")
    cm_inv = {p: c for c, p in (m.get("colmap") or {}).items()}
    if collect_stats is None:
        phys_cols: set = set()
        for rec in (m.get("stats") or {}).values():
            phys_cols.update(c for c in rec if not c.startswith("__"))
        collect_stats = tuple(
            sorted(set(cols) | {cm_inv.get(p, p) for p in phys_cols})
        )
    if collect_blooms is None:
        bloom_phys: set = set()
        sidecars: dict = {}
        for f, sc in (m.get("blooms") or {}).items():
            if sc not in sidecars:
                try:
                    with open(os.path.join(path, sc), encoding="utf-8") as fh:
                        sidecars[sc] = json.load(fh)
                except (OSError, json.JSONDecodeError):
                    sidecars[sc] = {}
            bloom_phys.update(sidecars[sc].get(f, {}))
        collect_blooms = tuple(sorted(cm_inv.get(p, p) for p in bloom_phys))
    return write_version(
        zorder_cluster(snap, list(cols), target_files),
        path,
        mode="overwrite",
        expected_version=base.version,
        collect_stats=collect_stats,
        collect_blooms=collect_blooms,
        _rid_materialized=lineage,
    )


def _changed_file_sets(
    path: str, old_m: dict, new_m: dict, from_version: int, to_version: int
) -> tuple[list, list]:
    """(old_only, new_only) — the file sets each side of a change feed
    must re-read. Rows in files SHARED by both versions are identical by
    construction (immutable files), so the diff reads only the symmetric
    difference, PLUS any shared file whose row VISIBILITY moved:

    - a deletion-vector commit changes visibility without changing the
      file list — any shared file whose DV reference differs re-reads on
      BOTH sides (each through its own manifest, so each side's vector
      applies) and exceptAll cancels the still-visible rows;
    - EQUALITY deletes likewise: a shared file whose APPLICABLE delete
      set differs between the versions re-reads on both sides.
    Cost stays O(changed files), never the table. Raises on files a
    vacuum already reclaimed."""
    old_files, new_files = set(old_m["files"]), set(new_m["files"])
    old_dvs, new_dvs = old_m.get("dvs") or {}, new_m.get("dvs") or {}
    dv_changed = {
        f
        for f in old_files & new_files
        if old_dvs.get(f) != new_dvs.get(f)
    }
    old_eqs = old_m.get("eqdeletes") or []
    new_eqs = new_m.get("eqdeletes") or []
    if old_eqs != new_eqs:
        o_ids = sorted((e["seq"], e["sc"]) for e in old_eqs)
        n_ids = sorted((e["seq"], e["sc"]) for e in new_eqs)
        stats_probe = new_m.get("stats") or {}
        old_stats_probe = old_m.get("stats") or {}
        for f in old_files & new_files:
            rec = (stats_probe.get(f) or old_stats_probe.get(f) or {}).get("__v")
            av = rec[0] if rec else float("-inf")  # unstamped = ancient
            if [x for x in o_ids if x[0] > av] != [x for x in n_ids if x[0] > av]:
                dv_changed.add(f)
    old_only = sorted((old_files - new_files) | dv_changed)
    new_only = sorted((new_files - old_files) | dv_changed)
    missing = [
        f for f in old_only + new_only if not os.path.exists(os.path.join(path, f))
    ]
    if missing:
        raise ValueError(
            f"change feed {from_version}->{to_version} references vacuumed "
            f"files: {missing[:3]}"
        )
    return old_only, new_only


def table_changes_lineage(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """The change feed WITH STABLE ROW IDS (the Iceberg v3 changelog
    shape): every emitted row carries its `_row_id`, so a CDC consumer
    can correlate a delete and its replacement, dedup redeliveries, and
    audit exactly which physical rows a derived record came from — the
    thing value-only feeds (table_changes) cannot answer when two rows
    share all column values.

    Same O(changed files) cost shape as table_changes; a maintenance
    rewrite between the versions cancels EXACTLY because ids are
    preserved (a compact's rewritten rows carry their old ids, so
    exceptAll eliminates them — with fresh ids every compaction would
    fabricate a full-table churn feed). Refused unless BOTH versions
    track lineage and share one schema — a lineage feed across a schema
    evolution has no sound row-identity diff, span the alter with two
    feeds instead."""
    from pyspark.sql import functions as F

    for v in (from_version, to_version):
        _check_version(path, v)
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} must be <= to_version {to_version}"
        )
    old_m = _read_manifest(path, from_version)
    new_m = _read_manifest(path, to_version)
    for v, m in ((from_version, old_m), (to_version, new_m)):
        if not m.get("row_lineage"):
            raise ValueError(
                f"version {v} does not track row lineage (enable_row_lineage "
                f"before the window you want to feed from)"
            )
    if old_m.get("schema") != new_m.get("schema") or (
        old_m.get("colmap") or {}
    ) != (new_m.get("colmap") or {}):
        raise ValueError(
            "lineage change feed across a schema evolution is not "
            "supported; span the alter with two feeds"
        )
    old_only, new_only = _changed_file_sets(
        path, old_m, new_m, from_version, to_version
    )
    base_cols = _schema_from_json(new_m["schema"]).names
    if "_change_type" in base_cols or "_row_id" in base_cols:
        raise ValueError(
            "table has a _change_type/_row_id column — the names are "
            "reserved by the lineage change feed"
        )

    def _side(m: dict, files: list) -> DataFrame:
        if not files:
            return None
        return _read_files_lineage(spark, path, m, files).select(
            *base_cols, "_row_id"
        )

    olds, news = _side(old_m, old_only), _side(new_m, new_only)
    if olds is None and news is None:
        empty = read_version(spark, path, to_version).limit(0)
        return empty.withColumn("_row_id", F.lit(None).cast("long")).withColumn(
            "_change_type", F.lit("insert")
        )
    if news is None:
        news = spark.createDataFrame([], olds.schema)
    if olds is None:
        olds = spark.createDataFrame([], news.schema)
    inserts = news.exceptAll(olds).withColumn("_change_type", F.lit("insert"))
    deletes = olds.exceptAll(news).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def table_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """Row-level change feed between two committed versions (Delta CDF /
    Iceberg changelog shape): each changed row tagged `_change_type`
    'insert' or 'delete'; an update surfaces as delete+insert (overwrite
    commits rewrite rows — there is no in-place update to track).

    Scale shape — the payoff of immutable data files: rows living in
    files SHARED by both versions are identical by construction, so the
    diff reads ONLY the symmetric difference of the two file lists. An
    append's change feed scans just the appended files (zero cost for
    unchanged data); a compaction (same rows, new files) scans the
    rewritten files and cancels to an empty feed via exceptAll's bag
    semantics (multiplicity-correct, duplicate rows preserved).

    Schema evolution: both sides align to the UNION of the two versions'
    recorded schemas, every selected column CAST to the union type
    (missing columns read as null), so a feed across an add-column commit
    is well-typed; a column RETYPED between the versions (possible via an
    unchecked overwrite) raises cleanly rather than producing a
    positional-mismatch diff. `_change_type` is reserved (appended last);
    a feed over a vacuumed version raises like rollback does."""
    from pyspark.sql import functions as F

    for v in (from_version, to_version):
        _check_version(path, v)
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} must be <= to_version {to_version}"
        )
    old_m = _read_manifest(path, from_version)
    new_m = _read_manifest(path, to_version)
    old_only, new_only = _changed_file_sets(
        path, old_m, new_m, from_version, to_version
    )
    if not old_only and not new_only:  # identical file lists -> empty feed
        base = read_version(spark, path, to_version).limit(0)
        if "_change_type" in base.columns:
            # same refusal as the main path below: the early return must
            # not silently REPLACE a user column the diff path rejects
            raise ValueError(
                "table has a _change_type column — the name is reserved by "
                "the change feed (the Delta CDF contract)"
            )
        return base.withColumn("_change_type", F.lit("insert"))

    # union schema of the two snapshots, keyed by STABLE PHYSICAL names so
    # a column renamed between the versions appears ONCE (labeled with the
    # TO-version's name — the Delta-CDF-under-column-mapping behavior) and
    # rows rewritten across a rename still cancel; a retype between
    # versions has no sound row-diff semantics — refuse instead of
    # coercing silently. Without any column mapping, physical == logical
    # and this is exactly the old union-by-name.
    canon: dict = {}  # physical -> [label, dtype], FROM-side order

    def _merge_side(m: dict, relabel: bool) -> None:
        sj = m.get("schema")
        cm = m.get("colmap") or {}
        for f in _schema_from_json(sj).fields:
            phys = cm.get(f.name, f.name)
            if phys in canon:
                if canon[phys][1] != f.dataType:
                    # a WIDENED column (widen_column) diffs soundly in the
                    # wider type — both sides' values read identically
                    # there; any other retype has no sound row diff
                    wide = _wider_type(canon[phys][1], f.dataType)
                    if wide is None:
                        raise ValueError(
                            f"column {f.name!r} was retyped between versions "
                            f"({canon[phys][1]} vs {f.dataType}); change feed "
                            f"across a non-widening retype is not supported"
                        )
                    canon[phys][1] = wide
                if relabel:  # the TO version's name wins, position stays
                    canon[phys][0] = f.name
            else:
                canon[phys] = [f.name, f.dataType]

    legacy_probe: list[str] = []
    # FROM side first pins the column ORDER (old columns, then new-only);
    # the TO side then RELABELS shared physicals — a renamed column keeps
    # its position but carries the new name
    for m, side, relabel in ((old_m, old_only, False), (new_m, new_only, True)):
        if m.get("schema") is not None:
            _merge_side(m, relabel)
        else:
            # legacy manifest (no recorded schema): its side's columns must
            # come from the FILES — building the union from the
            # schema-bearing side alone would silently drop legacy-only
            # columns from BOTH sides of the diff, cancelling real changes
            legacy_probe += side
    if legacy_probe:
        # probe all legacy-side files together so ONE union schema pins
        # both sides — per-side inference could disagree on column
        # order/set and turn exceptAll positional comparison into garbage
        probe = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(path, f) for f in legacy_probe]
        )
        for f in probe.schema.fields:  # legacy: physical == logical
            if f.name in canon:
                if canon[f.name][1] != f.dataType:
                    wide = _wider_type(canon[f.name][1], f.dataType)
                    if wide is None:
                        raise ValueError(
                            f"column {f.name!r} was retyped between versions "
                            f"({canon[f.name][1]} vs {f.dataType}); change "
                            f"feed across a non-widening retype is not "
                            f"supported"
                        )
                    canon[f.name][1] = wide
            else:
                canon[f.name] = [f.name, f.dataType]
    # two different physicals may claim one label (drop 'x' then re-add
    # 'x': both generations in the union) — later claimants disambiguate
    seen_labels: set = set()
    for phys in canon:  # insertion order: FROM columns, then new-only
        label = canon[phys][0]
        while label in seen_labels:
            label = f"{label}_v{from_version}"
        canon[phys][0] = label
        seen_labels.add(label)
    if "_change_type" in seen_labels:
        raise ValueError(
            "table has a _change_type column — the name is reserved by the "
            "change feed (the Delta CDF contract)"
        )

    # a column ADDED WITH A DEFAULT between the versions: the FROM side's
    # rows all predate the add (its schema lacks the column), so under
    # the TO version they serve the default — fill the missing column
    # with THAT value, not null, and unchanged rows cancel (the empty-CDF
    # contract add_column shares with every metadata-only ALTER)
    to_defaults = {
        e["col"]: e["value"] for e in (new_m.get("defaults") or [])
    }

    def _read(m: dict, files: list[str]) -> DataFrame | None:
        if not files:
            return None
        # this version's recorded schema + mapping serve LOGICAL names
        # (zero footer IO for schema-bearing manifests — the j9 lesson)
        df = _read_files(spark, path, m, files)
        cm = m.get("colmap") or {}
        own = {  # this side's logical name -> canonical label
            f: canon[cm.get(f, f)][0]
            for f in df.columns
            if cm.get(f, f) in canon
        }
        inv = {v: k for k, v in own.items()}
        return df.select(
            *[
                F.col(inv[label]).cast(t).alias(label)
                if label in inv
                else F.lit(to_defaults.get(phys)).cast(t).alias(label)
                for phys, (label, t) in canon.items()  # insertion order
            ]
        )

    olds, news = _read(old_m, old_only), _read(new_m, new_only)
    if news is None:
        news = spark.createDataFrame([], olds.schema)
    if olds is None:
        olds = spark.createDataFrame([], news.schema)
    inserts = news.exceptAll(olds).withColumn("_change_type", F.lit("insert"))
    deletes = olds.exceptAll(news).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def stream_changes(
    spark: SparkSession,
    path: str,
    checkpoint: str,
    process,
    *,
    drain: bool = True,
) -> int:
    """STREAMING change data feed over version commits — the Delta CDF
    readStream shape rebuilt on the manifest protocol, connecting the
    versioned table (B11) to the streaming surface (B8).

    Each committed version becomes exactly ONE micro-batch:
    ``process(changes_df, version)`` where ``changes_df`` is
    ``table_changes(version-1, version)`` (version 1: the full snapshot as
    inserts) plus a ``_commit_version`` column — Delta's CDF column of the
    same name. A compaction commit (same rows, new files) delivers an
    EMPTY batch; an add-column evolution delivers batches in the evolved
    union schema, exactly as the batch feed does. Schema evolution
    generally: each batch speaks ITS commit's logical names (a RENAME
    commit is itself an empty batch; batches after it carry the new
    name) — `process` is a per-version callback, not a fixed-schema
    stream, so per-version schemas are the honest contract (pinned in
    test_versioned.py).

    Exactly-once per version to an idempotent ``process`` (the foreachBatch
    contract): the last fully-processed version is checkpointed with an
    atomic write AFTER ``process`` returns, so a crashed stream re-delivers
    at most the in-flight version on restart and never skips one.
    ``drain=True`` (availableNow semantics) processes through the head —
    re-reading it after each batch so commits landing mid-drain are
    included — then returns the last processed version; a caller loop +
    sleep turns the same function into a continuous poller (the
    processingTime shape). Scale: each batch reads only the symmetric
    file-list difference of one commit (table_changes' contract), so a
    drain after N appends costs N appended-file scans, never N table
    scans."""
    from pyspark.sql import functions as F

    os.makedirs(checkpoint, exist_ok=True)
    state_file = os.path.join(checkpoint, "last_version.json")
    last = 0
    if os.path.exists(state_file):
        with open(state_file, encoding="utf-8") as fh:
            last = json.load(fh)["version"]
    head = current_version(path)
    if last > head:
        # a cursor ahead of the head means the checkpoint belongs to a
        # DIFFERENT table (deleted-and-rebuilt path, or a reused checkpoint
        # dir) — continuing would silently skip the new table's early
        # versions once it catches up. Refuse, like Delta's reservoir-id
        # check on a mismatched checkpoint.
        raise ValueError(
            f"checkpoint cursor at version {last} is ahead of table head "
            f"{head} at {path}: the checkpoint belongs to a different "
            f"(or rebuilt) table — use a fresh checkpoint directory"
        )
    while last < head:
        v = last + 1
        if v == 1:  # no version 0 to diff against: the snapshot is the feed
            snap = read_version(spark, path, 1)
            if "_change_type" in snap.columns:
                # mirror table_changes' refusal: withColumn would silently
                # REPLACE the user's column in this one batch while every
                # later batch raises — inconsistent and silently wrong
                raise ValueError(
                    "table has a _change_type column — the name is reserved "
                    "by the change feed (the Delta CDF contract)"
                )
            batch = snap.withColumn("_change_type", F.lit("insert"))
        else:
            batch = table_changes(spark, path, v - 1, v)
        if "_commit_version" in batch.columns:
            raise ValueError(
                "table has a _commit_version column — the name is reserved "
                "by the streaming change feed (the Delta CDF contract)"
            )
        process(batch.withColumn("_commit_version", F.lit(v)), v)
        _write_atomic(state_file, {"version": v})
        last = v
        if drain:
            head = current_version(path)
    return last
