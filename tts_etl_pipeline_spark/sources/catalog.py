"""Versioned CATALOG: multi-table transactions over versioned tables.

A single versioned table commits atomically (versioned.py's manifest
CAS), but a pipeline that maintains SEVERAL tables — fact + rollup,
orders + lineitem, table + its quality-quarantine twin — has no way to
make one logical change visible across all of them at once: between the
two table commits every reader sees a torn half-published state. Delta
and Iceberg share this gap; the production answer (Nessie, Iceberg REST
catalogs, Unity) is to move the ATOMIC step up one level: the catalog
itself is a tiny versioned object mapping table name -> (path, pinned
version), and a multi-table transaction writes each table NORMALLY (new
table versions are immutable and invisible to catalog readers until
pointed at), then swaps the one catalog pointer. That swap — a single
hard-link CAS, the versioned._cas_create every table commit uses — is
the only atomic primitive needed: catalog readers see the old version
SET or the new version SET, never a mix.

Crash honesty: a transaction that dies after its table commits but
before the catalog commit leaves only UNREFERENCED table versions —
readable via per-table time travel, invisible through the catalog, and
reclaimable by each table's own vacuum. There is no window where a
catalog reader observes half the transaction.

Conflict rule (Nessie's): commit() re-reads the catalog head and refuses
(typed CatalogConflictError) when any table THIS transaction staged was
re-pinned since begin() — a lost-update guard scoped to the touched
tables, so transactions on disjoint tables interleave freely (the
catalog CAS itself retries internally on pointer races).

Vacuum interplay: a catalog pin does NOT extend a table's retention —
vacuum(keep_versions=) on the table stays the one GC authority. The
`pinned_versions` helper reports every version a catalog's retained
history references so operators size keep_versions to cover their
catalog time-travel horizon (pinned in tests).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from tts_etl_pipeline_spark.sources.versioned import (
    CommitConflictError,
    _cas_create,
    _write_atomic,
    current_version,
    read_version,
)


class CatalogConflictError(CommitConflictError):
    """A staged table's catalog pin moved between begin() and commit()."""


def _cdir(path: str) -> str:
    return os.path.join(path, "_catalog")


def _cat_manifest(path: str, version: int) -> str:
    return os.path.join(_cdir(path), f"c{version:012d}.json")


def catalog_version(path: str) -> int:
    """Current catalog version; 0 when the catalog is empty/uncreated.
    Same _latest.json pointer discipline as the table format (forward-only
    advance under the CAS; the pointer is a cache, manifests are truth)."""
    latest = os.path.join(_cdir(path), "_latest.json")
    try:
        with open(latest, encoding="utf-8") as fh:
            v = int(json.load(fh)["version"])
    except (FileNotFoundError, ValueError, KeyError):
        v = 0
    while os.path.exists(_cat_manifest(path, v + 1)):
        v += 1
    return v


def _read_catalog_manifest(path: str, version: int) -> dict:
    with open(_cat_manifest(path, version), encoding="utf-8") as fh:
        return json.load(fh)


def catalog_snapshot(path: str, version: int | None = None) -> dict:
    """{table_name: {"path": ..., "version": N}} at a catalog version
    (default head) — the consistent cross-table version SET. Empty dict
    for an empty catalog."""
    head = catalog_version(path)
    v = head if version is None else version
    if v == 0:
        return {}
    if v < 0 or v > head:
        raise ValueError(f"catalog version {v} does not exist at {path}")
    return dict(_read_catalog_manifest(path, v)["tables"])


def _commit_catalog(path: str, tables: dict, parent: int) -> int:
    """One catalog version via the shared hard-link CAS
    (versioned._cas_create: exactly one racing writer creates c{v+1})."""
    import time

    os.makedirs(_cdir(path), exist_ok=True)
    version = parent + 1
    manifest = {
        "version": version,
        "parent": parent,
        "committed_at": time.time(),
        "tables": tables,
    }
    if not _cas_create(_cat_manifest(path, version), manifest):
        raise CommitConflictError(
            f"catalog version {version} at {path} was committed by another "
            f"writer; re-read the head and retry"
        )
    latest = os.path.join(_cdir(path), "_latest.json")
    cur = catalog_version(path)
    if cur <= version:
        _write_atomic(latest, {"version": version})
    return version


def read_catalog(
    spark: SparkSession,
    path: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Read `table` AT the catalog's pinned version — two read_catalog
    calls against the same catalog version are mutually CONSISTENT even
    while writers publish, because published table versions stay
    invisible until a catalog commit re-pins them."""
    snap = catalog_snapshot(path, version)
    if table not in snap:
        raise ValueError(f"no table {table!r} in catalog {path}")
    entry = snap[table]
    return read_version(spark, entry["path"], entry["version"])


def pinned_versions(path: str) -> dict:
    """{table_name: sorted set of versions} referenced by ANY retained
    catalog version — what a table's vacuum(keep_versions=) must cover
    for catalog time travel to keep working across the horizon."""
    out: dict = {}
    for v in range(1, catalog_version(path) + 1):
        for name, e in _read_catalog_manifest(path, v)["tables"].items():
            out.setdefault(name, set()).add(e["version"])
    return {k: sorted(vs) for k, vs in out.items()}


class CatalogTransaction:
    """Multi-table transaction: write the tables with the NORMAL
    versioned writers, stage() each result, commit() once.

        txn = begin(catalog)
        v_o = write_version(batch_o, orders_path, mode="append")
        v_l = write_version(batch_l, lineitem_path, mode="append")
        txn.stage("orders", v_o)         # paths known from the snapshot
        txn.stage("lineitem", v_l)
        txn.commit()                     # the ONE atomic step

    `stage` for a table not yet in the catalog takes an explicit path
    (registration). Catalog readers observe nothing until commit links
    the next catalog manifest; commit refuses (CatalogConflictError)
    when any STAGED table was re-pinned since begin — unstaged tables
    ride through at whatever the current head pins (a disjoint-table
    transaction is never a conflict). The catalog-pointer CAS itself
    retries on races with disjoint committers."""

    def __init__(self, path: str):
        self.path = path
        self.base_version = catalog_version(path)
        self.base = catalog_snapshot(path, self.base_version or None)
        self._staged: dict = {}

    def stage(
        self, table: str, version: int, table_path: str | None = None
    ) -> None:
        if table in self.base:
            tp = self.base[table]["path"]
            if table_path is not None and table_path != tp:
                raise ValueError(
                    f"table {table!r} is registered at {tp}, not {table_path}"
                )
        elif table_path is None:
            raise ValueError(
                f"table {table!r} is not in the catalog; stage() needs "
                f"table_path= to register it"
            )
        else:
            tp = table_path
        head = current_version(tp)
        if version <= 0 or version > head:
            raise ValueError(
                f"version {version} does not exist at {tp} (head {head})"
            )
        self._staged[table] = {"path": tp, "version": version}

    def commit(self, max_retries: int = 16) -> int:
        """Publish every staged pin in ONE catalog version. Retries the
        pointer CAS against committers of DISJOINT tables; refuses typed
        the moment a STAGED table's pin moved under us."""
        if not self._staged:
            raise ValueError("nothing staged; stage() tables first")
        for _ in range(max_retries):
            head = catalog_version(self.path)
            cur = catalog_snapshot(self.path, head or None)
            for t in self._staged:
                before = self.base.get(t, {}).get("version")
                now = cur.get(t, {}).get("version")
                if now != before:
                    raise CatalogConflictError(
                        f"table {t!r} was re-pinned ({before} -> {now}) "
                        f"since this transaction began; re-read and retry"
                    )
            tables = {**cur, **self._staged}
            try:
                return _commit_catalog(self.path, tables, head)
            except CatalogConflictError:
                raise
            except CommitConflictError:
                continue  # a disjoint committer won the slot: re-merge
        raise CommitConflictError(
            f"catalog at {self.path}: CAS lost {max_retries} races; "
            f"retry under lower contention"
        )


def begin(path: str) -> CatalogTransaction:
    return CatalogTransaction(path)
