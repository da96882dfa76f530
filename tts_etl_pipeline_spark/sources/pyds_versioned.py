"""`spark.read.format("versioned_table")` — the versioned format as a
first-class Spark data source (Python DataSource API, Spark 4.x), with
FILTER-PUSHDOWN FILE SKIPPING planned from the manifest stats channel.

sources/pyds.py proves the DataSource machinery on JSONL; this wires the
SAME public API to the table format, which buys the two things a
`read_version()` call can't offer:

- SQL ergonomics: `CREATE TEMPORARY VIEW t USING versioned_table
  OPTIONS (path '...', version '7')` — time travel straight from SQL,
  no Python in the query path;
- planner-integrated pruning: `pushFilters` (4.1 API) hands the scan's
  conjuncts to the source BEFORE partition planning, so `partitions()`
  consults the manifest's per-file [min, max] stats and simply does not
  emit a partition for a provably-disjoint file — the Iceberg
  DataSourceV2 story in pure Python. Every filter is returned to Spark
  (row-level re-application), so skipping is a pure optimization: the
  _stat_disjoint discipline (exact AND float-widened order, cross-type
  degrade-to-read) keeps it sound, never load-bearing.

Scope guard: the reader serves CLEAN snapshots — a manifest carrying
merge-on-read state (deletion vectors, equality deletes) or pending
column initial-defaults refuses TYPED with the fix named (purge first,
or read through read_version, whose funnel applies that state). Plain
schema evolution is served: physical->logical renames from the colmap,
files predating an added column fill NULL, widened columns cast to the
snapshot schema — all executor-side on Arrow batches, zero Python
row loops.

Pins: tests/test_pyds_versioned.py (SQL view + time travel, skipped
partitions under pushed filters vs a report sidecar, rename/add-column
vintages, MoR refusals), driver query ★j38 (oracle = plain SQL)."""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from tts_etl_pipeline_spark.sources import versioned as V


class _FilePart(InputPartition):
    def __init__(self, rel: str):
        self.rel = rel


def _file_disjoint(rec: dict, conj: list) -> bool:
    """True when `rec` (per-file {phys_col: [min, max]} stats) PROVES the
    file cannot satisfy the conjunction of pushed constraints. Absent
    stats prove nothing; one provably-false conjunct kills the file."""
    for phys, kind, vals in conj:
        r = rec.get(phys)
        if not r or r[0] is None or r[1] is None:
            continue
        # _stat_disjoint turns cross-type and overflowing probes into
        # "read the file": stats can never crash planning
        if kind == "eq":
            if all(V._stat_disjoint(r, v, v) for v in vals):
                return True
        elif kind == "ge":
            # skip iff file_max < v, proven under both orders
            if V._stat_disjoint(r, vals[0], r[1]):
                return True
        elif kind == "le":
            if V._stat_disjoint(r, r[0], vals[0]):
                return True
    return False


class PlainVersionedReader(DataSourceReader):
    """The reader core WITHOUT the pushFilters hook: Spark refuses any
    reader that overrides pushFilters while
    spark.sql.python.filterPushdown.enabled is false, so
    `OPTIONS (pushdown 'false')` serves sessions that keep the conf off —
    every live file planned, rows still exact."""

    def __init__(self, schema, options: dict):
        self.path = options["path"]
        v = options.get("version")
        m = V._open_base(
            self.path, version=int(v) if v is not None else None
        ).m
        if m.get("dvs"):
            raise ValueError(
                "snapshot carries deletion vectors; purge_dvs() first or "
                "read it through read_version (the merge-on-read funnel)"
            )
        if m.get("eqdeletes"):
            raise ValueError(
                "snapshot carries equality deletes; purge_eq() first or "
                "read it through read_version"
            )
        if m.get("defaults"):
            raise ValueError(
                "snapshot carries column initial-defaults; read it through "
                "read_version (default fill is a read-funnel feature)"
            )
        self.schema_struct = schema
        self.colmap = m.get("colmap") or {}
        stats = m.get("stats") or {}
        self.files = [
            (f, stats.get(f) or {})
            for f in m["files"]
            if (stats.get(f) or {}).get("__n") != [0, 0]
        ]
        self.report = options.get("report")
        self.pushed: list = []

    def partitions(self):
        kept = [
            _FilePart(f)
            for f, rec in self.files
            if not _file_disjoint(rec, self.pushed)
        ]
        if self.report:
            V._write_atomic(
                self.report,
                {
                    "files_total": len(self.files),
                    "files_planned": len(kept),
                    "pushed": [[p, k, [repr(v) for v in vs]]
                               for p, k, vs in self.pushed],
                },
            )
        if not kept:  # Spark requires >= 1 partition; serve an empty one
            return [_FilePart("")]
        return kept

    def read(self, part: _FilePart):
        if not part.rel:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema_struct)
        pf = pq.ParquetFile(os.path.join(self.path, part.rel))
        have = set(pf.schema_arrow.names)
        phys_cols = [
            self.colmap.get(f.name, f.name) for f in self.schema_struct.fields
        ]
        read_cols = [c for c in phys_cols if c in have]
        for batch in pf.iter_batches(columns=read_cols):
            n = batch.num_rows
            arrays = []
            for fld, phys in zip(target, phys_cols):
                if phys in have:
                    col = batch.column(read_cols.index(phys))
                    if col.type != fld.type:  # widened vintage: cast up
                        col = col.cast(fld.type)
                else:  # file predates the added column: NULL fill
                    col = pa.nulls(n, type=fld.type)
                arrays.append(col)
            yield pa.RecordBatch.from_arrays(arrays, schema=target)


class VersionedReader(PlainVersionedReader):
    """The pushdown-enabled reader (the default): harvests scan conjuncts
    for manifest-stats file skipping before partition planning."""

    def pushFilters(self, filters):
        # harvest constraints for FILE SKIPPING; hand every filter back to
        # Spark so row-level semantics never depend on our stats
        names = {f.name for f in self.schema_struct.fields}
        out = []
        for f in filters:
            out.append(f)
            attr = getattr(f, "attribute", None)
            if not (attr and len(attr) == 1 and attr[0] in names):
                continue
            phys = self.colmap.get(attr[0], attr[0])
            if isinstance(f, EqualTo):
                self.pushed.append((phys, "eq", [f.value]))
            elif isinstance(f, In):
                self.pushed.append((phys, "eq", list(f.value)))
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self.pushed.append((phys, "ge", [f.value]))
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self.pushed.append((phys, "le", [f.value]))
        return out


class VersionedTableDataSource(DataSource):
    """USING versioned_table OPTIONS (path '...', version '3').
    Optional: report '<file>' writes a planning report (files_total /
    files_planned / pushed) after each scan; pushdown 'false' serves
    sessions where spark.sql.python.filterPushdown.enabled is off."""

    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def schema(self):
        path = self.options["path"]
        v = self.options.get("version")
        m = V._open_base(path, version=int(v) if v is not None else None).m
        return V._schema_from_json(m["schema"])

    def reader(self, schema):
        opts = dict(self.options)
        if str(opts.get("pushdown", "true")).lower() == "false":
            return PlainVersionedReader(schema, opts)
        return VersionedReader(schema, opts)


def register(spark) -> None:
    """Idempotently register the source with this session."""
    spark.dataSource.register(VersionedTableDataSource)
