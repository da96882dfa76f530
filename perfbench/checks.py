"""Output checks that feed `failed` / `error_rate`; all run outside the
timed region.

- Oracle-backed queries are compared against `registry.all_oracles()` run
  in DuckDB over the same generated parquet, once per invocation.
- Rows-only queries are pinned to their first pass's row count and hash.
- `audio_ingest` and `table_writes` have their own checks in
  `workloads.py` (clips on disk, DuckDB replay of the write sequence).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb

from tts_etl_pipeline_spark.sources.tables import TABLE_NAMES


def duckdb_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
        )
    return con


def _cell(v):
    """One canonical Python value per cell, whichever engine produced it."""
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict, str, bytes)):
        v = v.item()  # numpy scalar
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else f
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return tuple(_cell(x) for x in v)
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return tuple(_cell(x) for x in (v.tolist() if hasattr(v, "tolist") else v))
    return v


def _sort_key(row: tuple) -> str:
    def k(v):
        if isinstance(v, float):
            return f"{v:.9g}"
        return repr(v)

    return "\x1f".join(k(v) for v in row)


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells canonical, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return [columns[i].lower() for i in order], out


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line description of the first mismatch."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not _same(a, b):
            return f"row {i}: {a!r} != {b!r}"
    return None


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canonical(cols, cur.fetchall())


def digest(canon: tuple[list[str], list[tuple]]) -> str:
    """Row count plus value hash, for pinning rows-only results."""
    cols, rows = canon
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(_sort_key(r).encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"
