"""Robustness sweep: every oracle-backed query must RUN (zero rows is a
fine answer, an exception is not) against fully EMPTY copies of all ten
tables — the situation any real pipeline hits on an empty partition, a
fresh tenant, or a filtered-to-nothing date range.

The approximate/ML queries (rows-only set) are exempt: KMeans/LSH/graph
builds legitimately require a non-empty corpus, and their registry entries
document that contract.

r14 restructuring (r13 verdict item 1 — the suite outgrew the driver's
pytest window): the two corpus-wide sweeps dominated the suite (together
~370 s of a ~30-min run, the all-NULL sweep alone 261 s) because they ran
252 tiny queries strictly serially on an idle 8-core scheduler. Queries
that only READ now run through a small thread pool (guide §2.6 overlap of
independent jobs — Spark's scheduler runs concurrent collects fine, and
these are sub-second jobs at sf0.001); queries that WRITE filesystem
artifacts (versioned tables, stream sinks, graph artifacts, media
fixtures) keep running serially, because racing their fixed on-disk paths
would test a concurrency contract this sweep does not own. Coverage is
unchanged: the same names run, the same collect() evaluates every column.
The empty-table variants of the slowest write rehearsals are additionally
marked `slowtier` (see pytest.ini): each spends 7-40 s of pure commit
machinery on empty inputs whose real protocol contracts are pinned by
test_versioned/test_graphs/test_streaming on NON-empty data, and the
empty-input run stays one `-m slowtier` away.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tts_etl_pipeline_spark.registry import all_oracles, all_queries
from tts_etl_pipeline_spark.sources.tables import TABLE_NAMES

# Builders whose CONSTRUCTION or execution writes fixed on-disk paths
# (versioned-table commits, streaming sinks, shared graph/media artifacts):
# never raced against themselves or each other.
_WRITER_PREFIXES = ("j", "st", "pr", "p1", "m", "dq10")


def _is_writer(name: str) -> bool:
    return name.startswith(_WRITER_PREFIXES)


def _run_parallel(spark, root: str, names: list[str], workers: int = 6) -> None:
    qs = all_queries()

    def run(name: str) -> None:
        # collect(), not count(): count() prunes the projection, which once
        # hid an ANSI DIVIDE_BY_ZERO inside an unevaluated column (x8's
        # jaccard). The driver's hash comparison evaluates every column —
        # so must this.
        assert len(qs[name](spark, root).collect()) >= 0, name

    with ThreadPoolExecutor(max_workers=workers) as pool:
        for _ in pool.map(run, names):
            pass


_READERS = [n for n in sorted(all_oracles()) if not _is_writer(n)]
_WRITERS = [n for n in sorted(all_oracles()) if _is_writer(n)]
# empty-input variants costing 5-40 s of commit machinery each, redundant
# with the non-empty protocol pins — opt-out tier, still run via -m slowtier
_SLOW_EMPTY = {
    "j32_metadata_only_aggregate",
    "j38_python_datasource_pushdown",
    "pr7_incremental_components",
    "st22_stream_scd2_sync",
    "st25_ivm_join_from_cdf",
}
_N_SHARDS = 4


@pytest.fixture(scope="module")
def empty_sf(sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_sf")
    for t in TABLE_NAMES:
        s = pq.read_schema(f"{sf_dir}/{t}.parquet")
        pq.write_table(
            pa.table({f.name: pa.array([], type=f.type) for f in s}),
            str(root / f"{t}.parquet"),
        )
    return str(root)


@pytest.mark.parametrize("shard", range(_N_SHARDS))
def test_readonly_queries_survive_empty_tables(spark, empty_sf, shard):
    _run_parallel(spark, empty_sf, _READERS[shard::_N_SHARDS])


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slowtier) if n in _SLOW_EMPTY
        else n
        for n in _WRITERS
    ],
)
def test_writer_query_survives_empty_tables(spark, empty_sf, name):
    rows = all_queries()[name](spark, empty_sf).collect()
    assert len(rows) >= 0


@pytest.fixture(scope="module")
def null_text_sf(sf_dir, tmp_path_factory):
    """Second adversarial vintage: every nullable text-ish column is 100%
    NULL (documents.text/lang/source, events.props/event_type,
    customer.c_mktsegment)."""
    nullable = {
        "documents": ["text", "lang", "source"],
        "events": ["props", "event_type"],
        "customer": ["c_mktsegment"],
    }
    root = tmp_path_factory.mktemp("null_sf")
    for t in TABLE_NAMES:
        tbl = pq.read_table(f"{sf_dir}/{t}.parquet")
        for col in nullable.get(t, []):
            i = tbl.schema.get_field_index(col)
            tbl = tbl.set_column(
                i, col, pa.nulls(len(tbl), type=tbl.schema.field(col).type)
            )
        pq.write_table(tbl, str(root / f"{t}.parquet"))
    return str(root)


@pytest.fixture(scope="module")
def null_user_sf(sf_dir, tmp_path_factory):
    """A NULL-key vintage: every third events.user_id is NULL, every other
    table is copied as it is."""
    root = tmp_path_factory.mktemp("null_user_sf")
    for t in TABLE_NAMES:
        tbl = pq.read_table(f"{sf_dir}/{t}.parquet")
        if t == "events":
            users = tbl.column("user_id").to_pylist()
            tbl = tbl.set_column(
                tbl.schema.get_field_index("user_id"),
                "user_id",
                pa.array(
                    [None if i % 3 == 0 else u for i, u in enumerate(users)],
                    type=tbl.schema.field("user_id").type,
                ),
            )
        pq.write_table(tbl, str(root / f"{t}.parquet"))
    return str(root)


def test_r2_skips_null_users_like_its_oracle(spark, null_user_sf):
    """r2 counts an incident's sessions and users as the oracle's
    COUNT(s.user_id) and COUNT(DISTINCT s.user_id) do, which skip the
    sessions of a NULL user; grouping the overlaps by (inc, user_id)
    counted that user as one more user and its sessions with the rest."""
    from tests.oracle_harness import compare, duckdb_connection

    name = "r2_interval_overlap_join"
    con = duckdb_connection(null_user_sf)
    try:
        oracle = con.execute(all_oracles()[name]).fetchdf()
    finally:
        con.close()
    assert oracle["n_users"].sum() > 0
    assert compare(all_queries()[name](spark, null_user_sf), oracle, name) == []


@pytest.mark.parametrize("shard", range(_N_SHARDS))
def test_readonly_queries_survive_all_null_text(spark, null_text_sf, shard):
    """All oracle-backed read-only queries must still run under the
    all-NULL text vintage — the coalesce()/null-semantics discipline,
    exercised corpus-wide."""
    _run_parallel(spark, null_text_sf, _READERS[shard::_N_SHARDS])


def _reads_nulled_table(fn, _depth: int = 0) -> bool:
    """Source-level check: does this builder (or a helper it calls with
    (spark, sf_dir)) read a table the null vintage changes? The vintage
    nulls columns ONLY in documents/events/customer — a query whose inputs
    are all other tables runs on bit-identical data to the plain sf0.001
    parity sweep, so re-running it here adds zero coverage. Anything the
    scan cannot resolve (local-import helpers, depth cap) counts as
    AFFECTED, so coverage can only ever be a superset of the true set."""
    import inspect
    import re

    if _depth > 2:
        return True
    try:
        src = inspect.getsource(fn)
    except Exception:
        return True
    tabs = set(re.findall(r'table\(spark,\s*sf_dir,\s*"(\w+)"', src))
    if tabs & {"documents", "events", "customer"}:
        return True
    mod = inspect.getmodule(fn)
    for helper in set(re.findall(r"(\w+)\(spark,\s*sf_dir", src)):
        if helper in ("table", getattr(fn, "__name__", None)):
            continue
        target = getattr(mod, helper, None)
        if target is None or not callable(target):
            return True  # locally imported / unresolvable: assume affected
        if _reads_nulled_table(target, _depth + 1):
            return True
    return False


def test_writer_queries_survive_all_null_text(spark, null_text_sf):
    qs = all_queries()
    names = [n for n in _WRITERS if _reads_nulled_table(qs[n])]
    # the vintage must keep a real writer cohort in scope (streams read
    # events; doc-backed versioned paths read documents) — if this floor
    # breaks, the source scan regressed, not the registry
    assert len(names) >= 10, names
    for name in names:
        assert len(qs[name](spark, null_text_sf).collect()) >= 0, name
