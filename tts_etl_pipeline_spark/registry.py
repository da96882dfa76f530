"""Central registry: query name -> builder, and name -> DuckDB oracle SQL.

`__spark_entry__.py` (the driver contract) re-exports these. Each operator
module registers its builders with the `query` decorator; names must be
unique. Queries without an oracle entry get the driver's weaker rows-only
check (reserved for genuinely non-SQL-expressible ops: LSH, streaming
state, ASR).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_MODULES = [
    "tts_etl_pipeline_spark.operators.relational",
    "tts_etl_pipeline_spark.operators.windows",
    "tts_etl_pipeline_spark.operators.grouping",
    "tts_etl_pipeline_spark.operators.events",
    "tts_etl_pipeline_spark.operators.textstats",
    "tts_etl_pipeline_spark.operators.dedup",
    "tts_etl_pipeline_spark.operators.similarity",
    "tts_etl_pipeline_spark.operators.streaming_queries",
    "tts_etl_pipeline_spark.operators.multimodal",
    "tts_etl_pipeline_spark.operators.scalars",
    "tts_etl_pipeline_spark.operators.udfs",
    "tts_etl_pipeline_spark.operators.sketches",
    "tts_etl_pipeline_spark.operators.curation",
    "tts_etl_pipeline_spark.operators.audio_e2e",
    "tts_etl_pipeline_spark.operators.graphs",
]

# Enumeration order is driven by VERIFY_PRIORITY.txt at the repo root (one
# query name per line, '#' comments): listed names enumerate first, in file
# order; everything else follows in registration order. The external driver's
# correctness pass covers a fixed-size prefix of this enumeration, so the
# file is the knob for which queries get (re-)verified each round. Policy:
# any query whose code or oracle changed since its last driver green goes at
# the top of the file. Keeping this state in a data file (not library code)
# means the library carries no per-round logic.
_PRIORITY_FILE = "VERIFY_PRIORITY.txt"


def _priority() -> list[str]:
    import pathlib

    path = pathlib.Path(__file__).resolve().parent.parent / _PRIORITY_FILE
    if not path.is_file():
        return []
    names: list[str] = []
    for line in path.read_text().splitlines():
        line = line.split("#", 1)[0].strip()
        if line:
            names.append(line)
    return names


# defining module -> {query name: builder}, filled in by `query` at import
_BUILDERS: dict[str, dict[str, Builder]] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Decorator: register the builder as query `name`, checked against
    the DuckDB `oracle` SQL (rows-only when None)."""

    def deco(fn: Builder) -> Builder:
        if any(name in qs for qs in _BUILDERS.values()):
            raise ValueError(f"duplicate query name {name!r} from {fn.__module__}")
        _BUILDERS.setdefault(fn.__module__, {})[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load():
    import importlib

    queries: dict[str, Builder] = {}
    for modname in _MODULES:  # module order, whatever order they were imported
        importlib.import_module(modname)
        queries.update(_BUILDERS.get(modname, {}))
    rank = {n: i for i, n in enumerate(_priority())}
    ordered = sorted(queries, key=lambda n: rank.get(n, len(rank)))
    return {n: queries[n] for n in ordered}, dict(_ORACLES)


def all_queries() -> dict[str, Builder]:
    return _load()[0]


def all_oracles() -> dict[str, str]:
    return _load()[1]
