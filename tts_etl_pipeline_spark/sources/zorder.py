"""Z-order clustering: multi-column data-skipping layout (B11 table
maintenance, next to bucketing.py's co-located joins and sink.py's
compaction).

At 100 TB the scan cost of a selective query is governed by how many files
(and row groups) the reader can SKIP from footer min/max statistics. A
linear sort gives perfect skipping on the leading column and none on any
other; interleaving the bit representations of several columns (the
Z-order / Morton curve, Orenstein & Merrett 1984 — the same layout Delta
Lake's OPTIMIZE ZORDER BY and many warehouse engines use) makes every file
cover a small HYPER-RECTANGLE of the key space, so min/max pruning works
on ALL clustered columns at once, at the price of each being slightly
coarser than a dedicated sort.

Implementation is pure DataFrame ops, JVM-side end-to-end, and the default
write path needs NO global sort or window at any step:
1. per column, derive `Z_BITS`-bit quantile RANKS — rank, not raw value,
   so skew and arbitrary orderable types (dates, strings) flatten into a
   uniform grid. Default path: 2^bits - 1 cut points from a bounded sorted
   SAMPLE (control-plane, `sample_rows` values regardless of table size —
   the same sampling contract repartitionByRange itself relies on), then a
   scan-side `F.aggregate` over the broadcast cut array counts cuts <=
   value (255 comparisons/row at 8 bits, whole-stage codegen, no
   Exchange). The exact-ntile variant remains available (`cuts=None` on
   `morton_key`) for rank-exactness tests, but `zorder_write` never uses
   it: an unpartitioned ntile drags the whole table through one task —
   precisely the anti-pattern the lint in tests/test_plans.py bans;
2. interleave the rank bits into one Morton key with shift/or expressions
   (F.shiftleft — no UDF);
3. repartitionByRange(n_files, zkey) + sortWithinPartitions(zkey) and
   write one file per range partition: each file then owns a contiguous
   Morton range = a small hyper-rectangle per clustered column. The range
   exchange + local sort are the only shuffles and both scale out.

`file_column_ranges` reads the parquet FOOTERS (pyarrow) and returns
per-file min/max per column; `pruning_ratio` evaluates what fraction of
files a range predicate could skip — the measurable contract tests pin:
Z-order prunes on BOTH columns where a linear sort prunes on one.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tts_etl_pipeline_spark.sources.versioned import _stat_disjoint

Z_BITS = 8  # 256 rank cells per column; 2 cols -> 16-bit Morton key
SAMPLE_ROWS = 65_536  # bounded cut-point sample per column (control-plane)


class PruningRegressionError(RuntimeError):
    """A clustered layout stopped delivering its promised data-skipping
    ratio (file-level pruning below contract — footer stats here, manifest
    stats in sources/versioned.py). Distinct from a query bug: the ANSWER
    is still correct — the layout degraded, typically from a skewed or
    tiny-cardinality clustering key. Callers asserting a pruning contract
    raise this so monitoring can separate 'rewrite the layout' from 'the
    query is wrong'."""


def quantile_cuts_multi(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = Z_BITS,
    sample_rows: int = SAMPLE_ROWS,
    seed: int = 42,
) -> dict[str, list]:
    """2^bits - 1 approximate quantile cut points PER COLUMN from one
    bounded random sample (works for any orderable type: numbers, dates,
    strings).

    Control-plane cost for k columns: ONE row-count + ONE sample-collect
    of the k-column projection — not 2k scans (per-column count + sample
    would double the write-path read cost per added column; the same
    scan-economics discipline as the fused x5 probes). Collected volume is
    <= ~sample_rows rows regardless of table size, the d10/t17
    bounded-collect discipline. Duplicate cuts (heavy-hitter values) are
    fine: the rank expression counts cuts <= value, so a value spanning
    several cells just occupies the highest, like ntile tie behavior up
    to cell granularity. NULLs sort into cell 0 (no cut compares <= a
    NULL)."""
    proj = df.select(*cols)
    n = proj.count()
    if n == 0:
        return {c: [] for c in cols}
    fraction = min(1.0, sample_rows / n)
    rows = proj.sample(withReplacement=False, fraction=fraction, seed=seed).collect()
    if not rows:  # tiny-fraction edge: fall back to the whole projection
        rows = proj.collect()
    n_cells = 1 << bits
    out: dict[str, list] = {}
    for c in cols:
        sample = sorted(r[c] for r in rows if r[c] is not None)
        out[c] = (
            [sample[(i * len(sample)) // n_cells] for i in range(1, n_cells)]
            if sample
            else []
        )
    return out


def _rank_expr(col: str, cuts: list) -> F.Column:
    """Scan-side quantile rank: count of cut points <= value (0..2^bits-1).

    A fold over a broadcast literal array — pure JVM expression, no window,
    no Exchange, no UDF."""
    if not cuts:  # all-NULL/empty column: every row lands in cell 0
        return F.lit(0)
    arr = F.array(*[F.lit(v) for v in cuts])
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, cut: acc + F.when(cut <= F.col(col), 1).otherwise(0),
    )


def morton_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = Z_BITS,
    cuts: dict[str, list] | None = None,
) -> DataFrame:
    """Add a `zkey` column interleaving per-column quantile ranks bitwise.

    With `cuts` (the production path `zorder_write` uses): ranks come from
    the scan-side cut-array fold — no window anywhere. Without `cuts`:
    exact equal-count ranks via unpartitioned ntile — retained ONLY for
    rank-exactness library tests; never reached from zorder_write."""
    out = df
    if cuts is not None:
        for c in cols:
            out = out.withColumn(f"__rank_{c}", _rank_expr(c, cuts[c]))
    else:
        from pyspark.sql.window import Window as W

        for c in cols:
            # global-sort: exact-ntile rank variant for library tests only —
            # the write path passes `cuts` and never takes this branch
            out = out.withColumn(
                f"__rank_{c}", F.ntile(1 << bits).over(W.orderBy(c)) - 1
            )
    # interleave: bit b of column i lands at position b*len(cols)+i
    zkey = F.lit(0)
    for b in range(bits):
        for i, c in enumerate(cols):
            src = F.shiftright(F.col(f"__rank_{c}"), b).bitwiseAND(F.lit(1))
            zkey = zkey.bitwiseOR(F.shiftleft(src, b * len(cols) + i))
    return out.withColumn("zkey", zkey).drop(*[f"__rank_{c}" for c in cols])


def zorder_cluster(
    df: DataFrame, cols: Sequence[str], n_files: int, bits: int = Z_BITS
) -> DataFrame:
    """The one Morton-clustering pipeline BOTH sinks share (zorder_write's
    raw-parquet path and versioned.optimize_zorder's commit path — a
    single helper so the clustering discipline can never silently diverge
    between them): sampled quantile cuts (one count + one sample pass for
    ALL columns) -> scan-side Morton key -> one range exchange -> sorted
    partitions, intermediate columns dropped. Window-free; scales to any
    table size. Refuses when `df` already carries the reserved
    intermediate names ('zkey', '__rank_<col>') — morton_key would
    silently OVERWRITE then DROP a user column of that name."""
    reserved = ["zkey"] + [f"__rank_{c}" for c in cols]
    clash = sorted(set(reserved) & set(df.columns))
    if clash:
        raise ValueError(
            f"column name(s) {clash} are reserved by the Z-order "
            "clustering pipeline; rename them first"
        )
    cuts = quantile_cuts_multi(df, cols, bits)
    return (
        morton_key(df, cols, bits, cuts=cuts)
        .repartitionByRange(max(1, n_files), "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
    )


def zorder_write(
    df: DataFrame, cols: Sequence[str], path: str, n_files: int, bits: int = Z_BITS
) -> None:
    """Write `df` Z-ordered on `cols` into ~`n_files` parquet files
    (zorder_cluster + a raw parquet sink)."""
    zorder_cluster(df, cols, n_files, bits).write.mode("overwrite").parquet(
        path
    )


def linear_write(df: DataFrame, col: str, path: str, n_files: int) -> None:
    """Baseline layout: range-partitioned linear sort on one column."""
    (
        df.repartitionByRange(n_files, col)
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )


_MAX_CODE_POINT = 0x10FFFF


def truncated_string_bounds(
    lo: str, hi: str, length: int
) -> tuple[str, str] | None:
    """Iceberg-style truncate(length) BOUNDS for a string [min, max]:
    the lower bound is min's prefix (a prefix compares <= the full
    string, so it is a sound lower bound); the upper bound is max's
    prefix with its last code point INCREMENTED (strictly greater than
    every string sharing the prefix, so a sound upper bound — the
    truncateStringMax trick from Iceberg's UnicodeUtil). Increment skips
    the surrogate range (unencodable in well-formed JSON/UTF-8) and
    carries left when a position sits at U+10FFFF, DROPPING the suffix
    after the incremented position ('ab\\U0010FFFF' -> 'ac'). Returns
    None when no sound upper bound exists (every prefix code point at
    U+10FFFF) — the caller records nothing and the file is simply never
    skipped. A max that FITS in `length` is kept exact (tight bound, no
    increment needed). Sound whatever the data: truncation can only
    WIDEN the range, so pruning degrades toward reading more, never
    toward skipping a live row."""
    lo_b = lo[:length]
    if len(hi) <= length:
        return lo_b, hi
    chars = list(hi[:length])
    for i in reversed(range(len(chars))):
        cp = ord(chars[i])
        while cp < _MAX_CODE_POINT:
            cp += 1
            if not (0xD800 <= cp <= 0xDFFF):
                return lo_b, "".join(chars[:i]) + chr(cp)
        # this position cannot go higher: carry into the previous one
    return None


def column_minmax(
    meta,
    cols: Sequence[str],
    numeric_only: bool = False,
    string_truncate: int | None = None,
) -> dict:
    """{col: (min, max) | None} from ONE parquet file's footer metadata,
    for every requested column PRESENT in the file's schema (absent
    columns are omitted entirely). The value is None when any row group
    lacks stats, the file has zero row groups, or — with `numeric_only`
    — the stats are neither numeric nor (with `string_truncate` set)
    string. This one extractor backs BOTH the footer-ranges contract
    (file_column_ranges, j7) and the versioned manifest's commit-time
    stats (_footer_minmax), so the soundness rules cannot drift apart
    again.

    STRING stats (`string_truncate=N` under `numeric_only`): returned as
    truncate(N) BOUNDS — prefix lower bound, incremented upper bound
    (truncated_string_bounds) — never as the raw footer values. Two
    reasons: (a) the manifest stays KB-scale whatever the column holds
    (a 1 MB max string must not land in planning metadata); (b) bounds
    semantics are the only sound contract — the parquet spec requires a
    writer that truncates min_value/max_value to keep them bounds
    (parquet-mr's BinaryTruncator increments exactly like this), so
    treating footer stats as bounds and re-truncating is
    belt-and-braces, while treating them as exact values would trust
    every writer forever. Comparison discipline: Python, Spark (UTF8
    binary collation) and DuckDB all compare strings in code-point
    order, so bounds recorded here prune identically everywhere."""
    out: dict = {}
    if meta.num_row_groups == 0:
        return out
    names = {
        meta.row_group(0).column(ci).path_in_schema: ci
        for ci in range(meta.num_columns)
    }
    for col in cols:
        ci = names.get(col)
        if ci is None:
            continue
        mins: list = []
        maxs: list = []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                mins = []
                break
            is_num = isinstance(st.min, (int, float)) and (
                isinstance(st.min, bool) == isinstance(st.max, bool)
            )
            is_str = (
                string_truncate is not None
                and isinstance(st.min, str)
                and isinstance(st.max, str)
            )
            if numeric_only and not (is_num or is_str):
                mins = []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if not mins:
            out[col] = None
            continue
        lo, hi = min(mins), max(maxs)
        if string_truncate is not None and isinstance(lo, str):
            bounds = truncated_string_bounds(lo, hi, string_truncate)
            out[col] = bounds  # None when no sound upper bound exists
        else:
            out[col] = (lo, hi)
    return out


def file_column_ranges(path: str, cols: Sequence[str]) -> list[dict]:
    """Per-file min/max per column from parquet footer statistics only."""
    import pathlib

    import pyarrow.parquet as pq

    out = []
    for f in sorted(pathlib.Path(path).glob("*.parquet")):
        meta = pq.ParquetFile(str(f)).metadata
        rec: dict = {"file": f.name}
        rec.update(column_minmax(meta, cols))
        out.append(rec)
    return out


def pruning_ratio(ranges: list[dict], col: str, lo, hi) -> float:
    """Fraction of files a reader can SKIP for `col BETWEEN lo AND hi`
    using footer stats alone (None stats = unprunable), by the versioned
    table's skip rule (`_stat_disjoint`: disjoint in the exact and the
    float-widened order; a cross-type probe skips nothing)."""
    skipped = 0
    for rec in ranges:
        r = rec.get(col)
        if r is not None and _stat_disjoint(r, lo, hi):
            skipped += 1
    return skipped / max(1, len(ranges))
