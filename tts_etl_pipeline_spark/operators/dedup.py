"""Deduplication operators (SURVEY.md §2.2-B1/B2 + north-star dedup family):

- exact dedup by key / by content fingerprint (hash-groupBy)
- n-gram (shingle) Jaccard near-dedup, exact formulation: token-inverted-index
  self-join -> pair intersection counts -> Jaccard, so the cross join never
  materializes (pairs sharing zero tokens are never generated). This is the
  scale path for exact Jaccard; banded MinHash below is the approximate path.
- banded MinHash near-dedup (AND-amplified, exact-verified candidates) —
  approximate, rows-only check
- SimHash near-dedup — deterministic 64-bit simhash via xxhash64 over tokens,
  banded buckets; rows-only check (hash family is engine-specific)

The reference's dedup surface is only `INSERT OR IGNORE` on wav_path
(process_audio.py:377-383); its Spark equivalent (dropDuplicates before an
append / anti-join against the sink) lives in sources/sink.py. The operators
here are the corpus-level dedup a 100 TB text pipeline needs.

Scale notes: the inverted-index join shuffles on token; hot tokens are
bounded because we drop tokens occurring in > MAX_DF docs (standard practice
— stop-token removal caps the per-key fanout that would otherwise quadratically
blow up the self-join). MinHash/SimHash banding turns all-pairs into
per-bucket pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.checkpoints import materialize
from tts_etl_pipeline_spark.sources.tables import rebalance_scan, scaled_broadcast, table


# ---------------------------------------------------------------------------
# d1 — exact dedup by content fingerprint: canonical representative = min
# doc_id per normalized-text group. One hash-agg shuffle on the fingerprint.
# ---------------------------------------------------------------------------
@registry.query(
    "d1_exact_dedup",
    """
    SELECT COUNT(*) AS n_groups,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT) AS n_removed,
           MIN(keeper) AS min_keeper, MAX(keeper) AS max_keeper
    FROM (
      SELECT md5(lower(trim(text))) AS fp, COUNT(*) AS cnt, MIN(doc_id) AS keeper
      FROM documents
      GROUP BY md5(lower(trim(text)))
    ) g
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    groups = (
        docs.groupBy(F.md5(F.lower(F.trim("text"))).alias("fp"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("keeper"))
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("cnt").alias("n_docs"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1).otherwise(0)).alias("n_removed"),
        F.min("keeper").alias("min_keeper"),
        F.max("keeper").alias("max_keeper"),
    )


# ---------------------------------------------------------------------------
# d2 — exact full-row dedup over a projection (the dropDuplicates primitive).
# ---------------------------------------------------------------------------
@registry.query(
    "d2_distinct_rows",
    """
    SELECT lang, source, COUNT(*) AS n
    FROM (SELECT DISTINCT lang, source FROM documents) d
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def d2_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", "source")
        .distinct()
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# d3 — exact token-set Jaccard near-dup pairs WITHOUT a cross join:
#   distinct (doc, token) -> self-join on token (inverted index) ->
#   per-pair intersection count -> jaccard = inter / (|A| + |B| - inter).
# Pairs sharing no token never appear, so the shuffle is bounded by
# sum(df(token)^2) over tokens, which stop-token capping keeps linear-ish.
# Oracle: identical formulation in SQL (DuckDB), bit-exact.
# ---------------------------------------------------------------------------
JACCARD_THRESHOLD = 0.6
MAX_DF_FRACTION = 0.5  # drop tokens present in more than half the corpus
# Posting-list HARD bound (r6): the relative cap alone assumes stopword
# document frequencies grow in proportion to the corpus — true under
# homogeneous growth, FALSE when a corpus grows by ingesting disjoint
# domains (each domain's dfs stay flat while n_docs climbs, so the
# relative cap un-prunes every domain's hot tokens and the token
# self-join goes quadratic — observed and measured on the round-6 scaled
# fixture, BASELINE.md). The effective cap is LEAST(frac * n_docs, 2500):
# candidate pairs per token are bounded at ~3M no matter the corpus
# size. 2500 equals the relative cap at the largest driver fixture
# (5000 docs x 0.5), so driver outputs are unchanged at every sf.
MAX_DF_ABSOLUTE = 2500

# Shared CTE chain: inverted-index Jaccard pairs above threshold. Reused by
# the d3 oracle (pair listing) and the d8 oracle (connected components).
_PAIRS_CTES = f"""
    tok AS (
      SELECT DISTINCT doc_id,
             unnest(string_split(lower(trim(coalesce(text, ''))), ' ')) AS token
      FROM documents
    ),
    df AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    total AS (SELECT COUNT(*) AS n_docs FROM documents),
    tok_f AS (
      SELECT t.doc_id, t.token FROM tok t, df, total
      WHERE df.token = t.token
        AND df.n <= LEAST({MAX_DF_FRACTION} * total.n_docs, {MAX_DF_ABSOLUTE})
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok_f GROUP BY doc_id),
    ipairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM tok_f a JOIN tok_f b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jpairs AS (
      SELECT id_a, id_b,
             CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
      FROM ipairs, sizes sa, sizes sb
      WHERE sa.doc_id = id_a AND sb.doc_id = id_b
        AND CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {JACCARD_THRESHOLD}
    )"""


@registry.query(
    "d3_jaccard_neardup_pairs",
    f"""
    WITH {_PAIRS_CTES}
    SELECT id_a, id_b, jaccard FROM jpairs
    ORDER BY id_a, id_b
    """,
)
def d3_jaccard_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no final sort: presentation-only (driver hash is order-insensitive)
    return _jaccard_pairs(spark, sf_dir)


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered (id_a, id_b, jaccard) pairs above JACCARD_THRESHOLD via the
    inverted-index self-join (no cross join). Shared by d3 and d8.

    The tokenized corpus (`tok`) and the df-capped index (`tok_f`) are each
    referenced by several downstream branches (document frequencies, set
    sizes, both self-join sides); without materialization Spark re-derives
    every branch from the source — 8 scans of the documents table. Both are
    checkpointed once: at cluster scale this is the standard "materialize
    the inverted index" step of a dedup pipeline, and the corpus is scanned
    exactly once."""
    docs = table(spark, sf_dir, "documents")
    # coalesce NULL text to '': split('') yields [''] in both engines, so
    # EVERY document emits >= 1 token row — which makes the countDistinct
    # below a true corpus count and keeps it equal to the oracle's
    # COUNT(*) FROM documents even with NULL-text rows in the corpus
    tok = materialize(
        # rebalance BEFORE the tokenize+explode so the index build
        # parallelizes when the file layout cannot (no-op at scale)
        rebalance_scan(
            docs.select("doc_id", "text"), spark, sf_dir, "documents",
            per_task_bytes=128 << 10,
        )
        .select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), " ")
            ).alias("token"),
        )
        .distinct()
    )
    # corpus size: doc_id is the documents PK and every document emits >= 1
    # token row (the coalesce('') discipline above), so countDistinct(doc_id)
    # over the index == the table's parquet-footer row count — read the
    # footer (catalog-stats stand-in, zero jobs) and fold the df cap to a
    # LITERAL instead of aggregating the checkpointed index into a 1-row
    # broadcast (two agg stages + a broadcast build per run, r14). Fallback
    # to the in-query aggregate when the footer is unreadable (remote path).
    from tts_etl_pipeline_spark.sources.tables import table_stats

    df_tok = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    stats = table_stats(sf_dir, "documents", rows=True)
    n_total = None if stats is None else stats.rows
    if n_total is not None:
        cap = F.lit(min(MAX_DF_FRACTION * n_total, float(MAX_DF_ABSOLUTE)))
        keep_tokens = df_tok.filter(F.col("n") <= cap).select("token")
    else:
        n_docs = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
        keep_tokens = (
            df_tok.join(F.broadcast(n_docs))
            .filter(
                F.col("n")
                <= F.least(
                    MAX_DF_FRACTION * F.col("n_docs"), F.lit(float(MAX_DF_ABSOLUTE))
                )
            )
            .select("token")
        )
    tok_f = materialize(tok.join(scaled_broadcast(keep_tokens, sf_dir, "documents"), "token"))
    # sizes is referenced TWICE (sa for id_a, sb for id_b): without its own
    # materialization each broadcast build re-aggregates the corpus-sized
    # tok_f — two full index scans + shuffles for a doc-grain relation
    sizes = materialize(tok_f.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz")))
    a = tok_f.select(F.col("doc_id").alias("id_a"), "token")
    b = tok_f.select(F.col("doc_id").alias("id_b"), "token")
    pairs = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    jacc = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    )
    return (
        pairs.join(scaled_broadcast(sa, sf_dir, "documents"), "id_a")
        .join(scaled_broadcast(sb, sf_dir, "documents"), "id_b")
        .withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# d8 / d9 — connected components over the near-dup graph (the step that
# turns PAIRS into dedup CLUSTERS), one builder registered under both names:
# large-star/small-star (functions/graph.py) converges in O(log n) rounds
# regardless of component diameter, so a pathological near-dup CHAIN costs
# no more than a star. The result is the graph's unique fixpoint (every doc
# labeled with its component's minimum doc id), so it is deterministic and
# oracle-checkable against DuckDB's recursive-CTE transitive closure.
# ---------------------------------------------------------------------------
_D8_ORACLE = f"""
    WITH RECURSIVE {_PAIRS_CTES},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM jpairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM jpairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, r.label FROM sym s JOIN reach r ON s.dst = r.node
    )
    SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS component
    FROM reach GROUP BY node
    ORDER BY doc_id
    """


@registry.query("d8_neardup_components", _D8_ORACLE)
@registry.query("d9_neardup_components_bigstar", _D8_ORACLE)
def d8_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.graph import connected_components

    pairs = _jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst")
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# d10 — INCREMENTAL dedup, the most common production shape: dedup a new
# batch against an existing corpus (not the corpus against itself). A
# mergeable Bloom filter over the corpus fingerprints (functions/bloom.py;
# built distributed, kilobytes broadcast) routes the batch: rows the bloom
# says are ABSENT are definitely new (no false negatives) and skip the
# anti-join entirely; only the maybe-duplicates — a sliver of an
# incremental batch — reach the exact anti-join, which removes the bloom's
# false positives. Output is therefore bit-identical to the plain anti-join
# the oracle runs; at 100 TB the bloom turns "shuffle the whole batch
# against the corpus key set" into "shuffle only the suspected dups".
# ---------------------------------------------------------------------------
@registry.query(
    "d10_incremental_dedup",
    """
    SELECT b.doc_id, b.lang, b.n_chars
    FROM documents b
    WHERE b.doc_id % 5 = 0
      AND NOT EXISTS (
        SELECT 1 FROM documents c
        WHERE c.doc_id % 5 <> 0
          AND md5(lower(trim(c.text))) = md5(lower(trim(b.text)))
      )
    ORDER BY b.doc_id
    """,
)
def d10_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from tts_etl_pipeline_spark.functions.bloom import BloomFilter

    docs = table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim("text")))
    # the standing corpus vs. the incoming increment (deterministic split so
    # the oracle can reproduce it; in production these are two tables)
    corpus_fps = docs.filter(F.col("doc_id") % 5 != 0).select(fp.alias("fp"))
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", "n_chars", fp.alias("fp")
    )

    # Size the filter from the documents table's parquet FOOTER row count
    # (catalog-stats stand-in, zero jobs) instead of a count() job over the
    # filtered corpus: any UPPER bound on the corpus count works — the
    # total row count over-sizes the filter by the 1/5 batch share, which
    # only LOWERS the FPR, and the output is bloom-parameter-independent
    # (false positives all route to the exact anti-join). A fixed m would
    # still saturate at scale (FPR -> 1), so the bound must scale with the
    # table; max() keeps the historical floor so small corpora don't get a
    # degenerate tiny filter. Fallback: the old count() job if the footer
    # is unreadable (remote path).
    from tts_etl_pipeline_spark.sources.tables import table_stats

    stats = table_stats(sf_dir, "documents", rows=True)
    n_total = None if stats is None else stats.rows
    n_items = max(100_000, n_total if n_total is not None else corpus_fps.count())

    # distributed bloom build: one partial filter per partition, OR-merged —
    # fixed KBs per partition regardless of corpus size (cms.py pattern)
    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bf = BloomFilter(n_items)
        seen = False
        for pdf in batches:
            seen = True
            for v in pdf["fp"]:
                if v is not None:
                    bf.add(str(v))
        if seen:
            yield pd.DataFrame({"bloom": [bf.to_bytes()]})

    def or_merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            for raw in pdf["bloom"]:
                bf = BloomFilter.from_bytes(bytes(raw), n_items)
                acc = bf if acc is None else acc.merge(bf)
        if acc is not None:
            yield pd.DataFrame({"bloom": [acc.to_bytes()]})

    # tree-merge: partials (one per corpus partition) reduce in an executor
    # level first, so the driver's final collect sees O(FAN_IN-reduced) rows
    # instead of one ~m/8-byte blob per corpus partition.
    FAN_IN = 16
    partials = corpus_fps.mapInPandas(partial, "bloom binary")
    # scan split count from the file layout (files-granular lower bound,
    # same estimator as the rebalance guard) — the .rdd conversion this
    # replaces forced a full second physical planning of the corpus scan
    # just to read its partition count (unknown layout: no tree level)
    n_parts = 0 if stats is None else stats.splits
    if n_parts > FAN_IN:
        partials = partials.repartition(
            max(1, n_parts // FAN_IN)
        ).mapInPandas(or_merge, "bloom binary")
    merged = BloomFilter(n_items)
    for row in partials.collect():
        merged = merged.merge(BloomFilter.from_bytes(bytes(row["bloom"]), n_items))
    bc = spark.sparkContext.broadcast(merged.to_bytes())

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bf = BloomFilter.from_bytes(bc.value, n_items)
        for pdf in batches:
            pdf = pdf.copy()
            # NULL fingerprint (NULL text): "maybe" — routed to the exact
            # join, where NULL never equals and the row survives as new,
            # matching the oracle's NOT EXISTS semantics
            pdf["maybe_dup"] = [
                True if v is None else bf.might_contain(str(v)) for v in pdf["fp"]
            ]
            yield pdf

    routed = materialize(
        batch.mapInPandas(
            probe, "doc_id bigint, lang string, n_chars bigint, fp string, maybe_dup boolean"
        )
    )
    definitely_new = routed.filter(~F.col("maybe_dup"))
    survivors = routed.filter(F.col("maybe_dup")).join(corpus_fps, "fp", "left_anti")
    return (
        definitely_new.select("doc_id", "lang", "n_chars")
        .unionAll(survivors.select("doc_id", "lang", "n_chars"))
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# d4 — 3-gram (character-shingle) containment dedup on a sampled slice:
# shingles via a self-expressible substring sequence. Demonstrates shingle
# construction relationally (sequence + transform), oracle-checkable.
# ---------------------------------------------------------------------------
@registry.query(
    "d4_char_shingles",
    """
    SELECT doc_id,
           len(list_distinct([substr(txt, i, 3)
                              FOR i IN range(1, len(txt) - 1)])) AS n_shingles,
           len(txt) AS n_chars
    FROM (SELECT doc_id, lower(trim(text)) AS txt FROM documents WHERE doc_id < 50) d
    ORDER BY doc_id
    """,
)
def d4_char_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    base = docs.select("doc_id", F.lower(F.trim("text")).alias("txt"))
    return base.select(
        "doc_id",
        F.size(
            F.array_distinct(
                F.expr("transform(sequence(1, length(txt) - 2), i -> substring(txt, i, 3))")
            )
        ).cast("bigint").alias("n_shingles"),
        F.length("txt").cast("bigint").alias("n_chars"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# d11 — banded MinHash near-dedup, the 100 TB-correct LSH: 32 xxhash64
# minhashes per document grouped into 4 bands of 8, AND-amplified — a pair
# becomes a candidate only when ALL 8 hashes of some band agree, so
# P(candidate | sim s) = 1-(1-s^8)^4: ~0.07 at s=0.6, ~0.52 at s=0.8,
# ~0.90 at s=0.9. Moderately-similar bulk pairs (the quadratic mass that
# drowns OR-amplified LSH on self-similar corpora) never become
# candidates; the true near-dups do. Candidates are then verified with the
# EXACT token-set Jaccard (array_intersect on collected sets — candidate-
# sized work, not corpus-squared), keeping only sim >= 0.8 with the exact
# value in the output. Rows-only for the driver (banding is recall<1 by
# design at the threshold boundary); the recall floor is pinned vs
# exact-Jaccard ground truth in tests/test_ann_recall.py.
# Plan shape: one documents scan (tokens materialized), one signature
# groupBy, 4 band self-joins keyed by 64-bit band hash, candidate-keyed
# verification joins. No all-pairs stage anywhere.
# ---------------------------------------------------------------------------
_D11_BANDS = 4
_D11_ROWS_PER_BAND = 8
_D11_SIM = 0.8


@registry.query("d11_banded_minhash_neardup")  # hash-family => rows-only
def d11_banded_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), " ")
            )
        ).alias("token"),
    )
    k = _D11_BANDS * _D11_ROWS_PER_BAND
    # k independent minhashes: min over the doc's tokens of a seeded
    # xxhash64; one groupBy computes the whole signature
    sig = tok.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.lit(i), "token")).alias(f"h{i}") for i in range(k)],
        F.collect_set("token").alias("toks"),
    )
    # band key = hash of the band's 8 minhashes (AND-amplification)
    banded = materialize(
        sig.select(
            "doc_id",
            "toks",
            *[
                F.xxhash64(
                    *[F.col(f"h{b * _D11_ROWS_PER_BAND + j}") for j in range(_D11_ROWS_PER_BAND)]
                ).alias(f"band{b}")
                for b in range(_D11_BANDS)
            ],
        )
    )
    cands = None
    for b in range(_D11_BANDS):
        l = banded.select(F.col("doc_id").alias("id_a"), F.col(f"band{b}").alias("bk"))
        r = banded.select(F.col("doc_id").alias("id_b"), F.col(f"band{b}").alias("bk"))
        c = l.join(r, "bk").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
        cands = c if cands is None else cands.unionAll(c)
    cands = cands.distinct()
    # exact verification on the candidate set only
    sa = banded.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    sb = banded.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = (F.size("toks_a") + F.size("toks_b")).cast("double") - inter
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 9).alias("jaccard"))
        .filter(F.col("jaccard") >= _D11_SIM)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# d6 — SimHash near-dedup: 64-bit simhash from xxhash64(token), banded into
# 4x16-bit bands; pairs agreeing on any band are candidates, verified by
# hamming distance. Deterministic but hash-family-specific => rows-only.
# ---------------------------------------------------------------------------
@registry.query("d6_simhash_neardup")
def d6_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token")
    )
    hashed = tok.select("doc_id", F.xxhash64("token").alias("h"))
    # per-bit weighted sums: bit i contributes +1 if set else -1
    bits = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = hashed.groupBy("doc_id").agg(*bits)
    sim = agg.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"b{i}") > 0,
                    # bit 63 is the sign bit of a signed 64-bit long
                    F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long"),
                ).otherwise(0)
                for i in range(64)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    banded = materialize(
        sim.select(
            "doc_id",
            "simhash",
            *[
                F.shiftright(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF)).alias(f"band{b}")
                for b in range(4)
            ],
        )
    )
    # ^ the per-doc simhash table feeds all 4 band self-joins (8 plan
    # branches); materializing it once keeps the corpus scan count at 1
    cands = None
    for b in range(4):
        l = banded.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), F.col(f"band{b}").alias("bk"))
        r = banded.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), F.col(f"band{b}").alias("bk"))
        c = l.join(r, "bk").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "sh_a", "sh_b")
        cands = c if cands is None else cands.unionAll(c)
    cands = cands.distinct()
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= 12)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# d7 — dedup MATERIALIZATION (d1 reports stats; this emits the surviving
# corpus): one representative per content-fingerprint cluster, chosen by
# (longest text, lowest doc_id) — the "keep best" policy a curation pipeline
# applies, expressed as min_by over a struct ordering in both engines.
# ---------------------------------------------------------------------------
@registry.query(
    "d7_dedup_representatives",
    """
    SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(keep_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT arg_min(doc_id, doc_id) AS keep_id,
             arg_min(lang, doc_id) AS lang,
             arg_min(n_chars, doc_id) AS keep_chars
      FROM documents
      GROUP BY md5(lower(trim(text)))
    ) reps
    GROUP BY lang
    ORDER BY lang
    """,
)
def d7_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    reps = (
        docs.groupBy(F.md5(F.lower(F.trim("text"))).alias("fp"))
        .agg(
            F.min_by("doc_id", "doc_id").alias("keep_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_chars", "doc_id").alias("keep_chars"),
        )
    )
    return (
        reps.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("keep_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# d12 — the COMPLETE near-dup dedup pipeline in one query, composed from
# the three scale primitives: banded-MinHash candidate pairs (d11) ->
# large-star/small-star connected components (functions/graph.py) ->
# keep-lowest-doc_id representative per cluster. Output is the per-document
# verdict every LLM corpus build ships: (doc_id, cluster, is_kept).
# Docs in no near-dup pair form singleton clusters and keep themselves.
# Rows-only for the driver (banding recall < 1); the agreement floor vs the
# exact pipeline (exact j>=0.8 pairs -> union-find -> same keep rule) is
# pinned in tests/test_ann_recall.py.
# Scale shape: d11's shape + O(log n) component rounds + one doc_id-keyed
# left join and one cluster-keyed min — nothing quadratic, no new scans
# (documents re-read once for the verdict join).
# ---------------------------------------------------------------------------
@registry.query("d12_neardup_dedup_e2e")  # hash-family => rows-only
def d12_neardup_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from tts_etl_pipeline_spark.functions.graph import connected_components

    pairs = d11_banded_minhash_neardup(spark, sf_dir)
    comp = connected_components(pairs.selectExpr("id_a AS src", "id_b AS dst"))
    docs = table(spark, sf_dir, "documents").select("doc_id")
    labeled = (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("cluster"))
    )
    w = W.partitionBy("cluster")
    return (
        labeled.withColumn("keeper", F.min("doc_id").over(w))
        .select("doc_id", "cluster", (F.col("doc_id") == F.col("keeper")).alias("is_kept"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d13 — benchmark-contamination check (decontamination): flag training docs
# sharing any word 8-gram with a held-out benchmark set — the GPT-3 paper's
# 13-gram overlap dedup, scaled to this corpus's ~25-token docs. The
# "benchmark" is the deterministic doc_id % 97 == 3 slice, so both engines
# agree on it without a second input table.
#
# Scale shape: grams of the (small) benchmark side are DISTINCT'd and
# broadcast; the training side streams its grams through a broadcast-hash
# semi join — no shuffle of the big side at all. At a real 100 TB corpus
# with a genuinely large benchmark suite, the same plan degrades gracefully
# to a shuffled semi join on the gram hash; either way contamination is one
# scan of each side. The semi join (left_semi + distinct doc) never
# materializes the quadratic gram-pair blowup an equi-join would.
# ---------------------------------------------------------------------------
CONTAM_NGRAM = 8


@registry.query(
    "d13_benchmark_contamination",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             array_to_string(t[i : i + {CONTAM_NGRAM - 1}], ' ') AS g
      FROM (
        SELECT doc_id, lang, t,
               unnest(range(1, len(t) - {CONTAM_NGRAM} + 2)) AS i
        FROM toks
        WHERE len(t) >= {CONTAM_NGRAM}
      )
    ),
    bench_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 3
    ),
    contaminated AS (
      SELECT DISTINCT doc_id, lang
      FROM grams
      WHERE doc_id % 97 <> 3
        AND g IN (SELECT g FROM bench_grams)
    ),
    train AS (
      SELECT lang, COUNT(*) AS n_train
      FROM documents WHERE doc_id % 97 <> 3
      GROUP BY lang
    )
    SELECT train.lang, n_train,
           CAST(COALESCE(c.n_contaminated, 0) AS BIGINT) AS n_contaminated
    FROM train
    LEFT JOIN (
      SELECT lang, COUNT(*) AS n_contaminated FROM contaminated GROUP BY lang
    ) c ON train.lang = c.lang
    ORDER BY train.lang
    """,
)
def d13_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+")
    grams_col = F.expr(
        f"transform(sequence(0, size(t) - {CONTAM_NGRAM}), "
        f"i -> concat_ws(' ', slice(t, i + 1, {CONTAM_NGRAM})))"
    )
    # one narrow gram table feeds both sides (single documents scan);
    # rebalance BEFORE the tokenize+gram explode so the checkpoint job
    # parallelizes when the file layout cannot (no-op at scale)
    grams = materialize(
        rebalance_scan(
            docs.select("doc_id", "lang", "text"), spark, sf_dir, "documents",
            per_task_bytes=64 << 10,
        )
        .select("doc_id", "lang", toks.alias("t"))
        .filter(F.size("t") >= CONTAM_NGRAM)
        .select("doc_id", "lang", F.explode(grams_col).alias("g"))
    )
    is_bench = F.col("doc_id") % 97 == 3
    bench_grams = grams.filter(is_bench).select("g").distinct()
    # the gram relation EXPLODES its source (one 8-word gram per token
    # position), so the base documents bytes are NOT a conservative bound
    # for it — scale the size evidence by a 16x expansion factor (review
    # finding r7); the 1/97 benchmark slice keeps the product small at
    # bench scale, and past the bound AQE decides
    contaminated = (
        grams.filter(~is_bench)
        .join(
            scaled_broadcast(bench_grams, sf_dir, "documents", expansion=16),
            "g",
            "left_semi",
        )
        .select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    train = (
        docs.filter(F.col("doc_id") % 97 != 3)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_train"))
    )
    return (
        train.join(F.broadcast(contaminated), "lang", "left")
        .select(
            "lang",
            "n_train",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# d15 — duplicated-SPAN detection (the word-level form of substring-level
# dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language Models
# Better"): a gram position is duplicated when its word-8-gram occurs in ≥2
# distinct documents; overlapping/touching duplicated grams merge into
# MAXIMAL spans (gaps-and-islands with gap ≤ NGRAM), and each document is
# scored by its duplicated-word mass. Reports the 20 most duplicated docs —
# the "which documents are mostly boilerplate" audit that doc-level dedup
# (d1-d12) cannot see.
# Scale shape: the gram relation (built once, materialized, same idiom as
# d13) feeds (a) a distinct + count-per-gram agg and (b) a g-keyed
# LEFT SEMI join back — both hash-shuffles on g (sort-merge at scale; the
# duplicated-gram set is corpus-sized, so NO broadcast). Island merging is
# one doc_id window; everything after is doc-sized. No pair joins anywhere,
# so there is no quadratic blowup on self-similar corpora.
# Posting-list bound (round-6 sf1 sweep: 7.5x wall at 10x data on the
# adversarial fixture — the same relative-cap hazard d3 hit): a gram
# counts as "duplicated" only while its document frequency stays <=
# LEAST(MAX_DF_FRACTION * n_docs, MAX_SPAN_DF_ABSOLUTE). Grams above the
# cap are stop-gram boilerplate whose positions would otherwise flag most
# of every document AND whose posting mass grows super-linearly under
# disjoint-domain corpus growth. Recall consequence (documented, the d3
# precedent): boilerplate occurring in more than the cap's documents is
# no longer reported as duplicated-span mass — at that frequency it is a
# corpus-level template, a different signal (t3 Gopher repetition / c6
# boilerplate filters cover it). 2500 equals the relative cap at the
# largest driver fixture (5000 docs), so all driver outputs are unchanged.
# ---------------------------------------------------------------------------
SPAN_NGRAM = 8
MAX_SPAN_DF_ABSOLUTE = 2500


@registry.query(
    "d15_duplicated_spans",
    f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i,
             array_to_string(t[i : i + {SPAN_NGRAM - 1}], ' ') AS g
      FROM (
        SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_NGRAM} + 2)) AS i
        FROM toks WHERE len(t) >= {SPAN_NGRAM}
      )
    ),
    dup_grams AS (
      SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams)
      GROUP BY g
      HAVING COUNT(*) >= 2
         AND COUNT(*) <= LEAST(
               {MAX_DF_FRACTION} * (SELECT COUNT(DISTINCT doc_id) FROM grams),
               {MAX_SPAN_DF_ABSOLUTE})
    ),
    pos AS (
      SELECT doc_id, i FROM grams WHERE g IN (SELECT g FROM dup_grams)
    ),
    flagged AS (
      SELECT doc_id, i,
             CASE WHEN LAG(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
                    OR i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
                       > {SPAN_NGRAM}
                  THEN 1 ELSE 0 END AS new_span
      FROM pos
    ),
    islands AS (
      SELECT doc_id, i,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, grp, MIN(i) AS s, MAX(i) + {SPAN_NGRAM} - 1 AS e
      FROM islands GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(e - s + 1) AS dup_words
      FROM spans GROUP BY doc_id
    )
    SELECT p.doc_id, CAST(p.n_spans AS BIGINT) AS n_spans,
           CAST(p.dup_words AS BIGINT) AS dup_words,
           CAST(len(toks.t) AS BIGINT) AS total_words,
           ROUND(CAST(p.dup_words AS DOUBLE) / len(toks.t), 6) AS dup_frac
    FROM per_doc p JOIN toks ON p.doc_id = toks.doc_id
    ORDER BY dup_words DESC, p.doc_id
    LIMIT 20
    """,
)
def d15_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+")
    lens = docs.select("doc_id", F.size(toks).alias("total_words"))
    grams_col = F.expr(
        f"transform(sequence(0, size(t) - {SPAN_NGRAM}), "
        f"i -> struct(i + 1 AS i, concat_ws(' ', slice(t, i + 1, {SPAN_NGRAM})) AS g))"
    )
    grams = materialize(
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= SPAN_NGRAM)
        .select("doc_id", F.explode(grams_col).alias("x"))
        .select("doc_id", F.col("x.i").alias("i"), F.col("x.g").alias("g"))
    )
    # corpus size folds from the materialized gram relation as a broadcast
    # 1-row aggregate (the d3 idiom) — no separate documents scan
    n_docs = grams.agg(F.countDistinct("doc_id").alias("n_docs"))
    dup_grams = (
        grams.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .join(F.broadcast(n_docs))
        .filter(
            (F.col("nd") >= 2)
            & (
                F.col("nd")
                <= F.least(
                    MAX_DF_FRACTION * F.col("n_docs"),
                    F.lit(float(MAX_SPAN_DF_ABSOLUTE)),
                )
            )
        )
        .select("g")
    )
    pos = grams.join(dup_grams, "g", "left_semi").select("doc_id", "i")
    w = W.partitionBy("doc_id").orderBy("i")
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev = F.lag("i").over(w)
    flagged = pos.withColumn(
        "new_span",
        F.when(prev.isNull() | (F.col("i") - prev > SPAN_NGRAM), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    islands = flagged.withColumn("grp", F.sum("new_span").over(wsum))
    spans = islands.groupBy("doc_id", "grp").agg(
        F.min("i").alias("s"), (F.max("i") + SPAN_NGRAM - 1).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_words"),
    )
    return (
        per_doc.join(lens, "doc_id")
        .select(
            "doc_id",
            "n_spans",
            "dup_words",
            F.col("total_words").cast("bigint"),
            F.round(F.col("dup_words").cast("double") / F.col("total_words"), 6).alias(
                "dup_frac"
            ),
        )
        .orderBy(F.desc("dup_words"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# d16 — ASYMMETRIC containment near-dup pairs (the decontamination score):
# containment(A in B) = |S_A ∩ S_B| / |S_A| over word-5-GRAM shingle sets
# (the GPT-3/PaLM decontamination n-gram range; bigrams measured first and
# rejected — on this tiny-vocabulary corpus their document frequencies sit
# in the hundreds, inflating the inverted-index pair mass 2700× for the
# SAME matches: 36.5M vs 13.5k candidate pairs at sf0.1, identical yield).
# Jaccard (d3) misses subset-style copying — a paragraph quoted inside a
# 100× larger document scores near-zero Jaccard but containment 1.0; this
# directed score is what test-set decontamination and quote detection
# actually compute (reference has no analog; the operator belongs to the
# north-star text-dedup family next to d3/d13).
# Scale shape: identical to d3's inverted index — distinct (doc, shingle)
# rows, the LEAST(frac·n_docs, abs) stop-shingle cap bounds every posting
# list, the self-join shuffles on shingle, and each UNDIRECTED intersection
# row fans out into at most two directed candidates (no second join pass).
# Containment is an exact integer ratio (inter/|S_A|), identically computed
# in both engines — oracle is hash-exact. Documents with fewer than
# MIN_SHINGLES capped shingles are excluded as the contained side (a 2-gram
# "document" being 100% contained is noise, the standard decontamination
# floor).
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.8
MIN_SHINGLES = 5
CONTAIN_NGRAM = 5


@registry.query(
    "d16_containment_pairs",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - 3),
                      i -> toks[i] || ' ' || toks[i + 1] || ' ' ||
                           toks[i + 2] || ' ' || toks[i + 3] || ' ' ||
                           toks[i + 4])) AS sh
        FROM (SELECT doc_id,
                     string_split(lower(trim(coalesce(text, ''))), ' ') AS toks
              FROM documents)
      )
    ),
    dfc AS (SELECT sh, COUNT(*) AS n FROM tok GROUP BY sh),
    total AS (SELECT COUNT(*) AS n_docs FROM documents),
    tok_f AS (
      SELECT t.doc_id, t.sh FROM tok t, dfc, total
      WHERE dfc.sh = t.sh
        AND dfc.n <= LEAST({MAX_DF_FRACTION} * total.n_docs, {MAX_DF_ABSOLUTE})
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok_f GROUP BY doc_id),
    ipairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM tok_f a JOIN tok_f b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    directed AS (
      SELECT id_a AS contained_id, id_b AS container_id,
             CAST(inter AS DOUBLE) / sa.sz AS containment
      FROM ipairs, sizes sa
      WHERE sa.doc_id = id_a AND sa.sz >= {MIN_SHINGLES}
      UNION ALL
      SELECT id_b, id_a, CAST(inter AS DOUBLE) / sb.sz
      FROM ipairs, sizes sb
      WHERE sb.doc_id = id_b AND sb.sz >= {MIN_SHINGLES}
    )
    SELECT contained_id, container_id, containment
    FROM directed
    WHERE containment >= {CONTAINMENT_THRESHOLD}
    ORDER BY contained_id, container_id
    """,
)
def d16_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # split ONCE into a projected column: referencing the split EXPRESSION
    # from inside the transform lambda would re-run the regex split for
    # every element_at — 5 x (len-4) re-splits per row, measured 17 s of
    # the original 23 s wall at sf0.1; as a column it's one split per row
    split_docs = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), " ").alias(
            "toks"
        ),
    )
    toks = F.col("toks")
    # word 5-grams; docs shorter than the gram get an EMPTY array
    # (F.sequence(1, k) with k < 1 would count DOWN in Spark where DuckDB's
    # range is empty). explode_outer keeps every document represented with
    # >= 1 row, so the corpus count below folds from the checkpointed
    # index — one scan, the d3 discipline.
    grams = F.when(
        F.size(toks) >= CONTAIN_NGRAM,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (CONTAIN_NGRAM - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(CONTAIN_NGRAM)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tok = materialize(
        split_docs.select("doc_id", F.explode_outer(grams).alias("sh")).distinct()
    )
    n_docs = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    keep = (
        tok.filter(F.col("sh").isNotNull())
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(n_docs))
        .filter(
            F.col("n")
            <= F.least(
                MAX_DF_FRACTION * F.col("n_docs"), F.lit(float(MAX_DF_ABSOLUTE))
            )
        )
        .select("sh")
    )
    # the keep-list is an EXPLODED derivation (one distinct 5-gram per token
    # position, mostly unique) — documents base bytes are not a conservative
    # bound for it; scale the size evidence like d13's gram side (review
    # finding r7, second occurrence)
    tok_f = materialize(
        tok.join(scaled_broadcast(keep, sf_dir, "documents", expansion=16), "sh")
    )
    sizes = tok_f.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = tok_f.select(F.col("doc_id").alias("id_a"), "sh")
    b = tok_f.select(F.col("doc_id").alias("id_b"), "sh")
    ipairs = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    both = ipairs.join(scaled_broadcast(sa, sf_dir, "documents"), "id_a").join(
        scaled_broadcast(sb, sf_dir, "documents"), "id_b"
    )
    # each undirected intersection row fans into its <= 2 directed
    # candidates with ONE explode — a unionByName of two selects over
    # `both` would re-derive the shingle self-join for each branch
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    (F.col("inter").cast("double") / F.col("sz_a")).alias(
                        "containment"
                    ),
                    F.col("sz_a").alias("sz"),
                ),
                F.struct(
                    F.col("id_b").alias("contained_id"),
                    F.col("id_a").alias("container_id"),
                    (F.col("inter").cast("double") / F.col("sz_b")).alias(
                        "containment"
                    ),
                    F.col("sz_b").alias("sz"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    return (
        directed.filter(
            (F.col("sz") >= MIN_SHINGLES)
            & (F.col("containment") >= CONTAINMENT_THRESHOLD)
        )
        .select("contained_id", "container_id", "containment")
        .orderBy("contained_id", "container_id")
    )
