"""Data-curation operators a training-data pipeline runs constantly:
deterministic sampling, histograms, n-gram profiles, edit-distance QA.

All oracle-checkable: sampling uses md5-hash buckets (identical in both
engines — never rand(), which is irreproducible and engine-specific),
histograms use integer bucket arithmetic, and levenshtein has one standard
definition in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.checkpoints import materialize, scratch_dir
from tts_etl_pipeline_spark.functions.exact import money
from tts_etl_pipeline_spark.sources.tables import (
    rebalance_scan,
    scaled_broadcast,
    small_task_count,
    table,
)


# ---------------------------------------------------------------------------
# c1 — deterministic hash sampling: ~10% of documents selected by an md5
# bucket of the key. Reproducible across engines, runs, and cluster sizes —
# the only sane way to sample in a pipeline whose outputs get audited.
# ---------------------------------------------------------------------------
@registry.query(
    "c1_hash_sample",
    """
    SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_doc
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 10 = 0
    GROUP BY lang
    ORDER BY lang
    """,
)
def c1_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    ) % 10
    return (
        docs.filter(bucket == 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("first_doc"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# c2 — fixed-width histogram of order totals: integer bucket arithmetic
# (floor division), the groupwork behind every data-quality dashboard.
# ---------------------------------------------------------------------------
BIN_WIDTH = 50_000


@registry.query(
    "c2_price_histogram",
    f"""
    SELECT CAST(floor(o_totalprice / {BIN_WIDTH}) AS BIGINT) AS bin,
           COUNT(*) AS n,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS bin_min,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS bin_max
    FROM orders
    GROUP BY bin
    ORDER BY bin
    """,
)
def c2_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / BIN_WIDTH).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias(
                "bin_min"
            ),
            F.max(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias(
                "bin_max"
            ),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# c3 — token-bigram profile: consecutive-pair extraction over the token
# array (the n-gram primitive behind language ID and shingle dedup),
# top-15 bigrams by frequency.
# ---------------------------------------------------------------------------
@registry.query(
    "c3_bigram_profile",
    """
    SELECT bigram, COUNT(*) AS freq
    FROM (
      SELECT unnest([toks[i] || ' ' || toks[i+1]
                     FOR i IN range(1, len(toks))]) AS bigram
      FROM (SELECT string_split(lower(trim(text)), ' ') AS toks FROM documents) t
      WHERE len(toks) >= 2
    ) b
    GROUP BY bigram
    ORDER BY freq DESC, bigram
    LIMIT 15
    """,
)
def c3_bigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat(toks[i-1], ' ', toks[i]))"
    )
    return (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "bigram")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# c4 — edit-distance QA: levenshtein of each part name against its brand's
# alphabetically-first name — the near-duplicate-label check a catalog
# cleanup runs. levenshtein is built-in (JVM-side) in both engines.
# ---------------------------------------------------------------------------
@registry.query(
    "c4_levenshtein_catalog",
    """
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(levenshtein(p_name, first_name)) AS BIGINT) AS total_dist,
           MAX(levenshtein(p_name, first_name)) AS max_dist
    FROM (
      SELECT p_brand, p_name,
             MIN(p_name) OVER (PARTITION BY p_brand) AS first_name
      FROM part
    ) x
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def c4_levenshtein_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    part = table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand")
    dist = F.levenshtein(F.col("p_name"), F.col("first_name"))
    return (
        part.withColumn("first_name", F.min("p_name").over(w))
        .select("p_brand", dist.alias("d"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("d").cast("bigint").alias("total_dist"),
            F.max("d").cast("bigint").alias("max_dist"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# c5 — stratified deterministic sampling: a different keep-rate per language
# stratum (downsample the majority language, keep all of the rare ones),
# driven by the same md5-bucket discipline as c1 so the sample is
# reproducible across engines and cluster sizes. The rate table is a literal
# map — at scale a broadcast dimension; no shuffle is added beyond the
# final audit aggregation.
# ---------------------------------------------------------------------------
STRATA_PCT = {"en": 10, "de": 50, "fr": 50}  # % kept per lang; others 100


@registry.query(
    "c5_stratified_hash_sample",
    """
    SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM (
      SELECT lang, doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100
               AS bucket,
             CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
                  ELSE 100 END AS pct
      FROM documents
    ) x
    WHERE bucket < pct
    GROUP BY lang
    ORDER BY lang
    """,
)
def c5_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        )
        % 100
    )
    pct = F.lit(100)
    for lang, p in STRATA_PCT.items():
        pct = F.when(F.col("lang") == lang, p).otherwise(pct)
    return (
        docs.filter(bucket < pct)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# dq1 — referential-integrity audit: orphan foreign keys counted per edge of
# the star schema with anti joins. Each check is key-projected before the
# join, so at 100 TB the anti join compares key columns only (and AQE
# broadcasts the dimension side); the fact table is never widened.
# ---------------------------------------------------------------------------
@registry.query(
    "dq1_referential_integrity",
    """
    SELECT 'lineitem.l_orderkey->orders' AS edge,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    ORDER BY edge
    """,
)
def dq1_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation").select("n_nationkey")

    def orphans(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, edge: str) -> DataFrame:
        return (
            child.join(parent.select(pkey), child[ckey] == F.col(pkey), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(edge).alias("edge"), "n_orphans")
        )

    return (
        orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders")
        .unionAll(
            orphans(
                orders.select("o_custkey"), "o_custkey", cust, "c_custkey",
                "orders.o_custkey->customer",
            )
        )
        .unionAll(
            orphans(
                cust.select("c_nationkey"), "c_nationkey", nation, "n_nationkey",
                "customer.c_nationkey->nation",
            )
        )
        .orderBy("edge")
    )


# ---------------------------------------------------------------------------
# dq2 — column profile: per-column null fraction, distinct count, min/max —
# the schema-drift canary every ingest pipeline runs. One scan, one partial+
# final aggregation; every statistic is computed in the same pass.
# ---------------------------------------------------------------------------
@registry.query(
    "dq2_column_profile",
    """
    SELECT 'o_custkey' AS col,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_v,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE),
           CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
    FROM orders
    ORDER BY col
    """,
)
def dq2_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    prof = orders.agg(
        (n - F.count("o_custkey")).alias("ck_null"),
        F.countDistinct("o_custkey").alias("ck_distinct"),
        F.min("o_custkey").cast("double").alias("ck_min"),
        F.max("o_custkey").cast("double").alias("ck_max"),
        (n - F.count("o_totalprice")).alias("tp_null"),
        F.countDistinct("o_totalprice").alias("tp_distinct"),
        F.min(money("o_totalprice")).cast("double").alias("tp_min"),
        F.max(money("o_totalprice")).cast("double").alias("tp_max"),
    )
    return (
        prof.select(
            F.lit("o_custkey").alias("col"),
            F.col("ck_null").alias("n_null"),
            F.col("ck_distinct").alias("n_distinct"),
            F.col("ck_min").alias("min_v"),
            F.col("ck_max").alias("max_v"),
        )
        .unionAll(
            prof.select(
                F.lit("o_totalprice").alias("col"),
                F.col("tp_null").alias("n_null"),
                F.col("tp_distinct").alias("n_distinct"),
                F.col("tp_min").alias("min_v"),
                F.col("tp_max").alias("max_v"),
            )
        )
        .orderBy("col")
    )

# ---------------------------------------------------------------------------
# c6 — the corpus-curation FUNNEL, end to end in one query: the pass every
# LLM training-data pipeline runs over raw documents before anything else.
#   raw docs -> quality gate (token count, stopword ratio, lexical
#   diversity — t3's scoring turned into a filter) -> exact dedup
#   (md5-of-normalized-text fingerprint, keep lowest doc_id — d1/d7's
#   machinery) -> per-language funnel report.
# Mirrors the reference's cost discipline (cheap filters before expensive
# stages, process_audio.py:406-415 order / README.md:33) applied to text.
#
# Scale shape: ONE scan of documents projected to a ~50-byte row
# (lang, n_chars, fingerprint, quality flag), materialized once
# (functions/checkpoints.py), then two branches: a 5-key language rollup
# (broadcast-sized) and the fingerprint groupBy — the same single
# hash-partitioned shuffle as exact dedup, partial-aggregated map-side.
# The two per-language aggregates join broadcast. At 100 TB the only real
# shuffle is the fingerprint one, which is the irreducible cost of exact
# dedup itself.
#
# Exactness: counts are COUNT (never DuckDB's HUGEINT-producing SUM over
# ints), kept_chars is CAST(SUM(...) AS BIGINT) on both sides, ratio
# comparisons are double-vs-double with identical operand derivations, and
# the dedup representative is min(doc_id) — unique, so no tie ambiguity.
# ---------------------------------------------------------------------------
_C6_SW = "', '".join(["the", "a", "of", "and", "to", "in", "is", "it"])


@registry.query(
    "c6_corpus_curation_funnel",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             md5(lower(trim(coalesce(text, '')))) AS fp,
             len(toks) AS n_tokens,
             CAST(len(list_filter(toks, t -> list_contains(['{_C6_SW}'], t))) AS DOUBLE)
               / len(toks) AS swr,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS lexdiv
      FROM (SELECT *, string_split(lower(trim(coalesce(text, ''))), ' ') AS toks
            FROM documents) base
    ),
    gated AS (
      SELECT *,
             (n_tokens BETWEEN 25 AND 90 AND swr <= 0.18 AND lexdiv >= 0.45) AS ok
      FROM scored
    ),
    totals AS (
      SELECT lang,
             COUNT(*) AS n_docs,
             COUNT(*) FILTER (WHERE ok) AS n_quality
      FROM gated GROUP BY lang
    ),
    reps AS (
      SELECT fp, arg_min(lang, doc_id) AS lang, arg_min(n_chars, doc_id) AS n_chars
      FROM gated WHERE ok GROUP BY fp
    ),
    kept AS (
      SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
      FROM reps GROUP BY lang
    )
    SELECT t.lang, t.n_docs, t.n_quality,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.kept_chars, 0) AS kept_chars
    FROM totals t LEFT JOIN kept k USING (lang)
    ORDER BY t.lang
    """,
)
def c6_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.operators.textstats import STOPWORDS

    docs = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.coalesce("text", F.lit(""))))
    toks = F.split(norm, " ")
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("bigint")
    swr = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double") / n_tokens
    lexdiv = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    ok = n_tokens.between(25, 90) & (swr <= 0.18) & (lexdiv >= 0.45)

    # one scan of documents, narrow projection, materialized once; both
    # funnel branches below read this — never the parquet again
    per_doc = materialize(
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            F.md5(norm).alias("fp"),
            ok.alias("ok"),
        )
    )
    totals = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("ok"), F.lit(1))).alias("n_quality"),
    )
    kept = (
        per_doc.filter("ok")
        .groupBy("fp")
        .agg(F.min_by(F.struct("lang", "n_chars"), "doc_id").alias("rep"))
        .groupBy(F.col("rep.lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("rep.n_chars").alias("kept_chars"),
        )
    )
    return (
        totals.join(F.broadcast(kept), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_quality",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# c7 — deterministic train/val/test split: the operation every training run
# starts with. md5-bucket of the key -> 80/10/10, so the split is stable
# across engines, runs, re-partitions and cluster sizes (never rand(): a
# resampled split silently leaks val into train on every re-run). Output is
# the per-(split, lang) audit a data card reports. At 100 TB the bucket
# expression is a pure per-row map — no shuffle until the tiny audit agg.
# ---------------------------------------------------------------------------
@registry.query(
    "c7_train_val_test_split",
    """
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM (
      SELECT CASE
               WHEN bucket < 80 THEN 'train'
               WHEN bucket < 90 THEN 'val'
               ELSE 'test'
             END AS split, lang, n_chars, doc_id
      FROM (
        SELECT lang, n_chars, doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                 % 100 AS bucket
        FROM documents
      )
    )
    GROUP BY split, lang
    ORDER BY split, lang
    """,
)
def c7_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        )
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# c8 — per-source quota sampling ("domain capping"): keep at most N docs per
# source, preferring the longest — the standard corpus-balancing pass that
# stops one crawl domain from dominating a training mix. Deterministic
# ordering (n_chars DESC, doc_id) so the kept set is reproducible.
# Two-phase top-N (functions/topn.py): a per-batch partial top-quota prunes
# BEFORE the source shuffle, so a hot source sends at most
# quota x (batches that saw it) rows to its reducer instead of all of them —
# the window exchange stays one shuffle but its payload is bounded.
# ---------------------------------------------------------------------------
SOURCE_QUOTA = 40


@registry.query(
    "c8_source_quota_cap",
    f"""
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           MIN(doc_id) AS first_doc
    FROM (
      SELECT source, n_chars, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    WHERE rn <= {SOURCE_QUOTA}
    GROUP BY source
    ORDER BY source
    """,
)
def c8_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from tts_etl_pipeline_spark.functions.topn import partial_topn_per_key

    docs = table(spark, sf_dir, "documents").select("source", "n_chars", "doc_id")
    pruned = partial_topn_per_key(
        docs, ["source"], [("n_chars", False), ("doc_id", True)], SOURCE_QUOTA
    )
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        pruned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SOURCE_QUOTA)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# dq3 — temporal-consistency audit: lineitems shipped BEFORE their order was
# placed, per order status — the cross-table invariant check (event-time
# sanity) every DQ suite runs alongside dq1's referential integrity. The
# join is key+two-date projected before shuffling, so at 100 TB the
# exchange carries three small columns per side, never the wide fact rows.
# ---------------------------------------------------------------------------
@registry.query(
    "dq3_temporal_consistency",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations,
           CAST(MIN(CASE WHEN l_shipdate < o_orderdate
                    THEN date_diff('day', CAST(l_shipdate AS DATE),
                                   CAST(o_orderdate AS DATE)) END)
                AS BIGINT) AS min_violation_days,
           CAST(MAX(CASE WHEN l_shipdate < o_orderdate
                    THEN date_diff('day', CAST(l_shipdate AS DATE),
                                   CAST(o_orderdate AS DATE)) END)
                AS BIGINT) AS max_violation_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def dq3_temporal_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    viol = F.col("l_shipdate") < F.col("o_orderdate")
    gap = F.datediff(F.col("o_orderdate"), F.col("l_shipdate"))
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(F.when(viol, 1).otherwise(0)).cast("bigint").alias("n_violations"),
            F.min(F.when(viol, gap)).cast("bigint").alias("min_violation_days"),
            F.max(F.when(viol, gap)).cast("bigint").alias("max_violation_days"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# dq4 — cross-modal coverage audit: before training on (text, embedding)
# pairs, count docs with no embedding and embeddings with no doc, per lang —
# dq1's orphan pattern applied to the multimodal join. Key-projected anti
# joins; embeddings' id side is broadcast-size here and AQE picks the
# broadcast at scale when one side stays small.
# ---------------------------------------------------------------------------
@registry.query(
    "dq4_embedding_coverage",
    """
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_without_embedding,
           (SELECT COUNT(*) FROM embeddings e2
            WHERE NOT EXISTS (SELECT 1 FROM documents d2 WHERE d2.doc_id = e2.vec_id))
             AS embeddings_without_doc
    FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def dq4_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    orphan_emb = emb.join(
        docs.select("doc_id"), emb.vec_id == F.col("doc_id"), "left_anti"
    ).count()  # scalar: one number reused on every output row
    return (
        docs.join(scaled_broadcast(emb, sf_dir, "embeddings"), docs.doc_id == emb.vec_id, "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("vec_id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("docs_without_embedding"),
        )
        .withColumn("embeddings_without_doc", F.lit(orphan_emb).cast("bigint"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# c9 — temperature-scaled mixture downsampling (the GPT-3/Pile source-
# weighting pass): flatten the source mixture toward mass^ALPHA by keeping
# each source at rate (mass_min/mass)^(1-ALPHA), where mass is the source's
# total char count (the token-mass proxy a real mixture is weighted by) —
# the lightest source keeps everything, dominant sources are downsampled,
# and no source is upsampled. Deterministic md5-bucket sampling (c1's
# idiom) so the kept set is reproducible and engine-checkable; the rate is
# held as integer basis points via sqrt (IEEE-correctly-rounded in both
# engines — pow() is not, which would risk one-ulp floor() disagreements
# at bucket boundaries).
# Scale shape: per-source masses are a tiny broadcast relation; the data
# pass is one scan + broadcast join + hash filter, no shuffle of payloads;
# the audit agg shuffles |sources| groups.
# ---------------------------------------------------------------------------
MIX_ALPHA = 0.5  # temperature: 1.0 = natural mixture, 0.0 = uniform


@registry.query(
    "c9_mixture_downsample",
    """
    WITH masses AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS mass
      FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source, n_docs, mass,
             CAST(floor(sqrt(CAST((SELECT MIN(mass) FROM masses) AS DOUBLE)
                             / mass) * 10000) AS BIGINT) AS rate_bp
      FROM masses
    ),
    kept AS (
      SELECT d.source, d.n_chars
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
              % 10000 < r.rate_bp
    )
    SELECT r.source, r.n_docs, r.mass, r.rate_bp,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.kept_chars, 0) AS kept_chars
    FROM rates r
    LEFT JOIN (
      SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
      FROM kept GROUP BY source
    ) k ON r.source = k.source
    ORDER BY r.source
    """,
)
def c9_mixture_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    masses = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("mass"),
    )
    mass_min = masses.agg(F.min("mass").alias("mass_min"))
    # |sources| rows — materialized so the kept branch and the final report
    # join read the tiny rate table instead of re-deriving it (and its
    # documents scan) twice; the data pass below stays a single scan
    rates = materialize(
        masses.crossJoin(F.broadcast(mass_min)).select(
            "source",
            "n_docs",
            "mass",
            F.floor(
                F.sqrt(F.col("mass_min").cast("double") / F.col("mass")) * 10000
            )
            .cast("bigint")
            .alias("rate_bp"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10000
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "rate_bp")), "source")
        .filter(bucket < F.col("rate_bp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )
    return (
        rates.join(F.broadcast(kept), "source", "left")
        .select(
            "source",
            "n_docs",
            "mass",
            "rate_bp",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).cast("bigint").alias("kept_chars"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# c10 — temperature-scaled mixture UPSAMPLING, the complement of c9's
# downsampling: instead of discarding mass from dominant sources, repeat
# light sources so the delivered mixture flattens toward mass^ALPHA — the
# "epochs per source" knob of LLM pre-training recipes (the Pile trains
# rare high-quality sources for >1 epoch). Each source gets a real-valued
# repeat factor r = min(sqrt(mass_max / mass), 4): full copies for
# floor(r), plus one extra copy for the deterministic md5-bucket fraction
# of docs matching frac(r) (held as integer basis points — the c9 idiom,
# sqrt/floor are correctly-rounded IEEE so both engines agree at bucket
# boundaries). No source is downsampled (r >= 1), the heaviest source
# stays at exactly 1 epoch, and the cap bounds worst-case amplification.
# Spark builds the REAL replicated relation (explode over a sequence —
# the actual operator output a trainer would consume) and aggregates it
# back to a per-source audit; the oracle computes the same audit in closed
# form, which is exact because every aggregate is integer.
# Scale shape: the rate table is |sources| rows (broadcast); the data pass
# is one documents scan + broadcast join + explode — row amplification
# <= 4x by the cap, no payload shuffle; the audit agg shuffles |sources|
# groups.
# ---------------------------------------------------------------------------
UPSAMPLE_ALPHA = 0.5  # temperature; 0.5 = sqrt-flatten (matches c9)
UPSAMPLE_MAX_EPOCHS = 4.0  # cap on the repeat factor


@registry.query(
    "c10_mixture_upsample",
    f"""
    WITH masses AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS mass
      FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source, n_docs, mass,
             least(sqrt(CAST((SELECT MAX(mass) FROM masses) AS DOUBLE) / mass),
                   {UPSAMPLE_MAX_EPOCHS}) AS r
      FROM masses
    ),
    plan AS (
      SELECT source, n_docs, mass,
             CAST(floor(r) AS BIGINT) AS epochs,
             CAST(floor((r - floor(r)) * 10000) AS BIGINT) AS frac_bp
      FROM rates
    ),
    extra AS (
      SELECT d.source, COUNT(*) AS extra_docs,
             CAST(SUM(d.n_chars) AS BIGINT) AS extra_chars
      FROM documents d JOIN plan p ON d.source = p.source
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
              % 10000 < p.frac_bp
      GROUP BY d.source
    )
    SELECT p.source, p.n_docs, p.mass, p.epochs, p.frac_bp,
           CAST(p.epochs * p.n_docs + COALESCE(e.extra_docs, 0) AS BIGINT)
             AS rows_out,
           CAST(p.epochs * p.mass + COALESCE(e.extra_chars, 0) AS BIGINT)
             AS chars_out
    FROM plan p LEFT JOIN extra e ON p.source = e.source
    ORDER BY p.source
    """,
)
def c10_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    masses = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("mass"),
    )
    mass_max = masses.agg(F.max("mass").alias("mass_max"))
    r = F.least(
        F.sqrt(F.col("mass_max").cast("double") / F.col("mass")),
        F.lit(UPSAMPLE_MAX_EPOCHS),
    )
    plan = materialize(
        masses.crossJoin(F.broadcast(mass_max)).select(
            "source",
            "n_docs",
            "mass",
            F.floor(r).cast("bigint").alias("epochs"),
            F.floor((r - F.floor(r)) * 10000).cast("bigint").alias("frac_bp"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10000
    )
    copies = F.col("epochs") + F.when(bucket < F.col("frac_bp"), 1).otherwise(0)
    # the REAL replicated relation: one row per (doc, epoch) a trainer reads
    replicated = (
        docs.join(F.broadcast(plan.select("source", "epochs", "frac_bp")), "source")
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), copies)))
    )
    audit = replicated.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_out"),
        F.sum("n_chars").cast("bigint").alias("chars_out"),
    )
    return (
        plan.join(F.broadcast(audit), "source", "left")
        .select(
            "source", "n_docs", "mass", "epochs", "frac_bp",
            F.coalesce("rows_out", F.lit(0)).cast("bigint").alias("rows_out"),
            F.coalesce("chars_out", F.lit(0)).cast("bigint").alias("chars_out"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# dq5 — distribution-drift audit between two time slices (the "did this
# week's data change shape?" check every continuously-ingesting pipeline
# runs): order-priority composition of early-period vs late-period orders,
# with the drift statistic kept EXACT by integer cross-multiplication —
# the per-category total-variation numerator |cnt_a*n_b - cnt_b*n_a| never
# touches floats, and the reported shares/diff are single divisions of
# exactly-represented integers (no float sums, no logs — a KL/PSI variant
# would put ln() inside a float aggregation, which no cross-engine hash
# can pin).
# Scale shape: ONE orders scan with the [lo, hi) date predicate pushed to
# parquet, conditional aggregation to |categories| rows, totals derived
# from the same tiny materialized relation (broadcast cross join) — no
# second scan, no payload shuffle beyond the one category agg.
# ---------------------------------------------------------------------------
DRIFT_SPLIT = "1998-04-01"  # midpoint of the fixture's 1995..2001 range


@registry.query(
    "dq5_distribution_drift",
    f"""
    WITH cat AS (
      SELECT o_orderpriority AS priority,
             CAST(SUM(CASE WHEN o_orderdate <  TIMESTAMP '{DRIFT_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{DRIFT_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
      FROM orders GROUP BY o_orderpriority
    ),
    tot AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
             CAST(SUM(cnt_b) AS BIGINT) AS n_b
      FROM cat
    )
    SELECT priority, cnt_a, cnt_b,
           CAST(cnt_a AS DOUBLE) / n_a AS share_a,
           CAST(cnt_b AS DOUBLE) / n_b AS share_b,
           CAST(abs(cnt_a * n_b - cnt_b * n_a) AS BIGINT) AS drift_num,
           CAST(abs(cnt_a * n_b - cnt_b * n_a) AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS share_drift
    FROM cat, tot
    ORDER BY priority
    """,
)
def dq5_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    orders = table(spark, sf_dir, "orders").select("o_orderpriority", "o_orderdate")
    cat = materialize(
        orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.sum(F.when(F.col("o_orderdate") < split, 1).otherwise(0))
            .cast("bigint")
            .alias("cnt_a"),
            F.sum(F.when(F.col("o_orderdate") >= split, 1).otherwise(0))
            .cast("bigint")
            .alias("cnt_b"),
        )
    )
    tot = cat.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt_b").cast("bigint").alias("n_b"),
    )
    drift_i = F.abs(F.col("cnt_a") * F.col("n_b") - F.col("cnt_b") * F.col("n_a"))
    return (
        cat.crossJoin(F.broadcast(tot))
        .select(
            "priority",
            "cnt_a",
            "cnt_b",
            (F.col("cnt_a").cast("double") / F.col("n_a")).alias("share_a"),
            (F.col("cnt_b").cast("double") / F.col("n_b")).alias("share_b"),
            drift_i.cast("bigint").alias("drift_num"),
            (
                drift_i.cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("share_drift"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# dq6 — robust outlier audit (median/MAD, the outlier rule that doesn't
# break when the data already contains outliers — unlike mean/stddev
# rules, the breakdown point is 50%): per order priority, the median
# order value, the median absolute deviation, and how many orders sit
# beyond 3 MADs. Exactness discipline: prices move to integer CENTS
# (one deterministic double->nearest-int round), medians ride the exact
# interpolated percentile both engines share on integer inputs (the e7
# idiom), and deviations double to stay integral when the median falls
# on a .5 — floats only appear as final single divisions.
# Scale shape: ONE orders scan (cents projection materialized once); the
# per-priority median/MAD relations are |priorities| rows and rejoin via
# broadcast; three hash aggregations on the same small key, no sorts of
# the fact table (percentile is a hash aggregate, not a sort).
# ---------------------------------------------------------------------------
@registry.query(
    "dq6_robust_outlier_audit",
    """
    WITH cents AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM orders
    ),
    med AS (
      SELECT priority,
             CAST(round(2 * quantile_cont(c, 0.5), 0) AS BIGINT) AS med2
      FROM cents GROUP BY priority
    ),
    dev AS (
      SELECT cents.priority, c, med2, abs(2 * c - med2) AS dev2
      FROM cents JOIN med USING (priority)
    ),
    mad AS (
      SELECT priority, quantile_cont(dev2, 0.5) AS mad2
      FROM dev GROUP BY priority
    )
    SELECT dev.priority,
           COUNT(*) AS n_orders,
           CAST(MAX(med2) AS DOUBLE) / 200 AS median_price,
           CAST(MAX(mad2) AS DOUBLE) / 200 AS mad_price,
           CAST(SUM(CASE WHEN dev2 > 3 * mad2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(SUM(CASE WHEN dev2 > 3 * mad2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS outlier_frac
    FROM dev JOIN mad USING (priority)
    GROUP BY dev.priority
    ORDER BY dev.priority
    """,
)
def dq6_robust_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = materialize(
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c"),
        )
    )
    med = cents.groupBy("priority").agg(
        F.round(2 * F.percentile("c", F.lit(0.5)), 0).cast("bigint").alias("med2")
    )
    dev = cents.join(F.broadcast(med), "priority").withColumn(
        "dev2", F.abs(2 * F.col("c") - F.col("med2"))
    )
    mad = dev.groupBy("priority").agg(
        F.percentile("dev2", F.lit(0.5)).alias("mad2")
    )
    out_flag = F.when(F.col("dev2") > 3 * F.col("mad2"), 1).otherwise(0)
    return (
        dev.join(F.broadcast(mad), "priority")
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.max("med2").cast("double") / 200).alias("median_price"),
            (F.max("mad2").cast("double") / 200).alias("mad_price"),
            F.sum(out_flag).cast("bigint").alias("n_outliers"),
            (F.sum(out_flag).cast("double") / F.count(F.lit(1))).alias("outlier_frac"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# c11 — dataset manifest (the "dataset card" / daily-health catalog row a
# data platform publishes for every table): for each of the ten fixture
# tables, the row count and an order-independent CONTENT FINGERPRINT —
# the bitwise XOR over rows of an md5-derived 60-bit integer of the
# primary key — so two manifests disagree if a table gained/lost/changed
# keys (XOR is the right fold here: associative+commutative like SUM but
# can never overflow — a SUM of 60-bit values blows through int64 within
# thousands of rows). Both engines derive the per-row value identically
# from md5, so the whole manifest is oracle-exact. A manifest is O(every table) by definition — it IS the
# checksum pass — but each table is scanned exactly once, key column
# only.
# ---------------------------------------------------------------------------
_MANIFEST_KEYS = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey * 10 + l_linenumber"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
]


@registry.query(
    "c11_dataset_manifest",
    "\nUNION ALL\n".join(
        f"""SELECT '{t}' AS table_name, COUNT(*) AS n_rows,
             CAST(bit_xor(CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15))
                           AS BIGINT)) AS BIGINT) AS key_fingerprint
            FROM {t}"""
        for t, k in _MANIFEST_KEYS
    )
    + "\nORDER BY table_name",
)
def c11_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for t, k in _MANIFEST_KEYS:
        tbl = table(spark, sf_dir, t)
        h = F.conv(
            F.substring(F.md5(F.expr(k).cast("string")), 1, 15), 16, 10
        ).cast("long")
        parts.append(
            tbl.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.bit_xor(h).cast("bigint").alias("key_fingerprint"),
            ).select(F.lit(t).alias("table_name"), "n_rows", "key_fingerprint")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# c12 — curriculum ordering with source interleaving: rank documents
# easy-to-hard (ascending n_chars) WITHIN each source, then emit the global
# training order by (difficulty rank, source) so consecutive batches cycle
# through sources round-robin instead of draining one source at a time —
# the standard curriculum + mixture-stability schedule for LLM pretraining.
# The query returns the first 50 curriculum positions (the schedule head a
# trainer would inspect).
# Scale shape: the per-source rank is ONE hash Exchange on source (executor-
# local sort within each); the global position is a window over an
# ALREADY-LIMITED relation — we cap to the first ceil(50/|sources|)+1 ranks
# per source BEFORE the unpartitioned ordering window, so the single-task
# stage sees <= (cap x sources) rows (control-plane sized), never the
# corpus. The same two-phase trick as c8's hot-key top-N.
# ---------------------------------------------------------------------------
@registry.query(
    "c12_curriculum_interleave",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS difficulty_rank
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, source, n_chars, difficulty_rank,
             ROW_NUMBER() OVER (ORDER BY difficulty_rank, source NULLS LAST)
               AS position
      FROM ranked
      -- cap derived from the REAL source count: ceil(50/|sources|) + 1
      -- covers 50 positions whenever every source holds >= cap docs (true
      -- for the driver fixtures); under heavy skew the head may hold fewer
      -- rows and the schedule is honestly min(50, head) positions
      WHERE difficulty_rank <=
        CAST(ceil(50.0 / (SELECT COUNT(DISTINCT source) FROM documents))
             AS BIGINT) + 1
    )
    SELECT position, doc_id, source, n_chars, difficulty_rank
    FROM ordered
    WHERE position <= 50
    ORDER BY position
    """,
)
def c12_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    # control-plane scalar: the cap must track the real source fanout, or
    # a low-fanout fixture silently yields fewer than 50 positions
    # countDistinct EXCLUDES NULLs — matching the oracle's COUNT(DISTINCT)
    # exactly (a NULL-including count would derive a different cap on
    # fixtures with NULL sources). max(1, …): an empty table must yield an
    # empty schedule, not a division-by-zero (tests/test_empty_tables.py).
    n_sources = max(
        1, docs.agg(F.countDistinct("source").alias("n")).collect()[0]["n"]
    )
    cap = -(-50 // n_sources) + 1  # ceil(50/n) + 1
    w_src = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.withColumn("difficulty_rank", F.row_number().over(w_src))
    # two-phase: cap per source before the global (unpartitioned) position
    # window — cap × |sources| (< ~2×50 + |sources|) rows enter that sort.
    head = ranked.filter(F.col("difficulty_rank") <= cap)
    # bounded: the capped head holds <= cap * |sources| ~ 2*50 + |sources|
    # rows, never the corpus. NULLS LAST pins NULL-source placement: Spark
    # defaults ASC NULLS FIRST while DuckDB defaults NULLS LAST, so a
    # fixture with NULL sources reaching the head would otherwise diverge
    # from the oracle (which says ORDER BY ... NULLS LAST explicitly).
    w_pos = W.orderBy(F.col("difficulty_rank"), F.col("source").asc_nulls_last())
    return (
        head.withColumn("position", F.row_number().over(w_pos).cast("bigint"))
        .filter(F.col("position") <= 50)
        .select("position", "doc_id", "source", "n_chars", "difficulty_rank")
        .withColumn("difficulty_rank", F.col("difficulty_rank").cast("bigint"))
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# c13 — the PRETRAINING RECIPE end to end, in one lineage: quality gate →
# exact dedup (keep the lowest doc_id per normalized-text fingerprint) →
# temperature mixture downsample (the c9 sqrt-rate, recomputed over the
# DEDUPED corpus — rates must reflect what survived, not raw masses) →
# train/val/test split → per-(split, source) document/token budgets. This
# is the composed artifact a training run actually consumes; c6/c9/c7
# verify the stages in isolation, c13 verifies the composition (stage
# coupling is where real pipelines break — e.g. rates computed pre-dedup
# would over-keep duplicate-heavy sources).
# Determinism: both keep-rate and split ride md5(doc_id) buckets, but from
# DISJOINT hex windows (chars 1-4 vs 5-8) — sharing one window would
# correlate the keep filter with the split assignment and skew train/val
# ratios of the kept set.
# Scale shape: ONE documents scan; dedup is the single fact-scale shuffle
# (fingerprint hash-agg with min_by picks); masses/rates are |sources|
# broadcast relations; split+report aggregates 3×|sources| groups. The
# oracle replays the same lineage in SQL (every stage integer/md5-exact).
# ---------------------------------------------------------------------------
RECIPE_MIN_TOKENS = 10


@registry.query(
    "c13_pretraining_recipe",
    f"""
    WITH gated AS (
      SELECT doc_id, source, n_chars,
             md5(lower(trim(coalesce(text, '')))) AS fp,
             len(string_split(lower(trim(coalesce(text, ''))), ' ')) AS n_tokens
      FROM documents
      WHERE len(string_split(lower(trim(coalesce(text, ''))), ' '))
              >= {RECIPE_MIN_TOKENS}
    ),
    deduped AS (
      SELECT arg_min(doc_id, doc_id) AS doc_id,
             arg_min(source, doc_id) AS source,
             arg_min(n_chars, doc_id) AS n_chars,
             arg_min(n_tokens, doc_id) AS n_tokens
      FROM gated GROUP BY fp
    ),
    masses AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
      FROM deduped GROUP BY source
    ),
    rates AS (
      SELECT source, mass,
             CAST(floor(sqrt(CAST((SELECT MIN(mass) FROM masses) AS DOUBLE)
                             / mass) * 10000) AS BIGINT) AS rate_bp
      FROM masses
    ),
    kept AS (
      SELECT d.doc_id, d.source, d.n_tokens
      FROM deduped d JOIN rates r ON d.source = r.source
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
              % 10000 < r.rate_bp
    ),
    split_assigned AS (
      SELECT source, n_tokens,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT source, n_tokens,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4)) AS INTEGER)
                 % 100 AS bucket
        FROM kept
      )
    )
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM split_assigned
    GROUP BY split, source
    ORDER BY split, source
    """,
)
def c13_pretraining_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.coalesce("text", F.lit(""))))
    n_tokens = F.size(F.split(norm, " "))
    gated = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(norm).alias("fp"),
        n_tokens.alias("n_tokens"),
    ).filter(F.col("n_tokens") >= RECIPE_MIN_TOKENS)
    deduped = materialize(
        gated.groupBy("fp").agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("source", "doc_id").alias("source"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        )
    )
    masses = deduped.groupBy("source").agg(F.sum("n_chars").cast("bigint").alias("mass"))
    mass_min = masses.agg(F.min("mass").alias("mass_min"))
    rates = masses.crossJoin(F.broadcast(mass_min)).select(
        "source",
        F.floor(F.sqrt(F.col("mass_min").cast("double") / F.col("mass")) * 10000)
        .cast("bigint")
        .alias("rate_bp"),
    )
    keep_bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10000
    )
    split_bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 5, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(split_bucket < 80, "train").when(split_bucket < 90, "val").otherwise("test")
    )
    return (
        deduped.join(F.broadcast(rates), "source")
        .filter(keep_bucket < F.col("rate_bp"))
        .select(split.alias("split"), "source", "n_tokens")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("split", "source")
    )


# ---------------------------------------------------------------------------
# dq7 — declarative CONSTRAINT SUITE (the Deequ/Great-Expectations shape):
# a battery of data-contract checks over orders compiled into ONE
# conditional aggregation pass — completeness (no NULL keys), domain
# membership (priority/status in their enums), range (positive totals,
# dates inside the fixture window), and referential shape (custkey > 0) —
# plus the one check that genuinely needs a second aggregate, key
# uniqueness (distinct orderkey count). Output: one row per constraint
# with its violation count and verdict, the artifact a data-contract
# gate consumes.
# Scale shape: one orders scan feeds a single partial/final agg (every
# violation counter is a SUM(CASE)); uniqueness rides the same scan via
# countDistinct in the same agg (Spark plans distinct-agg expansion, one
# extra Exchange); the per-constraint report is a constant-width unpivot
# of the 1-row aggregate — no second scan (pinned by the scan sweep).
# ---------------------------------------------------------------------------
@registry.query(
    "dq7_constraint_suite",
    """
    WITH agg AS (
      SELECT
        COUNT(*) AS n_rows,
        SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_key_null,
        SUM(CASE WHEN o_custkey IS NULL OR o_custkey <= 0 THEN 1 ELSE 0 END)
          AS v_custkey,
        SUM(CASE WHEN CAST(o_totalprice AS DOUBLE) <= 0 THEN 1 ELSE 0 END)
          AS v_price,
        SUM(CASE WHEN o_orderpriority NOT IN
              ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
            THEN 1 ELSE 0 END) AS v_priority,
        SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
          AS v_status,
        SUM(CASE WHEN o_orderdate < DATE '1992-01-01'
                   OR o_orderdate > DATE '1998-12-31' THEN 1 ELSE 0 END)
          AS v_date,
        COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_unique
      FROM orders
    )
    SELECT c.constraint_name, CAST(c.n_violations AS BIGINT) AS n_violations,
           CAST(a.n_rows AS BIGINT) AS n_rows,
           c.n_violations = 0 AS passed
    FROM agg a, LATERAL (VALUES
      ('orderkey_not_null', a.v_key_null),
      ('orderkey_unique', a.v_unique),
      ('custkey_positive', a.v_custkey),
      ('totalprice_positive', a.v_price),
      ('priority_in_domain', a.v_priority),
      ('status_in_domain', a.v_status),
      ('orderdate_in_window', a.v_date)
    ) AS c(constraint_name, n_violations)
    ORDER BY c.constraint_name
    """,
)
def dq7_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    viol = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol(F.col("o_orderkey").isNull()).alias("orderkey_not_null"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("orderkey_unique"),
        viol(F.col("o_custkey").isNull() | (F.col("o_custkey") <= 0)).alias(
            "custkey_positive"
        ),
        viol(F.col("o_totalprice").cast("double") <= 0).alias("totalprice_positive"),
        viol(
            ~F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            )
        ).alias("priority_in_domain"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("status_in_domain"),
        viol(
            (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
            | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date"))
        ).alias("orderdate_in_window"),
    )
    names = [
        "orderkey_not_null",
        "orderkey_unique",
        "custkey_positive",
        "totalprice_positive",
        "priority_in_domain",
        "status_in_domain",
        "orderdate_in_window",
    ]
    long = agg.unpivot(
        ["n_rows"], names, "constraint_name", "n_violations"
    )
    return (
        long.select(
            "constraint_name",
            F.col("n_violations").cast("bigint"),
            F.col("n_rows").cast("bigint"),
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("constraint_name")
    )


# ---------------------------------------------------------------------------
# dq8 — financial RECONCILIATION audit (round-7): does the stored order
# total equal the recomputed lineitem total sum(ext*(1-disc)*(1+tax))?
# The classic cross-table consistency check a warehouse runs nightly
# (dq1 checks the KEYS reconcile; dq8 checks the MONEY does). Exactness:
# the per-line product is DECIMAL arithmetic throughout — (12,2)x(4,2)x
# (4,2) widens losslessly to 6 decimal places — and the reported
# difference is surfaced as an INTEGER micro-unit (1e-6 currency) after
# an exact decimal subtraction, so both engines agree bit-for-bit. The
# driver fixture does not enforce the TPC-H total formula, so every
# order "mismatches" — the audit's value is the deterministic magnitude
# profile, not a zero count. Orders without lineitems are dq1's orphan
# audit, not re-counted here (inner join).
# Scale shape: lineitem pre-aggregates to order grain BEFORE the join
# (the q3 discipline), orders joins 1:1 on its key, and the final rollup
# is |priorities| rows with map-side partials.
# ---------------------------------------------------------------------------
@registry.query(
    "dq8_order_total_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      * (1 + CAST(l_tax AS DECIMAL(4,2))) AS DECIMAL(24,6)))
               AS computed
      FROM lineitem GROUP BY l_orderkey
    ),
    diffs AS (
      SELECT o.o_orderpriority,
             CAST(ABS(CAST(o.o_totalprice AS DECIMAL(12,2)) - li.computed)
                  * 1000000 AS BIGINT) AS adiff_u
      FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN adiff_u > 10000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatched,
           MAX(adiff_u) AS max_abs_diff_u,
           CAST(SUM(adiff_u) AS BIGINT) AS total_abs_diff_u
    FROM diffs
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def dq8_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    computed = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))
    ).cast("decimal(24,6)")
    per_order = li.groupBy("l_orderkey").agg(F.sum(computed).alias("computed"))
    adiff_u = (
        F.abs(F.col("o_totalprice").cast("decimal(12,2)") - F.col("computed"))
        * 1000000
    ).cast("bigint")
    return (
        orders.join(per_order, orders.o_orderkey == per_order.l_orderkey)
        .select("o_orderpriority", adiff_u.alias("adiff_u"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum((F.col("adiff_u") > 10000).cast("long")).alias("n_mismatched"),
            F.max("adiff_u").alias("max_abs_diff_u"),
            F.sum("adiff_u").alias("total_abs_diff_u"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# dq9 — data-quality metrics via the OBSERVATION API (pyspark.sql.Observation
# — Spark's CollectMetrics operator): completeness / domain / range metrics
# collected as a BYPRODUCT of a production job's one pass over orders, not
# as a second scan. df.observe() attaches aggregate expressions to the scan;
# the executors fold them into per-task partials alongside the real work and
# the driver receives one merged row when the action completes — at 100 TB
# this is how a pipeline gets its DQ dashboard for free (the dq7 constraint
# suite costs a dedicated pass; observe() rides whatever job was running
# anyway). The observed production job here is the per-priority order
# profile; the query's RESULT is the metrics row, built from the observation
# and hash-checked against a one-row SQL twin — which proves the
# piggybacked metrics are EXACT, not approximations: counts are integers,
# the money sum follows the decimal discipline (functions/exact.py), and
# the date range is emitted as ISO strings.
# ---------------------------------------------------------------------------
@registry.query(
    "dq9_observed_metrics",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonpositive,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_total,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
    FROM orders
    """,
)
def dq9_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    obs = Observation("dq9")
    observed = table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).cast("bigint").alias("n_urgent"),
        F.sum(
            F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
        ).cast("bigint").alias("n_nonpositive"),
        F.sum(money("o_totalprice")).alias("sum_total_dec"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("min_date"),
        F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("max_date"),
    )
    # the production job the metrics ride on (its output is the pipeline's
    # concern; the observation is filled as a side effect of this one pass)
    production = observed.groupBy("o_orderpriority").count().collect()
    # Observation.get raises (toPyRow assertion, Spark 4.1) when the
    # observed job processed ZERO rows. An empty production rollup implies
    # empty input (every row lands in some priority group), so emit the SQL
    # twin's empty-input row directly: COUNT is 0, every other aggregate
    # NULL.
    if not production:
        m = {
            "n_rows": 0, "n_urgent": None, "n_nonpositive": None,
            "sum_total_dec": None, "min_date": None, "max_date": None,
        }
    else:
        m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_urgent"],
                m["n_nonpositive"],
                # decimal -> double, nearest-even (identical in both engines)
                None if m["sum_total_dec"] is None else float(m["sum_total_dec"]),
                m["min_date"],
                m["max_date"],
            )
        ],
        "n_rows bigint, n_urgent bigint, n_nonpositive bigint, "
        "sum_total double, min_date string, max_date string",
    )


# ---------------------------------------------------------------------------
# c14 — PARETO SKYLINE curation shortlist (the classic skyline operator,
# Börzsönyi et al. ICDE'01, absent from Spark's builtin surface): documents
# that are not dominated on (n_unique_tokens MAX, max_word_len MAX, n_chars
# MIN) — "maximally vocabulary-rich for their length", a multi-criteria
# shortlist no single score captures. A doc is dominated iff another doc is
# >= on every axis (<= for the MIN axis) and strictly better on at least
# one; ties on ALL axes survive together (NOT EXISTS semantics, mirrored in
# the oracle).
# Scale shape: the distributive skyline identity skyline(S) =
# skyline(skyline(P1) ∪ ... ∪ skyline(Pk)) — a per-partition Arrow-batched
# local skyline prunes ~everything map-side (no shuffle), then one merge
# task re-filters the surviving candidates (exact, because the identity
# holds for ANY partitioning; the numpy pass is O(|batch|·|part|) with
# blocked broadcasting). The merge task is sized by the candidate count —
# tiny on correlated axes like these; a deliberately anti-correlated axis
# set can inflate it, the known skyline-cardinality caveat (documented, not
# hidden: at 100 TB you'd grid-partition by one axis first).
# ---------------------------------------------------------------------------
_C14_SCHEMA = "doc_id bigint, n_chars bigint, n_unique bigint, max_word bigint"


def _c14_skyline_pdf(pdf):
    """Exact skyline of one pandas frame (maximize n_unique/max_word,
    minimize n_chars). Keeps all-axes ties, like the oracle's NOT EXISTS.

    Sort-filter-skyline, O(n log n): after sorting by (n_unique DESC,
    max_word DESC, n_chars ASC) every dominator precedes its victims —
    strictly, in tuple order — so one pass suffices. The pass keeps a 2-D
    Pareto frontier over (n_chars, max_word) (n_chars ascending implies
    max_word ascending once covered entries are pruned): a tuple group is
    dominated iff some strictly-earlier point has n_chars <= and
    max_word >= (its n_unique is >= by the sort). Exact ties are checked
    as one group against the frontier built from strictly-smaller tuples
    only, so all-axes ties survive together. Replaces the blocked
    O(n^2/512) broadcast kernel (measured 1.8 s on 5000 rows; this pass
    runs in ~20 ms), and speeds the per-partition local pass identically
    at every scale."""
    from bisect import bisect_right

    import numpy as np

    n = len(pdf)
    if n == 0:
        return pdf
    u = pdf["n_unique"].to_numpy(np.int64)
    w = pdf["max_word"].to_numpy(np.int64)
    c = pdf["n_chars"].to_numpy(np.int64)
    order = np.lexsort((c, -w, -u))  # (n_unique desc, max_word desc, n_chars asc)
    keep = np.zeros(n, dtype=bool)
    fc: list = []  # frontier n_chars, ascending
    fw: list = []  # frontier max_word, ascending in lock-step
    i = 0
    while i < n:
        j = i  # group of exactly-equal tuples (no within-group dominance)
        gi = order[i]
        while (
            j + 1 < n
            and u[order[j + 1]] == u[gi]
            and w[order[j + 1]] == w[gi]
            and c[order[j + 1]] == c[gi]
        ):
            j += 1
        idx = bisect_right(fc, int(c[gi]))
        dominated = idx > 0 and fw[idx - 1] >= w[gi]
        if not dominated:
            keep[order[i : j + 1]] = True
            # insert (c, w) and drop frontier entries it covers
            k = idx
            while k < len(fc) and fw[k] <= w[gi]:
                k += 1
            fc[idx:k] = [int(c[gi])]
            fw[idx:k] = [int(w[gi])]
        i = j + 1
    return pdf[keep]


@registry.query(
    "c14_pareto_skyline",
    """
    WITH feat AS (
      SELECT doc_id, n_chars,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
             CAST(list_max(list_transform(toks, t -> len(t))) AS BIGINT)
               AS max_word
      FROM (SELECT doc_id, n_chars,
                   string_split(lower(trim(coalesce(text, ''))), ' ') AS toks
            FROM documents)
    )
    SELECT f.doc_id, f.n_chars, f.n_unique, f.max_word
    FROM feat f
    WHERE NOT EXISTS (
      SELECT 1 FROM feat g
      WHERE g.n_unique >= f.n_unique AND g.max_word >= f.max_word
        AND g.n_chars <= f.n_chars
        AND (g.n_unique > f.n_unique OR g.max_word > f.max_word
             OR g.n_chars < f.n_chars)
    )
    ORDER BY doc_id
    """,
)
def c14_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), " ")
    feat = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique"),
        F.array_max(F.transform(toks, F.length)).cast("bigint").alias("max_word"),
    )

    def local_pass(batches):
        # per-Arrow-batch pruning: a batch's skyline is a SUPERSET-safe
        # filter (anything dominated within a batch is dominated globally)
        for pdf in batches:
            if len(pdf):
                yield _c14_skyline_pdf(pdf)

    def merge_pass(batches):
        import pandas as pd

        parts = list(batches)
        if parts:  # empty corpus -> an empty partition with zero batches
            all_rows = pd.concat(parts, ignore_index=True)
            if len(all_rows):
                yield _c14_skyline_pdf(all_rows)

    # the feature relation is 4 ints/row — repartitioning it is ~free and
    # decouples the O(|batch|·|partition|) local pass from FILE parallelism
    # (one 10x-scale fixture arrives as a single parquet split; without
    # this the local pass runs one task, measured 13.7x at 10x data).
    # Task count is SIZE-DERIVED, not a flat core count: every local-pass
    # task is an Arrow/Python round-trip (~0.4 s warm, measured), and
    # fanning a 5000-row corpus to 32 Python workers cost 10 s of stage run
    # for 0.24 s of CPU (worker spin-up); the count grows with the corpus
    # and caps at the core count.
    n = small_task_count(spark, sf_dir, "documents")
    if n == 1:
        # one tiny partition: the merge pass over it IS the exact skyline —
        # running the per-batch local prune first would only add a second
        # Python stage and exchange for the same rows. coalesce (narrow)
        # instead of repartition: no Exchange at all on this path.
        return feat.coalesce(1).mapInPandas(merge_pass, _C14_SCHEMA)
    # hash on the unique doc id, not round-robin: keyless repartition pays
    # the SPARK-23207 retry-determinism sort (the rebalance_scan lesson)
    candidates = feat.repartition(n, F.xxhash64("doc_id")).mapInPandas(
        local_pass, _C14_SCHEMA
    )
    return (
        candidates.repartition(1)
        .mapInPandas(merge_pass, _C14_SCHEMA)
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# dq10 — VERSION-DRIFT audit across two snapshots of a versioned table (the
# B11 time-travel surface feeding the B12 quality family): commit an early
# vintage of the corpus (doc_id % 3 != 0), append the rest, then TIME-TRAVEL
# both versions back and diff their per-language profiles — doc counts, char
# mass, and corpus-share in integer basis points. This is the "did the last
# ingest shift the language mix" check a training-data pipeline runs after
# every batch load; reading v1 AND v2 from the SAME table exercises
# manifest-pinned time travel, not two ad-hoc parquet dirs.
# Scale shape: each snapshot read is manifest-file-pruned parquet; profiles
# are one hash-agg per snapshot over |langs| groups; the diff joins two
# |langs|-row relations. Shares use integer division (10000·n DIV total) so
# the oracle — which recomputes both vintages straight from the source
# table with the same modular split — is hash-exact.
# ---------------------------------------------------------------------------
@registry.query(
    "dq10_version_drift",
    """
    WITH old_p AS (
      SELECT lang, COUNT(*) AS n_old,
             CAST(SUM(n_chars) AS BIGINT) AS chars_old
      FROM documents WHERE doc_id % 3 != 0 GROUP BY lang
    ),
    new_p AS (
      SELECT lang, COUNT(*) AS n_new,
             CAST(SUM(n_chars) AS BIGINT) AS chars_new
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 3 != 0) AS t_old,
             (SELECT COUNT(*) FROM documents) AS t_new
    )
    SELECT COALESCE(o.lang, n.lang) AS lang,
           COALESCE(o.n_old, 0) AS n_old,
           COALESCE(n.n_new, 0) AS n_new,
           COALESCE(n.n_new, 0) - COALESCE(o.n_old, 0) AS delta_docs,
           COALESCE(o.chars_old, 0) AS chars_old,
           COALESCE(n.chars_new, 0) AS chars_new,
           CASE WHEN t.t_old > 0
                THEN (10000 * COALESCE(o.n_old, 0)) // t.t_old ELSE 0 END
             AS share_bp_old,
           CASE WHEN t.t_new > 0
                THEN (10000 * COALESCE(n.n_new, 0)) // t.t_new ELSE 0 END
             AS share_bp_new,
           CASE WHEN t.t_new > 0
                THEN (10000 * COALESCE(n.n_new, 0)) // t.t_new ELSE 0 END
           - CASE WHEN t.t_old > 0
                  THEN (10000 * COALESCE(o.n_old, 0)) // t.t_old ELSE 0 END
             AS delta_share_bp
    FROM old_p o FULL OUTER JOIN new_p n ON o.lang = n.lang, tot t
    ORDER BY lang
    """,
)
def dq10_version_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.sources.versioned import read_version, write_version

    with scratch_dir("dq10_") as tmp:
        path = f"{tmp}/docs_versioned"
        docs = table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        v_old = write_version(
            docs.filter(F.col("doc_id") % 3 != 0), path, mode="overwrite"
        )
        v_new = write_version(
            docs.filter(F.col("doc_id") % 3 == 0), path, mode="append"
        )

        def profile(df, n_col: str, c_col: str):
            return df.groupBy("lang").agg(
                F.count(F.lit(1)).alias(n_col),
                F.sum("n_chars").cast("bigint").alias(c_col),
            )

        # materialize the |langs|-row profiles: each feeds BOTH the drift
        # join and its totals aggregate, and without truncation the two
        # consumers would scan each snapshot's files twice (invisible to
        # the scan sweep behind the final materialize — review
        # finding r7)
        old_p = materialize(
            profile(read_version(spark, path, v_old), "n_old", "chars_old")
        )
        new_p = materialize(
            profile(read_version(spark, path, v_new), "n_new", "chars_new")
        )
        tot = old_p.agg(F.sum("n_old").alias("t_old")).crossJoin(
            new_p.agg(F.sum("n_new").alias("t_new"))
        )

        def share_bp(n_col: str, t_col: str):
            # floor(a/b) == a DIV b here: a,b are non-negative ints far below
            # 2^53, so IEEE division is either exactly integral or >= 1/b
            # away from one — floor can't be off by the rounding ulp
            return F.when(
                F.col(t_col) > 0,
                F.floor(
                    (10000 * F.coalesce(F.col(n_col), F.lit(0)))
                    / F.col(t_col)
                ),
            ).otherwise(F.lit(0)).cast("bigint")

        return materialize(
            old_p.join(new_p, "lang", "full_outer")
            .crossJoin(F.broadcast(tot))
            .select(
                "lang",
                F.coalesce("n_old", F.lit(0)).alias("n_old"),
                F.coalesce("n_new", F.lit(0)).alias("n_new"),
                (
                    F.coalesce("n_new", F.lit(0)) - F.coalesce("n_old", F.lit(0))
                ).alias("delta_docs"),
                F.coalesce("chars_old", F.lit(0)).alias("chars_old"),
                F.coalesce("chars_new", F.lit(0)).alias("chars_new"),
                share_bp("n_old", "t_old").alias("share_bp_old"),
                share_bp("n_new", "t_new").alias("share_bp_new"),
                (share_bp("n_new", "t_new") - share_bp("n_old", "t_old")).alias(
                    "delta_share_bp"
                ),
            )
            .orderBy("lang")
        )


# ---------------------------------------------------------------------------
# dq11 — BENFORD first-digit audit: fabricated or truncated monetary data
# betrays itself in the leading-digit distribution; natural multi-magnitude
# amounts follow log10(1 + 1/d) (Benford 1938, Nigrini's fraud-audit
# standard). The audit compares the observed first-digit shares of the
# lineitem price mass against the Benford expectation, in integer basis
# points (the dq10 floor-div idiom — exact in both engines). The first
# digit is taken from exact integer CENTS (scaling by 100 never changes
# the leading significant digit), so no float formatting is involved.
# expected_bp rounds nine CONSTANT log10 values whose fractional parts
# (.29/.91/.44/.13/.85/.70/.92/.53/.57) all sit far from the rounding
# boundary — the one place a libm transcendental is hash-safe
# cross-engine (the scalars.py header rule, with its measured exception).
# Scale shape: one lineitem scan -> 9-row digit histogram; the total for
# shares is a 1-row aggregate of the materialized 9-row relation (no
# second fact scan, no unpartitioned window over data).
# ---------------------------------------------------------------------------
@registry.query(
    "dq11_benford_audit",
    """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1
    ),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT digit,
           n,
           CAST((10000 * n) // total AS BIGINT) AS share_bp,
           CAST(round(log10(1 + 1.0 / digit) * 10000) AS BIGINT)
             AS expected_bp,
           CAST((10000 * n) // total AS BIGINT)
           - CAST(round(log10(1 + 1.0 / digit) * 10000) AS BIGINT)
             AS dev_bp
    FROM c, t
    ORDER BY digit
    """,
)
def dq11_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    counts = materialize(
        # rebalance: the digit-extract partial agg dominates the checkpoint
        # job's scan stage (no-op at scale)
        rebalance_scan(li, spark, sf_dir, "lineitem")
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    expected_bp = (
        F.round(F.log10(1 + 1.0 / F.col("digit")) * 10000).cast("bigint")
    )
    return (
        counts.crossJoin(F.broadcast(total))  # 1-row side: hard hint is sound
        .select(
            "digit",
            "n",
            F.floor((10000 * F.col("n")) / F.col("total"))
            .cast("bigint")
            .alias("share_bp"),
            expected_bp.alias("expected_bp"),
            (
                F.floor((10000 * F.col("n")) / F.col("total")).cast("bigint")
                - expected_bp
            ).alias("dev_bp"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )
