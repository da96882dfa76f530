"""Text analysis over the documents corpus (SURVEY.md §2.2-B4 + the
north-star text-analysis operators: token counting, quality scoring,
language stats, fingerprinting, language-ID heuristic).

Everything here is built-in pyspark.sql.functions (JVM-side, whole-stage
codegen) — no Python UDFs. The token pipeline is split/filter/explode;
fingerprinting is md5 (identical in DuckDB, so oracle-checkable).

These are also the relational stand-ins for the reference's transcript
operators: trim (process_audio.py:275), lower+split (pa:319-320), word-count
filter (pa:302), regex filters (pa:291-294,304) — exercised on real text at
sf scale instead of ASR output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.checkpoints import materialize
from tts_etl_pipeline_spark.sources.tables import rebalance_scan, table

# Small stopword list used for the quality score (deterministic, shared with
# the SQL oracle below).
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


# Tokenization convention across t1-t8 (and the sketch twins in
# sketches.py): single-space split of lower(trim()) — matching DuckDB
# string_split(..., ' ') exactly. Do NOT switch to a \s+ regex on one side
# only; the oracles would hash-mismatch.


def token_stream(docs: DataFrame) -> DataFrame:
    """One row per token (the canonical tokenization; see note above)."""
    return docs.select(
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token")
    )


# A shared TOKENS artifact (the graph-artifact pattern applied to the
# (doc_id, lang, ts tokenized-array) projection) was PROTOTYPED AND
# REJECTED in round 9 (r8 verdict task 3): an interleaved same-session A/B
# at sf0.1 (7 reps each) measured t2 0.222 s baseline vs 0.256 s artifact
# and t15 0.586 vs 0.599 — the apparent 36-45% prototype win was a
# warmup-ordering artifact (the r6 first-measurement lesson), and reading
# the wider array-parquet back is no cheaper than re-splitting the compact
# text in-memory: split() is whole-stage-codegen CPU on data the scan
# already paid for, so there is nothing to amortize. t7 was rejected
# separately (it needs TWO tokenizations — whitespace AND the BPE-ish
# regex). Numbers in BASELINE.md round-9; the d5/array-pairs precedent.

# ---------------------------------------------------------------------------
# t1 — per-language token statistics: tokenize + aggregate.
# ---------------------------------------------------------------------------
@registry.query(
    "t1_lang_token_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS DOUBLE) / COUNT(*)
             AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def t1_lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.lower(F.trim("text")), " ")).cast("bigint")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ntok).alias("total_tokens"),
            (F.sum(ntok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# t2 — global token frequency: explode + count, top-20. The canonical
# "word count" — shuffle carries (token, partial_count) thanks to map-side
# combine, so the explode never hits the wire raw.
# ---------------------------------------------------------------------------
@registry.query(
    "t2_top_tokens",
    """
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token FROM documents) t
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 20
    """,
)
def t2_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# t3 — quality scoring: length, stopword ratio, lexical diversity per doc.
# Mirrors the reference's text-quality gating (word-count filter pa:302-303)
# with the scoring heuristics a pretraining pipeline would add.
# ---------------------------------------------------------------------------
_SW_SQL = "', '".join(STOPWORDS)


@registry.query(
    "t3_quality_scores",
    f"""
    SELECT doc_id,
           n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_distinct AS DOUBLE) / n_tokens AS lexical_diversity,
           CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len
    FROM (
      SELECT doc_id, n_chars,
             len(toks) AS n_tokens,
             len(list_filter(toks, t -> list_contains(['{_SW_SQL}'], t))) AS n_stop,
             len(list_distinct(toks)) AS n_distinct
      FROM (SELECT doc_id, n_chars, string_split(lower(trim(text)), ' ') AS toks
            FROM documents) base
    ) scored
    WHERE n_tokens > 2
    ORDER BY doc_id
    """,
)
def t3_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    base = docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("bigint").alias("n_stop"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
    )
    return (
        base.filter(F.col("n_tokens") > 2)
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stopword_ratio"),
            (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
                "lexical_diversity"
            ),
            (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t4 — document fingerprinting: md5 over normalized text (md5 is identical
# in Spark and DuckDB, so this is an oracle-checkable content hash). The
# dedup operators build on the same fingerprint.
# ---------------------------------------------------------------------------
@registry.query(
    "t4_fingerprints",
    """
    SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
           substr(md5(lower(trim(text))), 1, 4) AS shard
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
)
def t4_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    fp = F.md5(F.lower(F.trim("text")))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t5 — language-ID heuristic: score each doc against per-language marker
# tokens and compare to the labeled lang column. A real pipeline would use
# character n-gram profiles; the harness corpus is English word soup with
# random lang labels, so the heuristic is exercised (and oracle-checked) on
# marker-token counting + argmax-with-tiebreak semantics, not accuracy.
# ---------------------------------------------------------------------------
@registry.query(
    "t5_lang_id_heuristic",
    """
    SELECT predicted, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_match
    FROM (
      SELECT lang,
             CASE WHEN n_en >= n_data AND n_en >= n_query THEN 'en'
                  WHEN n_data >= n_query THEN 'data-ish'
                  ELSE 'query-ish' END AS predicted
      FROM (
        SELECT lang,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   t -> list_contains(['the','a','of'], t))) AS n_en,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   t -> list_contains(['data','row','column','table'], t))) AS n_data,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   t -> list_contains(['query','filter','join','sort'], t))) AS n_query
        FROM documents
      ) scores
    ) pred
    GROUP BY predicted
    ORDER BY predicted
    """,
)
def t5_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")

    def marker_count(words: list[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = docs.select(
        "lang",
        marker_count(["the", "a", "of"]).alias("n_en"),
        marker_count(["data", "row", "column", "table"]).alias("n_data"),
        marker_count(["query", "filter", "join", "sort"]).alias("n_query"),
    )
    pred = scores.select(
        "lang",
        F.when(
            (F.col("n_en") >= F.col("n_data")) & (F.col("n_en") >= F.col("n_query")), "en"
        )
        .when(F.col("n_data") >= F.col("n_query"), "data-ish")
        .otherwise("query-ish")
        .alias("predicted"),
    )
    return (
        pred.groupBy("predicted")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0)).alias(
                "n_match"
            ),
        )
        .orderBy("predicted")
    )


# ---------------------------------------------------------------------------
# t6 — the reference's transcript quality gate (F4/F5/F6, pa:281-307) applied
# to the documents corpus: >2 words, contains [a-zA-Z], not hallucination-
# pattern. Returns per-source keep/drop counts.
# ---------------------------------------------------------------------------
HALLUCINATION_RE = r"\[.*?\]|\(.*?\)|thanks for watching|thank you for watching"


@registry.query(
    "t6_transcript_quality_gate",
    r"""
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN len(string_split(trim(text), ' ')) > 2
                     AND regexp_matches(text, '[a-zA-Z]')
                     AND NOT regexp_matches(lower(text),
                         '\[.*?\]|\(.*?\)|thanks for watching|thank you for watching')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def t6_transcript_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    keep = (
        (F.size(F.split(F.trim("text"), " ")) > 2)
        & F.col("text").rlike("[a-zA-Z]")
        & ~F.lower(F.col("text")).rlike(HALLUCINATION_RE)
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# t7 — BPE-ish token counting: whitespace tokens vs regex subword-ish tokens
# (letter runs / digit runs / single punctuation), the pretraining-pipeline
# token-budget estimator. regexp_extract_all is JVM-side in Spark and has an
# identical RE2-compatible semantics subset in DuckDB for this pattern.
# ---------------------------------------------------------------------------
BPE_ISH_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@registry.query(
    "t7_bpe_token_counts",
    rf"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(lower(text), '{BPE_ISH_RE}'))) AS BIGINT)
             AS bpe_ish_tokens,
           CAST(SUM(len(regexp_extract_all(lower(text), '{BPE_ISH_RE}'))) AS DOUBLE)
             / SUM(len(string_split(trim(text), ' '))) AS tokens_per_word
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def t7_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim("text"), " ")).cast("bigint")
    # idx=0 = whole match (Spark defaults to group 1; the pattern is group-free)
    bpe = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(BPE_ISH_RE), F.lit(0))
    ).cast("bigint")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws).alias("ws_tokens"),
            F.sum(bpe).alias("bpe_ish_tokens"),
            (F.sum(bpe).cast("double") / F.sum(ws)).alias("tokens_per_word"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# t8 — rolling-hash document fingerprint: polynomial hash over the token
# stream, h = (h*31 + ascii(head) + 7*len(token)) mod (2^31 - 1). Pure
# integer left-fold — bit-exact in both engines (no hash library involved),
# unlike md5 (t4) this is an ORDER-SENSITIVE content signature, the
# shift-resistant primitive used for chunk-level dedup.
# ---------------------------------------------------------------------------
@registry.query(
    "t8_rolling_hash_fingerprint",
    """
    SELECT doc_id,
           list_reduce(list_transform(string_split(lower(trim(text)), ' '),
               t -> CAST(ascii(t) + 7 * len(t) AS BIGINT)),
               (h, v) -> (h * 31 + v) % 2147483647) AS roll_hash
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
)
def t8_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.lower(F.trim("text")), " ")
    vals = F.transform(
        toks, lambda t: (F.ascii(t) + 7 * F.length(t)).cast("bigint")
    )
    # seed the fold with the first element to mirror DuckDB's init-less
    # list_reduce: fold(tail, head)
    roll = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda h, v: (h * 31 + v) % 2147483647,
    )
    return docs.select("doc_id", roll.alias("roll_hash")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t9 — distinctive tokens per language: TF-IDF-style scoring with a RATIONAL
# idf (tf * n_docs / df) instead of the usual log — log/ln are libm-
# dependent and would never hash-match across engines, while this rational
# score ranks identically for top-k purposes and stays bit-exact. Shuffles:
# one on (lang, token) for TF, one on token for DF, then the per-lang
# top-5 window over the already-aggregated (dimension-sized) score table.
# ---------------------------------------------------------------------------
@registry.query(
    "t9_distinctive_tokens",
    """
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(string_split(lower(trim(text)), ' ')) AS token
      FROM documents
    ),
    tf AS (SELECT lang, token, COUNT(*) AS tf FROM tok GROUP BY lang, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    total AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT lang, tf.token AS token, tf, df,
             CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
               AS score
      FROM tf, df, total WHERE tf.token = df.token
    )
    SELECT lang, token, tf, df, score, rn
    FROM (
      SELECT lang, token, tf, df, score,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score DESC, token) AS rn
      FROM scored
    ) ranked
    WHERE rn <= 5
    ORDER BY lang, rn
    """,
)
def t9_distinctive_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents")
    # single corpus scan: aggregate to (doc, token) grain once and derive
    # BOTH term frequency and document frequency from that materialized
    # grain (sum of per-doc counts == raw TF; row count per token == DF
    # because the grain is already distinct per doc)
    dt = materialize(
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token"),
        )
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_docs = docs.count()  # scalar; dimension of the corpus, not data-plane
    tf = dt.groupBy("lang", "token").agg(F.sum("c").cast("bigint").alias("tf"))
    df = dt.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df, "token")
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.lit(float(n_docs)) / F.col("df").cast("double")),
        )
    )
    w = W.partitionBy("lang").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
        .select("lang", "token", "tf", "df", "score", "rn")
        .orderBy("lang", "rn")
    )


# ---------------------------------------------------------------------------
# t10 — PII redaction: regex-scrub emails and phone numbers from text, the
# mandatory scrub pass before any corpus ships. The fixture corpus contains
# no PII, so the query first INJECTS deterministic synthetic PII derived
# from doc_id (identical expression in both engines) and then redacts it —
# what's under test is the redaction kernel and its bookkeeping, on inputs
# both engines agree about. Patterns use the common regex subset that Java
# (Spark) and RE2 (DuckDB) evaluate identically: char classes + bounded
# quantifiers, no lookaround.
# Per-row map -> tiny per-lang agg: nothing here shuffles payload text.
# ---------------------------------------------------------------------------
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+1 \\(555\\) 010-[0-9]{4}"


@registry.query(
    "t10_pii_redaction",
    f"""
    WITH enriched AS (
      SELECT doc_id, lang,
             text || ' reach me at user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example or +1 (555) 010-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    ),
    redacted AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phones,
             regexp_replace(regexp_replace(t, '{EMAIL_RE}', '[EMAIL]', 'g'),
                            '{PHONE_RE}', '[PHONE]', 'g') AS clean
      FROM enriched
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
           CAST(SUM(CASE WHEN regexp_matches(clean, '{EMAIL_RE}')
                          OR regexp_matches(clean, '{PHONE_RE}')
                     THEN 1 ELSE 0 END) AS BIGINT) AS residual_pii,
           CAST(SUM(len(clean)) AS BIGINT) AS clean_chars
    FROM redacted
    GROUP BY lang
    ORDER BY lang
    """,
)
def t10_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.lit(" reach me at user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    # rebalance BEFORE the regex pass: the PII regexes dominate the scan
    # stage (no-op at scale)
    t = rebalance_scan(
        docs.select("doc_id", "lang", "text"), spark, sf_dir, "documents",
        per_task_bytes=64 << 10,
    ).select("doc_id", "lang", enriched.alias("t"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("t"), EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    red = t.select(
        "lang",
        F.size(F.regexp_extract_all("t", F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
        clean.alias("clean"),
    )
    residual = F.col("clean").rlike(EMAIL_RE) | F.col("clean").rlike(PHONE_RE)
    return (
        red.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").cast("bigint").alias("emails_redacted"),
            F.sum("n_phones").cast("bigint").alias("phones_redacted"),
            F.sum(F.when(residual, 1).otherwise(0)).cast("bigint").alias("residual_pii"),
            F.sum(F.length("clean")).cast("bigint").alias("clean_chars"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# t11 — deterministic text normalization: the canonical pre-dedup cleanup
# (lowercase, collapse all whitespace runs to single spaces, strip
# non-alphanumeric-non-space chars, trim). Output audits the effect:
# per-lang char deltas plus how many distinct docs COLLAPSE to the same
# normalized form (normalization creating new duplicates is exactly what a
# dedup pipeline wants to measure before/after). Same regexps in both
# engines (Java and RE2 agree on these classes). Per-row map + one
# fingerprint distinct + tiny agg.
# ---------------------------------------------------------------------------
@registry.query(
    "t11_text_normalization",
    """
    WITH norm AS (
      SELECT doc_id, lang,
             length(coalesce(text, '')) AS raw_chars,
             trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                  '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS clean
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(raw_chars) AS BIGINT) AS raw_chars,
           CAST(SUM(length(clean)) AS BIGINT) AS clean_chars,
           COUNT(DISTINCT clean) AS n_distinct_normalized
    FROM norm
    GROUP BY lang
    ORDER BY lang
    """,
)
def t11_text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    raw = F.coalesce("text", F.lit(""))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return (
        docs.select("lang", F.length(raw).alias("raw_chars"), clean.alias("clean"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("raw_chars").cast("bigint").alias("raw_chars"),
            F.sum(F.length("clean")).cast("bigint").alias("clean_chars"),
            F.countDistinct("clean").alias("n_distinct_normalized"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# t12 — sequence packing (concat-and-chunk accounting): the GPT-style
# pretraining step that concatenates the tokenized corpus in doc_id order
# and splits it into fixed-length training sequences. Output audits the
# packing: per chunk, how many docs START there and their token mass.
#
# The interesting part is the GLOBAL RUNNING SUM at scale: a naive
# Window.orderBy(doc_id) is unpartitioned — one task drags the whole corpus
# (banned by this repo's plan discipline). Instead a fully in-Spark two-level
# distributed prefix sum: deterministic doc_id buckets -> per-bucket token
# sums -> per-SUPERBUCKET sums (n/(PACK_BUCKET*PACK_SUPER) rows). The only
# unpartitioned window runs over that superbucket relation — n/6400 rows of
# (bigint, bigint); ~160k rows even at 1e9 docs, a few MB through one tiny
# task. Bucket offsets = superbucket offset (broadcast-joined) + a window
# PARTITIONED by superbucket over the bucket sums; row positions = bucket
# offset + a window PARTITIONED by bucket. No .collect(), no driver-side
# cumsum, no LocalTableScan in the lineage — nothing on the driver is
# proportional to corpus size (pinned by test_plans.test_t12_no_driver_
# roundtrip). The hierarchy generalizes: another level (or sqrt(n) widths
# from a control-plane count) bounds every level at O(n^(1/3)) / O(sqrt n)
# if 1e12+ docs ever make the top relation heavy.
# ---------------------------------------------------------------------------
SEQ_LEN = 512
PACK_BUCKET = 100  # docs per prefix-sum bucket
PACK_SUPER = 64  # buckets per superbucket; top window sees n/6400 rows


@registry.query(
    "t12_sequence_packing",
    f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(lower(trim(coalesce(text, ''))), ' ')) AS ntok
      FROM documents
    ),
    c AS (
      SELECT doc_id, ntok,
             SUM(ntok) OVER (ORDER BY doc_id) - ntok AS cum_start
      FROM d
    )
    SELECT CAST(floor(cum_start / {SEQ_LEN}) AS BIGINT) AS chunk_id,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c
    GROUP BY chunk_id
    ORDER BY chunk_id
    """,
)
def t12_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents")
    ntok = F.size(
        F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), " ")
    ).cast("bigint")

    # Tokenize once: both the offset branch and the position branch read the
    # materialized (doc_id, ntok, bucket) projection — no double scan, no
    # double tokenization (test_plans pins documents scans == 0 downstream).
    d = materialize(
        docs.select(
            "doc_id",
            ntok.alias("ntok"),
            F.floor(F.col("doc_id") / PACK_BUCKET).alias("bucket"),
        )
    )
    # Level 1: per-bucket sums, tagged with their superbucket.
    bsums = (
        d.groupBy("bucket")
        .agg(F.sum("ntok").alias("bsum"))
        .withColumn("superbucket", F.floor(F.col("bucket") / PACK_SUPER))
    )
    # Level 2: per-superbucket sums; exclusive cumsum via the ONLY
    # unpartitioned window — over n/(PACK_BUCKET*PACK_SUPER) tiny rows.
    ssums = bsums.groupBy("superbucket").agg(F.sum("bsum").alias("ssum"))
    # bounded: the superbucket relation holds n/(PACK_BUCKET*PACK_SUPER)
    # = n/6400 tiny rows (~160k even at 1e9 docs) — the ONLY global window
    w_super = (
        W.orderBy("superbucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    soff = ssums.select(
        "superbucket",
        F.coalesce(F.sum("ssum").over(w_super), F.lit(0)).alias("super_off"),
    )
    # Bucket offsets: superbucket offset + exclusive within-superbucket
    # cumsum of bucket sums (window PARTITIONED by superbucket).
    w_bucket = (
        W.partitionBy("superbucket")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    off = (
        bsums.join(F.broadcast(soff), "superbucket")
        .select(
            "bucket",
            (
                F.col("super_off")
                + F.coalesce(F.sum("bsum").over(w_bucket), F.lit(0))
            ).alias("bucket_offset"),
        )
    )
    # Row positions: bucket offset + exclusive within-bucket running sum
    # (window PARTITIONED by bucket — shares its hash partitioning with the
    # off join key, so the exchange is reused).
    w = W.partitionBy("bucket").orderBy("doc_id")
    cum_start = (
        F.col("bucket_offset") + F.sum("ntok").over(w) - F.col("ntok")
    )
    return (
        d.join(off, "bucket")
        .withColumn("chunk_id", F.floor(cum_start / SEQ_LEN).cast("bigint"))
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        # no final sort: presentation-only (driver hash is order-insensitive)
    )


# ---------------------------------------------------------------------------
# t13 — repetition signals (Gopher/MassiveText-style quality filters, Rae et
# al. 2021 §A1.1): fraction of tokens belonging to the single most frequent
# token, and to the most frequent bigram, per document — high values flag
# degenerate/boilerplate text. Rolled up per lang with flagged-doc counts at
# the published-style thresholds. Cross-doc averages go through decimal so
# the float sum is partial-order independent (functions/exact.py rules).
# One token-grain scan materialized once feeds both signals (t9 pattern).
# ---------------------------------------------------------------------------
TOP_TOKEN_FRAC_MAX = 0.20
TOP_BIGRAM_FRAC_MAX = 0.18


@registry.query(
    "t13_repetition_signals",
    f"""
    WITH base AS (
      SELECT doc_id, lang,
             string_split(lower(trim(coalesce(text, ''))), ' ') AS toks
      FROM documents
    ),
    tok_top AS (
      SELECT doc_id, MAX(c) AS top_tok
      FROM (
        SELECT doc_id, token, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS token FROM base) t
        GROUP BY doc_id, token
      ) g GROUP BY doc_id
    ),
    bi_top AS (
      SELECT doc_id, MAX(c) AS top_bi
      FROM (
        SELECT doc_id, bigram, COUNT(*) AS c
        FROM (
          SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
                                 FOR i IN range(1, len(toks))]) AS bigram
          FROM base WHERE len(toks) >= 2
        ) t
        GROUP BY doc_id, bigram
      ) g GROUP BY doc_id
    ),
    scored AS (
      SELECT b.lang,
             CAST(t.top_tok AS DOUBLE) / len(b.toks) AS tok_frac,
             CAST(COALESCE(bi.top_bi, 0) AS DOUBLE) / GREATEST(len(b.toks) - 1, 1)
               AS bi_frac
      FROM base b
      JOIN tok_top t USING (doc_id)
      LEFT JOIN bi_top bi USING (doc_id)
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN tok_frac > {TOP_TOKEN_FRAC_MAX} THEN 1 ELSE 0 END)
                AS BIGINT) AS flagged_token,
           CAST(SUM(CASE WHEN bi_frac > {TOP_BIGRAM_FRAC_MAX} THEN 1 ELSE 0 END)
                AS BIGINT) AS flagged_bigram,
           CAST(SUM(CAST(tok_frac AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS avg_tok_frac,
           CAST(SUM(CAST(bi_frac AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS avg_bi_frac
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def t13_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), " ")
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat(toks[i-1], ' ', toks[i]))"
    )
    base = materialize(
        docs.select("doc_id", "lang", toks.alias("toks"), F.size(toks).alias("n"))
    )
    tok_top = (
        base.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok"))
    )
    bi_top = (
        base.filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bi"))
    )
    scored = (
        base.join(tok_top, "doc_id")
        .join(bi_top, "doc_id", "left")
        .select(
            "lang",
            (F.col("top_tok").cast("double") / F.col("n")).alias("tok_frac"),
            (
                F.coalesce("top_bi", F.lit(0)).cast("double")
                / F.greatest(F.col("n") - 1, F.lit(1))
            ).alias("bi_frac"),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("tok_frac") > TOP_TOKEN_FRAC_MAX, 1).otherwise(0))
            .cast("bigint")
            .alias("flagged_token"),
            F.sum(F.when(F.col("bi_frac") > TOP_BIGRAM_FRAC_MAX, 1).otherwise(0))
            .cast("bigint")
            .alias("flagged_bigram"),
            (
                F.sum(F.col("tok_frac").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_tok_frac"),
            (
                F.sum(F.col("bi_frac").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bi_frac"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# t14 — corpus-frequency rarity profile (the cheap stand-in for CCNet's
# LM-perplexity quality signal): score every document by how much of its
# token mass is globally RARE. "Rare" is relative, not absolute — a token
# is rare iff its global count g satisfies g * 4 * |vocab| <= total_tokens,
# i.e. its corpus share is below a quarter of the mean token share — so the
# definition survives any corpus size without re-tuning a constant
# (transcendental-free: the exact integer inequality avoids the float
# log-probability a real LM filter would sum, which no cross-engine hash
# could pin).
# Scale shape: one documents scan -> (doc, token) grain materialized once;
# global counts are one token-keyed shuffle; the counts rejoin the grain on
# token (vocabulary-scale-safe shuffle join — at 100 TB the vocab of a raw
# crawl is billions of distinct strings, so NO forced broadcast; AQE
# promotes to broadcast when the vocab is actually small); the per-doc
# re-aggregation is one doc-keyed shuffle. The corpus totals relation is
# one row and rides a broadcast cross join.
# ---------------------------------------------------------------------------
@registry.query(
    "t14_rare_token_profile",
    """
    WITH base AS (
      SELECT doc_id, lang, unnest(string_split(lower(trim(text)), ' ')) AS token
      FROM documents
    ),
    dt AS (
      SELECT doc_id, lang, token, COUNT(*) AS c
      FROM base GROUP BY doc_id, lang, token
    ),
    gc AS (SELECT token, CAST(SUM(c) AS BIGINT) AS g FROM dt GROUP BY token),
    tot AS (SELECT CAST(SUM(g) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS vocab
            FROM gc)
    SELECT dt.doc_id, dt.lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN g * 4 * vocab <= n_total THEN c ELSE 0 END)
                AS BIGINT) AS rare_tokens,
           CAST(MIN(g) AS BIGINT) AS min_token_count,
           CAST(SUM(CASE WHEN g * 4 * vocab <= n_total THEN c ELSE 0 END)
                AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rare_frac
    FROM dt JOIN gc USING (token), tot
    GROUP BY dt.doc_id, dt.lang
    ORDER BY doc_id
    """,
)
def t14_rare_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    dt = materialize(
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token"),
        )
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gc = dt.groupBy("token").agg(F.sum("c").cast("bigint").alias("g"))
    tot = gc.agg(
        F.sum("g").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    rare_c = F.when(
        F.col("g") * 4 * F.col("vocab") <= F.col("n_total"), F.col("c")
    ).otherwise(F.lit(0))
    return (
        dt.join(gc, "token")  # vocabulary-scale: shuffle join, AQE may demote
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(rare_c).cast("bigint").alias("rare_tokens"),
            F.min("g").cast("bigint").alias("min_token_count"),
            (
                F.sum(rare_c).cast("double") / F.sum("c").cast("double")
            ).alias("rare_frac"),
        )
        .select(
            "doc_id", "lang", "n_tokens", "rare_tokens", "min_token_count",
            "rare_frac",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t15 — collocation mining by LIFT (the log-free core of PMI: PMI = log2 of
# the lift, so ranking by lift IS ranking by PMI while staying inside exact
# integer arithmetic until one final division — the t9 rational-score
# idiom). Adjacent-token bigrams per document, minimum support, top 20 by
# lift = P(w1 w2) / (P(w1) P(w2)) = (c12 * N) / (c1 * c2).
# Scale shape: the tokenized-array projection is materialized once and
# feeds both the unigram and the bigram counts (single scan); unigram
# counts rejoin bigram counts on each word (vocabulary-scale shuffle
# joins); the final top-k is orderBy+limit = TakeOrdered (per-partition
# heads, no global sort materialization). c12*N <= N^2 stays well inside
# int64 and inside double's 2^53 exact-integer range for any corpus this
# side of 10^8 tokens per shard; the oracle casts identically.
# ---------------------------------------------------------------------------
BIGRAM_MIN_SUPPORT = 5
BIGRAM_TOP_K = 20


@registry.query(
    "t15_bigram_lift",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS ts FROM documents
    ),
    uni AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(ts) AS token FROM toks) u GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM uni),
    bg AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM toks, unnest(range(1, len(ts))) AS t(i)
      WHERE len(ts) >= 2
    ),
    cb AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= {BIGRAM_MIN_SUPPORT}
    )
    SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
           CAST(c12 * n_total AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE) AS lift
    FROM cb
    JOIN uni u1 ON cb.w1 = u1.token
    JOIN uni u2 ON cb.w2 = u2.token, tot
    ORDER BY lift DESC, w1, w2
    LIMIT {BIGRAM_TOP_K}
    """,
)
def t15_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = materialize(
        docs.select("doc_id", F.split(F.lower(F.trim("text")), " ").alias("ts"))
    )
    uni = toks.select(F.explode("ts").alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n_total"))
    bg = (
        toks.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2),"
                    " i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    cb = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .filter(F.col("c12") >= BIGRAM_MIN_SUPPORT)
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    return (
        cb.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "c12", "c1", "c2",
            (
                (F.col("c12") * F.col("n_total")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(BIGRAM_TOP_K)
    )


# ---------------------------------------------------------------------------
# t16 — vocabulary-coverage / Zipf audit (the tokenizer-design question
# "how much of the corpus do the top K types cover?"): top 20 tokens by
# count with rank, the Zipf product rank*count (Zipf's law predicts it
# near-constant — kept as an exact integer), each token's corpus share,
# and the CUMULATIVE coverage of ranks 1..r. Shares are single divisions
# of exact integers; the cumulative sum is an integer window sum over the
# 20-row ranked relation — floats never aggregate.
# Scale shape: token counts (one shuffle) -> TakeOrderedAndProject top-20
# (per-partition heads — the vocabulary never sorts globally) -> rank and
# cumsum windows run over the 20-ROW result, not the vocab; the corpus
# total rides a one-row broadcast cross join.
# ---------------------------------------------------------------------------
ZIPF_TOP_K = 20


@registry.query(
    "t16_zipf_coverage",
    f"""
    WITH uni AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
            FROM documents) t
      GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM uni),
    top AS (
      SELECT token, c FROM uni ORDER BY c DESC, token LIMIT {ZIPF_TOP_K}
    ),
    ranked AS (
      SELECT token, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rank,
             CAST(SUM(c) OVER (ORDER BY c DESC, token
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_c
      FROM top
    )
    SELECT rank, token, c,
           CAST(rank * c AS BIGINT) AS zipf_product,
           CAST(c AS DOUBLE) / n_total AS share,
           CAST(cum_c AS DOUBLE) / n_total AS cum_coverage
    FROM ranked, tot
    ORDER BY rank
    """,
)
def t16_zipf_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents")
    uni = token_stream(docs).groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    uni = materialize(uni)  # one token shuffle feeds both top-k and total
    tot = uni.agg(F.sum("c").cast("bigint").alias("n_total"))
    top = uni.orderBy(F.desc("c"), "token").limit(ZIPF_TOP_K)
    # bounded: ranks run over the top-k sample (<= ZIPF_TOP_K rows by the
    # limit above), never the vocabulary
    wrank = W.orderBy(F.desc("c"), "token")
    ranked = top.select(
        "token",
        "c",
        F.row_number().over(wrank).cast("bigint").alias("rank"),
        F.sum("c").over(wrank.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_c"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "token",
            "c",
            (F.col("rank") * F.col("c")).cast("bigint").alias("zipf_product"),
            (F.col("c").cast("double") / F.col("n_total")).alias("share"),
            (F.col("cum_c").cast("double") / F.col("n_total")).alias("cum_coverage"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# t17 — BPE tokenizer TRAINING (the missing piece between t7's BPE-ish
# token counting and an actual trained vocabulary): learn the first
# N_MERGES byte-pair merges from the corpus. The production shape
# (HF tokenizers, SentencePiece) splits exactly this way:
#   1. DISTRIBUTED: reduce the corpus to its word-count histogram — the
#      only pass that touches corpus bytes. Collected BOUNDED: the top
#      BPE_MAX_WORDS words by (count desc, word) via TakeOrdered, so
#      driver memory is capped at any corpus size (pruning rare words is
#      standard BPE practice — they cannot win a merge anyway unless
#      their mass rivals the head, which contradicts them being rare).
#   2. DRIVER: iterate merges over the histogram (vocab-sized, tiny
#      relative to the corpus): count adjacent symbol pairs weighted by
#      word count, merge the (count desc, pair lex) winner, repeat.
# Deterministic (total-order tie-breaks) but iterative ⇒ no SQL oracle —
# rows-only driver check; exactness vs an independent naive reference +
# determinism pinned in tests/test_textstats_bpe.py.
# ---------------------------------------------------------------------------
BPE_N_MERGES = 12
BPE_MAX_WORDS = 50_000


def bpe_train_from_histogram(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Classic BPE on a (word, count) histogram. Symbols start as single
    characters; each round merges the highest-count adjacent pair
    (ties: lexicographic pair) into one symbol. Returns
    [(merge_idx, left, right, pair_count)]; stops early if no pair
    occurs twice."""
    seqs = [(tuple(w), c) for w, c in word_counts]
    merges: list[tuple[int, str, str, int]] = []
    for mi in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for seq, c in seqs:
            for a, b in zip(seq, seq[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (left, right), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merged = left + right
        out = []
        for seq, c in seqs:
            ns, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
                    ns.append(merged)
                    i += 2
                else:
                    ns.append(seq[i])
                    i += 1
            out.append((tuple(ns), c))
        seqs = out
        merges.append((mi + 1, left, right, cnt))
    return merges


def train_corpus_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """Shared t17/t19 training path: distributed word histogram (one token
    shuffle, TakeOrdered-bounded collect) + driver merge iteration — ONE
    definition so the train/encode pair can never drift apart."""
    docs = table(spark, sf_dir, "documents")
    hist = (
        token_stream(docs)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.desc("c"), "token")  # TakeOrdered — bounded collect
        .limit(BPE_MAX_WORDS)
        .collect()
    )
    return bpe_train_from_histogram([(r["token"], r["c"]) for r in hist], BPE_N_MERGES)


@registry.query("t17_bpe_merge_training")
def t17_bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = train_corpus_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_idx bigint, left string, right string, pair_count bigint"
    ).orderBy("merge_idx")


# ---------------------------------------------------------------------------
# t18 — language-ID confusion matrix (the model-evaluation rollup on top of
# t5's heuristic classifier): one cell per (true lang, predicted) with the
# count, the true-class total, and per-class recall — the standard
# evaluation artifact of any classifier pass in a curation pipeline. The
# class totals are integer window sums over the CELL relation
# (|langs| × |classes| rows — bounded by label cardinality, never corpus
# size), and recall is a single division of exact integers.
# ---------------------------------------------------------------------------
@registry.query(
    "t18_langid_confusion",
    """
    WITH pred AS (
      SELECT lang,
             CASE WHEN n_en >= n_data AND n_en >= n_query THEN 'en'
                  WHEN n_data >= n_query THEN 'data-ish'
                  ELSE 'query-ish' END AS predicted
      FROM (
        SELECT lang,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   t -> list_contains(['the','a','of'], t))) AS n_en,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   t -> list_contains(['data','row','column','table'], t))) AS n_data,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   t -> list_contains(['query','filter','join','sort'], t))) AS n_query
        FROM documents
      ) scores
    ),
    cells AS (
      SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, predicted
    )
    SELECT lang, predicted, n,
           CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang) AS cell_recall
    FROM cells
    ORDER BY lang, predicted
    """,
)
def t18_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")

    def marker_count(words: list[str]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    pred = docs.select(
        "lang",
        F.when(
            (marker_count(["the", "a", "of"]) >= marker_count(["data", "row", "column", "table"]))
            & (marker_count(["the", "a", "of"]) >= marker_count(["query", "filter", "join", "sort"])),
            "en",
        )
        .when(
            marker_count(["data", "row", "column", "table"])
            >= marker_count(["query", "filter", "join", "sort"]),
            "data-ish",
        )
        .otherwise("query-ish")
        .alias("predicted"),
    )
    cells = pred.groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wl = W.partitionBy("lang")
    return (
        cells.select(
            "lang",
            "predicted",
            "n",
            F.sum("n").over(wl).cast("bigint").alias("lang_total"),
            (F.col("n").cast("double") / F.sum("n").over(wl)).alias("cell_recall"),
        )
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# t19 — BPE ENCODE with the t17-trained merges: the apply half of the
# tokenizer pair (t17 trains the artifact, t19 runs it over the corpus —
# exactly how a real pipeline tokenizes pre-training data). Per language:
# document count, whitespace-word count, post-BPE token count, and the
# tokens-per-word expansion ratio (the number a data engineer watches to
# budget sequence lengths).
# Scale shape: training cost is t17's (one token shuffle + BOUNDED
# TakeOrdered collect); the learned merge list (12 rows) is BROADCAST and
# applied inside ONE Arrow-batched mapInPandas pass over documents with a
# per-batch word→encoding memo (Zipf makes the memo hit rate ~1), then a
# |langs|-group rollup. The corpus is touched exactly twice (train
# histogram + encode), both embarrassingly parallel.
# Rows-only by design (the merge artifact is iterative, no SQL twin);
# tests/test_textstats_bpe.py pins the encode against an independent
# character-level reference implementation.
# ---------------------------------------------------------------------------
def bpe_encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply merges in learned order (each merge replaces ALL its pair
    occurrences left-to-right before the next merge applies) — the t17
    training loop's own replacement rule, so train/encode are consistent."""
    seq: list[str] = list(word)
    for left, right in merges:
        if len(seq) < 2:
            break
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out
    return seq


@registry.query("t19_bpe_encode")
def t19_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    merges = [(left, right) for _, left, right, _ in train_corpus_merges(spark, sf_dir)]
    bc = spark.sparkContext.broadcast(merges)

    def encode(batches):
        memo: dict[str, int] = {}
        ms = bc.value
        for pdf in batches:
            n_words, n_toks = [], []
            for text in pdf["text"]:
                if text is None:
                    # token_stream drops NULL texts (explode of NULL) —
                    # count them as zero words, not one empty token
                    n_words.append(0)
                    n_toks.append(0)
                    continue
                # the CANONICAL tokenization (token_stream): trim strips
                # SPACES only (not \t), then lower, then split on ' '
                words = str(text).strip(" ").lower().split(" ")
                nw = len(words)
                nt = 0
                for w in words:
                    hit = memo.get(w)
                    if hit is None:
                        hit = memo[w] = len(bpe_encode_word(w, ms))
                    nt += hit
                n_words.append(nw)
                n_toks.append(nt)
            out = pdf[["lang"]].copy()
            out["n_words"] = n_words
            out["n_bpe_tokens"] = n_toks
            yield out

    encoded = docs.select("lang", "text").mapInPandas(
        encode, "lang string, n_words long, n_bpe_tokens long"
    )
    return (
        encoded.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
        )
        .withColumn(
            "tokens_per_word",
            F.round(F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# t20 — DSIR-style TARGET-AFFINITY scoring (Xie et al. 2023 "Data Selection
# for Language Models via Importance Resampling", arXiv:2302.03169, the
# n-gram-feature form): score every candidate document by how much its
# token mass co-occurs with a TARGET slice (d13's benchmark slice,
# doc_id % 97 == 3) versus the background corpus, then surface the top 20
# most target-like candidates — the data-selection pass that picks
# pretraining documents resembling a downstream task.
# Deviation from the paper, for exactness: instead of log-probability
# importance weights (transcendental — never hash-stable across engines,
# the t14/t15 discipline), affinity is the RATIO of two exact integer dot
# products S_t = Σ_tok c_doc·c_target and S_b = Σ_tok c_doc·c_background
# (+1), ranked by one IEEE division of exactly-represented integers —
# bit-identical in Spark and DuckDB. Monotone in the paper's weight under
# unigram models, so the SELECTION (which is what ships) is faithful.
# Scale shape: ONE materialized (doc, token, c) relation feeds both the
# global count vectors and the rejoin; the token join shuffles on token
# (vocab-scale, sort-merge at 100 TB — deliberately NO broadcast); the
# per-doc sum is one doc_id shuffle; top-20 is TakeOrdered. The feature
# HASHING of the paper becomes unnecessary because features stay
# distributed — hashing exists to shrink a DRIVER-side model, and nothing
# here ever collects one.
# ---------------------------------------------------------------------------
@registry.query(
    "t20_dsir_target_affinity",
    """
    WITH toks AS (
      SELECT doc_id, token, COUNT(*) AS c
      FROM (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        FROM documents
      )
      GROUP BY doc_id, token
    ),
    vectors AS (
      SELECT token,
             SUM(CASE WHEN doc_id % 97 = 3 THEN c ELSE 0 END) AS c_t,
             SUM(CASE WHEN doc_id % 97 <> 3 THEN c ELSE 0 END) AS c_b
      FROM toks GROUP BY token
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(SUM(t.c * v.c_t) AS BIGINT) AS s_target,
             CAST(SUM(t.c * v.c_b) AS BIGINT) AS s_background
      FROM toks t JOIN vectors v ON t.token = v.token
      WHERE t.doc_id % 97 <> 3
      GROUP BY t.doc_id
    )
    SELECT doc_id, s_target, s_background,
           ROUND(CAST(s_target AS DOUBLE) / (s_background + 1), 6) AS affinity
    FROM scored
    ORDER BY CAST(s_target AS DOUBLE) / (s_background + 1) DESC, doc_id
    LIMIT 20
    """,
)
def t20_dsir_target_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = materialize(
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_target = F.col("doc_id") % 97 == 3
    vectors = toks.groupBy("token").agg(
        F.sum(F.when(is_target, F.col("c")).otherwise(F.lit(0))).alias("c_t"),
        F.sum(F.when(~is_target, F.col("c")).otherwise(F.lit(0))).alias("c_b"),
    )
    scored = (
        toks.filter(~is_target)
        .join(vectors, "token")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("c_t")).alias("s_target"),
            F.sum(F.col("c") * F.col("c_b")).alias("s_background"),
        )
    )
    ratio = F.col("s_target").cast("double") / (F.col("s_background") + 1)
    return (
        scored.orderBy(ratio.desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "s_target",
            "s_background",
            F.round(ratio, 6).alias("affinity"),
        )
    )


# ---------------------------------------------------------------------------
# t21 — cross-language VOCABULARY-OVERLAP matrix: pairwise Jaccard of the
# distinct-token sets of every language pair — the corpus diagnostic that
# catches mislabeled languages (two "different" languages sharing most of
# their vocabulary) and contamination between splits, and the set-level
# complement of t18's per-document lang-ID confusion. Scale shape: ONE
# documents scan builds the distinct (lang, token) relation, materialized
# and reused as BOTH join sides (un-materialized self-union would
# re-derive the explode+distinct twice); the token-keyed self-join is
# bounded by vocabulary x |langs|², never the token stream; per-lang
# vocabulary sizes rejoin from the same materialized relation. All
# outputs are exact integers + the dq10 floor-div basis points.
# ---------------------------------------------------------------------------
@registry.query(
    "t21_lang_vocab_overlap",
    """
    WITH lt AS (
      SELECT DISTINCT lang, token FROM (
        SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    sizes AS (SELECT lang, COUNT(*) AS n FROM lt GROUP BY lang),
    inter AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_common
      FROM lt a JOIN lt b ON a.token = b.token AND a.lang < b.lang
      GROUP BY a.lang, b.lang
    )
    SELECT lang_a, lang_b, n_common,
           sa.n AS n_a, sb.n AS n_b,
           CAST((10000 * n_common) // (sa.n + sb.n - n_common) AS BIGINT)
             AS jaccard_bp
    FROM inter
    JOIN sizes sa ON sa.lang = inter.lang_a
    JOIN sizes sb ON sb.lang = inter.lang_b
    ORDER BY lang_a, lang_b
    """,
)
def t21_lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("lang", "text")
    lt = materialize(
        docs.select(
            "lang",
            F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    sizes = lt.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    a = lt.select(F.col("lang").alias("lang_a"), "token")
    b = lt.select(F.col("lang").alias("lang_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")  # |langs|-row side: bounded
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_common",
            "n_a",
            "n_b",
            F.floor(
                (10000 * F.col("n_common"))
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            )
            .cast("bigint")
            .alias("jaccard_bp"),
        )
        .orderBy("lang_a", "lang_b")
    )
