"""UDF registration surfaces (SURVEY.md §2.3 notes the reference has none;
these document the engine's supported extension points and their cost
model):

- u1: vectorized pandas UDF (Arrow-batched, the sanctioned Python path) —
  arithmetic matches the SQL oracle bit-for-bit because numpy double ops are
  IEEE-identical to the engines';
- u2: Python UDTF (table function, Spark 4) exploding text into scored
  sentences — lateral-join shape with an unnest-based oracle;
- row-at-a-time `F.udf` is deliberately absent from the operator set: it is
  10-100x slower than a pandas UDF and never necessary (pyspark_guide
  'UDFs are the slow path').
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.sources.tables import table


def _balance_risk_kernel(acctbal: pd.Series, n_orders: pd.Series) -> pd.Series:
    """Toy vectorized scoring kernel: IEEE-exact arithmetic only (no
    transcendentals), so the DuckDB oracle reproduces it exactly."""
    return acctbal / 1000.0 + n_orders.astype("float64") * 0.25


def _balance_risk_udf():
    # pandas_udf parses its return type against the ACTIVE session, so the
    # decorator must run inside a query builder, not at module import
    return F.pandas_udf(_balance_risk_kernel, "double")


@registry.query(
    "u1_pandas_udf_score",
    """
    SELECT c_custkey,
           CAST(c_acctbal AS DOUBLE) / 1000.0
             + CAST(n_orders AS DOUBLE) * 0.25 AS risk_score
    FROM (
      SELECT c_custkey, c_acctbal, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_acctbal
    ) x
    ORDER BY c_custkey
    """,
)
def u1_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    score = _balance_risk_udf()
    return (
        per_cust.select(
            "c_custkey",
            score(F.col("c_acctbal").cast("double"), F.col("n_orders")).alias(
                "risk_score"
            ),
        )
        .orderBy("c_custkey")
    )


@registry.query(
    "u2_udtf_token_explode",
    """
    SELECT doc_id, pos, token, CAST(length(token) AS BIGINT) AS token_len
    FROM (
      SELECT doc_id,
             unnest(string_split(lower(trim(text)), ' ')) AS token,
             CAST(unnest(range(1, len(string_split(lower(trim(text)), ' ')) + 1)) AS BIGINT) AS pos
      FROM documents
      WHERE doc_id < 20
    ) t
    ORDER BY doc_id, pos
    """,
)
def u2_udtf_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): text -> (pos, token, len) rows.
    The genuinely-useful version of this runs JVM-side (posexplode, see
    textstats.py); the UDTF form documents the registration surface."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: bigint, token: string, token_len: bigint")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            # strip(" ") not strip(): SQL trim() removes only spaces, while
            # Python's bare strip() also eats tabs/newlines — keep parity
            for i, tok in enumerate(text.strip(" ").lower().split(" "), start=1):
                yield i, tok, len(tok)

    spark.udtf.register("tokenize_udtf", Tokenize)
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    docs.createOrReplaceTempView("__u2_docs")
    return spark.sql(
        """
        SELECT doc_id, pos, token, token_len
        FROM __u2_docs, LATERAL tokenize_udtf(text)
        ORDER BY doc_id, pos
        """
    )


@registry.query(
    "u3_applyinpandas_zscore",
    """
    SELECT doc_id, lang,
           CASE WHEN sd = 0 THEN 0.0
                ELSE (CAST(n_chars AS DOUBLE) - mu) / sd END AS z_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             CAST(SUM(n_chars) OVER w AS DOUBLE) / COUNT(*) OVER w AS mu,
             sqrt((CAST(SUM(n_chars * n_chars) OVER w AS DOUBLE)
                   - CAST(SUM(n_chars) OVER w AS DOUBLE)
                     * CAST(SUM(n_chars) OVER w AS DOUBLE) / COUNT(*) OVER w)
                  / (COUNT(*) OVER w - 1)) AS sd
      FROM documents
      WINDOW w AS (PARTITION BY lang)
    ) stats
    ORDER BY doc_id
    """,
)
def u3_applyinpandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: z-score n_chars within each language.

    Determinism across engines: the group moments are computed from EXACT
    int64 sums (n_chars and its square fit comfortably), so mean/std are
    single double divisions on identical integers — no order-dependent float
    accumulation. The oracle spells out the same sum/sumsq formula.
    """
    import numpy as np

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["n_chars"].to_numpy(dtype=np.int64)
        n = x.size
        s = int(x.sum())
        sq = int((x * x).sum())
        mu = s / n
        sd = ((sq - (s * s) / n) / (n - 1)) ** 0.5 if n > 1 else 0.0
        z = (x.astype(np.float64) - mu) / sd if sd != 0 else np.zeros(n)
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "z_chars": z}
        )

    return (
        docs.groupBy("lang")
        .applyInPandas(zscore, "doc_id long, lang string, z_chars double")
        .orderBy("doc_id")
    )


@registry.query(
    "u4_grouped_agg_udf_median",
    """
    SELECT event_type,
           quantile_cont(CAST(value AS DOUBLE), 0.5) AS median_value,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def u4_grouped_agg_udf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (Series -> scalar inside groupBy().agg())
    — the fourth and last Python extension surface (after u1 scalar pandas
    UDF, u2 UDTF, u3 grouped-map). Median via explicit sort + linear
    interpolation: order-independent, so it matches quantile_cont exactly."""
    import numpy as np

    def median_kernel(v: pd.Series) -> float:
        x = np.sort(v.to_numpy(dtype=np.float64))
        n = x.size
        if n == 0:
            return float("nan")
        mid = (n - 1) / 2
        lo, hi = int(mid), -int(-mid // 1)
        return float(x[lo] + (x[hi] - x[lo]) * (mid - lo))

    def count_kernel(v: pd.Series) -> int:
        return int(v.size)

    # a grouped-agg pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — so the row count is a pandas agg too.
    # The Series -> scalar type hints select GROUPED_AGG (the explicit
    # PandasUDFType enum is deprecated, SPARK-28264).
    median_udf = F.pandas_udf(median_kernel, "double")
    count_udf = F.pandas_udf(count_kernel, "long")
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            median_udf(F.col("value").cast("double")).alias("median_value"),
            count_udf(F.col("value")).alias("n"),
        )
        .orderBy("event_type")
    )


@registry.query(
    "u5_mapinarrow_charclasses",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS chars,
           CAST(SUM(strlen(text)) AS BIGINT) AS bytes,
           CAST(SUM(length(regexp_replace(text, '[^aeiou]', '', 'g')))
                AS BIGINT) AS vowels
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def u5_mapinarrow_charclasses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the fifth Python extension surface, and the cheapest: the
    batch is handed to Python as a pyarrow RecordBatch with ZERO
    pandas/numpy conversion on either side, so the only per-row cost is the
    Arrow compute kernels themselves (C++, SIMD). The right tool when the
    transform is expressible in pyarrow.compute and the pandas object model
    would be pure overhead — here per-document codepoint/byte/vowel counts,
    which Spark then aggregates JVM-side per language. Counts are integers,
    so the SQL oracle (length / strlen / regexp_replace) is hash-exact."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = (
        "lang string, n_chars long, n_bytes long, n_vowels long"
    )

    def classify(batches):
        for batch in batches:
            text = batch.column(batch.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("lang")),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(
                        pc.count_substring_regex(text, "[aeiou]"), pa.int64()
                    ),
                ],
                names=["lang", "n_chars", "n_bytes", "n_vowels"],
            )

    docs = table(spark, sf_dir, "documents").select("lang", "text")
    return (
        docs.mapInArrow(classify, out_schema)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
            F.sum("n_bytes").alias("bytes"),
            F.sum("n_vowels").alias("vowels"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# u6 — SQL-defined scalar UDF (CREATE FUNCTION ... RETURN, Spark 4): the
# sixth and CHEAPEST extension surface. Unlike every Python path (u1-u5),
# a SQL UDF is inlined by Catalyst into the calling plan — the physical
# plan shows the CASE expression directly inside the scan-side Project
# (verified: single lineitem scan, partial aggregation, whole-stage
# codegen, zero function-call overhead or serialization boundary). At
# 100 TB this is the only UDF kind that costs literally nothing over
# writing the expression inline, while still giving the catalog a named,
# reusable, SQL-visible abstraction. Quantity sum rides DECIMAL so the
# float total is order-independent (functions/exact.py discipline).
# ---------------------------------------------------------------------------
@registry.query(
    "u6_sql_udf_bands",
    """
    SELECT CASE WHEN l_quantity < 10 THEN 'small'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'large' END AS band,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY 1
    ORDER BY band
    """,
)
def u6_sql_udf_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION __u6_qty_band(q DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN q < 10 THEN 'small'
                    WHEN q < 30 THEN 'mid'
                    ELSE 'large' END
        """
    )
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("__u6_lineitem")
    return spark.sql(
        """
        SELECT __u6_qty_band(l_quantity) AS band,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_qty
        FROM __u6_lineitem
        GROUP BY __u6_qty_band(l_quantity)
        ORDER BY band
        """
    )


# ---------------------------------------------------------------------------
# u7 — SQL SCRIPTING (BEGIN/DECLARE/WHILE, Spark 4): procedural control flow
# executed ENGINE-SIDE, the surface that replaces driver-side Python loops
# for iterative analytics. The script runs a bisection: the smallest whole-
# dollar price cutoff P such that >= 90% of parts retail at <= P — an
# exact order statistic computed WITHOUT a sort or a window, via
# O(log(price_range)) ~ 11 filtered-aggregate probes. Scale shape: each
# probe is one distributed 1-column aggregate with the predicate pushed to
# the scan; the loop state (lo/hi/counts) is pure control plane — at 100 TB
# this trades one full global sort for ~11 cheap scans, the classic
# distributed-selection trade. The oracle computes the same statistic
# directly (cutoff = ceil of the target-rank order statistic — equal by
# minimality of the bisection's fixpoint), so the driver cross-checks the
# iterative path against the closed form. Integer-exact end to end.
# ---------------------------------------------------------------------------
@registry.query(
    "u7_sql_script_bisection",
    """
    WITH t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST((9 * COUNT(*) + 9) // 10 AS BIGINT) AS target
      FROM part
    ),
    ranked AS (
      SELECT p_retailprice,
             ROW_NUMBER() OVER (ORDER BY p_retailprice) AS rk
      FROM part
    ),
    k AS (
      SELECT CAST(ceil(r.p_retailprice) AS BIGINT) AS cutoff
      FROM ranked r, t WHERE r.rk = t.target
    )
    SELECT k.cutoff AS cutoff_dollars,
           t.n AS n_parts,
           t.target AS target_rank,
           (SELECT COUNT(*) FROM part WHERE p_retailprice <= k.cutoff)
             AS n_within
    FROM t, k
    """,
)
def u7_sql_script_bisection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parser feature flag: scope it to this call instead of leaking it into
    # every later query in the shared session (review finding r7) — the
    # script is parsed and its procedural body executed inside spark.sql(),
    # so restoring afterwards cannot affect the returned (literal-backed)
    # final SELECT
    prior = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    table(spark, sf_dir, "part").createOrReplaceTempView("__u7_part")
    try:
        return spark.sql(
            """
        BEGIN
          DECLARE n BIGINT;
          DECLARE target BIGINT;
          DECLARE lo BIGINT DEFAULT 0;
          DECLARE hi BIGINT;
          DECLARE mid BIGINT;
          DECLARE cnt BIGINT;
          DECLARE nw BIGINT;
          SET n = (SELECT COUNT(*) FROM __u7_part);
          SET target = (9 * n + 9) DIV 10;
          SET hi = (SELECT CAST(ceil(MAX(p_retailprice)) AS BIGINT)
                    FROM __u7_part);
          WHILE lo < hi DO
            SET mid = (lo + hi) DIV 2;
            SET cnt = (SELECT COUNT(*) FROM __u7_part
                       WHERE p_retailprice <= mid);
            IF cnt >= target THEN
              SET hi = mid;
            ELSE
              SET lo = mid + 1;
            END IF;
          END WHILE;
          SET nw = (SELECT COUNT(*) FROM __u7_part WHERE p_retailprice <= lo);
          SELECT lo AS cutoff_dollars, n AS n_parts, target AS target_rank,
                 nw AS n_within;
        END
        """
        )
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prior)


# ---------------------------------------------------------------------------
# u8 — applyInArrow: the GROUPED twin of u5's mapInArrow, completing the
# Arrow-native pair (map-side stream vs shuffle-then-per-group Table). The
# whole language partition arrives as ONE pyarrow.Table and the function
# may emit any number of rows — here the per-language top-3 longest
# documents via pc.sort_indices + take, all C++ kernels, zero pandas
# objects on either side. Scale note: grouped-map parallelism is |groups|
# (6 languages -> 6 tasks), so this surface is for group-bounded state the
# built-ins can't express; a plain per-group top-k should ship as the
# declarative WindowGroupLimit plan instead (s6/w1) — u8 exists to pin the
# API surface and its exact semantics, like u1–u6 before it. The sort key
# (n_chars DESC, doc_id ASC) is a total order, so the SQL oracle's
# ROW_NUMBER twin is hash-exact.
# ---------------------------------------------------------------------------
@registry.query(
    "u8_applyinarrow_toplen",
    """
    WITH ranked AS (
      SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY length(text) DESC, doc_id) AS rn
      FROM documents
    )
    SELECT lang, CAST(rn AS INT) AS rnk, doc_id, n_chars
    FROM ranked WHERE rn <= 3
    ORDER BY lang, rnk
    """,
)
def u8_applyinarrow_toplen(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def top3(tbl: "pa.Table") -> "pa.Table":
        narrowed = pa.table(
            {
                "lang": tbl.column("lang"),
                "doc_id": tbl.column("doc_id"),
                "n_chars": pc.cast(pc.utf8_length(tbl.column("text")), pa.int64()),
            }
        )
        idx = pc.sort_indices(
            narrowed,
            sort_keys=[("n_chars", "descending"), ("doc_id", "ascending")],
        )[:3]
        top = narrowed.take(idx)
        return top.add_column(
            1, "rnk", pa.array(range(1, top.num_rows + 1), pa.int32())
        )

    docs = table(spark, sf_dir, "documents").select("lang", "doc_id", "text")
    return (
        docs.groupBy("lang")
        .applyInArrow(top3, "lang string, rnk int, doc_id long, n_chars long")
        .orderBy("lang", "rnk")
    )


# ---------------------------------------------------------------------------
# u9 — POLYMORPHIC UDTF with a TABLE argument (Spark 4): the function
# itself — not the caller — declares how its input must be distributed,
# via analyze(): AnalyzeResult(partitionBy=[lang], orderBy=[doc_id]), so
# `run_stats(TABLE(...))` needs no PARTITION BY clause and can never be
# mis-called with the wrong clustering; analyze() also validates the
# input schema at PLAN time (a missing column fails analysis, not a task
# 4 hours into a 100 TB run). The body computes a genuinely ORDER-
# dependent per-group statistic — the longest strictly-increasing run of
# doc lengths by doc_id — which is why the ordered-table form exists:
# plain aggregates can't see order, and the SQL twin needs the full
# lag+cumsum island machinery. One shuffle on lang; per-group state is
# O(1) (prev value, run counters). u2 pins the LATERAL row-UDTF surface;
# u9 pins the table-argument surface.
# ---------------------------------------------------------------------------
@registry.query(
    "u9_udtf_table_partition",
    """
    WITH s AS (
      SELECT lang, doc_id, n_chars,
             CASE WHEN lag(n_chars) OVER w IS NULL
                       OR n_chars <= lag(n_chars) OVER w
                  THEN 1 ELSE 0 END AS brk
      FROM documents
      WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
    ),
    g AS (
      SELECT lang, n_chars,
             SUM(brk) OVER (PARTITION BY lang ORDER BY doc_id) AS grp
      FROM s
    ),
    runs AS (SELECT lang, grp, COUNT(*) AS run_len FROM g GROUP BY lang, grp)
    SELECT lang,
           (SELECT COUNT(*) FROM documents d WHERE d.lang = runs.lang)
             AS n_docs,
           CAST(MAX(run_len) AS BIGINT) AS longest_run,
           (SELECT MAX(n_chars) FROM documents d WHERE d.lang = runs.lang)
             AS peak_len
    FROM runs GROUP BY lang
    ORDER BY lang
    """,
)
def u9_udtf_table_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructType,
    )
    from pyspark.sql.udtf import (
        AnalyzeArgument,
        AnalyzeResult,
        OrderingColumn,
        PartitioningColumn,
    )

    @udtf
    class RunStats:
        @staticmethod
        def analyze(tbl: AnalyzeArgument) -> AnalyzeResult:
            cols = {f.name for f in tbl.dataType.fields}
            for need in ("lang", "doc_id", "n_chars"):
                if need not in cols:
                    raise Exception(f"run_stats: input table lacks '{need}'")
            schema = (
                StructType()
                .add("lang", StringType())
                .add("n_docs", LongType())
                .add("longest_run", LongType())
                .add("peak_len", LongType())
            )
            return AnalyzeResult(
                schema=schema,
                partitionBy=[PartitioningColumn("lang")],
                orderBy=[OrderingColumn("doc_id")],
            )

        def __init__(self):
            self.lang = None
            self.n = 0
            self.prev = None
            self.run = 0
            self.best = 0
            self.peak = None

        def eval(self, row):
            self.lang = row["lang"]
            self.n += 1
            nc = row["n_chars"]
            self.run = self.run + 1 if (
                self.prev is not None and nc > self.prev
            ) else 1
            self.best = max(self.best, self.run)
            self.peak = nc if self.peak is None else max(self.peak, nc)
            self.prev = nc

        def terminate(self):
            if self.lang is not None:
                yield self.lang, self.n, self.best, self.peak

    spark.udtf.register("run_stats", RunStats)
    docs = table(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    docs.createOrReplaceTempView("__u9_docs")
    return spark.sql(
        "SELECT * FROM run_stats(TABLE(__u9_docs)) ORDER BY lang"
    )
