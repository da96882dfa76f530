"""Scale patterns that only matter beyond toy data, made testable locally:
bucketed co-located joins (no shuffle at join time) and salted skew joins
(row-identical results, wider hot-key distribution)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tts_etl_pipeline_spark.functions.skew import salted_join
from tts_etl_pipeline_spark.plans.inspect import count_shuffles, physical_plan
from tts_etl_pipeline_spark.sources.bucketing import (
    drop_bucketed,
    read_bucketed,
    write_bucketed,
)
from tts_etl_pipeline_spark.sources.tables import table


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Pre-bucketing both sides on the join key makes the join read
    co-located buckets — zero Exchange nodes at query time. This is the
    at-rest layout a 100 TB deployment uses for its hottest join.
    Goes through sources/bucketing.py, the library surface for the pattern."""
    # spark.sql.warehouse.dir is a static conf — bucketed tables land in the
    # session's default ./spark-warehouse (gitignored) and are dropped below
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    write_bucketed(li, "li_bucketed", ["l_orderkey"], 8)
    write_bucketed(orders, "orders_bucketed", ["o_orderkey"], 8)

    lb = read_bucketed(spark, "li_bucketed")
    ob = read_bucketed(spark, "orders_bucketed")
    # disable broadcast so the join strategy decision is about shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy().count()
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        # bucket co-location: no Exchange below the join (only the final agg)
        n_shuffles = count_shuffles(joined)
        assert n_shuffles <= 1, plan
        # correctness unchanged
        expected = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.collect()[0]["count"] == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        drop_bucketed(spark, "li_bucketed")
        drop_bucketed(spark, "orders_bucketed")


def test_write_bucketed_rejects_bad_bucket_count(spark):
    df = spark.range(3)
    with pytest.raises(ValueError):
        write_bucketed(df, "never_written", ["id"], 0)


def test_salted_join_matches_unsalted(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    # simulate a hot key: every third row collapses onto one key
    skewed = li.withColumn(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(1)).otherwise(F.col("l_orderkey")),
    ).withColumnRenamed("l_orderkey", "k")
    dim = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"), "o_orderpriority")
    )
    plain = skewed.join(dim, "k").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    )
    salted = salted_join(skewed, dim, "k", n_salts=4).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(a) > 0


def test_salted_join_left_outer(spark, sf_dir):
    fact = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (99, "orphan")], "k long, v string"
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    out = salted_join(fact, dim, "k", n_salts=3, how="left").collect()
    assert len(out) == 4
    names = {(r["k"], r["v"]): r["name"] for r in out}
    assert names[(99, "orphan")] is None


def test_scalable_topk_matches_window_topk(spark, sf_dir):
    """The heap-merge top-k must rank identically to the window-based v1
    (cosine VALUES differ in low bits — numpy matmul is not a sequential
    fold — but the neighbor ranking must agree)."""
    from tts_etl_pipeline_spark.operators.similarity import (
        N_QUERY_VECS,
        topk_cosine_scalable,
        v1_topk_cosine_exact,
    )
    from tts_etl_pipeline_spark.sources.tables import table

    emb = table(spark, sf_dir, "embeddings")
    fast = topk_cosine_scalable(emb, list(range(N_QUERY_VECS)), k=10)
    slow = v1_topk_cosine_exact(spark, sf_dir)
    a = {(r["q_id"], r["rn"]): r["n_id"] for r in fast.collect()}
    b = {(r["q_id"], r["rn"]): r["n_id"] for r in slow.collect()}
    assert a == b and len(a) == N_QUERY_VECS * 10


def test_label_propagation_fixpoint_guard(spark):
    """d8's connected components must never silently return unconverged
    labels: a chain longer than the iteration cap raises instead of
    mislabeling (VERDICT r2 item 3), and a chain within the cap converges
    to the true single component."""
    from tts_etl_pipeline_spark.operators.dedup import _min_label_propagation

    def chain(n):
        edges = [(i, i + 1) for i in range(n - 1)]
        return spark.createDataFrame(
            edges + [(b, a) for a, b in edges], "src long, dst long"
        )

    with pytest.raises(RuntimeError, match="did not converge"):
        _min_label_propagation(chain(30), max_iters=5)

    labels = {
        r["node"]: r["label"]
        for r in _min_label_propagation(chain(8), max_iters=10).collect()
    }
    assert labels == {i: 0 for i in range(8)}


def test_materialize_uses_reliable_checkpoint_when_configured(spark, sf_dir, tmp_path):
    """materialize() must switch every operator to fault-tolerant
    checkpointing when a checkpoint dir is configured — same results, with
    the intermediates written to the reliable dir instead of executor-local
    block storage (VERDICT r2 item 8). Writer queries (j5: write, read
    back, drop the scratch dir) included."""
    from tts_etl_pipeline_spark.functions.checkpoints import materialize
    from tts_etl_pipeline_spark.operators.dedup import d3_jaccard_neardup_pairs
    from tts_etl_pipeline_spark.operators.grouping import s5_bag_semantics
    from tts_etl_pipeline_spark.operators.relational import j5_pyds_writer_roundtrip

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    base_s5 = sorted(map(tuple, s5_bag_semantics(spark, sf_dir).collect()))
    base_d3 = sorted(map(tuple, d3_jaccard_neardup_pairs(spark, sf_dir).collect()))
    base_j5 = sorted(map(tuple, j5_pyds_writer_roundtrip(spark, sf_dir).collect()))

    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        assert sorted(map(tuple, s5_bag_semantics(spark, sf_dir).collect())) == base_s5
        assert sorted(map(tuple, d3_jaccard_neardup_pairs(spark, sf_dir).collect())) == base_d3
        assert any(ckpt.rglob("rdd-*")), "no reliable checkpoint was written"
        before = set(ckpt.rglob("rdd-*"))
        j5 = j5_pyds_writer_roundtrip(spark, sf_dir)
        assert set(ckpt.rglob("rdd-*")) - before, "j5 bypassed materialize"
        assert sorted(map(tuple, j5.collect())) == base_j5
        small = materialize(spark.range(5))
        assert small.count() == 5
    finally:
        # reset the context's checkpointDir Option to None so the rest of
        # the session-scoped suite keeps using localCheckpoint
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        assert sc.getCheckpointDir() is None


def test_scratch_dir_removed_when_body_raises():
    """A writer that fails mid-write must not leak its temp directory."""
    import os

    from tts_etl_pipeline_spark.functions.checkpoints import scratch_dir

    with pytest.raises(RuntimeError, match="write failed"):
        with scratch_dir("test_scratch_") as tmp:
            seen = tmp
            with open(os.path.join(tmp, "part-0.parquet"), "wb") as f:
                f.write(b"partial")
            raise RuntimeError("write failed")
    assert os.path.basename(seen).startswith("test_scratch_")
    assert not os.path.exists(seen)


def test_salted_join_spreads_duplicate_hot_key_rows(spark):
    """The salt must come from row POSITION, not row content: a hot key's
    rows are often bit-identical duplicates, and a content hash would land
    them all in one salt bucket, defeating the salting entirely."""
    from tts_etl_pipeline_spark.functions.skew import SALT_COL, salted_join

    # 400 identical rows of one hot key — the worst case for a content hash
    fact = spark.createDataFrame([(1, "same")] * 400, "k long, v string")
    dim = spark.createDataFrame([(1, "one")], "k long, name string")

    salted = fact.withColumn(
        SALT_COL,
        F.pmod(F.monotonically_increasing_id(), F.lit(4)).cast("int"),
    )
    n_buckets = salted.select(SALT_COL).distinct().count()
    assert n_buckets >= 2, "identical hot-key rows collapsed into one bucket"

    out = salted_join(fact, dim, "k", n_salts=4)
    assert out.count() == 400  # row-identical to the unsalted join
    with pytest.raises(ValueError):
        salted_join(fact, dim, "k", how="cross")


@pytest.mark.slowtier  # 53 s: the 63-round propagation side of the chain is
# the whole cost, and both algorithms carry their own ground-truth pins in
# the default lane (big-star vs union-find in test_properties + the 5k-node
# stress below; propagation's fixpoint guard in test_scale_patterns) — the
# cross-equivalence re-run stays one `-m slowtier` away (r13 verdict item 1)
def test_bigstar_components_match_propagation(spark):
    """large-star/small-star (functions/graph.py) and min-label propagation
    must agree exactly — same (node, component-min) fixpoint — on chains
    (the propagation worst case) and random graphs. The big-star variant is
    the 100 TB path: O(log n) rounds vs O(diameter)."""
    import random

    from tts_etl_pipeline_spark.functions.graph import connected_components
    from tts_etl_pipeline_spark.operators.dedup import _min_label_propagation

    def both(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        lsss = {
            (r["node"], r["label"])
            for r in connected_components(df).collect()
        }
        sym = df.unionAll(df.selectExpr("dst as src", "src as dst"))
        prop = {
            (r["node"], r["label"])
            for r in _min_label_propagation(sym, max_iters=200).collect()
        }
        return lsss, prop

    # a 64-node chain: diameter 63 >> the 50-round cap would doom a
    # propagation-style algorithm; star contraction handles it easily
    lsss, prop = both([(i, i + 1) for i in range(63)])
    assert lsss == prop == {(i, 0) for i in range(64)}

    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    edges = [e for e in edges if e[0] != e[1]]
    lsss, prop = both(edges)
    assert lsss == prop and len(lsss) > 0


def test_bigstar_components_5k_node_stress(spark):
    """graph.py vs a driver-side union-find oracle on a 5,000-node random
    graph (~6,000 edges => many nontrivial components): the O(log n)
    round bound must hold far beyond the toy sizes of the equivalence
    test, and labels must be exactly the component minimum."""
    import random

    from tts_etl_pipeline_spark.functions.graph import connected_components

    rng = random.Random(7)
    n = 5000
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(6000)]
    edges = [e for e in edges if e[0] != e[1]]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    expected = {v: find(v) for v in sorted(touched)}
    # union-find roots path-compress toward the minimum because we always
    # parent the larger root under the smaller — find(v) IS the comp min
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in connected_components(df).collect()}
    assert got == expected


def test_bucket_pruning_reads_one_bucket(spark, sf_dir):
    """A point filter on the bucket column must prune the scan to the one
    matching bucket (SelectedBucketsCount 1 of 8) — at 100 TB that's a
    key-lookup reading 1/8 of the files with zero index structures.
    autoBucketedScan is disabled for the check because the planner turns
    bucketed scans off when nothing downstream consumes the distribution —
    pruning itself is what we assert."""
    from tts_etl_pipeline_spark.sources.bucketing import (
        drop_bucketed,
        read_bucketed,
        write_bucketed,
    )

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(orders, "orders_bp", ["o_orderkey"], 8)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        b = read_bucketed(spark, "orders_bp").filter(F.col("o_orderkey") == 7)
        plan = physical_plan(b)
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        assert b.count() == orders.filter(F.col("o_orderkey") == 7).count()
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
        drop_bucketed(spark, "orders_bp")


def test_partial_topn_per_key_hot_key_superset_and_exactness(spark):
    """functions/topn.py: the per-batch partial top-N must (a) contain every
    global top-N row (subset-monotonicity — a pruned global survivor would
    silently corrupt c8), (b) actually prune a hot key spread across
    partitions, and (c) leave the exact windowed top-N unchanged."""
    from pyspark.sql.window import Window as W

    from tts_etl_pipeline_spark.functions.topn import partial_topn_per_key

    # hot key: 2000 rows of 'hot' spread over 16 partitions; 50 of 'cold'
    rows = [(i, "hot" if i < 2000 else "cold", float(i % 977)) for i in range(2050)]
    df = spark.createDataFrame(rows, "id bigint, k string, score double").repartition(16)
    n = 5
    pruned = partial_topn_per_key(df, ["k"], [("score", False), ("id", True)], n)

    w = W.partitionBy("k").orderBy(F.desc("score"), "id")
    exact = (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n)
        .select("id", "k", "score")
    )
    via_pruned = (
        pruned.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n)
        .select("id", "k", "score")
    )
    exact_rows = {tuple(r) for r in exact.collect()}
    pruned_rows = {tuple(r) for r in pruned.collect()}
    assert exact_rows <= pruned_rows  # (a) superset of global survivors
    assert len(pruned_rows) < 2050  # (b) the hot key got pruned pre-shuffle
    assert {tuple(r) for r in via_pruned.collect()} == exact_rows  # (c)


def test_c9_mixture_downsample_flattens_skewed_corpus(spark, tmp_path):
    """c9 on a deliberately skewed corpus (the fixture's sources are
    balanced): the dominant source is downsampled toward sqrt-mass parity,
    the lightest keeps rate 10000, and kept mass ordering compresses."""
    import shutil

    from tts_etl_pipeline_spark.operators.curation import c9_mixture_downsample

    rows = []
    did = 0
    for src, n_docs, chars in [("big", 900, 200), ("mid", 90, 200), ("tiny", 10, 200)]:
        for _ in range(n_docs):
            rows.append((did, "x" * chars, "en", src, chars))
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    sf_dir = str(tmp_path / "skew")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    out = {r["source"]: r.asDict() for r in c9_mixture_downsample(spark, sf_dir).collect()}
    shutil.rmtree(sf_dir, ignore_errors=True)
    assert out["tiny"]["rate_bp"] == 10000 and out["tiny"]["n_kept"] == 10
    # rate = sqrt(mass_min/mass): big 10x mid => rate ratio sqrt(1/10)
    assert out["big"]["rate_bp"] == 1054 and out["mid"]["rate_bp"] == 3333
    # realized kept counts land near rate * n_docs (hash-bucket noise)
    assert 60 <= out["big"]["n_kept"] <= 130
    assert 20 <= out["mid"]["n_kept"] <= 40
    # the 90x raw spread compresses (toward ~9.5x at sqrt temperature)
    assert out["big"]["n_kept"] < 0.2 * out["big"]["n_docs"]


# --------------------------------------------------------------------------
# Z-order clustering (sources/zorder.py)
# --------------------------------------------------------------------------
def test_zorder_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """The measurable Z-order contract: a linear sort on o_orderdate prunes
    date predicates but NOT o_custkey predicates; the Z-ordered layout
    prunes BOTH (each somewhat coarser than the dedicated sort). Evaluated
    purely from parquet footer min/max — exactly what a 100 TB reader's
    file-skipping uses."""
    from tts_etl_pipeline_spark.sources.tables import table
    from tts_etl_pipeline_spark.sources.zorder import (
        file_column_ranges,
        linear_write,
        pruning_ratio,
        zorder_write,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey"
    )
    lin, zo = str(tmp_path / "lin"), str(tmp_path / "zo")
    linear_write(orders, "o_orderdate", lin, 16)
    zorder_write(orders, ["o_orderdate", "o_custkey"], zo, 16)

    cols = ["o_orderdate", "o_custkey"]
    lin_ranges = file_column_ranges(lin, cols)
    zo_ranges = file_column_ranges(zo, cols)
    assert len(lin_ranges) >= 8 and len(zo_ranges) >= 8

    # predicate windows ~ 1/8 of each domain
    import datetime

    # footer stats surface DATE columns as datetimes — compare like for like
    probe = next(r["o_orderdate"] for r in lin_ranges if r.get("o_orderdate"))
    mk = (
        datetime.datetime
        if isinstance(probe[0], datetime.datetime)
        else datetime.date
    )
    date_lo, date_hi = mk(1994, 1, 1), mk(1994, 10, 1)
    ck_min, ck_max = orders.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    span = (ck_max - ck_min) // 8
    ck_lo, ck_hi = ck_min + 3 * span, ck_min + 4 * span

    lin_date = pruning_ratio(lin_ranges, "o_orderdate", date_lo, date_hi)
    lin_cust = pruning_ratio(lin_ranges, "o_custkey", ck_lo, ck_hi)
    zo_date = pruning_ratio(zo_ranges, "o_orderdate", date_lo, date_hi)
    zo_cust = pruning_ratio(zo_ranges, "o_custkey", ck_lo, ck_hi)

    # linear: near-perfect on the sort column, useless on the other
    assert lin_date >= 0.5
    assert lin_cust == 0.0
    # z-order: real pruning on BOTH columns
    assert zo_date >= 0.25, (zo_date, zo_ranges)
    assert zo_cust >= 0.25, (zo_cust, zo_ranges)


def test_morton_key_interleaves_bits():
    """Library-level check of the interleave: zkey of (rank_a, rank_b) must
    equal the reference Morton interleave of the two ntile ranks."""
    import numpy as np

    def morton2(a: int, b: int, bits: int) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return z

    # synthetic frame with known uniform ranks: values 0..255 ARE the ranks
    from tts_etl_pipeline_spark.sources.zorder import morton_key

    import pyspark.sql.functions as F  # noqa: F811

    from tests.conftest import SF_DIR  # noqa: F401  (session spark fixture)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[2]"
    ).getOrCreate()
    n = 256
    df = spark.range(n).select(
        F.col("id").alias("a"), ((F.col("id") * 37) % n).alias("b")
    )
    out = {(r["a"], r["b"]): r["zkey"] for r in morton_key(df, ["a", "b"]).collect()}
    for (a, b), z in out.items():
        assert z == morton2(int(a), int(b), 8), (a, b, z)


def test_d3_absolute_df_cap_bounds_posting_lists(spark, tmp_path, monkeypatch):
    """The r6 posting-list hard bound: the effective df cap is
    LEAST(frac * n_docs, MAX_DF_ABSOLUTE), so a token whose df satisfies
    the relative cap but exceeds the absolute one is still pruned —
    exactly the disjoint-domain-growth case where the relative cap alone
    goes quadratic (BASELINE.md round-6 sf1 measurement)."""
    import tts_etl_pipeline_spark.operators.dedup as dd

    docs = [(i, "w x y z", "en", "s", 7) for i in range(1, 5)]  # df(w..z)=4
    docs += [(i, f"junk{i} alone{i}", "en", "s", 10) for i in range(5, 11)]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    # default absolute cap (2500) never binds here: relative cap = 5 keeps
    # the df=4 tokens and docs 1-4 are mutual exact near-dups
    pairs = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dd.d3_jaccard_neardup_pairs(spark, sf).collect()
    )
    assert pairs == [
        (a, b, 1.0) for a in range(1, 5) for b in range(a + 1, 5)
    ]
    # absolute cap below df=4: the hot tokens are pruned even though the
    # relative cap (5) would keep them -> no posting lists, no pairs
    monkeypatch.setattr(dd, "MAX_DF_ABSOLUTE", 2)
    assert dd.d3_jaccard_neardup_pairs(spark, sf).count() == 0
