"""Plan-shape assertions: the 100 TB design rules as executable checks.

A query that silently regresses to a shuffled dimension join or a full-column
scan still returns correct rows — only these tests catch it.
"""

from __future__ import annotations

import re

import pytest

from tts_etl_pipeline_spark.operators.dedup import d3_jaccard_neardup_pairs
from tts_etl_pipeline_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_local_supplier,
    q6_forecast_revenue,
    q13_customer_distribution,
)
from tts_etl_pipeline_spark.operators.similarity import v1_topk_cosine_exact
from tts_etl_pipeline_spark.plans import (
    count_shuffles,
    has_broadcast_join,
    physical_plan,
    pushed_filters,
    scan_columns,
)


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p and "LessThanOrEqual" in p for p in pushed)
    # column pruning: only the 7 needed columns, not all 11
    (cols,) = scan_columns(df)
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }
    # partial+final agg => exactly 1 exchange (r13 optimization: the final
    # presentation sort was dropped — driver hash is order-insensitive —
    # and the scan rebalance is a no-op at this fixture's size)
    assert count_shuffles(df) == 1


def test_q6_single_stage_no_join_shuffle(spark, sf_dir):
    df = q6_forecast_revenue(spark, sf_dir)
    # global scalar agg: one exchange for the final single-partition agg
    assert count_shuffles(df) <= 1
    assert any("l_discount" in p for p in pushed_filters(df))


def test_q3_broadcasts_customer(spark, sf_dir):
    df = q3_shipping_priority(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = physical_plan(df)
    # the only SortMergeJoin/shuffle join allowed is orders x lineitem
    assert plan.count("SortMergeJoin") <= 1


def test_q7_q8_single_fact_fact_join(spark, sf_dir):
    """q7/q8 push their nation/region restrictions below the fact-fact join:
    each plan may contain at most ONE shuffle join (lineitem x orders), with
    every dimension subset broadcast onto a fact side first."""
    from tts_etl_pipeline_spark.operators.relational import (
        q7_volume_shipping,
        q8_market_share,
    )
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    for fn in (q7_volume_shipping, q8_market_share):
        df = fn(spark, sf_dir)
        plan = physical_plan(df)
        # formatted plans mention each node twice (tree + detail header)
        assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 2, fn.__name__
        scans = scans_by_table(df)
        assert scans.get("lineitem", 0) == 1 and scans.get("orders", 0) == 1, (
            fn.__name__,
            scans,
        )


def test_q5_only_one_fact_shuffle_join(spark, sf_dir):
    plan = physical_plan(q5_local_supplier(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4  # cust/supp/nation/region
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q13_preaggregates_before_join(spark, sf_dir):
    plan = physical_plan(q13_customer_distribution(spark, sf_dir))
    # the orders-per-customer agg must sit BELOW the customer join: the
    # HashAggregate on o_custkey appears before the join node in the plan
    agg_pos = plan.find("Functions [1]: [partial_count(1)]")
    join_pos = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
    assert agg_pos != -1 and join_pos != -1 and agg_pos > join_pos  # formatted
    # plan lists leaves first; partial agg node id < join node id in text order


def test_v1_broadcasts_queries_not_corpus(spark, sf_dir):
    df = v1_topk_cosine_exact(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # corpus side must NOT be broadcast: the vec_id < 5 filter is on the
    # broadcast side's scan
    assert any("vec_id" in p and "LessThan" in p for p in pushed_filters(df))


def test_d3_no_cartesian(spark, sf_dir):
    plan = physical_plan(d3_jaccard_neardup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q11_no_global_window_no_fact_rescan(spark, sf_dir):
    from tts_etl_pipeline_spark.operators.relational import q11_important_parts
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = q11_important_parts(spark, sf_dir)
    plan = physical_plan(df)
    # the part-grain pre-agg is checkpointed: neither the main branch nor the
    # global-total branch rescans lineitem, and the total folds via a
    # partial+final aggregate — NO unpartitioned WindowExec (which would
    # drag the whole part grain through one task at 100 TB)
    scans = scans_by_table(df)
    assert scans.get("lineitem", 0) == 0, scans
    assert scans.get("part", 0) == 1, scans
    assert "Window" not in plan
    assert has_broadcast_join(df)


def test_w5_window_input_preaggregated(spark, sf_dir):
    from tts_etl_pipeline_spark.operators.windows import w5_range_frame_revenue

    df = w5_range_frame_revenue(spark, sf_dir)
    plan = physical_plan(df)
    # the RANGE-frame window must consume the (supplier, day) pre-aggregate,
    # not raw lineitem rows: HashAggregate appears below Window in the plan
    assert "Window" in plan and "HashAggregate" in plan
    # suppkey filter reaches the scan
    assert any("l_suppkey" in p for p in pushed_filters(df))


def test_no_duplicate_fact_scans(spark, sf_dir):
    """The two-grain queries must not pay a second fact-table scan: the
    second grain folds from the first via a window (q15/q17/q20) or a
    materialized intermediate (d3/t9 checkpoint the token index, so their
    plans contain no parquet scan of documents at all)."""
    from tts_etl_pipeline_spark.operators.relational import (
        q15_top_supplier,
        q17_small_quantity_revenue,
        q18_large_volume_customer,
        q20_dominant_suppliers,
    )
    from tts_etl_pipeline_spark.operators.textstats import t9_distinctive_tokens
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    for fn in (
        q17_small_quantity_revenue,
        q18_large_volume_customer,
        q20_dominant_suppliers,
    ):
        scans = scans_by_table(fn(spark, sf_dir))
        assert scans.get("lineitem", 0) == 1, (fn.__name__, scans)
    # q15 checkpoints its supplier-grain pre-agg: zero lineitem scans remain
    # in the final plan, and no unpartitioned window computes the global max
    q15 = q15_top_supplier(spark, sf_dir)
    assert scans_by_table(q15).get("lineitem", 0) == 0
    assert "Window" not in physical_plan(q15)
    assert scans_by_table(t9_distinctive_tokens(spark, sf_dir)).get("documents", 0) == 0
    assert scans_by_table(d3_jaccard_neardup_pairs(spark, sf_dir)).get("documents", 0) == 0
    # s5's two bag ops slice one checkpointed projection (not 4 fact scans);
    # h1's hour/day grains fold from the checkpointed minute grain
    from tts_etl_pipeline_spark.operators.events import h1_time_rollup_hierarchy
    from tts_etl_pipeline_spark.operators.grouping import s5_bag_semantics

    assert scans_by_table(s5_bag_semantics(spark, sf_dir)).get("lineitem", 0) == 0
    assert scans_by_table(h1_time_rollup_hierarchy(spark, sf_dir)).get("events", 0) == 0


def test_c6_single_scan_broadcast_report_join(spark, sf_dir):
    """c6's funnel: documents scanned zero times in the final plan (the
    narrow per-doc projection is checkpointed), the per-language report
    join is broadcast, and no Window appears anywhere — the only heavy
    shuffle is the fingerprint groupBy."""
    from tts_etl_pipeline_spark.operators.curation import c6_corpus_curation_funnel
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = c6_corpus_curation_funnel(spark, sf_dir)
    plan = physical_plan(df)
    assert scans_by_table(df).get("documents", 0) == 0
    assert has_broadcast_join(df)
    assert "Window" not in plan


def test_v3_probe_join_broadcasts_queries(spark, sf_dir):
    """IVF probe: the corpus-with-cells side stays partitioned; only the
    (query x probed-cell) side — N_QUERY_VECS x N_PROBE rows — broadcasts."""
    from tts_etl_pipeline_spark.operators.similarity import v3_ivf_ann_topk

    df = v3_ivf_ann_topk(spark, sf_dir)
    assert has_broadcast_join(df)
    # final ranking window partitions by q_id — no unpartitioned window
    assert "Window" in physical_plan(df)
    assert "No Partition Defined" not in physical_plan(df)


def test_c7_t10_per_row_maps_no_extra_shuffle(spark, sf_dir):
    """The split and scrub are pure per-row maps: the only Exchanges are
    the tiny final aggregate (+ sort); no payload text or join shuffles."""
    from tts_etl_pipeline_spark.operators.curation import c7_train_val_test_split
    from tts_etl_pipeline_spark.operators.textstats import t10_pii_redaction

    for fn in (c7_train_val_test_split, t10_pii_redaction):
        df = fn(spark, sf_dir)
        plan = physical_plan(df)
        assert count_shuffles(df) <= 2, (fn.__name__, plan)  # agg + sort
        assert "Join" not in plan, fn.__name__


def test_d13_broadcast_semi_join_no_pair_blowup(spark, sf_dir):
    """Contamination check: benchmark grams broadcast into a left-semi join
    (training side never shuffles on gram; no gram-pair equi-join row set);
    the gram table is materialized once so documents is not re-scanned."""
    from tts_etl_pipeline_spark.operators.dedup import d13_benchmark_contamination
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = d13_benchmark_contamination(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    # gram table checkpointed: at most the train-count branch reads parquet
    assert scans_by_table(df).get("documents", 0) <= 1


def test_e6_one_fact_shuffle_shared_sort(spark, sf_dir):
    """The funnel's three stacked windows + per-user groupBy must ride ONE
    user_id Exchange (the groupBy reuses the window partitioning); the only
    other Exchange is the 1-row global rollup."""
    from tts_etl_pipeline_spark.operators.events import e6_conversion_funnel
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = e6_conversion_funnel(spark, sf_dir)
    plan = physical_plan(df)
    assert scans_by_table(df).get("events", 0) == 1
    assert count_shuffles(df) == 2, plan
    assert "No Partition Defined" not in plan


def test_t12_no_driver_roundtrip(spark, sf_dir):
    """t12's global prefix sum must be computed IN Spark: no driver-collected
    offsets relation (LocalTableScan) anywhere in the lineage, the tokenized
    projection materialized once (zero documents re-scans downstream), and
    the only unpartitioned window is the superbucket cumsum — a relation
    n/(PACK_BUCKET*PACK_SUPER) the corpus size, never the corpus itself."""
    from tts_etl_pipeline_spark.operators.textstats import t12_sequence_packing
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = t12_sequence_packing(spark, sf_dir)
    plan = physical_plan(df)
    # no driver round-trip proportional to corpus size: the old collect+
    # createDataFrame offsets showed up as a LocalTableScan — must be gone
    assert "LocalTableScan" not in plan
    # tokenized projection checkpointed once; no parquet re-scan per branch
    assert scans_by_table(df).get("documents", 0) == 0
    # exactly one unpartitioned window — the superbucket cumsum, a relation
    # n/(PACK_BUCKET*PACK_SUPER) the corpus size, never the corpus itself
    from tts_etl_pipeline_spark.plans import unpartitioned_windows

    assert unpartitioned_windows(df) == 1, plan


def test_c8_partial_topn_before_source_shuffle(spark, sf_dir):
    """c8's per-source quota is two-phase: the MapInPandas partial top-N
    prunes below the window's source Exchange (a hot source no longer ships
    every row to one reducer), and the shuffle count stays at the original
    two (window hash + final sort)."""
    import re

    from tts_etl_pipeline_spark.operators.curation import c8_source_quota_cap

    df = c8_source_quota_cap(spark, sf_dir)
    plan = physical_plan(df)
    assert "MapInPandas" in plan
    # r13 optimization: the presentation sort was dropped (driver hash is
    # order-insensitive), leaving only the window's source-hash Exchange
    assert count_shuffles(df) == 1, plan
    # the partial prune sits BELOW the hash Exchange: formatted plans number
    # leaves first, so the MapInPandas node id < the source-hash Exchange id
    map_id = int(re.search(r"\((\d+)\) MapInPandas", plan).group(1))
    ex_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) Exchange", plan)
    ]
    assert any(map_id < e for e in ex_ids) and all(map_id < e for e in ex_ids), plan


def test_t15_topk_is_takeordered_not_global_sort(spark, sf_dir):
    """t15's final top-20 must compile to TakeOrderedAndProject (per-
    partition heads merged on the driver) — a global Sort+Limit would
    materialize a full sort of the bigram relation, which at crawl scale
    is vocabulary^2-sized."""
    from tts_etl_pipeline_spark.operators.textstats import t15_bigram_lift

    df = t15_bigram_lift(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_t14_vocab_join_is_not_hint_forced_broadcast(spark, sf_dir):
    """t14 rejoins global token counts on token WITHOUT a broadcast HINT:
    at crawl scale the vocabulary is billions of distinct strings, so
    broadcastability must be the OPTIMIZER's cost decision (fine on the
    fixture's 31-token vocab), never hard-coded. Proof: with auto-broadcast
    disabled, the token join degrades to a shuffle join — a F.broadcast()
    hint would survive the conf and keep a BroadcastHashJoin on the token
    key. The one-row totals relation stays an explicit broadcast."""
    from tts_etl_pipeline_spark.operators.textstats import t14_rare_token_profile

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = t14_rare_token_profile(spark, sf_dir)
        plan = physical_plan(df)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_maybe_broadcast_declines_over_bound_side(spark, sf_dir):
    """The round-6-verdict size guard: scaled_broadcast/maybe_broadcast
    hints a join side only while its measured bytes fit the bound. Proof
    with auto-broadcast disabled (so only a HINT can produce a broadcast
    join): under the bound the hint forces BroadcastHashJoin; over the
    bound (or size unknown) NO hint survives and the join degrades to a
    shuffle join — exactly the AQE-decides posture a 100 TB customer table
    needs."""
    from tts_etl_pipeline_spark.sources.tables import (
        maybe_broadcast,
        table,
        table_disk_bytes,
    )

    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    measured = table_disk_bytes(sf_dir, "customer")
    assert measured is not None and measured > 0  # stats exist for fixtures
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        under = orders.join(
            maybe_broadcast(cust, measured), orders.o_custkey == cust.c_custkey
        )
        assert "BroadcastHashJoin" in physical_plan(under)  # sf0.1: hinted
        for evidence in (100 << 30, None):  # over-bound / unknown size
            plain = orders.join(
                maybe_broadcast(cust, evidence), orders.o_custkey == cust.c_custkey
            )
            plan = physical_plan(plain)
            assert "BroadcastHashJoin" not in plan, plan
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_guarded_queries_still_broadcast_at_bench_scale(spark, sf_dir):
    """After the scaled_broadcast conversion, the guarded queries must keep
    their BroadcastHashJoin shape at sf0.1 (the guard passes: these tables
    are KBs on disk here) — the guard changes 100x behavior, not bench
    plans."""
    from tts_etl_pipeline_spark.operators.relational import (
        q11_important_parts,
        q17_small_quantity_revenue,
    )
    from tts_etl_pipeline_spark.operators.windows import w1_topk_suppliers_per_nation

    for fn in (q5_local_supplier, q11_important_parts, w1_topk_suppliers_per_nation,
               q17_small_quantity_revenue):
        assert "BroadcastHashJoin" in physical_plan(fn(spark, sf_dir)), fn.__name__


def test_h2_single_hash_exchange_feeds_windows_and_agg(spark, sf_dir):
    """h2's two window sorts (asc/desc picks) and the final aggregation all
    consume ONE hash partitioning on (day, event_type); the only other
    Exchange is the presentation orderBy's range partitioning."""
    from tts_etl_pipeline_spark.operators.events import h2_daily_value_bars

    df = h2_daily_value_bars(spark, sf_dir)
    plan = physical_plan(df)
    # r13 optimization: the presentation orderBy was dropped (driver hash is
    # order-insensitive), leaving the single (day, event_type) hash Exchange
    assert count_shuffles(df) == 1, plan
    assert plan.count("hashpartitioning") >= 1
    # both row_number sorts appear, but no second hash Exchange between them
    assert len(re.findall(r"^\(\d+\) Window", plan, flags=re.MULTILINE)) == 2, plan


def test_c10_broadcast_rates_and_real_explode(spark, sf_dir):
    """c10's data pass is documents ⋈ broadcast(rate plan) + explode — no
    shuffled join of the payload; the replicated relation really exists in
    the plan (Generate/explode), it is not a closed-form shortcut."""
    from tts_etl_pipeline_spark.operators.curation import c10_mixture_upsample

    df = c10_mixture_upsample(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert re.search(r"^\(\d+\) Generate", plan, flags=re.MULTILINE), plan


def test_dq5_single_pass_no_rescan(spark, sf_dir):
    """dq5 computes both period counts in ONE conditional aggregation over
    one orders scan (materialized category relation; totals ride a
    broadcast cross join) — no second scan, no per-period branch."""
    from tts_etl_pipeline_spark.operators.curation import dq5_distribution_drift
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = dq5_distribution_drift(spark, sf_dir)
    # the category relation is checkpointed: the final plan re-reads the
    # tiny materialized relation, never the orders parquet
    assert scans_by_table(df).get("orders", 0) == 0, physical_plan(df)


def test_d14_no_cartesian_pairs(spark, sf_dir):
    """d14's pair stage is label-blocked: the physical plan must contain no
    CartesianProduct anywhere (the blocked self-join shuffles on label),
    and the final rollup reads the checkpointed projection, not a second
    embeddings parquet scan."""
    from tts_etl_pipeline_spark.operators.similarity import d14_semantic_dedup
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = d14_semantic_dedup(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert scans_by_table(df).get("embeddings", 0) == 0, plan


def test_x3_bottomk_is_takeordered(spark, sf_dir):
    """x3's bottom-k must compile to TakeOrderedAndProject (per-partition
    bottom-k heaps merged on the driver — the KMV merge itself); the only
    windows in the plan run over the k-row result, never the corpus."""
    from tts_etl_pipeline_spark.operators.sketches import x3_bottomk_sample

    df = x3_bottomk_sample(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_e8_one_user_shuffle_then_rollup(spark, sf_dir):
    """e8's as-of attribution is the single-ordered-window form: exactly
    one hashpartitioning Exchange on user_id feeds the window; the only
    other Exchanges are the tiny bucket rollup and the presentation sort.
    No join nodes anywhere — an inequality join would be quadratic per
    user."""
    from tts_etl_pipeline_spark.operators.events import e8_last_touch_attribution

    df = e8_last_touch_attribution(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan, plan
    assert count_shuffles(df) <= 3, plan


def test_t16_topk_is_takeordered_tiny_windows(spark, sf_dir):
    """t16's vocabulary top-k must be TakeOrderedAndProject; its rank and
    cumulative-coverage windows run over the 20-row result — acceptable
    unpartitioned windows because their input is bounded by the constant
    ZIPF_TOP_K, never the vocabulary."""
    from tts_etl_pipeline_spark.operators.textstats import t16_zipf_coverage

    df = t16_zipf_coverage(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_e9_one_user_shuffle_then_tiny_matrix(spark, sf_dir):
    """e9's lead() window is fed by exactly one user_id hashpartitioning
    Exchange over the fact rows; the (from,to) agg and its normalizing
    window operate on the |types|^2 matrix (partial agg map-side), so the
    remaining Exchanges are matrix-sized. No joins anywhere."""
    from tts_etl_pipeline_spark.operators.events import e9_event_transitions

    df = e9_event_transitions(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan, plan
    # user_id window shuffle + matrix agg + from_type window + sort
    assert count_shuffles(df) <= 4, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_h3_grid_is_calendar_bounded_no_fact_join(spark, sf_dir):
    """h3's anti join runs between two calendar-bounded relations (grid vs
    distinct active hours) — the events parquet is scanned once for the
    distinct, with only the two needed columns; the grid comes from
    sequence+explode (Generate), never from replaying the fact table."""
    from tts_etl_pipeline_spark.operators.events import h3_hourly_gap_audit
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = h3_hourly_gap_audit(spark, sf_dir)
    plan = physical_plan(df)
    assert re.search(r"^\(\d+\) Generate", plan, flags=re.MULTILINE), plan
    for cols in scan_columns(df):
        assert cols <= {"event_type", "ts"}, cols


def test_c12_global_position_window_is_capped(spark, sf_dir):
    """c12's unpartitioned position window must consume the rank-capped
    relation (difficulty_rank <= 4 applied BEFORE the global window), so
    the single-task stage sees at most cap x |sources| rows. The filter
    must appear below the unpartitioned window in the plan."""
    from tts_etl_pipeline_spark.operators.curation import c12_curriculum_interleave

    df = c12_curriculum_interleave(spark, sf_dir)
    plan = physical_plan(df)
    # the rank cap must exist as a real Filter condition (value tracks the
    # fixture's source fanout — ceil(50/|sources|)+1)
    cap = re.search(r"Condition : \(difficulty_rank#\d+ <= \d+\)", plan)
    assert cap, plan
    # ...and Catalyst further rewrites `position <= 50` into a
    # TakeOrderedAndProject(50) BELOW the global window, so the
    # unpartitioned sort consumes at most 50 rows — assert the limit
    # node survives and precedes the position window's frame column.
    assert "TakeOrderedAndProject" in plan, plan


def test_r2_overlap_join_is_bucketed_equi_join(spark, sf_dir):
    """r2's interval-overlap join must be the grid-bucketed EQUI join —
    BroadcastHashJoin on the hour cell with the calendar-bounded incident
    side broadcast; never a BroadcastNestedLoopJoin/CartesianProduct (the
    naive non-equi formulation). Sessions still cost exactly one user_id
    Exchange."""
    from tts_etl_pipeline_spark.operators.scalars import r2_interval_overlap_join

    df = r2_interval_overlap_join(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("hashpartitioning(user_id") >= 1, plan


def test_t20_vocab_join_not_hint_forced_topk_takeordered(spark, sf_dir):
    """t20's token-vector rejoin must not HINT-force a broadcast (the t14
    rule: vocab-scale at 100 TB must stay the optimizer's cost decision —
    proof: with auto-broadcast disabled the join degrades to a shuffle
    join), its top-20 must be TakeOrderedAndProject, and both count passes
    must read the one materialized token relation (documents scanned zero
    times in the final plan)."""
    from tts_etl_pipeline_spark.operators.textstats import t20_dsir_target_affinity
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = t20_dsir_target_affinity(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert scans_by_table(df).get("documents", 0) == 0, plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(t20_dsir_target_affinity(spark, sf_dir))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_e10_one_user_shuffle_no_joins(spark, sf_dir):
    """e10's chained pattern windows must all consume ONE user_id
    hashpartitioning Exchange (the e8 as-of idiom, stacked); no Join node
    anywhere — a per-hop inequality join would be quadratic per user."""
    from tts_etl_pipeline_spark.operators.events import e10_funnel_pattern_match

    df = e10_funnel_pattern_match(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


# ---------------------------------------------------------------------------
# Unpartitioned-window lint: the WindowExec "No Partition Defined" warning is
# demoted to ERROR in session.py (every current site is provably bounded and
# the noise would let a REAL fact-scale regression hide), so the guard lives
# HERE instead — a failing test is visible where a drowned warning is not.
# ---------------------------------------------------------------------------
def test_unpartitioned_windows_annotated():
    """Every unpartitioned WindowSpec in the package must carry an adjacent
    annotation: `bounded:` (the relation's row count is bounded by
    construction — state the bound) or `global-sort:` (a documented
    write-path/maintenance global, never on a query hot path). A bare
    Window.orderBy(...) without one fails this lint — which is exactly how
    a new unpartitioned window over a fact-scale relation gets caught."""
    import pathlib

    import tts_etl_pipeline_spark

    pkg = pathlib.Path(tts_etl_pipeline_spark.__file__).parent
    pat = re.compile(r"(?:\bW\.orderBy\(|\bWindow\.orderBy\(|\.partitionBy\(\s*\))")
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        lines = py.read_text().splitlines()
        for i, line in enumerate(lines):
            if line.lstrip().startswith("#") or not pat.search(line):
                continue
            ctx = "\n".join(lines[max(0, i - 6) : i + 1])
            if "bounded:" not in ctx and "global-sort:" not in ctx:
                offenders.append(f"{py.relative_to(pkg)}:{i + 1}: {line.strip()}")
    assert not offenders, (
        "unannotated unpartitioned window(s) — add a `bounded:` (with the "
        "size bound) or `global-sort:` comment within 6 lines above, or "
        "partition the window:\n" + "\n".join(offenders)
    )


def test_checkpoints_and_scratch_dirs_go_through_the_helpers():
    """functions/checkpoints.py is the one discipline for intermediates:
    `materialize` holds the package's only localCheckpoint call (so a
    configured checkpoint dir reaches every query) and operators get temp
    dirs only from `scratch_dir` (so a failed write cannot leak one)."""
    import pathlib

    import tts_etl_pipeline_spark

    pkg = pathlib.Path(tts_etl_pipeline_spark.__file__).parent
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        for i, line in enumerate(py.read_text().splitlines()):
            if line.lstrip().startswith("#"):
                continue
            if ".localCheckpoint(" in line and rel != "functions/checkpoints.py":
                offenders.append(f"{rel}:{i + 1}: {line.strip()}")
            if "tempfile.mkdtemp(" in line and rel.startswith("operators/"):
                offenders.append(f"{rel}:{i + 1}: {line.strip()}")
    assert not offenders, (
        "use functions.checkpoints.materialize / scratch_dir instead:\n"
        + "\n".join(offenders)
    )


def test_snapshot_reads_go_through_the_opener():
    """sources/versioned.py is the one reader of the manifest format:
    every other module opens a snapshot through `_open_base` (or a public
    reader), never `_read_manifest` / `_check_version` directly, and the
    table reader never infers a schema from the files (mergeSchema) —
    the manifest's recorded schema is the only one."""
    import pathlib

    import tts_etl_pipeline_spark

    pkg = pathlib.Path(tts_etl_pipeline_spark.__file__).parent
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        for i, line in enumerate(py.read_text().splitlines()):
            if line.lstrip().startswith("#"):
                continue
            if rel != "sources/versioned.py" and (
                "_read_manifest(" in line or "_check_version(" in line
            ):
                offenders.append(f"{rel}:{i + 1}: {line.strip()}")
            if rel == "sources/versioned.py" and 'option("mergeSchema"' in line:
                offenders.append(f"{rel}:{i + 1}: {line.strip()}")
    assert not offenders, (
        "open snapshots through versioned._open_base:\n" + "\n".join(offenders)
    )


def test_r3_salted_join_widens_key_and_keeps_sum_exact(spark, sf_dir):
    """r3 must genuinely join on the WIDENED (user_id, salt) key — the
    whole point of salting — and must not broadcast the replicated dim by
    hint (AQE may still choose to at bench scale, which is fine; a hard
    hint would defeat the rehearsal). The explode that replicates the dim
    must be present."""
    from tts_etl_pipeline_spark.operators.scalars import r3_salted_skew_join

    df = r3_salted_skew_join(spark, sf_dir)
    plan = physical_plan(df)
    assert "__salt" in plan, plan
    assert "explode" in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan


def test_pr2_no_broadcast_no_cartesian(spark, sf_dir):
    """Every pr2 relation scales with lineitem: nothing may be broadcast
    by hint, and the triangle close must never degrade to a nested loop.
    The final plan reads only materialized artifacts (pairs/deg/oriented/
    adj) — the heavy stages ran eagerly at construction."""
    from tts_etl_pipeline_spark.operators.graphs import pr2_triangle_clustering

    df = pr2_triangle_clustering(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "array_intersect" in plan, plan  # compact-forward, not wedge join
    assert "Scan parquet" not in plan, (
        "pr2's final plan must scan only materialized artifacts, "
        "never a base table: " + plan
    )


def test_e11_single_user_shuffle_no_window_pass(spark, sf_dir):
    """Native session windows: ONE user_id Exchange, no Window operator
    (the lag/cumsum formulation e11 exists to replace) — the final sort
    Exchange (rangepartitioning) is the only other shuffle."""
    from tts_etl_pipeline_spark.operators.events import e11_native_session_window

    df = e11_native_session_window(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Window" not in plan, plan
    assert "session_window" in plan.lower(), plan


def test_s6_lateral_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL (ORDER BY .. LIMIT 2) must decorrelate into
    the rank-window shape with WindowGroupLimit partial top-k pruning
    BEFORE the shuffle — never a per-nation nested-loop re-execution."""
    from tts_etl_pipeline_spark.operators.grouping import (
        s6_lateral_topk_per_nation,
    )

    df = s6_lateral_topk_per_nation(spark, sf_dir)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_u6_sql_udf_is_inlined(spark, sf_dir):
    """A SQL UDF must cost nothing: Catalyst inlines the CASE into the
    scan-side Project — no Python evaluation operator, a single lineitem
    scan, and map-side partial aggregation."""
    from tts_etl_pipeline_spark.operators.udfs import u6_sql_udf_bands

    import re

    df = u6_sql_udf_bands(spark, sf_dir)
    plan = physical_plan(df)
    assert "CASE WHEN" in plan, plan  # the body, inlined
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    # formatted explain repeats each node (tree + detail) — count headers
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert "partial_count" in plan, plan


def test_e12_variant_single_scan_single_shuffle(spark, sf_dir):
    """VARIANT extraction stays scan-side: one events scan, one
    event_type Exchange (plus the final sort), no Python operators."""
    from tts_etl_pipeline_spark.operators.events import e12_variant_extract

    import re

    df = e12_variant_extract(spark, sf_dir)
    plan = physical_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "parseJson" in plan, plan  # VARIANT path, not string re-parse
    # textual plan shows parse_json under both v and variant_get; codegen
    # subexpression elimination evaluates it once per row at runtime
    assert plan.count("hashpartitioning(event_type") == 1, plan


def test_f9_listagg_partial_aggregates_distinct_before_shuffle(spark, sf_dir):
    """listagg(DISTINCT) must not ship raw customer rows: the plan first
    collapses (nation, segment) duplicates map-side (HashAggregate on the
    composite key), then runs partial_listagg through ObjectHashAggregate —
    so the string state crossing the wire is bounded by the segment domain,
    not the customer count."""
    from tts_etl_pipeline_spark.operators.scalars import f9_listagg_segments

    df = f9_listagg_segments(spark, sf_dir)
    plan = physical_plan(df)
    assert "ObjectHashAggregate" in plan, plan
    assert "partial_listagg" in plan, plan
    assert "SortAggregate" not in plan, plan


def test_j2_bucketed_join_no_exchange_below_join(spark, sf_dir):
    """The bucketed fact-fact join must be shuffle-free at query time: with
    broadcast disabled, the SortMergeJoin consumes the bucket layout
    directly — zero Exchange below the join."""
    from tts_etl_pipeline_spark.operators.relational import _j2_joined_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joined, drop = _j2_joined_bucketed(spark, sf_dir)
    try:
        n = joined.groupBy().count()
        plan = physical_plan(n)
        assert "SortMergeJoin" in plan, plan
        assert count_shuffles(n) <= 1, plan  # only the final scalar agg
    finally:
        drop()
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_j3_partition_filter_prunes_at_metadata_level(spark, sf_dir, tmp_path):
    """The one-day predicate must be consumed ENTIRELY by partition
    pruning: PartitionFilters carries the event_date equality and the
    data-level PushedFilters stays empty (no row-group skipping needed —
    unmatched partition directories are never even listed)."""
    from tts_etl_pipeline_spark.operators.relational import _j3_pruned_scan

    one_day = _j3_pruned_scan(spark, sf_dir, str(tmp_path))
    plan = physical_plan(one_day.groupBy("event_type").count())
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), plan
    assert not pushed_filters(one_day), plan


def test_j4_dynamic_partition_pruning_subquery_in_fact_scan(spark, sf_dir, tmp_path):
    """The weekend predicate lives on the DIM side, so the fact scan cannot
    be pruned statically — the plan must instead carry a DPP subquery
    (`dynamicpruning#N`) inside PartitionFilters, evaluated from the
    broadcast dim at runtime. The join itself must be a BroadcastHashJoin
    (DPP's reuse-broadcast mode — the subquery costs nothing extra)."""
    from tts_etl_pipeline_spark.operators.relational import _j4_dpp_join

    joined = _j4_dpp_join(spark, sf_dir, str(tmp_path))
    plan = physical_plan(joined.groupBy("event_type").count())
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dynamicpruning" in m.group(1), plan
    assert "BroadcastHashJoin" in plan, plan


def test_q23_one_fact_scan_one_fact_grain_exchange(spark, sf_dir):
    """q23's whole point (round-8): TPC-H Q21's textbook EXISTS/NOT-EXISTS
    formulation re-scans lineitem three times; the Spark rewrite must keep
    exactly ONE lineitem scan and ONE orders scan, fold everything into a
    single order-grain aggregation pass (one countDistinct expand + one
    l_orderkey exchange + one s_name exchange = at most 3 shuffles, no
    correlated re-scans), join supplier names by broadcast, and finish with
    a TakeOrdered top-25 instead of a global sort. If this test fails, the
    single-scan rewrite regressed to a multi-scan shape."""
    from tts_etl_pipeline_spark.operators.relational import q23_waiting_suppliers
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    df = q23_waiting_suppliers(spark, sf_dir)
    scans = scans_by_table(df)
    assert scans.get("lineitem", 0) == 1, scans
    assert scans.get("orders", 0) == 1, scans
    assert count_shuffles(df) <= 3
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    # at most ONE shuffle join (li x orders at scale; formatted plans
    # mention each node twice — tree + detail header)
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 2
    assert "TakeOrderedAndProject" in plan


def test_pr6_reads_artifact_no_fresh_lineitem_self_join(spark, sf_dir):
    """pr6 must consume the shared co-purchase artifact (one lineitem
    self-join per process — the round-8 centerpiece), never re-derive the
    pair relation: after the artifact exists, building and running pr6 adds
    ZERO derivations, and its component relation's final plan scans no
    lineitem at all (components iterate over the materialized edge set)."""
    from tts_etl_pipeline_spark.operators import graphs as G
    from tts_etl_pipeline_spark.plans.inspect import scans_by_table

    G.copurchase_artifact(spark, sf_dir).count()  # ensure artifact exists
    before = G.ARTIFACT_DERIVATIONS["count"]
    df = G.pr6_copurchase_components(spark, sf_dir)
    df.collect()
    assert G.ARTIFACT_DERIVATIONS["count"] == before, (
        "pr6 re-derived the co-purchase graph instead of reading the artifact"
    )
    assert scans_by_table(df).get("lineitem", 0) == 0


def test_cached_parquet_success_marker_forces_rederivation(spark, sf_dir):
    """The shared-artifact helper (functions/artifacts.py): a cached path
    whose _SUCCESS marker vanished (a /tmp reaper's partial cleanup) must
    force a re-derivation instead of serving a truncated relation, and two
    distinct cache dicts must never collide in the atexit registry (they
    compare equal as empty dicts — identity, not equality, is the key)."""
    import os as _os

    from tts_etl_pipeline_spark.functions.artifacts import (
        _ALL_CACHES,
        cached_parquet,
    )

    cache_a: dict = {}
    cache_b: dict = {}
    counter = {"count": 0}
    build = lambda: spark.range(10).selectExpr("id AS k")  # noqa: E731
    df = cached_parquet(spark, cache_a, ("x",), build, "probe_a", 2, (), counter)
    assert df.count() == 10 and counter["count"] == 1
    cached_parquet(spark, cache_a, ("x",), build, "probe_a", 2, (), counter)
    assert counter["count"] == 1  # cache hit
    old_path = cache_a[("x",)]
    _os.remove(_os.path.join(old_path, "_SUCCESS"))
    cached_parquet(spark, cache_a, ("x",), build, "probe_a", 2, (), counter)
    assert counter["count"] == 2  # marker gone -> re-derived
    # the superseded directory was reclaimed, not orphaned
    assert not _os.path.exists(old_path)
    # a reaper that takes a data part but LEAVES the marker must also
    # force a re-derivation (part-count validity, not just _SUCCESS)
    path2 = cache_a[("x",)]
    part = next(f for f in _os.listdir(path2) if f.endswith(".parquet"))
    _os.remove(_os.path.join(path2, part))
    df2 = cached_parquet(spark, cache_a, ("x",), build, "probe_a", 2, (), counter)
    assert counter["count"] == 3 and df2.count() == 10
    cached_parquet(spark, cache_b, ("y",), build, "probe_b", 2, ())
    assert sum(1 for c in _ALL_CACHES if c is cache_a) == 1
    assert sum(1 for c in _ALL_CACHES if c is cache_b) == 1


def test_j9_pruned_read_scans_only_surviving_files(spark, tmp_path):
    """j9's manifest pruning must reach the SCAN's file list (the j3
    metadata-pruning idiom): read_version_pruned's DataFrame lists exactly
    the manifest-kept files in inputFiles() — skipped files never enter
    the reader, at planning time or any other time. A regression that
    re-listed all files and relied on the row filter would still answer
    correctly; only this pin catches it."""
    import os as _os

    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        read_version_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
        .repartitionByRange(8, "k"),
        path,
        collect_stats=("k",),
    )
    pruned, skipped, total = read_version_pruned(spark, path, "k", 100, 249)
    assert total == 8 and skipped >= 5
    scanned = {f.split("/")[-1] for f in pruned.inputFiles()}
    m = manifest(path, 1)
    stats = m["stats"]
    expect_kept = {
        f.split("/")[-1]
        for f in m["files"]
        if not (stats[f]["k"][1] < 100 or stats[f]["k"][0] > 249)
    }
    assert scanned == expect_kept
    assert len(scanned) == total - skipped
    # and the files exist where the manifest says (no directory listing)
    assert all(_os.path.exists(_os.path.join(path, "data", f)) for f in scanned)


def test_st21_cdf_batch_scans_only_the_commit_delta(spark, tmp_path):
    """st21's IVM fold must be O(one commit's changed rows): the CDF batch
    for an APPEND reads only the appended files — never the whole source.
    table_changes' plan is pinned via inputFiles: the symmetric difference
    of the two manifests' file lists, nothing else."""
    from tts_etl_pipeline_spark.sources.versioned import (
        manifest,
        table_changes,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(100).selectExpr("id AS k").repartition(4), path
    )  # v1: 4 files
    write_version(
        spark.range(100, 110).selectExpr("id AS k").coalesce(1), path
    )  # v2: +1 file
    v1_files = set(manifest(path, 1)["files"])
    v2_files = set(manifest(path, 2)["files"])
    appended = {f.split("/")[-1] for f in v2_files - v1_files}
    assert len(appended) == 1 and len(v1_files) == 4
    batch = table_changes(spark, path, 1, 2)
    scanned = {f.split("/")[-1] for f in batch.inputFiles()}
    assert scanned == appended, (
        "the CDF batch re-scanned unchanged files — IVM is no longer "
        f"O(delta): {scanned} vs {appended}"
    )
    assert sorted(r["k"] for r in batch.collect()) == list(range(100, 110))


def test_j14_point_in_time_join_is_equi_not_nested_loop(spark, sf_dir):
    """j14's temporal join must plan as a HASH-PARTITIONABLE equi-join on
    user_id with the validity range as a residual condition — losing the
    equality key (e.g. by folding it into a composite boolean) degrades it
    to BroadcastNestedLoopJoin, which is quadratic at 100 TB and exactly
    what this pin catches. Left-outer semantics must also survive (the
    matched=false audit grain)."""
    from tts_etl_pipeline_spark.operators.relational import (
        j14_scd2_point_in_time_join,
    )

    df = j14_scd2_point_in_time_join(spark, sf_dir)
    # the query returns a localCheckpoint (tmp table vanishes); re-derive
    # the join plan shape from an equivalent standalone construction
    from pyspark.sql import functions as F

    h = spark.createDataFrame(
        [(1, "a", 10, 20), (1, "b", 20, None)],
        "h_user long, state string, valid_from long, valid_to long",
    )
    ev = spark.createDataFrame([(1, 15)], "user_id long, tss long")
    joined = ev.join(
        h,
        (ev.user_id == h.h_user)
        & (ev.tss >= h.valid_from)
        & (h.valid_to.isNull() | (ev.tss < h.valid_to)),
        "left",
    ).groupBy(F.col("valid_from").isNotNull().alias("matched")).count()
    plan = physical_plan(joined)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan
    assert df.count() >= 0  # and the real query still materialized


def test_j18_bloom_read_scans_only_candidate_files(spark, tmp_path):
    """j18's bloom pruning must reach the SCAN's file list (the j9 pin's
    equality twin): read_version_bloom_pruned's DataFrame lists in
    inputFiles() exactly the files whose sidecar bloom might contain the
    probe — a regression that read everything and leaned on the row
    filter would still answer correctly, and only this pin catches it."""
    import json as _json
    import os as _os

    from tts_etl_pipeline_spark.sources.versioned import (
        _bloom_might_contain,
        manifest,
        read_version_bloom_pruned,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(2000).selectExpr("id AS k", "id * 2 AS v")
        .repartition(8, "k"),
        path,
        collect_blooms=("k",),
    )
    probe = 1234
    pruned, skipped, total = read_version_bloom_pruned(spark, path, "k", probe)
    assert total == 8 and skipped >= 4
    scanned = {f.split("/")[-1] for f in pruned.inputFiles()}
    m = manifest(path, 1)
    expect = set()
    sidecars: dict = {}
    for f, sc in m["blooms"].items():
        if sc not in sidecars:
            with open(_os.path.join(path, sc), encoding="utf-8") as fh:
                sidecars[sc] = _json.load(fh)
        bloom = sidecars[sc].get(f, {}).get("k")
        if bloom is None or _bloom_might_contain(bloom, probe):
            expect.add(f.split("/")[-1])
    assert scanned == expect
    assert len(scanned) == total - skipped


def test_dv_read_applies_vectors_with_broadcast_hash_anti_join(spark, tmp_path):
    """The deletion-vector read path must stay JVM-side and hash-shaped:
    the positions anti-join plans as a BroadcastHashJoin LeftAnti (never a
    nested loop / cartesian, never a Python row filter), and the scan side
    still lists exactly the snapshot's files — a regression to a UDF probe
    or a shuffled join would read correctly and only this pin catches it."""
    from tts_etl_pipeline_spark.plans.inspect import physical_plan
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_dv,
        read_version,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(2000).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    delete_where_dv(spark, path, "k", 100, 104)
    df = read_version(spark, path)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert df.count() == 1995


def test_eq_delete_read_applies_values_with_broadcast_hash_anti_join(
    spark, tmp_path
):
    """The equality-delete read path (r12) must stay JVM-side and
    hash-shaped like the DV path: the value anti-join plans as a
    BroadcastHashJoin LeftAnti — never a nested loop, never a Python row
    filter — and a stamped post-delete file group unions in WITHOUT the
    anti-join applying to it (the sequence-number scope is a planning
    decision, not a runtime filter)."""
    from tts_etl_pipeline_spark.plans.inspect import physical_plan
    from tts_etl_pipeline_spark.sources.versioned import (
        delete_where_eq,
        read_version,
        write_version,
    )

    path = str(tmp_path / "t")
    write_version(
        spark.range(2000).selectExpr("id AS k", "id*2 AS v")
        .repartitionByRange(4, "k"),
        path,
    )
    delete_where_eq(path, "k", [100, 500, 1500])
    write_version(spark.createDataFrame([(500, 0)], "k long, v long"), path)
    df = read_version(spark, path)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert df.count() == 1998  # 2000 - 3 deleted + 1 re-inserted


def test_rebalance_scan_fired_path_and_guard(spark, tmp_path):
    """ADVICE r13: the FIRED path of rebalance_scan (guard passes, one
    hash-repartition Exchange inserted with the size-derived count) had no
    unit coverage — every plan pin runs at sf0.001 where all tables sit
    under REBALANCE_MIN_BYTES. Build a >512 KiB single-row-group parquet in
    a temp sf_dir and pin: exactly one extra Exchange, hashpartitioning on
    the deterministic position digest (not round-robin — no SPARK-23207
    retry sort), partition count = ceil(bytes/per_task_bytes) clamped to
    [2, cores]; and the no-op just under the threshold returns the input
    plan unchanged."""
    import math
    import os

    from pyspark.sql import functions as F

    from tts_etl_pipeline_spark.plans.inspect import count_shuffles, physical_plan
    from tts_etl_pipeline_spark.sources.tables import (
        REBALANCE_MIN_BYTES,
        rebalance_scan,
        table_stats,
    )

    sf = str(tmp_path)
    # ~1.2 MB of incompressible-ish hex > REBALANCE_MIN_BYTES, one file
    (
        spark.range(40_000)
        .select("id", F.md5(F.col("id").cast("string")).alias("h"))
        .coalesce(1)
        .write.parquet(os.path.join(sf, "big.parquet"))
    )
    nbytes, splits, _ = table_stats(sf, "big")
    assert nbytes > REBALANCE_MIN_BYTES and splits == 1
    df = spark.read.parquet(os.path.join(sf, "big.parquet"))
    per_task = 128 << 10
    out = rebalance_scan(df, spark, sf, "big", per_task_bytes=per_task)
    cores = spark.sparkContext.defaultParallelism
    expect_n = max(2, min(cores, math.ceil(nbytes / per_task)))
    plan = physical_plan(out)
    assert count_shuffles(out) == count_shuffles(df) + 1, plan
    # the position digest is projected as _nondeterministic#N below the
    # exchange; pin the hash shape AND the size-derived partition count
    assert re.search(
        rf"hashpartitioning\(xxhash64\(_nondeterministic#\d+L?, 42\), {expect_n}\)",
        plan,
    ), (expect_n, plan)
    assert "RoundRobinPartitioning" not in plan, plan
    # no-op branch: just under the byte floor -> the input plan, unchanged
    (
        spark.range(500)
        .select("id", F.md5(F.col("id").cast("string")).alias("h"))
        .coalesce(1)
        .write.parquet(os.path.join(sf, "small.parquet"))
    )
    small_bytes = table_stats(sf, "small").bytes
    assert small_bytes < REBALANCE_MIN_BYTES
    sdf = spark.read.parquet(os.path.join(sf, "small.parquet"))
    assert rebalance_scan(sdf, spark, sf, "small", per_task_bytes=per_task) is sdf
