"""Iterative graph analytics over derived relations — the PageRank slot of
the north-star surface (SURVEY.md §2.2 "iterative algorithms"), next to the
connected-components machinery in functions/graph.py.

The graph is DERIVED, not stored: part–part co-purchase edges come from a
self-join of lineitem on l_orderkey. TPC-H orders hold at most 7 lines, so
the per-order pair fanout is bounded by 21 — the join is linear in the fact
table, never quadratic (the d3/d13 discipline).

PageRank runs a FIXED number of synchronous iterations (deterministic — a
convergence test would make the result depend on float scheduling). Each
iteration is ONE join (edges ⋈ ranks on src) + ONE aggregation (sum of
contributions by dst): both hash-shuffle on the same node key, so at scale
AQE reuses co-partitioning, and lineage is truncated every few iterations
(materialize) so the plan does not grow with the iteration count — the
standard Pregel-on-DataFrames shape.

pr1 (PageRank) is rows-only by design: the rank vector is float-iteration
output with no SQL twin; tests/test_graphs.py re-runs the same power
iteration in numpy on the collected edge list and matches ranks to 1e-9
(same math, independent code). pr2 (triangles / clustering coefficient) and
pr3 (single-source BFS distances) are oracle-EXACT: triangle counts,
basis-point coefficients and hop distances are integers, so the SQL twins
hash-match bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_etl_pipeline_spark import registry
from tts_etl_pipeline_spark.functions.checkpoints import materialize, scratch_dir
from tts_etl_pipeline_spark.sources.tables import (
    scaled_broadcast,
    table,
    table_disk_bytes,
)


PR_DAMPING = 0.85
PR_ITERATIONS = 10
PR_TOP_K = 20


def _pair_join(li) -> DataFrame:
    """The one lineitem self-join every co-purchase derivation starts from:
    rows (u < v, l_orderkey) — one row per co-occurring line pair. TPC-H
    orders hold <= 7 lines, so fanout per order is bounded by 21 (linear in
    the fact table, never quadratic)."""
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        on=[
            F.col("a.l_orderkey") == F.col("b.l_orderkey"),
            F.col("a.l_partkey") < F.col("b.l_partkey"),
        ],
    ).select(
        F.col("a.l_partkey").alias("u"),
        F.col("b.l_partkey").alias("v"),
        F.col("a.l_orderkey").alias("orderkey"),
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part–part co-purchase edges with multiplicity.

    Self-join on l_orderkey with partkey< to emit each unordered pair once,
    then symmetrize. `weight` counts co-occurrences (two parts bought
    together in many orders bind more strongly)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        _pair_join(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return pairs.selectExpr("u AS src", "v AS dst", "weight").unionByName(
        pairs.selectExpr("v AS src", "u AS dst", "weight")
    )


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct unordered co-purchase part pairs (u < v), one row per pair —
    the FROM-SCRATCH derivation, kept as the reference edge set the tests
    compare the shared artifact against.

    The unweighted twin of copurchase_edges: same l_orderkey self-join with
    the partkey< orientation, deduplicated instead of counted. The pr*
    queries consume the same relation through copurchase_artifact (below),
    which derives it ONCE per process instead of once per query."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return _pair_join(li).select("u", "v").distinct()


# (applicationId, abspath(sf_dir)) -> on-disk artifact path. Keyed by
# session AND fixture dir so tests on synthetic tmp_path graphs never see a
# stale artifact; within one driver/bench process the fixture dirs are
# immutable, so the cache is sound for the process lifetime.
_ARTIFACT_CACHE: dict[tuple[str, str], str] = {}
# test instrumentation: how many times the lineitem self-join actually ran
ARTIFACT_DERIVATIONS = {"count": 0}
# explicit part-count FLOOR for the artifact write: an unCOUNTED
# repartition("u") is fair game for AQE's coalescePartitions, which would
# collapse the small-SF artifact to ONE file and reintroduce the
# single-file-layout measurement artifact (r7 verdict task 4); a
# user-specified count is exempt from coalescing. The actual count scales
# with the base table (see _artifact_partitions) so the layout stays
# executor-sized at 100 TB and >=16-way parallel at fixture scale.
ARTIFACT_PARTITIONS = 16
# target bytes of SOURCE lineitem per artifact partition: the pair relation
# is ~linear in lineitem (<=3 pairs per line at <=7 lines/order, narrower
# rows), so 64 MiB of input per partition keeps every artifact partition
# well inside executor memory at any scale factor
_ARTIFACT_INPUT_BYTES_PER_PART = 64 << 20


def _artifact_partitions(sf_dir: str) -> int:
    nbytes = table_disk_bytes(sf_dir, "lineitem") or 0
    return max(ARTIFACT_PARTITIONS, int(nbytes // _ARTIFACT_INPUT_BYTES_PER_PART))


def copurchase_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHARED co-purchase graph artifact (round-7 verdict task 3): the
    weighted unordered pair relation `(u < v, n_orders = distinct
    co-purchasing orders)`, derived from the lineitem self-join ONCE per
    (session, fixture dir) and written as a node-keyed parquet layout that
    every graph query reads — at 100 TB nobody rebuilds the graph per
    query; the edge list is a maintained table (the B11 discipline), and
    pr2–pr5 each re-deriving it per query was five runs of the same
    fact-table self-join in every full sweep.

    Consumers: pr2/pr3 take `select(u, v)` (the distinct pair set —
    identical to copurchase_pairs by construction), pr4/pr5 take
    `filter(n_orders >= w)` (identical to the old strong_copurchase_pairs
    HAVING clause). pr1 deliberately keeps the from-scratch derivation as
    the proof query that artifact and derivation agree end-to-end."""
    from tts_etl_pipeline_spark.functions.artifacts import cached_parquet

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        return (
            _pair_join(li)
            .groupBy("u", "v")
            .agg(F.countDistinct("orderkey").alias("n_orders"))
        )

    # node-keyed layout: downstream self-joins shuffle on u/v anyway, and a
    # u-clustered multi-file layout reads back at full parallelism. Cache
    # validity (_SUCCESS marker), explicit partition count, scratch root and
    # atexit cleanup are the shared cached_parquet contract.
    return cached_parquet(
        spark,
        _ARTIFACT_CACHE,
        (spark.sparkContext.applicationId, os.path.abspath(sf_dir)),
        build,
        "copurchase_base",
        _artifact_partitions(sf_dir),
        ("u",),
        ARTIFACT_DERIVATIONS,
    )


def pagerank(edges: DataFrame, damping: float = PR_DAMPING,
             iterations: int = PR_ITERATIONS) -> DataFrame:
    """Weighted PageRank over a symmetrized edge list.

    Transition probability out of a node distributes proportionally to edge
    weight. Returns (node, rank) with ranks summing to 1 (no dangling nodes:
    every node in a symmetrized edge list has out-degree ≥ 1)."""
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("w_out"))
    # normalized transition edges — computed once, reused every iteration
    trans = materialize(
        edges.join(out_w, "src").select(
            "src", "dst", (F.col("weight") / F.col("w_out")).alias("p")
        )
    )
    nodes = materialize(trans.select(F.col("src").alias("node")).distinct())
    n = nodes.count()  # control-plane scalar (drives the teleport term)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iterations):
        contrib = (
            trans.join(ranks, trans["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("in_rank"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce("in_rank", F.lit(0.0))
            ).alias("rank"),
        )
        # truncate lineage every 3 sweeps so the plan stays iteration-bounded
        if (i + 1) % 3 == 0:
            ranks = materialize(ranks)
    return ranks


# ---------------------------------------------------------------------------
# pr1 — PageRank over the co-purchase graph, top-20 central parts. The
# "which items anchor the catalog" query; the same loop body serves any
# derived similarity/citation graph. Scale shape per sweep: one src-keyed
# shuffle join + one dst-keyed aggregation; TakeOrdered top-k at the end
# (no global sort). Ranks are scaled to basis points of the uniform rank
# (rank·n·10⁴ rounded to int) ONLY for display stability of the trailing
# digits; ordering and the pinned numpy parity use the raw doubles.
# ---------------------------------------------------------------------------
@registry.query("pr1_copurchase_pagerank")
def pr1_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = materialize(copurchase_edges(spark, sf_dir))
    ranks = pagerank(edges)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("degree"), F.sum("weight").alias("w_degree")
    )
    return (
        ranks.join(deg, ranks["node"] == deg["src"])
        .select(
            F.col("node").alias("partkey"),
            "rank",
            "degree",
            F.col("w_degree").cast("bigint").alias("w_degree"),
        )
        .orderBy(F.desc("rank"), "partkey")
        .limit(PR_TOP_K)
    )


TRI_TOP_K = 25


# ---------------------------------------------------------------------------
# pr2 — exact per-node triangle count + local clustering coefficient over the
# distinct co-purchase graph. Scale shape: each undirected edge is ORIENTED
# from its (degree, id)-smaller endpoint to the larger one, which bounds every
# node's out-degree by O(sqrt(m)) (Suri & Vassilvitskii, "Counting Triangles
# and the Curse of the Last Reducer", WWW'11) — so total intersection work is
# ~m^1.5 spread evenly across reducers, never quadratic in a hub's degree.
# Triangles close via the COMPACT-FORWARD shape: each node's out-neighbors
# are collected into one sorted array (bounded O(sqrt m) rows by the
# orientation, so no skewed collect_list), each oriented edge (x,y) joins the
# two arrays and array_intersect yields exactly the closing nodes z — each
# triangle found exactly once, JVM-side, with NO wedge relation ever
# shuffled (an earlier wedge-self-join + left-semi cut measured 86 s at the
# sf1 fixture; the array-intersect cut runs the identical output in 40 s —
# the wedge materialization was half the cost). Corners are credited via one
# explode over (x·nz, y·nz, zs) + count. All joins are hash-shuffles on node
# keys; nothing is broadcast (every relation here scales with the fact
# table). The clustering coefficient 2*tri/(deg*(deg-1)) is emitted in
# integer basis points via integral division — both engines compute it in
# exact integer arithmetic, so the oracle comparison is hash-exact, the
# dq5/h5 idiom (the oracle keeps the wedge formulation: 3-way self-joins are
# what SQL expresses naturally, and the equality of the two algorithms is
# part of what the driver checks).
# ---------------------------------------------------------------------------
@registry.query(
    "pr2_triangle_clustering",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
      ) GROUP BY node
    ),
    tri AS (
      -- u < v everywhere, so each triangle x<y<z appears exactly once as the
      -- path (x,y),(y,z) closed by (x,z) — same once-per-triangle invariant
      -- as the Spark side's degree orientation.
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM pairs e1
      JOIN pairs e2 ON e1.v = e2.u
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    node_tri AS (
      SELECT node, COUNT(*) AS triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT d.node AS partkey,
           d.degree,
           COALESCE(t.triangles, 0) AS triangles,
           CASE WHEN d.degree >= 2
                THEN (20000 * COALESCE(t.triangles, 0))
                     // (d.degree * (d.degree - 1))
                ELSE 0 END AS cc_bp
    FROM deg d LEFT JOIN node_tri t ON t.node = d.node
    ORDER BY triangles DESC, partkey
    LIMIT 25
    """,
)
def pr2_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no materialize: the artifact IS an on-disk parquet — re-scanning it
    # per branch is cheaper than copying it into block storage first
    pairs = copurchase_artifact(spark, sf_dir).select("u", "v")
    deg = materialize(
        pairs.selectExpr("u AS node")
        .unionByName(pairs.selectExpr("v AS node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # Orient lo -> hi in the total order (degree, node id). The tie-break by
    # id makes the orientation a DAG even among equal-degree nodes.
    lo_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = materialize(
        pairs.join(deg.selectExpr("node AS u", "degree AS deg_u"), "u")
        .join(deg.selectExpr("node AS v", "degree AS deg_v"), "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    # sorted out-neighbor array per node; orientation bounds its length
    adj = materialize(
        oriented.groupBy("src").agg(
            F.array_sort(F.collect_list("dst")).alias("nbrs")
        )
    )
    edge_tri = (
        oriented.join(adj.selectExpr("src AS src", "nbrs AS nbrs_x"), "src")
        .join(adj.selectExpr("src AS dst", "nbrs AS nbrs_y"), "dst", "left")
        .select(
            "src",
            "dst",
            F.array_intersect(
                "nbrs_x", F.coalesce("nbrs_y", F.array().cast("array<bigint>"))
            ).alias("zs"),
        )
        .withColumn("nz", F.size("zs"))
        .filter(F.col("nz") > 0)
    )
    node_tri = (
        edge_tri.select(
            F.explode(
                F.concat(
                    F.array_repeat(F.col("src"), F.col("nz")),
                    F.array_repeat(F.col("dst"), F.col("nz")),
                    F.col("zs"),
                )
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(node_tri, "node", "left")
        .select(
            F.col("node").alias("partkey"),
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(20000 * coalesce(triangles, 0))"
                    " div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("cc_bp"),
        )
        .orderBy(F.desc("triangles"), "partkey")
        .limit(TRI_TOP_K)
    )


BFS_MAX_HOPS = 20


# ---------------------------------------------------------------------------
# pr3 — exact single-source BFS hop distances over the co-purchase graph,
# rooted at the highest-degree part (ties -> smallest id): "how many hops
# from the catalog's anchor item is everything else" — the reachability /
# influence-radius query, and the repo's one driver-visible ITERATIVE graph
# traversal with an exact oracle (pr1's PageRank iterates on floats; BFS
# iterates on integers, so DuckDB's recursive CTE is a bit-exact twin).
# Scale shape: classic frontier BFS — per level ONE hash join of the
# frontier against the node-keyed edge list plus ONE anti join against the
# visited set, both shuffling only on the node key; the frontier is
# materialized each level (it is consumed twice) and the visited union every
# third level, so lineage stays depth-bounded exactly like pagerank()'s
# sweep truncation. Rounds = graph eccentricity, capped at BFS_MAX_HOPS=20
# in BOTH engines (co-purchase graphs are small-world; the cap is the
# recursion bound that keeps the oracle's cyclic recursive CTE finite, and
# any node deeper than the cap is excluded by both sides identically).
# Output is the per-distance histogram — bounded at 21 rows regardless of
# scale, the driver-friendly projection of the full distance vector.
# ---------------------------------------------------------------------------
@registry.query(
    "pr3_bfs_hop_distances",
    """
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL
      SELECT v AS src, u AS dst FROM pairs
    ),
    root AS (
      SELECT src AS node FROM sym
      GROUP BY src ORDER BY COUNT(*) DESC, src LIMIT 1
    ),
    reach(node, dist) AS (
      SELECT node, 0 FROM root
      UNION
      -- cycles keep producing (node, dist+2k) rows; the dist bound is what
      -- makes the recursion finite. MIN(dist) below recovers true BFS depth.
      SELECT s.dst, r.dist + 1
      FROM sym s JOIN reach r ON s.src = r.node
      WHERE r.dist < 20
    ),
    best AS (
      SELECT node, MIN(dist) AS dist FROM reach GROUP BY node
    )
    SELECT CAST(dist AS BIGINT) AS dist,
           COUNT(*) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_part,
           CAST(MAX(node) AS BIGINT) AS max_part
    FROM best GROUP BY dist ORDER BY dist
    """,
)
def pr3_bfs_hop_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairs is not materialized: the artifact IS an on-disk parquet, so the
    # union's two branches each re-scan it cheaply; `sym` below is the
    # relation every BFS level re-reads, and IT is materialized once.
    pairs = copurchase_artifact(spark, sf_dir).select("u", "v")
    sym = materialize(
        pairs.selectExpr("u AS src", "v AS dst").unionByName(
            pairs.selectExpr("v AS src", "u AS dst")
        )
    )
    out_schema = "dist bigint, n_nodes bigint, min_part bigint, max_part bigint"
    root_row = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.desc("degree"), "src")
        .limit(1)
        .collect()  # control-plane scalar: the BFS seed
    )
    if not root_row:
        return spark.createDataFrame([], out_schema)
    visited = materialize(
        spark.createDataFrame(
            [(int(root_row[0]["src"]), 0)], "node bigint, dist int"
        )
    )
    frontier = visited
    for depth in range(1, BFS_MAX_HOPS + 1):
        nxt = materialize(
            sym.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        # truncate lineage every 3 levels, the pagerank() sweep discipline
        if depth % 3 == 0:
            visited = materialize(visited)
        frontier = nxt
    return (
        visited.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_part"),
            F.max("node").cast("bigint").alias("max_part"),
        )
        .select(F.col("dist").cast("bigint").alias("dist"), "n_nodes",
                "min_part", "max_part")
        .orderBy("dist")
    )


def strong_copurchase_pairs(
    spark: SparkSession, sf_dir: str, min_weight: int
) -> DataFrame:
    """Materialized unordered part pairs co-purchased in >= min_weight
    DISTINCT orders — the weight-floored graph pr4 (link prediction) and
    pr5 (k-core) share, served from the shared copurchase_artifact (one
    lineitem self-join per process, round-7 verdict tasks 3+6). One
    definition keeps their edge sets in lock-step with each other and with
    their oracles' `pairs` CTE (HAVING COUNT(DISTINCT orderkey) >= w is
    exactly the artifact's n_orders filter)."""
    return materialize(
        copurchase_artifact(spark, sf_dir)
        .filter(F.col("n_orders") >= min_weight)
        .select("u", "v")
    )


# ---------------------------------------------------------------------------
# pr4 — LINK PREDICTION over the strong co-purchase graph: for every pair of
# parts NOT yet co-purchased together, score how likely the link is by
# (a) common-neighbor count (the Liben-Nowell/Kleinberg baseline) and
# (b) preferential attachment deg(a)·deg(b) as the tiebreak — the
# "customers who bought these also bought..." candidate generator, and the
# graph-side twin of the dedup family's candidate generation.
# Graph: STRONG edges only (parts co-purchased in >= PR4_MIN_WEIGHT
# DISTINCT orders — order-multiplicity of a part must not inflate tie
# strength) — the raw co-purchase graph is near-complete on popular
# parts (median degree 115 at sf0.01) and carries no link signal; the
# weight floor is the graph analog of d3's stop-token drop.
# Scale shape: wedges are enumerated through CENTER nodes with degree <=
# PR4_CENTER_CAP (hub centers contribute deg² candidate pairs but rank
# every pair identically-weakly, the classic reason link prediction drops
# hubs) — so per-center fanout is bounded at CAP², the self-join shuffles
# on the center key, the existing-edge anti-join shuffles on the candidate
# pair, and the final top-k is a TakeOrdered (no global sort). All scores
# are exact integers; the oracle replicates the formulation verbatim.
# ---------------------------------------------------------------------------
PR4_MIN_WEIGHT = 2
PR4_CENTER_CAP = 60
PR4_TOP_K = 30


@registry.query(
    "pr4_link_prediction",
    f"""
    WITH pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(DISTINCT a.l_orderkey) >= {PR4_MIN_WEIGHT}
    ),
    adj AS (
      SELECT u AS node, v AS nbr FROM pairs
      UNION ALL SELECT v, u FROM pairs
    ),
    deg AS (SELECT node, COUNT(*) AS degree FROM adj GROUP BY node),
    centers AS (
      SELECT a.node, a.nbr FROM adj a JOIN deg d ON d.node = a.node
      WHERE d.degree <= {PR4_CENTER_CAP}
    ),
    cand AS (
      SELECT x.nbr AS a, y.nbr AS b, COUNT(*) AS cn
      FROM centers x JOIN centers y
        ON x.node = y.node AND x.nbr < y.nbr
      GROUP BY x.nbr, y.nbr
    ),
    novel AS (
      SELECT c.a, c.b, c.cn FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.u = c.a AND p.v = c.b)
    )
    SELECT n.a AS part_a, n.b AS part_b, n.cn AS common_neighbors,
           da.degree * db.degree AS pref_attach
    FROM novel n
    JOIN deg da ON da.node = n.a
    JOIN deg db ON db.node = n.b
    ORDER BY common_neighbors DESC, pref_attach DESC, part_a, part_b
    LIMIT {PR4_TOP_K}
    """,
)
def pr4_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = strong_copurchase_pairs(spark, sf_dir, PR4_MIN_WEIGHT)
    adj = materialize(
        pairs.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
            pairs.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    centers = adj.join(
        deg.filter(F.col("degree") <= PR4_CENTER_CAP).select("node"), "node"
    )
    x = centers.select("node", F.col("nbr").alias("a"))
    y = centers.select("node", F.col("nbr").alias("b"))
    cand = (
        x.join(y, "node")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    novel = cand.join(
        pairs.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    return (
        novel.join(scaled_broadcast(da, sf_dir, "part"), "a")
        .join(scaled_broadcast(db, sf_dir, "part"), "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            (F.col("deg_a") * F.col("deg_b")).alias("pref_attach"),
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("pref_attach"), "part_a", "part_b"
        )
        .limit(PR4_TOP_K)
    )


# ---------------------------------------------------------------------------
# pr5 — K-CORE decomposition by synchronous peeling: repeatedly delete every
# node with degree < K until the graph stabilizes; what survives is the
# K-core, the standard "dense cohesive backbone" extraction (Seidman 1983)
# and the graph twin of the curation family's quality floors. Same strong
# graph as pr4 (>= 2 distinct orders). Scale shape per round: one
# src-keyed degree aggregation + two semi joins of the edge list against
# the surviving-node list — all shuffles on the node key, lineage
# truncated per round (materialize), so the plan is round-bounded, never
# iteration-deep. Peeling is monotone (the alive set only shrinks), so an
# unchanged edge COUNT means an unchanged SET and the loop can exit early;
# both engines run the same PR5_MAX_ROUNDS bound, making the result
# well-defined even if a pathological chain graph hasn't converged by then
# (measured on the fixtures: 10 rounds to fixpoint at sf0.01). The DuckDB
# twin threads the shrinking edge set through an iteration-tagged
# recursive CTE — degrees computed by WINDOW functions over the working
# table (both endpoint degrees are window counts because the edge list is
# symmetric), which stays inside DuckDB's single-recursive-reference rule.
# Output: the exact degree histogram of the surviving core.
# ---------------------------------------------------------------------------
PR5_K = 3
PR5_MAX_ROUNDS = 30


@registry.query(
    "pr5_kcore_decomposition",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(DISTINCT a.l_orderkey) >= {PR4_MIN_WEIGHT}
    ),
    sym AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL SELECT v, u FROM pairs
    ),
    alive(iter, src, dst) AS (
      SELECT 0, src, dst FROM sym
      UNION ALL
      SELECT iter + 1, src, dst FROM (
        SELECT iter, src, dst,
               COUNT(*) OVER (PARTITION BY src) AS ds,
               COUNT(*) OVER (PARTITION BY dst) AS dd
        FROM alive
      ) WHERE iter < {PR5_MAX_ROUNDS} AND ds >= {PR5_K} AND dd >= {PR5_K}
    ),
    core AS (SELECT src, dst FROM alive WHERE iter = {PR5_MAX_ROUNDS}),
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM core GROUP BY src)
    SELECT CAST(degree AS BIGINT) AS degree,
           COUNT(*) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_part,
           CAST(MAX(node) AS BIGINT) AS max_part
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def pr5_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = strong_copurchase_pairs(spark, sf_dir, PR4_MIN_WEIGHT)
    alive = materialize(
        pairs.selectExpr("u AS src", "v AS dst").unionByName(
            pairs.selectExpr("v AS src", "u AS dst")
        )
    )
    prev = alive.count()
    for _ in range(PR5_MAX_ROUNDS):
        if prev == 0:
            break
        good = (
            alive.groupBy("src")
            .agg(F.count(F.lit(1)).alias("ds"))
            .filter(F.col("ds") >= PR5_K)
            .select("src")
        )
        alive = materialize(
            alive.join(good, "src").join(
                good.select(F.col("src").alias("dst")), "dst"
            )
        )
        n = alive.count()
        if n == prev:  # monotone shrink: equal count == equal set == fixpoint
            break
        prev = n
    return (
        alive.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy(F.col("degree").cast("bigint").alias("degree"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("src").cast("bigint").alias("min_part"),
            F.max("src").cast("bigint").alias("max_part"),
        )
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# pr6 — connected components of the STRONG co-purchase graph with a
# per-component retail rollup ("market-basket clusters"): which groups of
# parts are transitively bound by repeated co-purchase, how big is each
# cluster, and what does its catalog stock price add up to. Components via
# functions/graph.py's alternating large-star/small-star contraction —
# O(log n) rounds regardless of component diameter (the d9 machinery,
# promoted onto the shared graph artifact) — then one size-guarded part
# join for the price rollup in exact integer cents. The fixture exercises
# both regimes: sf0.01's strong graph is one giant 1,860-node component
# plus dust; sf0.1's shatters into 2,350 clusters of <= 14 (the weight
# floor thins faster than the catalog grows). The oracle recomputes the
# same fixpoint as a recursive-CTE transitive closure with MIN-label
# aggregation (the d8/d9 oracle contract: label = min partkey in the
# component), so the result is hash-exact despite the iterative engine.
# ---------------------------------------------------------------------------
PR6_TOP_K = 50


@registry.query(
    "pr6_copurchase_components",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= {PR4_MIN_WEIGHT}
    ),
    sym AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL SELECT v, u FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, r.label FROM sym s JOIN reach r ON s.dst = r.node
    ),
    comp AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
    SELECT CAST(c.label AS BIGINT) AS component,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(CAST(p.p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS retail_cents
    FROM comp c JOIN part p ON p.p_partkey = c.node
    GROUP BY c.label
    ORDER BY n_parts DESC, component
    LIMIT {PR6_TOP_K}
    """,
)
def pr6_copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tts_etl_pipeline_spark.functions.exact import money
    from tts_etl_pipeline_spark.functions.graph import connected_components

    pairs = strong_copurchase_pairs(spark, sf_dir, PR4_MIN_WEIGHT)
    comp = connected_components(pairs.selectExpr("u AS src", "v AS dst"))
    part = table(spark, sf_dir, "part").select(
        "p_partkey", (money("p_retailprice") * 100).cast("bigint").alias("cents")
    )
    return (
        comp.join(
            scaled_broadcast(part, sf_dir, "part"),
            comp.node == part.p_partkey,
        )
        .groupBy(F.col("label").cast("bigint").alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").cast("bigint").alias("retail_cents"),
        )
        .orderBy(F.desc("n_parts"), "component")
        .limit(PR6_TOP_K)
    )


# ---------------------------------------------------------------------------
# pr7 — INCREMENTAL CONNECTED COMPONENTS from the change feed
# (sources/ivm.py::maintain_components_from_cdf): d8/d9 cluster a near-dup
# graph batch-wise; this keeps the SAME labeling current as edge commits
# land, the graph face of view maintenance. Each step contracts the
# committed labeling and runs the O(log n) large-star/small-star kernel
# on the LABEL GRAPH only — O(components touched by the batch), never
# O(all nodes) — then broadcasts the batch-sized remap over the state.
# The fixture is a deterministic chain graph over o_orderkey (consecutive
# keys link unless gap > 3 or key % 7 == 0), committed in THREE batches
# keyed by a % 3, so chain fragments land in different commits and the
# cross-commit MERGES are what each maintenance step must discover: the
# query drains mid-backlog (resume pinned), asserts label merges actually
# happened, pins the replay no-op, and refuses an edge-delete commit
# TYPED (a delete can split a component — append-only is the contract).
# The oracle recomputes components declaratively (recursive CTE), so
# value equality proves the incremental path converges to the batch
# fixpoint node-for-node.
# ---------------------------------------------------------------------------
@registry.query(
    "pr7_incremental_components",
    """
    WITH RECURSIVE e AS (
      SELECT a, b FROM (
        SELECT o_orderkey AS a,
               LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS b
        FROM orders) t
      WHERE b IS NOT NULL AND b - a <= 3 AND a % 7 <> 0
    ),
    sym AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL SELECT b AS src, a AS dst FROM e
    ),
    reach(node, label) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, r.label FROM sym s JOIN reach r ON s.dst = r.node
    )
    SELECT node, CAST(MIN(label) AS BIGINT) AS component
    FROM reach GROUP BY node ORDER BY node
    """,
)
def pr7_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tts_etl_pipeline_spark.sources.ivm import (
        maintain_components_from_cdf,
        read_maintained_components,
    )
    from tts_etl_pipeline_spark.sources.versioned import (
        read_version,
        write_version,
    )

    orders = table(spark, sf_dir, "orders").select("o_orderkey")
    with scratch_dir("pr7_") as base:
        pe, st = f"{base}/edges", f"{base}/state"
        # global-sort: the chain fixture needs one total order over
        # o_orderkey to define "consecutive"; fixture construction only —
        # the OPERATOR under test (maintain_components_from_cdf) never
        # sorts globally, and the edge list itself is what scales
        w = Window.orderBy("o_orderkey")
        edges = (
            orders.withColumn("b", F.lead("o_orderkey").over(w))
            .filter(
                F.col("b").isNotNull()
                & (F.col("b") - F.col("o_orderkey") <= 3)
                & (F.col("o_orderkey") % 7 != 0)
            )
            .select(F.col("o_orderkey").alias("a"), "b")
        )
        edges = materialize(edges)
        # three append commits, chain fragments interleaved across them
        write_version(edges.filter(F.col("a") % 3 == 0), pe)
        write_version(edges.filter(F.col("a") % 3 == 1), pe, mode="append")
        # resume-mid-backlog: drain the first two commits ...
        rep1 = maintain_components_from_cdf(spark, pe, st)
        if rep1["steps"] != 2:
            raise RuntimeError(f"first drain must apply 2 commits: {rep1}")
        write_version(edges.filter(F.col("a") % 3 == 2), pe, mode="append")
        # ... then the third lands and the resumed drain applies JUST it
        rep2 = maintain_components_from_cdf(spark, pe, st)
        if rep2["steps"] != 1:
            raise RuntimeError(f"the resume must apply the backlog: {rep2}")
        if not edges.isEmpty() and rep2["label_merges"] == 0:
            raise RuntimeError(
                "the final batch bridges fragments from earlier commits — "
                "zero label merges means the step did not merge components"
            )
        # replay: a third drain applies nothing and changes nothing
        rep3 = maintain_components_from_cdf(spark, pe, st)
        if rep3["steps"] != 0:
            raise RuntimeError(f"IVM replay was not a no-op: {rep3}")
        # an edge DELETE refuses typed: components cannot un-merge
        if not edges.isEmpty():
            write_version(
                read_version(spark, pe).limit(1), pe, mode="overwrite"
            )
            try:
                maintain_components_from_cdf(spark, pe, st)
                raise RuntimeError("an edge delete must refuse")
            except ValueError:
                pass
        return materialize(
            read_maintained_components(spark, st)
            .orderBy("node")
        )
