"""Incremental maintenance of a JOIN aggregate from two tables' change
feeds — the DBSP/materialized-view delta rule over the versioned format.

maintain_counts_from_cdf (sources/rollup.py, ★st21) maintains a
single-table aggregate; the natural next ask is a view over a JOIN —
`SELECT a.g, COUNT(*), SUM(b.m) FROM A JOIN B ON a.k = b.k GROUP BY
a.g` — kept in sync as BOTH base tables take commits, without ever
recomputing the join. The bag-algebra delta rule makes each side's step
local:

    V(va', vb)  = V(va, vb) + ΔA(va→va') ⋈ B@vb        (A-side step)
    V(va', vb') = V(va', vb) + A@va' ⋈ ΔB(vb→vb')       (B-side step)

signs multiply (a CDF delete is −1), so updates (delete+insert pairs)
net exactly. Because versioned tables time-travel, "B@vb" is not an
approximation — the step joins against the EXACT snapshot the watermark
names, which is what makes the telescoping sum land on A@va ⋈ B@vb
bit-for-bit.

Scale shape, per commit: one CDF read (the commit's file-list symmetric
difference, O(changed)), one broadcast of the delta, and one
MANIFEST-PRUNED read of the other side — the delta's join-key span
[min, max] prunes the snapshot read via read_version_pruned, so a CDC
batch against a key-clustered counterpart costs O(overlapping files),
never a full scan. State is itself a versioned table: every state
commit carries the merged aggregate AND the applied (va, vb) version
vector in ONE manifest CAS — a crash between fold and cursor advance
re-delivers a step whose version is <= the watermark, a detectable
no-op (the st21 exactly-once discipline, extended to a vector clock).

The metric is summed in BIGINT (the cents discipline,
functions/exact.py), so signed folds are associative and exact — a
float sum would drift under insert/delete churn.

Pins: tests/test_ivm_join.py (convergence to the batch recompute under
multi-commit churn on both sides, replay no-op, pruning effectiveness,
NULL groups), driver query ★st25 (oracle = the batch join-aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tts_etl_pipeline_spark.sources import versioned as V

_META_COLS = ("__meta", "__va", "__vb")


def _signed_changes(spark: SparkSession, path: str, v: int) -> DataFrame:
    """One commit's change rows with a ±1 `__sign` column. Version 1 has
    no predecessor manifest: its 'feed' is the snapshot itself, all
    inserts — the stream_changes first-delivery convention."""
    if v == 1:
        df = V.read_version(spark, path, 1).withColumn(
            "__sign", F.lit(1).cast("long")
        )
        return df
    feed = V.table_changes(spark, path, v - 1, v)
    return feed.withColumn(
        "__sign",
        F.when(F.col("_change_type") == "insert", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long"),
    ).drop("_change_type")


def _read_state(spark: SparkSession, state_path: str):
    if V.current_version(state_path) == 0:
        return None, 0, 0
    st = V.read_version(spark, state_path)
    row = st.filter(F.col("__meta")).select("__va", "__vb").head()
    return st, int(row["__va"]), int(row["__vb"])


def _commit_state(
    spark: SparkSession,
    state_path: str,
    merged: DataFrame,
    group_col: str,
    va: int,
    vb: int,
) -> None:
    gtype = merged.schema[group_col].dataType
    data = merged.select(
        F.lit(False).alias("__meta"),
        F.lit(va).cast("long").alias("__va"),
        F.lit(vb).cast("long").alias("__vb"),
        F.col(group_col),
        F.col("cnt").cast("long"),
        F.col("s").cast("long"),
    )
    meta_schema = T.StructType(
        [
            T.StructField("__meta", T.BooleanType(), False),
            T.StructField("__va", T.LongType(), False),
            T.StructField("__vb", T.LongType(), False),
            # nullable: the meta row serves NULL for the payload columns
            T.StructField(group_col, gtype, True),
            T.StructField("cnt", T.LongType(), True),
            T.StructField("s", T.LongType(), True),
        ]
    )
    meta_row = spark.createDataFrame([(True, va, vb, None, None, None)], meta_schema)
    # ONE atomic commit carries the aggregate + the version vector
    V.write_version(data.unionByName(meta_row), state_path, mode="overwrite")


def maintain_join_agg_from_cdf(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    state_path: str,
    key_a: str,
    key_b: str,
    group_col: str,
    metric_col: str,
) -> dict:
    """Advance the maintained view of

        SELECT a.<group_col>, COUNT(*) AS cnt, SUM(b.<metric_col>) AS s
        FROM A JOIN B ON a.<key_a> = b.<key_b>
        GROUP BY a.<group_col>

    to both tables' current heads, one source commit per state commit
    (A's backlog first, then B's — the vector clock advances
    lexicographically, so any crash point resumes deterministically).
    Returns a report: steps applied per side, and the pruning tally
    {files_skipped, files_total} of the counterpart snapshot reads —
    the 100 TB telemetry: skipped ≈ total means the layout is doing its
    job. Re-running after completion is a provable no-op (0 steps).

    `metric_col` must be an integral column (the BIGINT cents
    discipline) — refused otherwise, because signed float folds drift."""
    report = {"a_steps": 0, "b_steps": 0, "files_skipped": 0, "files_total": 0}

    def _check_metric(df: DataFrame) -> None:
        t = df.schema[metric_col].dataType
        if not isinstance(
            t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        ):
            raise ValueError(
                f"metric {metric_col!r} is {t.simpleString()}; IVM sums must "
                "be integral (scale to cents first — signed float folds drift)"
            )

    def _contrib(delta: DataFrame, other: DataFrame, dkey: str, okey: str) -> DataFrame:
        # broadcast the commit-sized delta against the pruned snapshot;
        # A and B column names must be disjoint apart from the keys (the
        # TPC-H o_*/l_* discipline), so group/metric resolve unambiguously
        d = F.broadcast(delta.withColumnRenamed(dkey, "__dk"))
        pairs = d.join(other, F.col("__dk") == F.col(okey))
        return pairs.groupBy(group_col).agg(
            F.sum("__sign").alias("cnt"),
            F.sum(F.col("__sign") * F.col(metric_col)).alias("s"),
        )

    def _merge_and_commit(contrib: DataFrame, va: int, vb: int) -> None:
        st = (
            V.read_version(spark, state_path)
            if V.current_version(state_path) > 0
            else None
        )
        if st is not None:
            merged = (
                st.filter(~F.col("__meta"))
                .select(group_col, "cnt", "s")
                .unionByName(contrib.select(group_col, "cnt", "s"))
                .groupBy(group_col)
                .agg(F.sum("cnt").alias("cnt"), F.sum("s").alias("s"))
            )
        else:
            merged = contrib
        merged = merged.filter((F.col("cnt") != 0) | (F.col("s") != 0))
        _commit_state(spark, state_path, merged, group_col, va, vb)

    _, va, vb = _read_state(spark, state_path)
    head_a, head_b = V.current_version(path_a), V.current_version(path_b)
    if head_a == 0 or head_b == 0:
        raise ValueError(
            "both base tables need a committed version before maintenance "
            f"(A@{head_a}, B@{head_b})"
        )

    for v in range(va + 1, head_a + 1):
        delta = _signed_changes(spark, path_a, v)
        span = delta.agg(
            F.min(key_a).alias("lo"), F.max(key_a).alias("hi")
        ).first()
        if span["lo"] is None or vb == 0:
            # empty delta, or B not yet born: the step contributes nothing
            contrib = None
        else:
            bdf, skipped, total = V.read_version_pruned(
                spark, path_b, key_b, span["lo"], span["hi"], version=vb
            )
            _check_metric(bdf)
            report["files_skipped"] += skipped
            report["files_total"] += total
            contrib = _contrib(delta, bdf, key_a, key_b)
        if contrib is None:
            contrib = _empty_contrib(spark, path_a, group_col)
        _merge_and_commit(contrib, v, vb)
        report["a_steps"] += 1

    va = max(va, head_a)
    for v in range(vb + 1, head_b + 1):
        delta = _signed_changes(spark, path_b, v)
        _check_metric(delta)
        span = delta.agg(
            F.min(key_b).alias("lo"), F.max(key_b).alias("hi")
        ).first()
        if span["lo"] is None or va == 0:
            contrib = _empty_contrib(spark, path_a, group_col)
        else:
            adf, skipped, total = V.read_version_pruned(
                spark, path_a, key_a, span["lo"], span["hi"], version=va
            )
            report["files_skipped"] += skipped
            report["files_total"] += total
            contrib = _contrib(delta, adf, key_b, key_a)
        _merge_and_commit(contrib, va, v)
        report["b_steps"] += 1
    return report


def _empty_contrib(spark: SparkSession, path_a: str, group_col: str) -> DataFrame:
    m = V._open_base(path_a).m
    gtype = next(
        f.dataType
        for f in V._schema_from_json(m["schema"]).fields
        if f.name == group_col
    )
    schema = T.StructType(
        [
            T.StructField(group_col, gtype, True),
            T.StructField("cnt", T.LongType(), True),
            T.StructField("s", T.LongType(), True),
        ]
    )
    return spark.createDataFrame([], schema)


def read_maintained_join_agg(spark: SparkSession, state_path: str) -> DataFrame:
    """The maintained join aggregate, version-vector row stripped."""
    return (
        V.read_version(spark, state_path)
        .filter(~F.col("__meta"))
        .drop(*_META_COLS)
    )


def maintain_components_from_cdf(
    spark: SparkSession,
    edges_path: str,
    state_path: str,
    a: str = "a",
    b: str = "b",
) -> dict:
    """INCREMENTAL CONNECTED COMPONENTS over an append-only edge table —
    the graph face of view maintenance (the near-dup clustering d8/d9
    compute batch-wise, kept current as edge commits land).

    The incremental insight: a committed labeling L is itself a
    contracted graph. A new edge batch only ever MERGES existing
    components, so each step runs connected_components (functions/
    graph.py: solved on the driver when small, else the O(log n)
    large-star/small-star rounds) on the LABEL GRAPH — edges
    (L[u], L[v]) for the batch's endpoints — whose size is
    O(components touched by the batch), never O(all nodes). The
    resulting label remap is batch-sized: broadcast it, relabel the
    state rows whose label changed, insert the batch's new nodes, ONE
    state commit per source commit with the applied-version watermark
    (the st21/st25 exactly-once discipline).

    Append-only is the contract: an edge DELETE can split a component,
    which no label-merge can express — a delete in the feed refuses
    TYPED (recompute batch-wise for decremental workloads), and NULL
    endpoints refuse likewise (a NULL node id is a data bug, not a
    vertex). Returns {steps, label_merges, inserted}."""
    report = {"steps": 0, "label_merges": 0, "inserted": 0}
    from tts_etl_pipeline_spark.functions.graph import connected_components

    head = V.current_version(edges_path)
    if head == 0:
        raise ValueError(f"no versions at {edges_path}")
    if V.current_version(state_path) > 0:
        w = int(
            V.read_version(spark, state_path)
            .filter(F.col("__meta"))
            .select("__v")
            .head()[0]
        )
    else:
        w = 0
    for v in range(w + 1, head + 1):
        feed = _signed_changes(spark, edges_path, v)
        if not feed.filter(F.col("__sign") < 0).isEmpty():
            raise ValueError(
                "edge feed contains deletes; incremental components are "
                "append-only (a delete can SPLIT a component — recompute "
                "batch-wise instead)"
            )
        batch = feed.select(
            F.col(a).alias("__u"), F.col(b).alias("__v")
        ).distinct()
        if not batch.filter(
            F.col("__u").isNull() | F.col("__v").isNull()
        ).isEmpty():
            raise ValueError("edge batch holds NULL endpoints")
        if not batch.filter(
            (F.col("__u") < 0) | (F.col("__v") < 0)
        ).isEmpty():
            raise ValueError(
                "edge batch holds negative node ids; the state's watermark "
                "sentinel reserves them (ids must be non-negative)"
            )
        state = (
            V.read_version(spark, state_path).filter(~F.col("__meta"))
            if V.current_version(state_path) > 0
            else None
        )
        nodes = (
            batch.select(F.col("__u").alias("node"))
            .unionByName(batch.select(F.col("__v").alias("node")))
            .distinct()
        )
        if state is not None:
            lab = state.select(
                F.col("node").alias("__n"), F.col("label").alias("__l")
            )
            cur = nodes.join(
                lab, nodes["node"] == F.col("__n"), "left"
            ).select(
                "node", F.coalesce("__l", "node").alias("label")
            )
        else:
            cur = nodes.withColumn("label", F.col("node"))
        from tts_etl_pipeline_spark.functions.checkpoints import materialize

        cur = materialize(cur)
        lu = cur.select(
            F.col("node").alias("__u"), F.col("label").alias("__lu")
        )
        lv = cur.select(
            F.col("node").alias("__v"), F.col("label").alias("__lv")
        )
        lgraph = (
            batch.join(lu, "__u").join(lv, "__v")
            .select(F.col("__lu").alias("src"), F.col("__lv").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # remap is LABEL-GRAPH-sized (merged components only; empty when
        # the batch merges nothing): broadcast it
        remap = connected_components(lgraph)
        r = F.broadcast(
            remap.select(F.col("node").alias("__old"), F.col("label").alias("__new"))
        )

        def relabeled(df):
            return df.join(r, df["label"] == F.col("__old"), "left").select(
                "node", F.coalesce("__new", "label").alias("label")
            )

        report["label_merges"] += remap.count()

        def _rows(df, vv):
            return df.select(
                F.lit(False).alias("__meta"),
                F.lit(vv).cast("long").alias("__v"),
                F.col("node").cast("long"),
                F.col("label").cast("long"),
            )

        meta_schema = T.StructType(
            [
                T.StructField("__meta", T.BooleanType(), False),
                T.StructField("__v", T.LongType(), False),
                T.StructField("node", T.LongType(), False),
                T.StructField("label", T.LongType(), True),
            ]
        )
        # the watermark rides as a sentinel node (-1): equality deletes
        # cannot target NULL, and the CDC-upsert state commit below is
        # keyed on `node` — real node ids must therefore be non-negative
        meta_row = spark.createDataFrame([(True, v, -1, None)], meta_schema)
        if state is not None:
            fresh = cur.join(
                state.select(F.col("node").alias("__have")),
                cur["node"] == F.col("__have"),
                "left_anti",
            )
            report["inserted"] += fresh.count()
            # O(CHANGED) state commit, not O(state): only rows whose label
            # the remap moves, plus genuinely new nodes, upsert through
            # the Iceberg-CDC path (fresh files + one equality delete on
            # `node`) — the unchanged millions ride by reference. compact()
            # / purge_eq bound the accreted delete list like DV debt.
            changed_old = state.join(
                r, state["label"] == F.col("__old")
            ).select("node", F.col("__new").alias("label"))
            batch = _rows(
                changed_old.unionByName(relabeled(fresh)), v
            ).unionByName(meta_row)
            V.upsert_where_eq(batch, state_path, "node")
        else:
            report["inserted"] += cur.count()
            V.write_version(
                _rows(relabeled(cur), v).unionByName(meta_row),
                state_path,
                mode="overwrite",
            )
        report["steps"] += 1
    return report


def read_maintained_components(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """The maintained labeling as (node, component)."""
    return (
        V.read_version(spark, state_path)
        .filter(~F.col("__meta"))
        .select("node", F.col("label").alias("component"))
    )
