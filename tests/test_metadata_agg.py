"""Metadata-only aggregation (Iceberg's aggregate pushdown to manifests).

plan_metadata_aggregate answers COUNT(*) / MIN / MAX from the manifest
alone — per-file "__n" record counts stamped at commit, column stats,
shard-entry "rows" totals — or returns a TYPED refusal; aggregate_metadata
serves the answer either way (manifest fold or snapshot scan). The pins
here are the soundness matrix: every metadata-only answer is exact against
a real scan, every unprovable case falls back, and the flagship contract —
the answer survives the DATA FILES BEING GONE — is asserted literally.
"""

import os

import pytest
from pyspark.sql import functions as F

import tts_etl_pipeline_spark.sources.versioned as V


def _scan_agg(spark, path, cols=(), version=None):
    df = V.read_version(spark, path, version)
    aggs = [F.count(F.lit(1)).cast("long").alias("count_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.agg(*aggs).collect()[0]


def test_metadata_agg_exact_and_data_free(spark, tmp_path):
    """Clean table: count/min/max match the scan EXACTLY, and the answer
    still comes out after every data file is renamed away — the proof
    that not one data byte was read."""
    path = str(tmp_path / "t")
    df = spark.range(1000).selectExpr(
        "id AS k", "CAST(id * 1.5 AS DOUBLE) AS x"
    ).repartitionByRange(4, "k")
    V.write_version(df, path, collect_stats=("k", "x"))
    V.write_version(
        spark.range(1000, 1500).selectExpr(
            "id AS k", "CAST(id * 1.5 AS DOUBLE) AS x"
        ),
        path,
        mode="append",
        collect_stats=("k", "x"),
    )
    plan = V.plan_metadata_aggregate(path, ("k", "x"))
    assert plan["metadata_only"] and plan["count"] == 1500
    got = V.aggregate_metadata(spark, path, ("k", "x")).collect()[0]
    want = _scan_agg(spark, path, ("k", "x"))
    assert got == want
    # the data-free proof: hide every data file, ask again
    m = V._read_manifest(path, V.current_version(path))
    for f in m["files"]:
        os.rename(os.path.join(path, f), os.path.join(path, f) + ".x")
    again = V.aggregate_metadata(spark, path, ("k", "x")).collect()[0]
    assert again == want
    for f in m["files"]:
        os.rename(os.path.join(path, f) + ".x", os.path.join(path, f))


def test_metadata_agg_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(100).selectExpr("id AS k"), path, collect_stats=("k",)
    )
    V.write_version(
        spark.range(100, 300).selectExpr("id AS k"),
        path,
        mode="append",
        collect_stats=("k",),
    )
    p1 = V.plan_metadata_aggregate(path, ("k",), version=1)
    assert p1["metadata_only"] and p1["count"] == 100
    assert p1["minmax"]["k"] == [0, 99]
    assert (
        V.aggregate_metadata(spark, path, ("k",), version=1).collect()[0]
        == _scan_agg(spark, path, ("k",), version=1)
    )


def test_metadata_agg_dv_count_exact_minmax_refuses(spark, tmp_path):
    """DV-deleted positions subtract from COUNT via the KB sidecars
    (still zero data IO); MIN/MAX refuses — the vector may have deleted
    the extreme row — and the served answer is scan-exact anyway."""
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(500).selectExpr("id AS k").repartitionByRange(4, "k"),
        path,
        collect_stats=("k",),
    )
    assert V.delete_where_dv(spark, path, "k", 0, 9) == 2
    plan = V.plan_metadata_aggregate(path)
    assert plan["metadata_only"] and plan["count"] == 490
    plan_mm = V.plan_metadata_aggregate(path, ("k",))
    assert not plan_mm["metadata_only"]
    assert "deletion vector" in plan_mm["reason"]
    got = V.aggregate_metadata(spark, path, ("k",)).collect()[0]
    assert got == _scan_agg(spark, path, ("k",))
    assert got["min_k"] == 10  # the fallback scan sees the DV applied
    # the COUNT answer needs no data bytes even with vectors live
    m = V._read_manifest(path, V.current_version(path))
    for f in m["files"]:
        os.rename(os.path.join(path, f), os.path.join(path, f) + ".x")
    assert V.aggregate_metadata(spark, path).collect()[0][0] == 490


def test_metadata_agg_after_dv_update(spark, tmp_path):
    """update_where_dv's appended copies carry the "__n" record count
    like every other staged file, so COUNT(*) stays a manifest fold
    right after a DV update (a copy without it would refuse with
    "predates per-file record counts")."""
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(100).selectExpr("id AS k", "id * 2 AS x")
        .repartitionByRange(2, "k"),
        path,
        collect_stats=("k",),
    )
    assert V.update_where_dv(spark, path, "k", 10, 19, {"x": "x + 1"}) == 2
    plan = V.plan_metadata_aggregate(path)
    assert plan["metadata_only"], plan
    assert plan["count"] == V.read_version(spark, path).count() == 100


def test_metadata_agg_typed_refusals(spark, tmp_path):
    """Every unprovable case is a TYPED fallback, and the served answer
    is exact through the scan path."""
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(50).selectExpr(
            "id AS k",
            "CAST(id AS STRING) AS s",
            "CAST(id AS DECIMAL(10,2)) AS d",
        ),
        path,
        collect_stats=("k", "s"),
    )
    # strings: truncated bounds, not exact values
    p = V.plan_metadata_aggregate(path, ("s",))
    assert not p["metadata_only"] and "int/float/boolean" in p["reason"]
    # decimals: JSON float fold loses exactness
    p = V.plan_metadata_aggregate(path, ("d",))
    assert not p["metadata_only"] and "int/float/boolean" in p["reason"]
    # a column never stat-collected: all-NULL vs not-collected is
    # indistinguishable, so min/max refuses while COUNT stays metadata
    V.write_version(
        spark.range(50, 80).selectExpr(
            "id AS k",
            "CAST(id AS STRING) AS s",
            "CAST(id AS DECIMAL(10,2)) AS d",
        ),
        path,
        mode="append",
        collect_stats=(),
    )
    p = V.plan_metadata_aggregate(path, ("k",))
    assert not p["metadata_only"] and "no recorded stats" in p["reason"]
    assert V.plan_metadata_aggregate(path)["count"] == 80
    # pending equality deletes: matched-row count unknowable
    V.delete_where_eq(path, "k", [3, 7])
    p = V.plan_metadata_aggregate(path)
    assert not p["metadata_only"] and "equality deletes" in p["reason"]
    assert V.aggregate_metadata(spark, path).collect()[0][0] == 78
    # unknown column refuses loudly, not via fallback
    with pytest.raises(ValueError, match="no column"):
        V.plan_metadata_aggregate(path, ("zz",))


def test_metadata_agg_pre_feature_commits_fall_back(spark, tmp_path):
    """A manifest written before the "__n" channel (simulated by
    stripping the stamps) refuses COUNT rather than undercounting."""
    path = str(tmp_path / "t")
    V.write_version(spark.range(40).selectExpr("id AS k"), path)
    mp = V._manifest_path(path, 1)
    import json

    with open(mp, encoding="utf-8") as fh:
        m = json.load(fh)
    for rec in m["stats"].values():
        rec.pop("__n", None)
    os.remove(mp)  # _commit hard-links; replace in place
    with open(mp, "w", encoding="utf-8") as fh:
        json.dump(m, fh)
    p = V.plan_metadata_aggregate(path)
    assert not p["metadata_only"] and "record counts" in p["reason"]
    assert V.aggregate_metadata(spark, path).collect()[0][0] == 40


def test_metadata_agg_initial_default_folds(spark, tmp_path):
    """Iceberg v3 initial-defaults fold as constants: files that predate
    an added column serve the default for every row, so MIN/MAX stays
    metadata-only across the add — and a default-NULL add refuses."""
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(100).selectExpr("id AS k"), path, collect_stats=("k",)
    )
    V.add_column(path, "score", "int", default=7)
    p = V.plan_metadata_aggregate(path, ("score",))
    assert p["metadata_only"] and p["minmax"]["score"] == [7, 7]
    # new rows with real stats narrow/widen the fold correctly
    V.write_version(
        spark.range(100, 130).selectExpr(
            "id AS k", "CAST(id AS INT) AS score"
        ),
        path,
        mode="append",
        collect_stats=("k", "score"),
    )
    p = V.plan_metadata_aggregate(path, ("score",))
    assert p["metadata_only"] and p["minmax"]["score"] == [7, 129]
    assert (
        V.aggregate_metadata(spark, path, ("score",)).collect()[0]
        == _scan_agg(spark, path, ("score",))
    )
    # a no-default add records NO defaults entry, so old files offer no
    # provable bound for the column — the conservative fallback, served
    # exactly (all-NULL min/max) by the scan path
    V.add_column(path, "note", "double")
    p = V.plan_metadata_aggregate(path, ("note",))
    assert not p["metadata_only"] and "no recorded stats" in p["reason"]
    assert (
        V.aggregate_metadata(spark, path, ("note",)).collect()[0]
        == _scan_agg(spark, path, ("note",))
    )


def test_metadata_agg_sharded_entry_only_fold(spark, tmp_path, monkeypatch):
    """Sharded manifests: a clean COUNT+MIN/MAX folds the ENTRY LIST
    alone — zero shard sidecars loaded (the 10^6-file shape) — and a DV
    mutation forces loading exactly the vectored shard, nothing else."""
    monkeypatch.setattr(V, "_SHARD_INLINE_MAX", 6)
    monkeypatch.setattr(V, "_SHARD_SIZE", 4)
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(160).selectExpr("id AS k", "CAST(id*2 AS DOUBLE) AS v")
        .repartitionByRange(8, "k"),
        path,
        collect_stats=("k", "v"),
    )
    assert "shards" in V._read_manifest(path, 1, materialize=False)
    plan = V.plan_metadata_aggregate(path, ("k", "v"))
    assert plan["metadata_only"] and plan["shards_loaded"] == 0
    assert plan["count"] == 160
    assert plan["minmax"] == {"k": [0, 159], "v": [0.0, 318.0]}
    # one DV delete: COUNT stays exact, loading only the touched shards
    V.delete_where_dv(spark, path, "k", 5, 5)
    m = V._read_manifest(path, 2, materialize=False)
    n_dv_entries = sum(
        1 for e in m["shards"]["entries"].values() if e.get("dvf")
    )
    assert n_dv_entries >= 1
    plan2 = V.plan_metadata_aggregate(path)
    assert plan2["metadata_only"] and plan2["count"] == 159
    assert plan2["shards_loaded"] == n_dv_entries
    assert (
        V.aggregate_metadata(spark, path, ("k",), version=1).collect()[0]
        == _scan_agg(spark, path, ("k",), version=1)
    )


def test_metadata_agg_survives_maintenance(spark, tmp_path):
    """compact() / delete_where rewrites restamp "__n" on their new
    files, so the manifest fold keeps answering across maintenance."""
    path = str(tmp_path / "t")
    V.write_version(
        spark.range(300).selectExpr("id AS k").repartitionByRange(3, "k"),
        path,
        collect_stats=("k",),
    )
    V.delete_where(spark, path, "k", 10, 19)
    p = V.plan_metadata_aggregate(path, ("k",))
    assert p["metadata_only"] and p["count"] == 290
    V.compact(spark, path, collect_stats=("k",))
    p = V.plan_metadata_aggregate(path, ("k",))
    assert p["metadata_only"] and p["count"] == 290
    assert p["minmax"]["k"] == [0, 299]
    # a compaction that DROPS the column stats (default collect_stats=())
    # must lose min/max to the fallback but never COUNT — "__n" is
    # stamped by the commit itself, not by stats collection
    V.compact(spark, path)
    assert not V.plan_metadata_aggregate(path, ("k",))["metadata_only"]
    p = V.plan_metadata_aggregate(path)
    assert p["metadata_only"] and p["count"] == 290
    assert (
        V.aggregate_metadata(spark, path, ("k",)).collect()[0]
        == _scan_agg(spark, path, ("k",))
    )
