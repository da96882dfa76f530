"""The versioned-table Python DataSource (sources/pyds_versioned.py,
driver query j38): spark.read.format / SQL-view parity with
read_version, pushdown-planned file skipping against a report sidecar,
schema-evolution vintages (rename / widen / add-column), and the
merge-on-read refusals."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tts_etl_pipeline_spark.sources.pyds_versioned import register
from tts_etl_pipeline_spark.sources.versioned import (
    add_column,
    delete_where_dv,
    delete_where_eq,
    read_version,
    rename_column,
    widen_column,
    write_version,
)


@pytest.fixture(scope="module", autouse=True)
def _pushdown(spark):
    register(spark)
    prior = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    yield
    spark.conf.set("spark.sql.python.filterPushdown.enabled", prior)


def _mk(spark, base):
    path = f"{base}/t"
    df = spark.range(1, 2001).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("p"),
        (F.col("id") % 5).cast("string").alias("g"),
    )
    write_version(df.repartitionByRange(8, "k"), path, collect_stats=("k",))
    return path, df


def _fmt(spark, path, **opts):
    r = spark.read.format("versioned_table").option("path", path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_ds_full_parity_and_pushdown_pruning(spark):
    base = tempfile.mkdtemp(prefix="pdsv_")
    try:
        path, df = _mk(spark, base)
        assert sorted(map(tuple, _fmt(spark, path).collect())) == sorted(
            map(tuple, df.collect())
        )
        rpt = f"{base}/rpt.json"
        got = (
            _fmt(spark, path, report=rpt)
            .filter(F.col("k").between(100, 150))
            .count()
        )
        rep = json.load(open(rpt))
        assert got == 51
        assert rep["files_total"] == 8
        assert rep["files_planned"] == 1  # range files: one holds [100,150]
        # IN-list probes plan only the named keys' files
        got = (
            _fmt(spark, path, report=rpt)
            .filter(F.col("k").isin(5, 1500))
            .count()
        )
        rep = json.load(open(rpt))
        assert got == 2 and rep["files_planned"] == 2
        # a provably-empty range plans ZERO real partitions
        got = _fmt(spark, path, report=rpt).filter(F.col("k") > 10**9).count()
        rep = json.load(open(rpt))
        assert got == 0 and rep["files_planned"] == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ds_sql_view_and_time_travel(spark):
    base = tempfile.mkdtemp(prefix="pdsv_")
    try:
        path, df = _mk(spark, base)
        write_version(df.limit(100), path, mode="overwrite")
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW pdsv_v1 USING versioned_table "
            f"OPTIONS (path '{path}', version '1')"
        )
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW pdsv_head USING "
            f"versioned_table OPTIONS (path '{path}')"
        )
        assert spark.sql("SELECT COUNT(*) FROM pdsv_v1").first()[0] == 2000
        assert spark.sql("SELECT COUNT(*) FROM pdsv_head").first()[0] == 100
        # a JOIN of two versions of the same table, pure SQL
        n = spark.sql(
            "SELECT COUNT(*) FROM pdsv_head h JOIN pdsv_v1 o ON h.k = o.k"
        ).first()[0]
        assert n == 100
    finally:
        spark.catalog.dropTempView("pdsv_v1")
        spark.catalog.dropTempView("pdsv_head")
        shutil.rmtree(base, ignore_errors=True)


def test_ds_schema_evolution_vintages(spark):
    base = tempfile.mkdtemp(prefix="pdsv_")
    try:
        path = f"{base}/t"
        df = spark.createDataFrame(
            [(1, 10), (2, 20)], "k int, v int"
        )
        write_version(df, path)
        widen_column(path, "v", "bigint")  # old files: int -> cast up
        add_column(path, "tag", "string")  # old files: NULL fill
        rename_column(path, "k", "key")  # physical name stays, colmap maps
        write_version(
            spark.createDataFrame([(3, 30, "x")], "key int, v bigint, tag string"),
            path,
            mode="append",
        )
        got = sorted(map(tuple, _fmt(spark, path).collect()))
        exp = sorted(
            map(tuple, read_version(spark, path).collect())
        )
        assert got == exp == [(1, 10, None), (2, 20, None), (3, 30, "x")]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ds_refuses_mor_state_typed(spark):
    base = tempfile.mkdtemp(prefix="pdsv_")
    try:
        path, df = _mk(spark, base)
        delete_where_dv(spark, path, "k", 1, 1)
        with pytest.raises(Exception, match="deletion vectors"):
            _fmt(spark, path).count()
        # v1 (pre-DV) still serves
        assert _fmt(spark, path, version="1").count() == 2000
        path2 = f"{base}/t2"
        write_version(df.select("k", "p"), path2, collect_stats=("k",))
        delete_where_eq(path2, "k", [5])
        with pytest.raises(Exception, match="equality deletes"):
            _fmt(spark, path2).count()
        path3 = f"{base}/t3"
        write_version(df.select("k", "p"), path3)
        add_column(path3, "w", "int", default=7)
        with pytest.raises(Exception, match="initial-defaults"):
            _fmt(spark, path3).count()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ds_plain_reader_without_pushdown_conf(spark):
    base = tempfile.mkdtemp(prefix="pdsv_")
    prior = spark.conf.get("spark.sql.python.filterPushdown.enabled")
    try:
        path, df = _mk(spark, base)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
        # the default reader refuses under the disabled conf ...
        with pytest.raises(Exception, match="filterPushdown"):
            _fmt(spark, path).count()
        # ... and the opt-out serves a plain (unskipped, exact) scan
        rpt = f"{base}/rpt.json"
        got = (
            _fmt(spark, path, pushdown="false", report=rpt)
            .filter(F.col("k").between(100, 150))
            .count()
        )
        rep = json.load(open(rpt))
        assert got == 51
        assert rep["files_planned"] == rep["files_total"] == 8
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", prior)
        shutil.rmtree(base, ignore_errors=True)


def test_ds_empty_table_serves_schema(spark):
    base = tempfile.mkdtemp(prefix="pdsv_")
    try:
        path = f"{base}/t"
        write_version(
            spark.createDataFrame([], "k long, p double"), path
        )
        got = _fmt(spark, path)
        assert got.count() == 0
        assert got.columns == ["k", "p"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_pushed_cross_type_and_overflow_probes_read_the_file():
    """Pushed filters never crash planning and never skip unsoundly: a
    probe the recorded bounds cannot be ordered against (a number
    against string bounds, a string or NULL against numeric bounds, an
    int too large for the float-widened order) proves nothing, so the
    file is read; a comparable disjoint probe still skips."""
    from tts_etl_pipeline_spark.sources.pyds_versioned import _file_disjoint

    num, text = {"k": [1, 10]}, {"g": ["a", "m"]}
    for kind in ("eq", "ge", "le"):
        assert not _file_disjoint(text, [("g", kind, [5])])
        assert not _file_disjoint(num, [("k", kind, ["x"])])
        assert not _file_disjoint(num, [("k", kind, [None])])
        assert not _file_disjoint(num, [("k", kind, [10**400])])
    assert _file_disjoint(num, [("k", "eq", [50])])
    assert _file_disjoint(num, [("k", "ge", [11])])
    assert _file_disjoint(text, [("g", "le", ["0"])])
