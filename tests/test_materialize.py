from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kgp import materialize


def _write(spark, tmp_path, rows=100, stage="s1", partition_by=None):
    df = spark.range(rows).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("k"))
    out, n = materialize.write_stage(spark, df, str(tmp_path), stage,
                                     partition_by=partition_by)
    return out, n


def test_write_stage_row_count_from_footers(spark, tmp_path):
    out, n = _write(spark, tmp_path, rows=137)
    assert n == 137
    assert out.count() == 137
    assert materialize.stage_done(str(tmp_path), "s1")


def test_footer_manifest_partitioned_layout(spark, tmp_path):
    _write(spark, tmp_path, rows=90, stage="t", partition_by=["k"])
    rows = materialize.footer_manifest(
        materialize.stage_path(str(tmp_path), "t"), "t")
    assert sum(r[3] for r in rows) == 90
    assert all(r[4] is not None for r in rows)  # checksum present


def test_lineage_rows_appended(spark, tmp_path):
    _write(spark, tmp_path, rows=10, stage="a")
    _write(spark, tmp_path, rows=20, stage="b")
    lin = materialize.lineage(spark, str(tmp_path))
    agg = {r.stage: r.total for r in
           lin.groupBy("stage").agg(F.sum("output_rows").alias("total"))
           .collect()}
    assert agg == {"a": 10, "b": 20}
    cols = set(lin.columns)
    assert {"stage", "partition_id", "input_rows", "output_rows",
            "checksum", "wall_ms", "run_ts"} <= cols


def test_lineage_append_leaves_no_torn_part(spark, tmp_path, monkeypatch):
    """A lineage append that dies before its rename leaves only a
    hidden temp file, which the lineage table's reader skips."""
    _write(spark, tmp_path, rows=10, stage="a")

    def crash(*_a):
        raise OSError("crashed before rename")
    with monkeypatch.context() as m:
        m.setattr(materialize.os, "rename", crash)
        with pytest.raises(OSError):
            _write(spark, tmp_path, rows=20, stage="b")
    lin_dir = os.path.join(str(tmp_path), "lineage")
    left = [n for n in os.listdir(lin_dir) if not n.startswith("part-")]
    assert left and all(n.startswith(".") for n in left)
    with open(os.path.join(lin_dir, left[0]), "r+b") as f:
        f.truncate(7)  # torn, as a crash mid-write would leave it
    lin = spark.read.parquet(lin_dir)
    assert {r.stage: r.total for r in lin.groupBy("stage").agg(
        F.sum("output_rows").alias("total")).collect()} == {"a": 10}


def test_footer_checksum_tracks_content(spark, tmp_path):
    df1 = spark.range(50).coalesce(1)
    df2 = spark.range(50).select((F.col("id") + 1).alias("id")).coalesce(1)
    materialize.write_stage(spark, df1, str(tmp_path), "c1")
    materialize.write_stage(spark, df2, str(tmp_path), "c2")
    m1 = materialize.footer_manifest(
        materialize.stage_path(str(tmp_path), "c1"), "c1")
    m2 = materialize.footer_manifest(
        materialize.stage_path(str(tmp_path), "c2"), "c2")
    # same rows, different values -> different footer stats -> checksums
    assert m1[0][3] == m2[0][3] == 50
    assert m1[0][4] != m2[0][4]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key join WITHOUT any Exchange —
    the co-located-join contract that removes the biggest shuffle from
    repeated entity joins at scale."""
    from kgp.materialize import read_bucketed, write_bucketed
    from pyspark.sql import functions as F
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v1"))
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v2"))
        write_bucketed(left, "bk_left", ["k"], num_buckets=8,
                       sort_cols=["k"])
        write_bucketed(right, "bk_right", ["k"], num_buckets=8,
                       sort_cols=["k"])
        joined = read_bucketed(spark, "bk_left").join(
            read_bucketed(spark, "bk_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_compact_stage_checksum_verified_swap(spark, tmp_path):
    """compact_stage merges a many-small-file stage into few files,
    proves data identity with the order-insensitive checksum, and
    appends a :compact lineage row."""
    from kgp.materialize import compact_stage, lineage, write_stage
    out = str(tmp_path / "run")
    df = spark.range(0, 10_000).selectExpr(
        "id", "concat('s', id % 7) AS subj", "id * 3 AS v") \
        .repartition(50)                      # 50 tiny files
    written, n = write_stage(spark, df, out, "triples")
    assert n == 10_000
    r = compact_stage(spark, out, "triples", target_bytes=1 << 30)
    assert r["files_before"] == 50
    assert r["files_after"] == 1
    assert r["rows"] == 10_000
    after = spark.read.parquet(str(tmp_path / "run" / "triples"))
    assert after.count() == 10_000
    assert after.selectExpr("sum(v)").collect()[0][0] == \
        sum(i * 3 for i in range(10_000))
    lin = lineage(spark, out)
    row = lin.where("stage = 'triples:compact'").collect()[0]
    assert row.output_rows == 10_000 and row.checksum == r["checksum"]


def test_compact_stage_partitioned(spark, tmp_path):
    from kgp.materialize import compact_stage, write_stage
    out = str(tmp_path / "runp")
    df = spark.range(0, 2_000).selectExpr(
        "id", "concat('p', id % 3) AS pred").repartition(20)
    write_stage(spark, df, out, "by_pred", partition_by=["pred"])
    r = compact_stage(spark, out, "by_pred", target_bytes=1 << 30,
                      partition_by=["pred"])
    assert r["files_after"] <= 3 and r["rows"] == 2_000
    back = spark.read.parquet(str(tmp_path / "runp" / "by_pred"))
    assert back.select("pred").distinct().count() == 3
