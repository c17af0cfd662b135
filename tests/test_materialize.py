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


def test_stage_done_needs_stored_schema(spark, tmp_path):
    """read_stage reads the schema write_stage stored; a table without
    its _stage.json (cut off, or written before the file existed) is
    not done, and the stage runner recomputes it."""
    out_dir = str(tmp_path)
    out, _ = _write(spark, tmp_path, rows=20, stage="s2")
    assert materialize.read_stage(spark, out_dir, "s2").schema == out.schema
    os.remove(os.path.join(materialize.stage_path(out_dir, "s2"),
                           materialize.STAGE_META))
    assert not materialize.stage_done(out_dir, "s2")
    metrics: dict = {}
    materialize._stage(spark, out_dir, "s2", lambda: spark.range(3),
                       metrics=metrics)
    assert metrics["s2"]["resumed"] is False
    assert metrics["s2"]["rows"] == 3
    assert materialize.stage_done(out_dir, "s2")


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


@pytest.mark.parametrize("partition_by", [None, ["pred"]])
def test_write_stage_rereads_without_inference(spark, tmp_path,
                                               partition_by,
                                               jobs_in_group):
    """write_stage runs exactly the jobs of a plain parquet write of the
    same frame: its re-read is given the schema instead of inferring
    it. The schema it returns is the one inference gives, nested
    nullability and partition-column order included."""
    df = spark.range(60).select(
        F.col("id"),
        F.concat(F.lit("p"), (F.col("id") % 3).cast("string")).alias("pred"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.struct(F.col("id").alias("a"),
                 F.lit("x").alias("b")).alias("st"),
        (F.col("id") / 7).alias("ratio"))
    tag = "part" if partition_by else "flat"

    def plain():
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(tmp_path / "plain"))
    got = {}

    def staged():
        got["out"], got["rows"] = materialize.write_stage(
            spark, df, str(tmp_path), "s", partition_by=partition_by)
    assert (jobs_in_group(f"stage-{tag}", staged)
            == jobs_in_group(f"plain-{tag}", plain))
    path = materialize.stage_path(str(tmp_path), "s")
    assert got["out"].schema == spark.read.parquet(path).schema
    assert got["rows"] == 60
    assert (sorted(map(tuple, got["out"].collect()))
            == sorted(map(tuple, spark.read.parquet(path).collect())))

