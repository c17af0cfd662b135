"""End-to-end tests for the training-data curation pipeline
(kgp.datapipeline): stage tables + resume + lineage, and equality of
the materialized curated corpus with the direct operator
composition."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from kgp import curation, datapipeline, dedup, materialize, repetition
from kgp.datapipeline import curation_stages, run_data_pipeline

SF = "/root/testdata/sf0.001"
# stage -> schema of the table the write path returned in the first run
WRITTEN: dict = {}
# stage -> Spark jobs it ran in the first run
FULL_JOBS: dict = {}


@pytest.fixture(scope="module")
def run_dir(spark, tmp_path_factory, per_stage_jobs):
    out = str(tmp_path_factory.mktemp("datapipe"))
    runner = datapipeline._stage

    def recording(spark, out_dir, name, fn, **kw):
        df = runner(spark, out_dir, name, fn, **kw)
        WRITTEN[name] = df.schema
        return df
    with pytest.MonkeyPatch.context() as m:
        m.setattr(datapipeline, "_stage",
                  per_stage_jobs(recording, "full", FULL_JOBS))
        run_data_pipeline(spark, SF, out)
    return out


def test_write_path_schema_matches_resume_path(spark, run_dir):
    """Downstream stages see the same schema whether a stage was just
    written or is resumed from its table."""
    assert set(WRITTEN) == {"pages", "dedup", "signals", "curated",
                            "links", "host_graph", "ranks"}
    for stage, schema in WRITTEN.items():
        assert schema == materialize.read_stage(
            spark, run_dir, stage).schema, stage


def test_stage_tables_exist(run_dir):
    for stage in ("pages", "dedup", "signals", "curated", "links",
                  "host_graph", "ranks"):
        assert os.path.exists(os.path.join(run_dir, stage,
                                           "_SUCCESS")), stage
    assert os.path.exists(os.path.join(run_dir, "metrics.json"))


def test_curated_matches_direct_composition(spark, run_dir):
    got = {r.doc_id for r in
           materialize.read_stage(spark, run_dir, "curated")
           .select("doc_id").collect()}
    docs = materialize.read_stage(spark, run_dir, "pages") \
        .select("doc_id", "text")
    exact_keep = {r.doc_id for r in dedup.exact_dup_groups(docs)
                  .where("is_canonical").collect()}
    near_keep = {r.doc_id for r in dedup.near_dup_groups(docs)
                 .where("is_canonical").collect()}
    gopher_keep = {r.doc_id for r in
                   curation.gopher_quality_signals(docs)
                   .where(curation.gopher_quality_filter())
                   .collect()}
    c4_keep = {r.doc_id for r in curation.c4_filter(docs)
               .where("keep_doc").collect()}
    want = exact_keep & near_keep & gopher_keep & c4_keep
    assert got == want
    assert got, "curated corpus must be non-empty at sf0.001"


def test_signals_is_one_projection(spark, run_dir):
    """The signals table is one projection of the documents: no
    Exchange, one Python evaluation, one Spark job, and the same rows
    as the three signal functions joined on doc_id."""
    docs = materialize.read_stage(spark, run_dir, "pages") \
        .select("doc_id", "url", "text")
    sig = datapipeline._signals_table(docs)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert FULL_JOBS["signals"] == 1
    joined = (curation.gopher_quality_signals(docs)
              .withColumn("gopher_keep", curation.gopher_quality_filter())
              .join(curation.c4_filter(docs).select(
                  "doc_id", "clean_text", "n_kept",
                  F.col("keep_doc").alias("c4_keep")), "doc_id")
              .join(repetition.repetition_signals(docs), "doc_id"))
    assert sig.columns == joined.columns
    done = materialize.read_stage(spark, run_dir, "signals")
    assert (sorted(map(tuple, done.collect()))
            == sorted(map(tuple, joined.collect())))


def test_curated_carries_clean_text(spark, run_dir):
    cur = materialize.read_stage(spark, run_dir, "curated")
    assert set(cur.columns) == {"doc_id", "url", "clean_text"}
    assert cur.where(F.col("clean_text").isNull()).count() == 0


def test_resume_skips_everything(spark, run_dir):
    m = run_data_pipeline(spark, SF, run_dir)
    assert all(v.get("resumed") for v in m.values()
               if isinstance(v, dict) and "resumed" in v), m


def test_resume_reads_run_no_job(spark, run_dir, per_stage_jobs):
    """A resume reads every reused stage with its stored schema: no
    read runs a Spark job (an inferred schema costs one each)."""
    jobs: dict = {}
    with pytest.MonkeyPatch.context() as m:
        m.setattr(materialize, "read_stage", per_stage_jobs(
            materialize.read_stage, "curate-read", jobs))
        run_data_pipeline(spark, SF, run_dir)
    assert jobs == dict.fromkeys(WRITTEN, 0)


def test_resume_remakes_ranks_exactly(spark, run_dir, per_stage_jobs):
    """With the web-graph tables deleted, a resume remakes ranks equal
    (==, no tolerance) to the full run's, and with as many Spark jobs:
    neither the ranks nor their cost depend on run history."""
    def ranks():
        return sorted(map(tuple, materialize.read_stage(
            spark, run_dir, "ranks").collect()))
    full = ranks()
    for stage in ("links", "host_graph", "ranks"):
        shutil.rmtree(os.path.join(run_dir, stage))
    jobs: dict = {}
    with pytest.MonkeyPatch.context() as m:
        m.setattr(datapipeline, "_stage", per_stage_jobs(
            datapipeline._stage, "resume", jobs))
        metrics = run_data_pipeline(spark, SF, run_dir)
    assert not metrics["ranks"]["resumed"]
    assert ranks() == full
    assert jobs["ranks"] == FULL_JOBS["ranks"]


def test_lineage_rows_per_stage(spark, run_dir):
    stages = {r.stage for r in
              materialize.lineage(spark, run_dir).collect()}
    assert {"pages", "dedup", "signals", "curated", "links",
            "host_graph", "ranks"} <= stages


def test_lazy_curated_matches_materialized(spark, run_dir):
    """The curation DAG run lazily (no tables) yields the materialized
    curated corpus row for row."""
    lazy = curation_stages(spark, materialize.lazy_stage(), SF)["curated"]
    done = materialize.read_stage(spark, run_dir, "curated")
    cols = ["doc_id", "url", "clean_text"]
    assert (sorted(tuple(r) for r in lazy.select(*cols).collect())
            == sorted(tuple(r) for r in done.select(*cols).collect()))


def test_import_leaves_kg_pipeline_unloaded():
    """The curation pipeline shares only the materialize layer with the
    KG pipeline: importing it loads none of the KG stage modules."""
    kg = ["kgp.pipeline", "kgp.mentions", "kgp.linker", "kgp.relations"]
    code = ("import sys, kgp.datapipeline; "
            f"print([m for m in {kg!r} if m in sys.modules])")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]", out
