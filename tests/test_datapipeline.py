"""End-to-end tests for the training-data curation pipeline
(kgp.datapipeline): stage tables + resume + lineage, and equality of
the materialized curated corpus with the direct operator
composition."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from kgp import curation, dedup, materialize
from kgp.datapipeline import curation_stages, run_data_pipeline

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def run_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("datapipe"))
    run_data_pipeline(spark, SF, out)
    return out


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


def test_curated_carries_clean_text(spark, run_dir):
    cur = materialize.read_stage(spark, run_dir, "curated")
    assert set(cur.columns) == {"doc_id", "url", "clean_text"}
    assert cur.where(F.col("clean_text").isNull()).count() == 0


def test_resume_skips_everything(spark, run_dir):
    m = run_data_pipeline(spark, SF, run_dir)
    assert all(v.get("resumed") for v in m.values()
               if isinstance(v, dict) and "resumed" in v), m


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
