from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kgp import materialize, pipeline
from kgp.corpus import synth_pages
from kgp.golden import golden_triples, precision_recall
from kgp.pipeline import kg_stages, run_pipeline

# stage -> schema of the table the write path returned in the first run
WRITTEN: dict = {}


@pytest.fixture(scope="module")
def run_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kgp-run"))
    runner = pipeline._stage

    def recording(spark, out_dir, name, fn, **kw):
        df = runner(spark, out_dir, name, fn, **kw)
        WRITTEN[name] = df.schema
        return df
    with pytest.MonkeyPatch.context() as m:
        m.setattr(pipeline, "_stage", recording)
        run_pipeline(spark, sf_dir, out)
    return out


def test_write_path_schema_matches_resume_path(spark, run_dir):
    """Downstream stages see the same schema whether a stage was just
    written or is resumed from its table."""
    assert set(WRITTEN) == {"pages", "docs", "ner_model", "mentions",
                            "links", "canon", "triples_raw", "triples"}
    for stage, schema in WRITTEN.items():
        assert schema == materialize.read_stage(
            spark, run_dir, stage).schema, stage


def test_resume_reads_run_no_job(spark, sf_dir, run_dir, per_stage_jobs):
    """A resume reads every reused stage with its stored schema: no
    read runs a Spark job (an inferred schema costs one each)."""
    jobs: dict = {}
    with pytest.MonkeyPatch.context() as m:
        m.setattr(materialize, "read_stage", per_stage_jobs(
            materialize.read_stage, "kg-read", jobs))
        run_pipeline(spark, sf_dir, run_dir)
    assert jobs == dict.fromkeys(WRITTEN, 0)


def test_resume_compiles_no_generated_code(spark, sf_dir, tmp_path):
    """The generated-code cache holds a full run's classes: a resume
    that rebuilds every stage after ner_model compiles nothing."""
    out = str(tmp_path / "codegen-run")
    run_pipeline(spark, sf_dir, out)
    for stage in ("mentions", "links", "canon", "triples_raw", "triples"):
        shutil.rmtree(os.path.join(out, stage))
    compiled = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    before = compiled.getCount()
    m = run_pipeline(spark, sf_dir, out)
    assert not m["triples"]["resumed"]
    assert compiled.getCount() == before


def _rebuild_stage(spark, run_dir, name, out, jobs_in_group) -> dict:
    """Run kg_stages with every stage read from run_dir but `name`,
    which is built and written under out. Returns its Spark jobs and
    the DataFrame its stage runner wrote."""
    got: dict = {}

    def stage(s, build, partition_by=None):
        if s != name:
            return materialize.read_stage(spark, run_dir, s)

        def write():
            df = build()
            got["written"] = (df.repartition(*partition_by)
                              if partition_by else df)
            materialize.write_stage(spark, got["written"], out, s,
                                    partition_by=partition_by)
        got["jobs"] = jobs_in_group(f"rebuild-{s}", write)
        return materialize.read_stage(spark, out, s)
    kg_stages(spark, stage, pages=None)
    return got


def test_links_stage_job_count(spark, run_dir, tmp_path, jobs_in_group):
    """The gazetteer side of `links` is one collect on the driver: the
    stage's build and write run at most four Spark jobs."""
    got = _rebuild_stage(spark, run_dir, "links", str(tmp_path),
                         jobs_in_group)
    assert got["jobs"] <= 4


def test_triples_stage_shuffles_once_on_pred(spark, run_dir, tmp_path,
                                            jobs_in_group):
    """The triple dedup reads the hash(pred) exchange the partitioned
    write needs: one Exchange, at most two Spark jobs."""
    got = _rebuild_stage(spark, run_dir, "triples", str(tmp_path),
                         jobs_in_group)
    plan = got["written"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(pred#" in plan, plan
    assert got["jobs"] <= 2


def _doc_ids(spark, sf_dir):
    return [r.doc_id for r in spark.read.parquet(
        f"{sf_dir}/documents.parquet").select("doc_id").collect()]


def test_triples_precision_recall(spark, sf_dir, run_dir):
    """The north-rule gate: P/R >= 0.95 vs the independently-computed
    golden triple set. (On this corpus the pipeline is exact, so we
    assert the stronger P=R=1.0 via set equality.)"""
    triples = materialize.read_stage(spark, run_dir, "triples")
    predicted = {(r.subj, r.pred, r.obj)
                 for r in triples.select("subj", "pred", "obj").collect()}
    golden = golden_triples(_doc_ids(spark, sf_dir))
    p, r = precision_recall(predicted, golden)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert predicted == golden


def test_triples_partitioned_by_pred(run_dir):
    parts = {d for d in os.listdir(os.path.join(run_dir, "triples"))
             if d.startswith("pred=")}
    assert parts == {f"pred={p}" for p in
                     ("ceo_of", "born_in", "headquartered_in",
                      "capital_of", "works_for", "founded")}


def test_lineage_manifest(spark, run_dir):
    lin = materialize.lineage(spark, run_dir)
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert {"pages", "docs", "mentions", "links", "canon",
            "triples_raw", "triples"} <= stages
    row = lin.where(F.col("stage") == "triples").limit(1).collect()[0]
    assert row.output_rows > 0 and row.checksum is not None
    assert row.wall_ms is not None and row.wall_ms >= 0


def test_resume_skips_completed_stages(spark, sf_dir, run_dir):
    """Re-running over an existing out_dir must recompute nothing and
    leave the triples byte-identical (stage-boundary checkpointing)."""
    before = materialize.read_stage(spark, run_dir, "triples")
    sig_before = sorted((r.subj, r.pred, r.obj, r.conf)
                        for r in before.collect())
    m = run_pipeline(spark, sf_dir, run_dir)
    assert all(v.get("resumed") for k, v in m.items()
               if isinstance(v, dict) and "resumed" in v), m
    after = materialize.read_stage(spark, run_dir, "triples")
    sig_after = sorted((r.subj, r.pred, r.obj, r.conf)
                       for r in after.collect())
    assert sig_before == sig_after


def test_resume_recomputes_missing_tail(spark, sf_dir, run_dir, tmp_path):
    """Kill-after-stage-k simulation: delete the tail stages, re-run,
    outputs identical to the uninterrupted run."""
    import shutil
    golden_rows = sorted(
        (r.subj, r.pred, r.obj) for r in
        materialize.read_stage(spark, run_dir, "triples").collect())
    for stage in ("triples", "triples_raw", "canon"):
        shutil.rmtree(os.path.join(run_dir, stage))
    m = run_pipeline(spark, sf_dir, run_dir)
    assert m["links"]["resumed"] and not m["canon"]["resumed"]
    rows = sorted(
        (r.subj, r.pred, r.obj) for r in
        materialize.read_stage(spark, run_dir, "triples").collect())
    assert rows == golden_rows


def test_resume_after_mid_write_crash(spark, sf_dir, run_dir):
    """A stage dir left WITHOUT _SUCCESS (process killed mid-write)
    must be recomputed wholesale — mode=overwrite replaces the whole
    dir, so a corrupt partial file left behind is never trusted or
    merged, and the recomputed triples are identical."""
    golden = sorted(
        (r.subj, r.pred, r.obj) for r in
        materialize.read_stage(spark, run_dir, "triples").collect())
    p = os.path.join(run_dir, "triples")
    os.remove(os.path.join(p, "_SUCCESS"))
    with open(os.path.join(p, "part-crash-junk.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    m = run_pipeline(spark, sf_dir, run_dir)
    assert not m["triples"]["resumed"]
    assert not os.path.exists(os.path.join(p, "part-crash-junk.parquet"))
    rows = sorted(
        (r.subj, r.pred, r.obj) for r in
        materialize.read_stage(spark, run_dir, "triples").collect())
    assert rows == golden


def test_metrics_json_written(run_dir):
    with open(os.path.join(run_dir, "metrics.json")) as f:
        m = json.load(f)
    assert m["triples"]["rows"] > 0


def _sorted_rows(df, cols):
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


def test_lazy_stages_match_materialized(spark, sf_dir, run_dir):
    """The KG DAG run lazily (one DataFrame chain, no tables) gives the
    same rows as the materialized run, stage by stage."""
    lazy = kg_stages(spark, materialize.lazy_stage(
        persist=("docs", "mentions")), lambda: synth_pages(spark, sf_dir))
    try:
        for stage, cols in [
                ("docs", ["url", "text"]),
                ("mentions", lazy["mentions"].columns),
                ("canon", lazy["canon"].columns),
                ("triples", lazy["triples"].columns)]:
            done = materialize.read_stage(spark, run_dir, stage)
            assert (_sorted_rows(lazy[stage], cols)
                    == _sorted_rows(done, cols)), stage
    finally:
        lazy["docs"].unpersist()
        lazy["mentions"].unpersist()


def test_pipeline_reference_linker_mode(spark, tmp_path):
    """linker_mode='reference' runs the coordinate-aware path end to
    end and still produces the full triple set (P/R golden unaffected
    by the geo heuristics on this corpus's linked entities)."""
    from kgp.golden import golden_triples, precision_recall
    from kgp.pipeline import run_pipeline
    out = str(tmp_path / "ref-run")
    run_pipeline(spark, "/root/testdata/sf0.001", out,
                 linker_mode="reference")
    triples = spark.read.parquet(f"{out}/triples")
    pred = {(r.subj, r.pred, r.obj) for r in
            triples.select("subj", "pred", "obj").collect()}
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    gold = golden_triples([r.doc_id for r in
                           docs.select("doc_id").collect()])
    p, r = precision_recall(pred, gold)
    assert p >= 0.95 and r >= 0.90, (p, r)
