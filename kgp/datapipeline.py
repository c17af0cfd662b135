"""Training-data curation pipeline — the LLM-data twin of
kgp.pipeline.run_pipeline: exact + near deduplication, quality
signals, the curated survivor corpus, and the web graph, materialized
as resumable, lineage-tracked stage tables and runnable via
spark-submit --py-files (python -m kgp.datapipeline <sf_dir>
<out_dir>).

The stage DAG is written once, in `curation_stages`, and shares the
KG pipeline's runners (kgp.materialize): `run_data_pipeline` runs it
materialized with checkpoint-resume and lineage, `lazy_stage` runs it
as one DataFrame chain. Stages (each one parquet table + one pyarrow
lineage append when materialized):

  pages     input crawl table (pre-existing in production; the
            deterministic synth corpus here), spread on url
  dedup     (doc_id, exact_group, exact_canonical, near_group,
            near_canonical) — BOTH group structures in one
            table/write (the round-5 lineage lesson: per-stage fixed
            cost is real money at any scale)
  signals   one per-doc quality row: the Gopher signal columns +
            gopher_keep, the C4 line-filter outcome (clean_text,
            keep_doc), and the repetition signals — one joined write
  curated   the survivor corpus: exact-canonical AND near-canonical
            AND gopher_keep AND C4 keep_doc, carrying clean_text
  links / host_graph / ranks — web-graph tables over ALL pages (the
            graph wants the full crawl, not the curated subset)

Scale shape: every stage is an already-audited distributed operator
(8-byte-key dedup shuffles, pure-JVM signal columns, banded
LSH+verify funnel, co-partitioned graph propagation); this module
only sequences and materializes them.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgp import corpus, curation, dedup, materialize, repetition, skew
from kgp import webgraph
from kgp.materialize import _stage


def _dedup_table(docs: DataFrame) -> DataFrame:
    exact = dedup.exact_dup_groups(docs).select(
        "doc_id",
        F.col("group_id").alias("exact_group"),
        F.col("is_canonical").alias("exact_canonical"))
    near = dedup.near_dup_groups(docs).select(
        "doc_id",
        F.col("group_id").alias("near_group"),
        F.col("is_canonical").alias("near_canonical"))
    return exact.join(near, "doc_id")


def _signals_table(docs: DataFrame) -> DataFrame:
    gopher = curation.gopher_quality_signals(docs).withColumn(
        "gopher_keep", curation.gopher_quality_filter())
    c4 = curation.c4_filter(docs).select(
        "doc_id", "clean_text", "n_kept",
        F.col("keep_doc").alias("c4_keep"))
    rep = repetition.repetition_signals(docs)
    return gopher.join(c4, "doc_id").join(rep, "doc_id")


def curation_stages(spark: SparkSession, stage,
                    sf_dir: str) -> dict[str, DataFrame]:
    """The curation pipeline's stage DAG, in run order. `stage` is a
    stage runner (kgp.materialize: `_stage` via run_stages, or
    lazy_stage). Returns every stage's DataFrame by stage name."""
    nparts = spark.sparkContext.defaultParallelism
    pages = stage("pages", lambda: skew.spread(
        corpus.synth_pages(spark, sf_dir, with_doc_id=True), ["url"],
        nparts))
    docs = pages.select("doc_id", "url", "text")
    dd = stage("dedup", lambda: _dedup_table(docs))
    sig = stage("signals", lambda: _signals_table(docs))

    def _curated() -> DataFrame:
        keep = (F.col("exact_canonical") & F.col("near_canonical")
                & F.col("gopher_keep") & F.col("c4_keep"))
        return (docs
                .join(dd, "doc_id")
                .join(sig.select("doc_id", "gopher_keep", "c4_keep",
                                 "clean_text"), "doc_id")
                .where(keep)
                .select("doc_id", "url", "clean_text"))

    curated = stage("curated", _curated)
    links = stage("links", lambda: webgraph.extract_links_stage(pages))
    host_graph = stage("host_graph", lambda: webgraph.host_graph(links))
    ranks = stage("ranks", lambda: webgraph.pagerank(
        links.select(F.col("src_url").alias("src"),
                     F.col("dst_url").alias("dst")),
        iterations=5))
    return {"pages": pages, "dedup": dd, "signals": sig,
            "curated": curated, "links": links, "host_graph": host_graph,
            "ranks": ranks}


def run_data_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                      force: bool = False) -> dict:
    """Run (or resume) the curation pipeline; returns the metrics
    dict and writes metrics.json, as run_pipeline does. The curated
    corpus lands at {out_dir}/curated."""
    return materialize.run_stages(
        spark, out_dir, _stage,
        lambda stage: curation_stages(spark, stage, sf_dir), force=force)


def main() -> None:
    import argparse

    from kgp.session import get_spark
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("sf_dir")
    p.add_argument("out_dir")
    p.add_argument("--force", action="store_true")
    p.add_argument("--cores", type=int, default=None)
    a = p.parse_args()
    spark = get_spark("kgp-data-pipeline", cores=a.cores)
    t0 = time.time()
    m = run_data_pipeline(spark, a.sf_dir, a.out_dir, force=a.force)
    m["wall_s"] = round(time.time() - t0, 3)
    print(json.dumps(m, default=str))


if __name__ == "__main__":
    main()
