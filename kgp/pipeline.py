"""Pipeline driver — the spark-submit entry point.

    spark-submit --master local[32] --py-files kgp.zip -m ... \
        pipeline.py --sf-dir /root/testdata/sf0.001 --out /tmp/kgp-run

Stage DAG (each stage is a materialized table under --out; a stage with
a `_SUCCESS` marker is skipped on re-run → checkpoint-resume):

    pages        synthetic Common-Crawl-shaped input (url, warc_ts,
                 html, text, lang) — on a cluster this is the existing
                 Iceberg `pages` table and this stage is a no-op
    docs         stage 1: html → text/title/lang/sentences   (kgp.html_text)
    ner_model    model training: one Python scan that counts
                 per Arrow batch + one aggregation            (kgp.mentions)
    mentions     stage 2: candidate detection + typing        (kgp.mentions)
    links        stage 3: gazetteer join + disambiguation     (kgp.linker)
    canon        mapping: alias components of the gazetteer, one
                 driver pass written as a table  (kgp.canonicalize)
    triples_raw  stage 4: pattern relation extraction         (kgp.relations)
    triples      stage 6: dedup'd, partitioned by pred        (kgp.materialize)
    lineage      per-partition manifests, appended per stage

Every stage boundary re-reads the materialized table: AQE re-plans each
stage with real sizes, resume is a directory check, and a crashed run
loses at most one stage of work.
"""

from __future__ import annotations

import os
import sys

# spark-submit kgp/pipeline.py puts the kgp/ directory itself at
# sys.path[0], where kgp/tokenize.py SHADOWS the stdlib `tokenize`
# module and breaks unrelated stdlib imports. Drop it and make sure
# the package parent is importable instead (the --py-files zip already
# provides it on executors).
_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [p for p in sys.path
               if os.path.abspath(p or os.getcwd()) != _HERE]
if os.path.dirname(_HERE) not in [os.path.abspath(p or os.getcwd())
                                  for p in sys.path]:
    sys.path.insert(0, os.path.dirname(_HERE))

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgp import canonicalize as canon
from kgp import corpus, html_text, linker, materialize, mentions, relations
from kgp import skew
from kgp.session import get_spark


def _stage(spark: SparkSession, out_dir: str, name: str, fn,
           partition_by: list[str] | None = None,
           force: bool = False, metrics: dict | None = None) -> DataFrame:
    if not force and materialize.stage_done(out_dir, name):
        if metrics is not None:
            metrics[name] = {"resumed": True}
        return materialize.read_stage(spark, out_dir, name)
    t0 = time.time()
    df = fn()
    out, rows = materialize.write_stage(spark, df, out_dir, name,
                                        partition_by=partition_by)
    if metrics is not None:
        metrics[name] = {"resumed": False,
                         "rows": rows,
                         "wall_s": round(time.time() - t0, 3)}
    return out


def load_ner_model(spark: SparkSession, out_dir: str) -> mentions.NerModel:
    rows = materialize.read_stage(spark, out_dir, "ner_model").collect()
    return mentions.model_from_rows(rows)


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                 force: bool = False, num_partitions: int | None = None,
                 pages: DataFrame | None = None, replicate: int = 1,
                 heavy: int = 1, linker_mode: str = "fast") -> dict:
    """Run (or resume) the full KG-construction pipeline.

    Returns a metrics dict; triples land at {out_dir}/triples
    partitioned by pred.
    """
    os.makedirs(out_dir, exist_ok=True)
    metrics: dict = {"sf_dir": sf_dir, "out_dir": out_dir}
    nparts = num_partitions or spark.sparkContext.defaultParallelism

    # ingest: hash-spread on url AT WRITE TIME so the biggest payload
    # (raw html) is partitioned once and never shuffled again — the
    # extract stage reads it straight off storage with balanced tasks
    # regardless of how host-clustered the crawl order was
    pages_df = _stage(
        spark, out_dir, "pages",
        (lambda: skew.spread(pages, ["url"], nparts))
        if pages is not None
        else (lambda: skew.spread(
            corpus.synth_pages(spark, sf_dir, replicate=replicate,
                               heavy=heavy), ["url"], nparts)),
        force=force, metrics=metrics)

    docs = _stage(
        spark, out_dir, "docs",
        lambda: html_text.extract_stage(pages_df),
        force=force, metrics=metrics)

    gaz = corpus.gazetteer(spark)
    seeds = corpus.seed_dictionary(spark)

    # NER training runs on the stable hash split (corpus.training_docs)
    # — held-out docs carry the novel entities that must be typed by
    # context, and a production pipeline trains on a sample anyway.
    # ALL model dictionaries are one stage: one table + one write
    # instead of seven fixed-latency round trips.
    docs_train = corpus.training_docs(docs)
    # the seed rows are collected ONCE here (the seed dictionary is a
    # local relation, so the collect runs no job)
    seed_rows = seeds.select("entity", "concept").collect()
    _stage(spark, out_dir, "ner_model",
           lambda: mentions.ner_model_table(docs_train, seed_rows),
           force=force, metrics=metrics)
    model = load_ner_model(spark, out_dir)
    model_bc = spark.sparkContext.broadcast(model)

    mention_df = _stage(
        spark, out_dir, "mentions",
        lambda: mentions.detect_mentions(docs, model_bc),
        force=force, metrics=metrics)

    # linker_mode "fast" = fully vectorized anchor/population heuristic
    # (zero Python, the 100 TB default); "reference" = the faithful
    # coordinate-aware per-document disambiguation (anchor distance,
    # lasso) via applyInPandas — same output columns
    link_fn = (linker.link_mentions_reference
               if linker_mode == "reference" else linker.link_mentions)
    links = _stage(
        spark, out_dir, "links",
        lambda: link_fn(mention_df, gaz),
        force=force, metrics=metrics)

    mapping = _stage(
        spark, out_dir, "canon",
        lambda: canon.canonical_mapping(gaz),
        force=force, metrics=metrics)

    triples_raw = _stage(
        spark, out_dir, "triples_raw",
        lambda: relations.extract_relations(
            canon.canonicalize_links(links, mapping)),
        force=force, metrics=metrics)

    triples = _stage(
        spark, out_dir, "triples",
        lambda: materialize.finalize_triples(triples_raw)
        .repartition("pred"),
        partition_by=["pred"], force=force, metrics=metrics)

    if "rows" not in metrics.get("triples", {}):
        metrics["triples"] = {**metrics.get("triples", {}),
                              "rows": triples.count()}
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, default=str)
    return metrics


def triples_dataframe(spark: SparkSession, sf_dir: str,
                      pages: DataFrame | None = None) -> DataFrame:
    """The whole pipeline as ONE declarative DataFrame chain (no stage
    materialization) — used by tests/the driver contract where the
    checkpoint tables are not wanted. Training still runs eagerly (it
    collects the small model tables)."""
    pages_df = pages if pages is not None else corpus.synth_pages(spark,
                                                                  sf_dir)
    docs = html_text.extract_stage(pages_df).persist()
    gaz = corpus.gazetteer(spark)
    seeds = corpus.seed_dictionary(spark)
    model = mentions.train_ner_model(spark, corpus.training_docs(docs),
                                     seeds)
    model_bc = spark.sparkContext.broadcast(model)
    mention_df = mentions.detect_mentions(docs, model_bc)
    links = linker.link_mentions(mention_df, gaz)
    mapping = canon.canonical_mapping(gaz)
    triples_raw = relations.extract_relations(
        canon.canonicalize_links(links, mapping))
    return materialize.finalize_triples(triples_raw)


def main() -> None:
    ap = argparse.ArgumentParser(description="kgp KG-construction pipeline")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--force", action="store_true",
                    help="recompute all stages (ignore checkpoints)")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--linker", choices=["fast", "reference"],
                    default="fast",
                    help="vectorized heuristic vs faithful geo path")
    args = ap.parse_args()
    spark = get_spark("kgp-pipeline", cores=args.cores)
    m = run_pipeline(spark, args.sf_dir, args.out, force=args.force,
                     linker_mode=args.linker)
    print(json.dumps(m, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
