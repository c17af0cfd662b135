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
    lineage      per-file footer manifests, appended per stage

Every stage boundary re-reads the materialized table: AQE re-plans each
stage with real sizes, resume is a directory check, and a crashed run
loses at most one stage of work.

The DAG is written once, in `kg_stages`: `run_pipeline` runs it
materialized, `__spark_entry__` runs it lazily (one DataFrame chain,
no tables), and `kgp.streaming.stream_triples` runs its per-document
part (`triple_stages`) on each micro-batch.
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

from pyspark.sql import DataFrame, SparkSession

from kgp import canonicalize as canon
from kgp import corpus, html_text, linker, materialize, mentions, relations
from kgp import skew
from kgp.materialize import _stage
from kgp.session import get_spark


def load_ner_model(ner_model: DataFrame) -> mentions.NerModel:
    """The broadcastable NER model from the ner_model table (one
    collect)."""
    return mentions.model_from_rows(ner_model.collect())


def kg_stages(spark: SparkSession, stage, pages,
              linker_mode: str = "fast") -> dict[str, DataFrame]:
    """The KG pipeline's stage DAG, in run order. `stage` is a stage
    runner (kgp.materialize: `_stage` via run_stages, or lazy_stage);
    `pages` builds the input table. Returns each stage's DataFrame by
    stage name, ner_model excepted."""
    pages_df = stage("pages", pages)
    docs = stage("docs", lambda: html_text.extract_stage(pages_df))
    gaz = corpus.gazetteer(spark)
    # NER training runs on the stable hash split (corpus.training_docs)
    # — held-out docs carry the novel entities that must be typed by
    # context, and a production pipeline trains on a sample anyway.
    # ALL model dictionaries are one stage: one table + one write
    # instead of seven fixed-latency round trips. The seed rows are
    # collected ONCE here (the seed dictionary is a local relation, so
    # the collect runs no job).
    seed_rows = corpus.seed_dictionary(spark) \
        .select("entity", "concept").collect()
    ner = stage("ner_model", lambda: mentions.ner_model_table(
        corpus.training_docs(docs), seed_rows))
    model_bc = spark.sparkContext.broadcast(load_ner_model(ner))
    out = triple_stages(stage, docs, model_bc, gaz, linker_mode)
    triples = stage("triples", lambda: materialize.finalize_triples(
        out["triples_raw"]), partition_by=["pred"])
    # ner_model is left out: it is read once, into the broadcast model,
    # and a DataFrame kept in a long-lived dict (the gates' cache)
    # keeps its training plan alive — the sf0.01 gate session ran
    # ~5-9 % slower with it (4-core VM)
    return {"pages": pages_df, "docs": docs, **out, "triples": triples}


def triple_stages(stage, docs: DataFrame, model_bc, gaz: DataFrame,
                  linker_mode: str = "fast") -> dict[str, DataFrame]:
    """docs → mentions → links, canon → triples_raw: the per-document
    part of kg_stages, which a stream micro-batch also runs
    (kgp.streaming.stream_triples)."""
    found = stage("mentions",
                  lambda: mentions.detect_mentions(docs, model_bc))
    # linker_mode "fast" = fully vectorized anchor/population heuristic
    # (zero Python, the 100 TB default); "reference" = the faithful
    # coordinate-aware per-document disambiguation (anchor distance,
    # lasso) via applyInPandas — same output columns
    link = (linker.link_mentions_reference
            if linker_mode == "reference" else linker.link_mentions)
    links = stage("links", lambda: link(found, gaz))
    mapping = stage("canon", lambda: canon.canonical_mapping(gaz))
    raw = stage("triples_raw", lambda: relations.extract_relations(
        canon.canonicalize_links(links, mapping)))
    return {"mentions": found, "links": links, "canon": mapping,
            "triples_raw": raw}


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                 force: bool = False, linker_mode: str = "fast") -> dict:
    """Run (or resume) the full KG-construction pipeline.

    Returns the metrics dict (also written to {out_dir}/metrics.json);
    triples land at {out_dir}/triples partitioned by pred.
    """
    nparts = spark.sparkContext.defaultParallelism

    # ingest: hash-spread on url AT WRITE TIME so the biggest payload
    # (raw html) is partitioned once and never shuffled again — the
    # extract stage reads it straight off storage with balanced tasks
    # regardless of how host-clustered the crawl order was
    def pages() -> DataFrame:
        return skew.spread(corpus.synth_pages(spark, sf_dir), ["url"],
                           nparts)
    return materialize.run_stages(
        spark, out_dir, _stage,
        lambda stage: kg_stages(spark, stage, pages, linker_mode),
        force=force)


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
