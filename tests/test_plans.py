"""Physical-plan regression tests — the plan IS the scale contract.

Each assertion pins a property the 100 TB design depends on: where a
shuffle is allowed to exist, which joins must be broadcast, and which
stages must stay entirely JVM-side. A refactor that silently adds an
Exchange or drops a broadcast fails here long before it fails on a
cluster."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgp.corpus import gazetteer, synth_pages
from kgp.html_text import extract_stage
from kgp.linker import link_mentions
from kgp.textstats import text_stats


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_stage_has_no_shuffle(spark, sf_dir):
    """html → docs is document-local: the plan must be scan → Arrow
    UDF → project, with NO Exchange (the raw html payload is never
    shuffled)."""
    pages = synth_pages(spark, sf_dir)
    plan = plan_of(extract_stage(pages))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_text_stats_is_pure_jvm(spark):
    docs = spark.createDataFrame([(1, "hello world")],
                                 "doc_id long, text string")
    plan = plan_of(text_stats(docs))
    assert "Python" not in plan      # no Python evaluation of any kind
    assert "Exchange" not in plan


def test_linker_broadcasts_gazetteer(spark):
    mentions = spark.createDataFrame(
        [("u", 0, 0, 4, "Acme", "ORG", 1.0, 0, "Acme.")],
        "url string, sent_idx int, start int, end int, surface string, "
        "tag string, score double, sent_start int, sent_text string")
    plan = plan_of(link_mentions(mentions, gazetteer(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # disambiguation is vectorized: no Python in the linking plan
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" \
        not in plan


def test_parquet_scan_prunes_columns(spark, sf_dir, tmp_path):
    """Column pruning must reach the scan: selecting url from pages
    parquet reads ONE column, not the html payload."""
    synth_pages(spark, sf_dir).write.mode("overwrite") \
        .parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    plan = plan_of(pages.select("url").filter(F.col("url").contains("42")))
    assert "ReadSchema: struct<url:string>" in plan
    assert "html" not in plan.split("ReadSchema")[1][:200]


def test_parquet_filter_pushdown(spark, sf_dir, tmp_path):
    synth_pages(spark, sf_dir).write.mode("overwrite") \
        .parquet(str(tmp_path / "p2"))
    pages = spark.read.parquet(str(tmp_path / "p2"))
    plan = plan_of(pages.filter(F.col("lang") == "en").select("url"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_exact_dedup_shuffles_on_fingerprint_not_text(spark):
    """exact_dup_groups' single Exchange must hash the 64-bit _fp
    column, never the document text — at 100 TB the shuffle key being
    the body would repartition the whole corpus by multi-KB keys."""
    from kgp.dedup import exact_dup_groups
    docs = spark.createDataFrame([(1, "some text"), (2, "other text")],
                                 "doc_id long, text string")
    plan = plan_of(exact_dup_groups(docs))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1
    assert "hashpartitioning(_fp" in exchanges[0]
    assert "_norm" not in exchanges[0]


def test_near_dup_groups_joins_a_local_relation(spark):
    """The connected-components small path hands near_dup_groups an
    Arrow local relation, never a Python-pickled RDD scan."""
    import pandas as pd
    from kgp.dedup import near_dup_groups
    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank and then rests in the shade of a large oak tree while "
            "the sun sets slowly behind the distant mountains")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [base, base.replace("lazy dog", "sleepy dog"),
                 "spark dataframes shuffle partitions with broadcast joins "
                 "and whole stage code generation for columnar speed"]}),
        "doc_id long, text string")
    groups = near_dup_groups(docs)
    plan = plan_of(groups)
    assert "ExistingRDD" not in plan, plan
    assert {r.doc_id: r.group_id for r in groups.collect()} == \
        {1: 1, 2: 1, 3: 3}


def test_empty_graphs_plan_as_local_relations(spark):
    """On an empty edge set the small paths of connected_components,
    pagerank and hits still return an Arrow local relation, never a
    Python-pickled RDD scan."""
    from kgp.canonicalize import connected_components
    from kgp.webgraph import hits, pagerank
    edges = spark.createDataFrame([], "src long, dst long")
    for df in (connected_components(edges), pagerank(edges), hits(edges)):
        plan = plan_of(df)
        assert "ExistingRDD" not in plan, plan
        assert df.count() == 0


def test_brute_force_topk_window_sees_partial_rows(spark):
    """The exact ANN path must reduce map-side: the rank window input
    is the mapInPandas partial-topk output (Q*k rows per partition),
    not an N×Q exploded similarity table."""
    from kgp.similarity import brute_force_topk
    import numpy as np
    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(emb, emb.where(F.col("vec_id") < 3), k=5)
    plan = plan_of(out)
    assert "MapInPandas" in plan
    assert "Explode" not in plan and "Generate" not in plan


def test_triples_partition_pruning(spark, tmp_path):
    """Partitioned triple table: a pred filter must prune partitions
    (scan shows the partition filter, not a post-scan filter)."""
    df = spark.createDataFrame(
        [("a", p, "b", 1.0) for p in ["ceo_of", "born_in",
                                      "headquartered_in", "capital_of",
                                      "works_for", "founded"]],
        "subj string, pred string, obj string, conf double")
    df.write.partitionBy("pred").mode("overwrite") \
        .parquet(str(tmp_path / "triples"))
    t = spark.read.parquet(str(tmp_path / "triples"))
    plan = plan_of(t.where(F.col("pred") == "ceo_of"))
    assert "PartitionFilters" in plan
    assert "ceo_of" in plan.split("PartitionFilters")[1][:120]


def test_unigram_lm_broadcasts_vocab(spark):
    """The LM scoring probe must hit a broadcast vocabulary — a
    sort-merge join here would shuffle the full token stream by WORD
    (skewed: stop words) instead of only (doc_id, logp) pairs."""
    from kgp.lmscore import unigram_logprob, unigram_vocab
    docs = spark.createDataFrame([(1, "a b c a")],
                                 "doc_id long, text string")
    vocab = unigram_vocab(docs, max_vocab=2)
    plan = plan_of(unigram_logprob(docs, vocab, 4))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_category_metrics_is_aggregation_only(spark):
    """Confusion-matrix metrics are pure JVM aggregations + joins over
    category-cardinality tables — no Python anywhere."""
    from kgp.evaluate import category_metrics
    r = spark.createDataFrame([("a", "a"), ("a", "b")],
                              "actual string, predicted string")
    plan = plan_of(category_metrics(r))
    assert "Python" not in plan


def test_roc_auc_windows_distinct_scores_only(spark):
    """The AUC window must run AFTER the per-score aggregation: the
    single-partition window sees |distinct scores| rows, never raw
    rows. The plan therefore has an aggregate BEFORE the window."""
    from kgp.evaluate import roc_auc
    r = spark.createDataFrame([(True, 1.0), (False, 0.5)],
                              "label boolean, score double")
    plan = plan_of(roc_auc(r))
    assert plan.index("Window") > plan.index("HashAggregate") or \
        "Window" not in plan.split("HashAggregate")[0]


def test_forest_scoring_is_pure_jvm(spark):
    """The quickdt forest paths compile to CASE WHEN columns: the
    content-date rater plan must contain no Python eval at all, and
    the ml-disambig candidate+feature+forest plan must stay
    Python-free with the gazetteer broadcast."""
    from pyspark.sql import functions as F

    from kgp import constants as C
    from kgp import disambig_ml as dml
    from kgp.contentdates import RATER_FEATURES, rate_with_forest
    from kgp.corpus import GAZETTEER_SCHEMA

    base = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        *[(F.col("id") % (i + 7)).cast("double").alias(c)
          for i, c in enumerate(RATER_FEATURES)],
        (F.col("id") % 11 == 0).cast("double").alias("in_url_d"))
    plan = plan_of(rate_with_forest(base))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan            # pure projection

    mentions = spark.range(0, 50).select(
        F.col("id").cast("string").alias("url"),
        F.lit(0).cast("long").alias("sent_idx"),
        F.lit(5).cast("long").alias("start"),
        F.lit(14).cast("long").alias("end"),
        F.element_at(F.array(*[F.lit(c) for c in C.CITIES]),
                     (F.col("id") % 11).cast("int") + 1)
        .alias("surface"),
        F.lit("CITY").alias("tag"), F.lit(0.9).alias("score"))
    gaz = spark.createDataFrame(dml.gate_gazetteer_rows(),
                                GAZETTEER_SCHEMA)
    out = dml.link_mentions_forest(mentions, gaz)
    plan = plan_of(out)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan       # gazetteer broadcast


def test_readability_stage_shape(spark):
    """readability_stage is one document-local Arrow pass: no shuffle,
    and only (url, html) reach the scan."""
    from kgp.corpus import synth_pages
    from kgp.readability import readability_stage
    pages = synth_pages(spark, "/root/testdata/sf0.001")
    plan = plan_of(readability_stage(pages))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_codec_stages_prune_columns(spark, sf_dir):
    """png/jpeg/video gate stages must scan ONLY doc_id from the
    documents parquet — text/lang never reach the Python worker."""
    from kgp.multimodal import (jpeg_roundtrip_stage,
                                png_roundtrip_stage, video_frame_stage)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for stage in (png_roundtrip_stage, jpeg_roundtrip_stage,
                  video_frame_stage):
        plan = plan_of(stage(docs))
        assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_new_stages_prune_and_stay_jvm(spark):
    # page_dates_stage: only url+html reach the Arrow pass
    from kgp.datestack import page_dates_stage
    pages = spark.createDataFrame(
        [("u", "<html></html>", "junk", 1)],
        "url string, html string, extra string, n long")
    plan = plan_of(page_dates_stage(pages))
    assert plan.count("MapInPandas") == 1
    mip_line = next(l for l in plan.splitlines() if "MapInPandas" in l)
    assert "extra" not in mip_line and "url" in mip_line
    # wiki_dump_stage: xml only
    from kgp.wikidump import internal_links_df, wiki_dump_stage
    dumps = spark.createDataFrame([("<mediawiki></mediawiki>", "x")],
                                  "xml string, other string")
    plan = plan_of(wiki_dump_stage(dumps))
    assert plan.count("MapInPandas") == 1
    # link extraction after the stage adds NO Python and NO shuffle
    plan = plan_of(internal_links_df(wiki_dump_stage(dumps)))
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" \
        not in plan
    assert "Exchange" not in plan
    # feed_meta_cols: pure codegen projection
    from kgp.feeds import feed_meta_cols
    import pyspark.sql.functions as F
    df = spark.createDataFrame([("<rss></rss>", 200)],
                               "xml string, status int")
    plan = plan_of(df.select(*feed_meta_cols(F.col("xml"),
                                             F.col("status"))))
    assert "Python" not in plan and "Exchange" not in plan


def test_reference_dates_single_window_single_join(spark):
    from kgp.datestack import reference_dates_df
    rated = spark.createDataFrame(
        [("1", 0.5, 2020, 1, 1, -1, 0)],
        "url string, rate double, year long, month long, day long, "
        "hour long, abs_pos long")
    links = spark.createDataFrame([(1, "1")], "src long, dst string")
    plan = plan_of(reference_dates_df(links, rated))
    # ONE Window exec; WindowGroupLimit lines are the rank-limit
    # pushdown (top-1 kept map-side before the shuffle) — a win.
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1
    assert "Python" not in plan


def test_ner_model_table_one_python_scan(spark):
    """NER training is one map-side-combined Python scan and one
    aggregation: the executed plan (AQE's final plan, after the run)
    holds exactly one MapInPandas — the corpus is never re-scanned by
    a second branch — and no per-row gram UDF."""
    from kgp.mentions import ner_model_table
    docs = spark.createDataFrame(
        [("Visit Acme Corp today.", [(0, "Visit Acme Corp today.")]),
         ("Visit Jordan Lee now.", [(0, "Visit Jordan Lee now.")])],
        "text string, sentences array<struct<start:int,text:string>>")
    df = ner_model_table(docs, [("Acme Corp", "ORG"),
                                ("Jordan Lee", "PER")])
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the seed-derived rows join as a local relation; the only scanned
    # RDD is the docs input
    assert "LocalTableScan" in plan and plan.count("ExistingRDD") == 1


def test_gazetteer_side_is_local(spark):
    """The gazetteer, the seeds and the canon mapping are Arrow local
    relations: LocalTableScan, never a pickled RDD (Spark falls back to
    one silently when the Arrow conversion fails)."""
    from kgp.canonicalize import canonical_mapping
    from kgp.corpus import seed_dictionary

    for df in (gazetteer(spark), seed_dictionary(spark),
               canonical_mapping(gazetteer(spark))):
        plan = plan_of(df)
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
