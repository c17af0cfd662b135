"""Hostile-input behavior of the round-2 parsers: everything degrades
gracefully (empty results or lenient fallbacks), nothing raises."""

from __future__ import annotations

import pytest


def test_wiki_hostile_inputs():
    from kgp.wiki import (extract_template, get_infoboxes,
                          get_named_markup, infobox_triples)
    assert get_named_markup("{{infobox city|name=X", "infobox") == []
    assert get_infoboxes("no templates here") == []
    t = extract_template("{{}}")
    assert t.entries == {"0": ""}
    assert infobox_triples("T", "{{infobox x|broken") == []


def test_warc_truncated_record():
    from kgp.sources import parse_warc_records
    got = list(parse_warc_records(
        b"WARC/1.0\r\nContent-Length: 9999\r\n\r\nshort"))
    assert len(got) == 1 and got[0][1] == b"short"  # truncated payload
    assert list(parse_warc_records(b"")) == []
    assert list(parse_warc_records(b"garbage bytes \xff\xfe")) == []


def test_conll_hostile_lines():
    from kgp.conll import parse_column
    assert parse_column([]) == ("", [])
    assert parse_column(["not-a-two-column-line"]) == ("", [])
    text, anns = parse_column(["a\tO", "weird\textra\tcols"])
    assert "a" in text and isinstance(anns, list)


def test_lists_and_dates_hostile():
    from kgp.dates import find_dates
    assert find_dates("") == []
    assert find_dates("a" * 10000 + "1") == []


def test_media_codecs_reject_garbage():
    from kgp.multimodal import decode_bmp, decode_wav
    with pytest.raises(ValueError):
        decode_bmp(b"not a bmp")
    with pytest.raises(ValueError):
        decode_wav(b"not a wav")


def test_rules_and_strsim_edges():
    from kgp.strsim import jaro_winkler_similarity, levenshtein_distance
    assert levenshtein_distance("", "") == 0
    assert jaro_winkler_similarity("a", "") == 0.0


def test_decontam_lmscore_hostile_inputs(spark):
    from pyspark.sql import functions as F
    from kgp.decontam import decontaminate, word_ngrams
    from kgp.lmscore import (corpus_token_count, unigram_logprob,
                             unigram_vocab)
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "\x00\t\n"), (4, "ONLY-punct!!! ..."),
         (5, "x " * 2000)],
        "doc_id long, text string")
    # null text: n-grams empty, never contaminated
    out = {r.doc_id: r for r in decontaminate(
        docs, docs.where("doc_id = 5"), n=3).collect()}
    assert out[1].n_ngrams == 0 and not out[1].contaminated
    assert out[5].contaminated          # doc 5 IS the test doc
    g = docs.select(word_ngrams(F.col("text"), 3).alias("g")) \
        .collect()
    assert all(isinstance(r.g, list) for r in g)
    vocab = unigram_vocab(docs, max_vocab=2)
    lm = {r.doc_id: r for r in unigram_logprob(
        docs, vocab, corpus_token_count(docs)).collect()}
    assert lm[1].n_tokens == 0 and lm[1].avg_logp is None
    assert lm[5].avg_logp is not None


def test_evaluate_clustering_hostile_inputs(spark):
    from kgp.clustering import dbscan
    from kgp.evaluate import category_metrics, roc_auc
    # empty results -> empty metrics, no crash
    empty = spark.createDataFrame([], "actual string, predicted string")
    assert category_metrics(empty).count() == 0
    r = roc_auc(spark.createDataFrame([], "label boolean, score double")
                ).collect()[0]
    assert r.auc is None
    # dbscan with self-loops and duplicate edges
    pts = spark.createDataFrame([(i,) for i in range(3)], "vec_id long")
    edges = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 0), (0, 1)], "a long, b long")
    got = {x.vec_id: x.role for x in dbscan(pts, edges, 2).collect()}
    assert got[0] == "core" and got[1] == "core" and got[2] == "noise"


def test_textvector_hostile_inputs(spark):
    from kgp.textvector import (TermCorpusLocal, fit_term_corpus,
                                tfidf_similarity, vectorize_stage,
                                vectorize_text)
    from kgp.textclassifier import FeatureSetting
    fs = FeatureSetting(mode="word", min_ngram=1, max_ngram=1,
                        min_term_len=1, max_term_len=100)
    c = TermCorpusLocal()
    c.add_doc(["word"])
    # empty text -> empty vector; NaN similarity contract
    assert vectorize_text("", c, fs) == {}
    import math
    assert math.isnan(tfidf_similarity("", "", c, fs))
    # empty documents produce no sparse rows, and don't break the fit
    df = spark.createDataFrame([(0, ""), (1, "some words"),
                                (2, None)], "doc_id long, text string")
    counts, n = fit_term_corpus(df.fillna("", subset=["text"]))
    assert n == 3
    rows = vectorize_stage(df.fillna("", subset=["text"]),
                           counts, n).collect()
    assert {r.doc_id for r in rows} == {1}


def test_mathstats_hostile_inputs(spark):
    from pyspark.sql import functions as F
    from kgp.mathstats import set_similarity_expr, token_similarity
    # null arrays -> null similarity (not an exception)
    df = spark.createDataFrame([(None, ["a"])],
                               "a array<string>, b array<string>")
    [r] = df.select(set_similarity_expr(
        "dice", F.col("a"), F.col("b")).alias("s")).collect()
    assert r.s is None
    # whitespace-only strings: split('\\s') of '' yields [''] on both
    # sides -> equal -> 1.0 (reference behavior)
    assert token_similarity("", "") == 1.0

