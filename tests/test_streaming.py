"""Structured Streaming: the batch stages run unchanged on a stream,
checkpointed incremental processing, watermarked aggregation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kgp.corpus import seed_dictionary, synth_pages, training_docs
from kgp.html_text import extract_stage
from kgp.mentions import model_from_rows, ner_model_table
from kgp.streaming import (mention_rates, run_stream, stream_docs,
                           stream_mentions, stream_pages)

SF = "/root/testdata/sf0.001"


def _train(spark, docs):
    """The NER model the KG pipeline trains on docs (its ner_model
    stage, collected)."""
    seed_rows = seed_dictionary(spark).select("entity", "concept").collect()
    return model_from_rows(
        ner_model_table(training_docs(docs), seed_rows).collect())


def _write_batch(spark, src_dir, lo, hi):
    pages = synth_pages(spark, SF, with_doc_id=True) \
        .where(f"doc_id >= {lo} AND doc_id < {hi}").drop("doc_id")
    pages.write.mode("append").parquet(src_dir)
    return pages.count()


def test_streaming_extract_incremental(spark, tmp_path):
    src = str(tmp_path / "pages_stream")
    sink = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")

    n1 = _write_batch(spark, src, 0, 30)
    stream = stream_pages(spark, src)
    assert stream.isStreaming
    docs = stream_docs(stream)
    run_stream(docs.select("url", "text"), sink, ckpt)
    got1 = spark.read.parquet(sink)
    assert got1.count() == n1

    # second file drop → ONLY the new pages are processed (checkpoint)
    n2 = _write_batch(spark, src, 30, 50)
    run_stream(stream_docs(stream_pages(spark, src))
               .select("url", "text"), sink, ckpt)
    got2 = spark.read.parquet(sink)
    assert got2.count() == n1 + n2
    assert got2.select("url").distinct().count() == n1 + n2

    # byte identity holds through the streaming path too
    want = {r.url: r.text for r in
            synth_pages(spark, SF).select("url", "text").collect()}
    for r in got2.collect():
        assert want[r.url] == r.text


def test_streaming_mentions_and_watermarked_rates(spark, tmp_path):
    src = str(tmp_path / "pages_stream2")
    _write_batch(spark, src, 0, 25)

    pages_batch = synth_pages(spark, SF)
    docs_batch = extract_stage(pages_batch).persist()
    try:
        model = _train(spark, docs_batch)
        bc = spark.sparkContext.broadcast(model)

        stream = stream_pages(spark, src)
        mentions = stream_mentions(stream_docs(stream), bc)
        assert mentions.isStreaming and "warc_ts" in mentions.columns
        rates = mention_rates(mentions)
        assert rates.isStreaming

        sink = str(tmp_path / "rates_out")
        ckpt = str(tmp_path / "ckpt2")
        # watermarked append-mode aggregation over a finite drain
        run_stream(rates, sink, ckpt, output_mode="append")
        # finalized windows may be empty with availableNow (watermark never
        # advances past the single micro-batch) — rerun as complete into
        # memory to check the aggregation itself
        q = (rates.writeStream.format("memory").queryName("rates_mem")
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
        rows = spark.sql("select * from rates_mem").collect()
        assert rows
        assert {r.tag for r in rows} >= {"PER", "ORG", "CITY"}
        assert all(r.n_mentions > 0 for r in rows)
    finally:
        docs_batch.unpersist()


def test_streaming_dedup_exact(spark, tmp_path):
    """Re-crawled pages (identical text, later ts within the
    watermark) are dropped by the stateful streaming dedup; state key
    equals the batch dedup fingerprint."""
    from kgp.streaming import stream_dedup_exact

    src = str(tmp_path / "pages_dup")
    pages = synth_pages(spark, SF, with_doc_id=True) \
        .where("doc_id < 20").drop("doc_id")
    pages.write.mode("append").parquet(src)
    # the re-crawl: same pages, 10 minutes later (inside the watermark)
    pages.withColumn("warc_ts",
                     F.col("warc_ts") + F.expr("INTERVAL 10 MINUTES")) \
        .write.mode("append").parquet(src)

    deduped = stream_dedup_exact(stream_pages(spark, src))
    assert deduped.isStreaming
    sink = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "ckpt_dedup")
    run_stream(deduped.select("url", "text"), sink, ckpt)
    got = spark.read.parquet(sink)
    assert got.count() == 20                       # one copy per page
    assert got.select("url").distinct().count() == 20


def test_streaming_curation_unchanged(spark, tmp_path):
    """The batch curation ops (C4 filter, stratified sample) run
    UNCHANGED on a stream — stateless column expressions."""
    from kgp.curation import c4_filter, stratified_sample

    src = str(tmp_path / "pages_cur")
    _write_batch(spark, src, 0, 15)
    docs = stream_docs(stream_pages(spark, src))
    filtered = c4_filter(docs, id_col="url")
    assert filtered.isStreaming
    sampled = stratified_sample(docs.withColumn("src", F.lit("a")),
                                {"a": 0.5}, id_col="url",
                                strata_col="src")
    assert sampled.isStreaming

    sink = str(tmp_path / "cur_out")
    run_stream(filtered, sink, str(tmp_path / "ckpt_cur"))
    got = spark.read.parquet(sink)
    assert got.count() == 15
    assert {"clean_text", "n_kept", "keep_doc"} <= set(got.columns)


def test_stream_near_dups_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState near-dup: a re-crawl arriving in a LATER
    micro-batch is caught against the banded SimHash state, and the
    emitted pairs agree with the batch operator on the union."""
    import pandas as pd
    from kgp.dedup import simhash_near_dups
    from kgp.streaming import run_stream, stream_near_dups

    src = str(tmp_path / "nd_pages")
    sink = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")

    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "on running through the quiet green field all day long")
    variant = base.replace("green", "greener")     # near-dup of base
    distinct = ("completely different content about distributed "
                "query engines shuffling columnar batches at scale")

    rows1 = [("u1", "2024-01-01 00:00:00", base),
             ("u2", "2024-01-01 00:01:00", distinct)]
    rows2 = [("u3", "2024-01-01 00:05:00", variant),
             ("u4", "2024-01-01 00:06:00", base)]

    def write(rows):
        spark.createDataFrame(
            [(u, t, x) for u, t, x in rows],
            "url string, ts string, text string") \
            .selectExpr("url", "CAST(ts AS TIMESTAMP) AS warc_ts",
                        "text") \
            .write.mode("append").parquet(src)

    def drain():
        stream = spark.readStream.schema(
            "url string, warc_ts timestamp, text string").parquet(src)
        out = stream_near_dups(stream, watermark="10 minutes")
        run_stream(out, sink, ckpt)

    write(rows1)
    drain()
    got1 = spark.read.parquet(sink)
    assert got1.count() == 0            # nothing similar yet

    write(rows2)
    drain()
    got = {(r.id, r.dup_of) for r in
           spark.read.parquet(sink).collect()}
    # batch/stream agreement: same pairs as the batch operator on the
    # union (batch emits (a<b) once; stream emits (newer, older))
    all_rows = rows1 + rows2
    union = spark.createDataFrame(
        [(u, x) for u, _, x in all_rows], "doc_id string, text string")
    want = set()
    for r in simhash_near_dups(union, id_col="doc_id").collect():
        a, b = sorted([r.a, r.b])      # u1 < u3 < u4: older id first
        want.add((b, a))               # stream emits newer -> older
    assert want, "batch operator must find the planted near-dups"
    assert got == want


def test_stream_near_dups_state_expires(spark, tmp_path):
    """State is dropped once event time passes watermark + TTL: a
    re-crawl arriving hours later no longer matches."""
    from kgp.streaming import run_stream, stream_near_dups

    src = str(tmp_path / "ndx_pages")
    sink = str(tmp_path / "ndx_out")
    ckpt = str(tmp_path / "ndx_ckpt")
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "on running through the quiet green field all day long")

    def write(rows):
        spark.createDataFrame(rows, "url string, ts string, text string") \
            .selectExpr("url", "CAST(ts AS TIMESTAMP) AS warc_ts",
                        "text").write.mode("append").parquet(src)

    def drain():
        stream = spark.readStream.schema(
            "url string, warc_ts timestamp, text string").parquet(src)
        run_stream(stream_near_dups(
            stream, watermark="10 minutes", state_ttl_ms=600_000),
            sink, ckpt)

    write([("u1", "2024-01-01 00:00:00", base)])
    drain()
    # 4 hours later: watermark advances far past u1's 10-min TTL, so
    # the timed-out bucket state is removed before u2 is processed
    write([("w1", "2024-01-01 04:00:00", "unrelated filler text")])
    drain()
    write([("u2", "2024-01-01 04:10:00", base)])
    drain()
    ids = {r.id for r in spark.read.parquet(sink).collect()}
    assert "u2" not in ids


def test_stream_triples_full_pipeline(spark, tmp_path):
    """The whole pipeline on a stream (foreachBatch): two file drops
    drained incrementally produce the EXACT triple set of one batch
    run over their union, and epoch overwrite keeps re-drains
    idempotent."""
    from kgp.canonicalize import canonical_mapping, canonicalize_links
    from kgp.corpus import gazetteer
    from kgp.linker import link_mentions
    from kgp.materialize import finalize_triples
    from kgp.mentions import detect_mentions
    from kgp.relations import extract_relations
    from kgp.streaming import stream_pages, stream_triples

    src = str(tmp_path / "pages_t")
    out = str(tmp_path / "triples_t")
    ckpt = str(tmp_path / "ckpt_t")

    def read_triples():
        # the canonical triple set over every epoch streamed so far
        raw = spark.read.option("basePath", out).parquet(out)
        return finalize_triples(raw.drop("epoch"))

    gaz = gazetteer(spark)
    pages_all = synth_pages(spark, SF)
    docs_all = extract_stage(pages_all).persist()
    mapping = canonical_mapping(gaz).persist()
    try:
        # bootstrap: train the model once on the full static corpus
        model = _train(spark, docs_all)
        bc = spark.sparkContext.broadcast(model)
        mapping.count()

        n1 = _write_batch(spark, src, 0, 25)
        stream_triples(stream_pages(spark, src), bc, gaz, mapping,
                       out, ckpt)
        first = read_triples()
        assert first.count() > 0

        n2 = _write_batch(spark, src, 25, 50)
        stream_triples(stream_pages(spark, src), bc, gaz, mapping,
                       out, ckpt)
        got = read_triples()

        # batch twin over the union of both drops
        sub = synth_pages(spark, SF, with_doc_id=True) \
            .where("doc_id < 50").drop("doc_id")
        docs = extract_stage(sub)
        want = finalize_triples(extract_relations(canonicalize_links(
            link_mentions(detect_mentions(docs, bc), gaz), mapping)))
        g = {tuple(r) for r in got.collect()}
        w = {tuple(r) for r in want.collect()}
        assert g == w and len(g) > 0
    finally:
        mapping.unpersist()
        docs_all.unpersist()


def test_streaming_extract_gate_removes_its_temp_dir(spark, tmp_path,
                                                     monkeypatch):
    """The streaming_extract gate returns every page's text and leaves
    no temp dir behind (its rows are materialized before cleanup)."""
    import tempfile

    import __spark_entry__ as entry
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = entry._q_streaming_extract(spark, SF)
    assert os.listdir(tmp_path) == []
    want = {r.url: r.text for r in
            synth_pages(spark, SF).select("url", "text").collect()}
    assert {r.url: r.text for r in got.collect()} == want
