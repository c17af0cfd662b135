"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All oracles are GENERATED from kgp.constants (kgp.oracle) — the same
module the Spark corpus generator derives from — so the golden SQL and
the pipeline inputs cannot drift apart.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kgp import corpus as _corpus  # noqa: E402
from kgp import dedup as _dedup  # noqa: E402
from kgp import linker as _linker  # noqa: E402
from kgp import materialize as _mat  # noqa: E402
from kgp import multimodal as _mm  # noqa: E402
from kgp import oracle as _oracle  # noqa: E402
from kgp import pipeline as _pipeline  # noqa: E402
from kgp import similarity as _sim  # noqa: E402
from kgp import textstats as _ts  # noqa: E402


# ------------------------------------------------------------ plumbing
# The pipeline's intermediate tables are shared across queries() calls
# (the driver runs every query in one process) — memoized per sf_dir,
# persisted so each stage computes once.

_CACHE: dict[str, dict] = {}


def _products(spark: SparkSession, sf_dir: str) -> dict:
    if sf_dir in _CACHE:
        return _CACHE[sf_dir]
    # session hygiene for driver-owned sessions: pre-trigger the ICU
    # collation class init (otherwise the first wide lower() serializes
    # every task on a class-init monitor) and right-size Arrow batches
    from kgp.session import _warm_collation
    _warm_collation(spark)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "256")
    except Exception:
        pass
    # the KG pipeline's DAG, lazily: docs, mentions and canon are
    # cached, so each stage's Python UDFs run once across all gates
    p = _pipeline.kg_stages(
        spark, _mat.lazy_stage(persist=("docs", "mentions", "canon")),
        lambda: _corpus.synth_pages(spark, sf_dir))
    _CACHE[sf_dir] = p
    return p


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full KG-construction pipeline on sf0.001 —
    html → text → mentions → links → canonicalized (subj, pred, obj)."""
    p = _products(spark, "/root/testdata/sf0.001")
    return p["triples"].select("subj", "pred", "obj", "conf", "support")


# ------------------------------------------------------------- queries


def _q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _products(spark, sf_dir)["triples"].select("subj", "pred", "obj")


def _q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical extracted text per url (the north-rule invariant:
    the text column is EXTRACTED from html, the oracle reconstructs the
    golden text symbolically)."""
    return _products(spark, sf_dir)["docs"].select("url", "text")


def _q_readability_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc90 Readability extractor (kgp.readability, full port of
    ReadabilityContentExtractor.java — 13/13 of the reference's own
    active test pages byte-exact). FULL oracle: the scorer's outcome
    on the template corpus is closed-form (article div always wins,
    h1 removed, comments/related/footer excluded), so DuckDB rebuilds
    title+text symbolically (kgp.oracle.readability_text_sql)."""
    from kgp.readability import readability_stage
    pages = _corpus.synth_pages(spark, sf_dir)
    return readability_stage(pages)


def _q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_products(spark, sf_dir)["mentions"]
            .select("url", "surface", "tag").distinct())


def _q_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_products(spark, sf_dir)["canon"]
            .select("entity_id", "canon_id"))


def _q_triples_by_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_products(spark, sf_dir)["triples"]
            .groupBy("pred").agg(F.count("*").alias("n_triples"),
                                 F.sum("support").alias("total_support")))


def _docs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ts.text_stats(_docs_table(spark, sf_dir)).drop("fp")


def _q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgp import repetition as _rep
    docs = _docs_table(spark, sf_dir)
    # adversarial slice: doc_id % 7 == 0 doubled around a newline so
    # the duplicate-line/paragraph/n-gram families are non-degenerate
    # on the single-line documents table (oracle mirrors the CASE)
    docs = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat("text", F.lit("\n"), "text"))
        .otherwise(F.col("text")))
    return _rep.repetition_signals(docs)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.exact_dup_groups(_docs_table(spark, sf_dir))


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_table(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 20)
    return _sim.brute_force_topk(emb, queries_df, k=5) \
        .select("query_id", "neighbor_id", "rank")


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs on the documents table. LSH-then-exact-verify at
    32 bands is exact-equivalent at τ=0.8 (miss prob ~5e-8), so this
    carries a full DuckDB exact-Jaccard oracle; the jaccard value
    itself is float and excluded from the hash compare (pytest-golden
    in tests/test_dedup.py instead)."""
    return _dedup.minhash_near_dups(_docs_table(spark, sf_dir),
                                    threshold=0.8).select("a", "b")


def _q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters (LSH pairs → connected components → canonical
    min-id survivor); the oracle recomputes the groups with a
    recursive reachability CTE over the exact Jaccard pair set."""
    return _dedup.near_dup_groups(_docs_table(spark, sf_dir),
                                  threshold=0.8)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full oracle: the sketch hash is md5-derived, so DuckDB
    recomputes the exact 64-bit SimHash and the ≤3-Hamming pair set
    (the Spark side's 4x16-bit pigeonhole banding is COMPLETE for
    Hamming ≤ 3 — candidates+verify equals all-pairs)."""
    return _dedup.simhash_near_dups(_docs_table(spark, sf_dir),
                                    max_hamming=3) \
        .select("a", "b", F.col("hamming").cast("int").alias("hamming"))


def _q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    return _mm.media_stats(media)


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode → nearest-neighbor resize → integer pixel sum;
    the oracle recomputes the sum from the closed-form pixel pattern
    (mean_rgb floats are excluded from the hash compare)."""
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    return _mm.image_features(media, resize_to=4, fake=False) \
        .select("media_id", "sum_rgb", "out_width", "out_height")


def _q_image_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full HistogramStats/Symmetry extractor family (palladian-image-
    processing features/) over the REAL decoded BMP corpus — the
    DuckDB oracle rederives every moment (mean/min/max/sum/median/
    stddev/skewness, luminosity mean, flip symmetries) from the
    closed-form pixel pattern (kgp/imagefeatures.py)."""
    from kgp import imagefeatures as _imf
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    return _imf.image_features_stage(media)


def _q_time_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeIntervalParser as pure JVM regexp columns over interval
    phrases synthesized from event_id closed forms; the oracle derives
    the expected seconds symbolically (kgp/intervals.py)."""
    from kgp.intervals import time_interval_col
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id",
                (F.col("event_id") % 4).alias("d"),
                (F.col("event_id") % 24).alias("h"),
                (F.col("event_id") % 60).alias("m"),
                (F.col("event_id") % 5).alias("v"))
    text = (F.when(F.col("v") == 0, F.concat(
                "d", F.lit(" days "), "h", F.lit(" hours "), "m",
                F.lit(" minutes")))
            .when(F.col("v") == 1, F.concat(
                F.lit("the movie lasted "), "h", F.lit(" hours and "),
                "m", F.lit(" minutes")))
            .when(F.col("v") == 2, F.concat("h", F.lit("h"), "m",
                                            F.lit("m")))
            .when(F.col("v") == 3, F.concat("m", F.lit(" min read")))
            .otherwise(F.lit("no interval mentioned here")))
    return ev.select("event_id", text.alias("text"),
                     time_interval_col(text).alias("seconds"))


def _q_multilabel_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultilabelEvaluator example-based metrics (pure array columns)
    over closed-form label sets; symbolic oracle (kgp/ensemble.py)."""
    from kgp.ensemble import multilabel_rows
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    true_arr = F.concat(*[
        F.when((F.col("event_id") + k) % (k + 2) == 0,
               F.array(F.lit(f"l{k}"))).otherwise(F.array())
        for k in range(6)])
    asg_arr = F.concat(*[
        F.when((F.col("event_id") * 3 + k) % (k + 2) == 0,
               F.array(F.lit(f"l{k}"))).otherwise(F.array())
        for k in range(6)])
    base = ev.select("event_id", true_arr.alias("true_labels"),
                     asg_arr.alias("assigned_labels"))
    return multilabel_rows(base).select(
        "event_id", "n_true", "n_assigned", "n_common",
        "precision", "recall")


def _q_ensemble_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority vote aggregation over closed-form per-classifier
    probabilities; the oracle recomputes votes/n in SQL."""
    from kgp.ensemble import aggregate_majority
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    votes = ev.select(
        (F.col("event_id") / 3).cast("long").alias("item_id"),
        (F.col("event_id") % 3).alias("classifier_id"),
        F.explode(F.array(*[F.lit(f"l{k}") for k in range(4)]))
        .alias("label")) \
        .withColumn("k", F.substring("label", 2, 1).cast("int")) \
        .withColumn("prob", ((F.col("item_id") * 3
                              + F.col("classifier_id")) * 7
                             + F.col("k") * 13) % 100 / 100.0) \
        .drop("k")
    return aggregate_majority(votes, threshold=0.5)


def _q_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (calibration curve) over closed-form
    predictions; the reference's dropped-top-bin quirk reproduced on
    both engines (kgp/evaluate.py)."""
    from kgp.evaluate import reliability_bins
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (((F.col("event_id") * 13) % 101) / 100.0).alias("prob"),
        F.when(F.col("event_id") % 3 == 0, "pos")
        .otherwise("neg").alias("actual"))
    return reliability_bins(ev, true_class="pos", num_bins=10)


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated spans (ExactSubstr-style shingle
    hashing, Lee et al. 2022) — pure-JVM shingling + one aggregation;
    the oracle recomputes the identical md5 shingle hashes
    (kgp/spandedup.py)."""
    from kgp.spandedup import duplicated_spans
    docs = _docs_table(spark, sf_dir)
    return duplicated_spans(docs, span_len=40, stride=10)


def _q_er_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SparkER-style token blocking + CBS meta-blocking over part
    names; the oracle recomputes blocks, purging, weights and the
    pruning threshold (kgp/metablocking.py)."""
    from kgp.metablocking import er_candidates
    part = spark.read.parquet(f"{sf_dir}/part.parquet") \
        .select(F.col("p_partkey").alias("entity_id"),
                F.col("p_name").alias("name"))
    return er_candidates(part, scheme="CBS", threshold=2.0,
                         max_block_size=1000)


def _q_image_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """detectFrequencies (neighbor-quirk mean brightness delta) over
    the decoded BMP corpus; oracle rebuilds per-pixel distinct-
    neighbor sums from the closed-form grays (kgp/imagefeatures.py)."""
    from kgp.imagefeatures import frequency_stage
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    return frequency_stage(media)


def _q_class_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClassDistributionResampler (deterministic md5-key substitute)
    over event types; the oracle refits the ZeroR distribution and
    recomputes the identical keep rule (kgp/mlzoo.py)."""
    from kgp.mlzoo import resample_class_distribution
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", F.col("event_type").alias("category"))
    return resample_class_distribution(ev, "event_id")


def _q_wiktionary_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WiktionaryParser over REAL synthesized German wikitext pages;
    the oracle derives every field symbolically from the closed forms
    (kgp/wiktionary.py)."""
    from kgp.wiktionary import wiktionary_words_stage
    docs = _docs_table(spark, sf_dir).select("doc_id")
    wortart = F.when(F.col("doc_id") % 2 == 0, "Substantiv") \
        .otherwise("Verb")
    sprache = F.when(F.col("doc_id") % 7 == 0, "") \
        .otherwise(" ({{Sprache|Deutsch}})")
    sil = F.when(F.col("doc_id") % 2 == 0, F.concat(
        F.lit("{{Silbentrennung}}\nWort"), F.col("doc_id"),
        F.lit(", {{Pl.}} Wort·"), F.col("doc_id"),
        F.lit("·en\n"))).otherwise(F.lit(""))
    ober = F.when(F.col("doc_id") % 3 == 0, F.concat(
        F.lit("{{Oberbegriffe}}\n:[1] [[Ober"), F.col("doc_id"),
        F.lit("]]\n}}\n"))).otherwise(F.lit(""))
    unter = F.when(F.col("doc_id") % 5 == 0, F.concat(
        F.lit("{{Unterbegriffe}}\n:[1] [[U"), F.col("doc_id"),
        F.lit("a]], [[U"), F.col("doc_id"),
        F.lit("b]]\n}}\n"))).otherwise(F.lit(""))
    text = F.concat(
        F.lit("== Wort"), F.col("doc_id"), sprache, F.lit(" ==\n"),
        F.lit("=== {{Wortart|"), wortart,
        F.lit("|Deutsch}} ===\n"), sil,
        F.lit("{{Synonyme}}\n:[1] [[Syn"), F.col("doc_id"),
        F.lit("]], [[Alt"), F.col("doc_id"), F.lit("]]\n}}\n"),
        ober, unter)
    pages = docs.select(
        F.col("doc_id").alias("ord"),
        F.concat(F.lit("Wort"), F.col("doc_id")).alias("title"),
        text.alias("text"))
    out = wiktionary_words_stage(pages, "de", order_col="ord")
    # driver-contract: the driver's canonicalizer pandas-sorts the
    # frame, which cannot hash list cells — serialize the (already
    # array_sort'ed) arrays to '|'-joined strings for the gate
    return out.select(
        "word", "plural", "word_type", "language",
        F.array_join("synonyms", "|").alias("synonyms"),
        F.array_join("hypernyms", "|").alias("hypernyms"),
        F.array_join("hyponyms", "|").alias("hyponyms"))


def _q_wiki_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WikipediaLocationImporter over REAL synthesized infobox pages
    (namespace + blacklist + title-clean paths exercised); symbolic
    oracle (kgp/wikilocations.py)."""
    from kgp.wikilocations import wikipedia_locations_stage
    docs = _docs_table(spark, sf_dir).select("doc_id")
    bold = "'" * 3
    title = F.when(F.col("doc_id") % 17 == 0, F.concat(
        F.lit("Geography of Ort"), F.col("doc_id"))) \
        .when(F.col("doc_id") % 11 == 0, F.concat(
            F.lit("Ort"), F.col("doc_id"), F.lit(" (Region)"))) \
        .otherwise(F.concat(F.lit("Ort"), F.col("doc_id")))
    box = F.when(F.col("doc_id") % 2 == 0, "settlement") \
        .otherwise("mountain")
    lat = (F.col("doc_id") % 160 - 80) + 0.5
    lng = (F.col("doc_id") % 340 - 170) + 0.25
    text = F.concat(
        F.lit(bold + "Ort"), F.col("doc_id"),
        F.lit(bold + ", also " + bold + "Alt"), F.col("doc_id"),
        F.lit(bold + ", is a place.\n{{Infobox "), box,
        F.lit("\n| latitude = "), lat.cast("string"),
        F.lit("\n| longitude = "), lng.cast("string"),
        F.when(F.col("doc_id") % 3 != 0,
               F.lit("\n| coordinates_display = title"))
        .otherwise(F.lit("")),
        F.lit("\n}}\n== History ==\nText.\n"))
    pages = docs.select(
        F.col("doc_id").alias("page_id"),
        F.when(F.col("doc_id") % 13 == 0, 2).otherwise(0)
        .alias("namespace"),
        title.alias("title"), text.alias("text"))
    out = wikipedia_locations_stage(pages)
    # driver-contract: serialize alt_names (sorted in the stage) so
    # the driver's pandas sort_values canonicalizer can hash the cell
    return out.select(
        "location_id", "title", "name", "type", "lat", "lng",
        "population", F.array_join("alt_names", "|").alias("alt_names"))


def _q_utm_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM forward conversion (UtmConverter port) rendered entirely as
    JVM column expressions over closed-form synthetic coordinates; the
    oracle reruns the identical Transverse-Mercator series in SQL
    (kgp/utm.py)."""
    from kgp.utm import utm_cols
    docs = _docs_table(spark, sf_dir).select("doc_id")
    lat = ((F.col("doc_id") * 37) % 16400) / 100.0 - 80.0
    lon = ((F.col("doc_id") * 73) % 36000) / 100.0 - 180.0
    e, n, zone, band = utm_cols(lat, lon)
    return docs.select(
        "doc_id", F.round(lat, 6).alias("lat"),
        F.round(lon, 6).alias("lon"), zone, band,
        F.round(e, 4).alias("easting"),
        F.round(n, 4).alias("northing"))


def _q_block_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlockCodeExtractor image->words codifier (GREY_SCALE_5 palette,
    pixelation 2, 2x2 blocks/sections); the oracle rebuilds the Lab
    nearest-gray quantization and the whole word grammar in SQL from
    the closed-form pixels (kgp/blockcode.py)."""
    from kgp import blockcode as _bc
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    return _bc.block_code_stage(media, number_of_colors="GREY_SCALE_5",
                                pixelation_size=2,
                                block_size="TWO_BY_TWO",
                                image_sections="TWO_BY_TWO")


def _q_grid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GridSimilarityExtractor (d=2) FatStats over cell-pair
    luminosity similarities; the oracle recomputes every pair
    positionally from the closed-form pixels, with an exact integer
    sample-variance formula shared by both engines."""
    from kgp import imagefeatures as _imf
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    return _imf.grid_similarity_stage(media, divisions=2)


def _q_image_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashes (AverageHash + GradientHash ports with
    the documented integer area-mean resize) over the REAL decoded
    BMP corpus; the oracle rebuilds both hex hashes bit-for-bit from
    the closed-form pixel pattern (kgp/imagehash.py)."""
    from kgp import imagehash as _ih
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    return _ih.image_hash_stage(media).select("media_id", "ahash",
                                              "ghash")


def _q_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup image pairs by AverageHash Hamming <= 3 via the 4x16
    pigeonhole band join (never all-pairs); oracle recomputes exact
    Hamming over the rebuilt bits."""
    from kgp import imagehash as _ih
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    hashes = _ih.image_hash_stage(media)
    return _ih.phash_dup_pairs(hashes, max_hamming=3)


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN with the DETERMINISTIC 'seed' coarse quantizer
    (centroids = the nlist smallest vec_ids) — the DuckDB oracle
    recomputes the identical cells, probes, and exact re-rank, so this
    carries a full rows+schema+hash check. Recall vs the exact path is
    additionally asserted in tests/test_similarity.py."""
    emb = _emb_table(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 10)
    return _sim.ivf_topk(emb, queries_df, k=5, nlist=8, nprobe=4,
                         quantizer="seed") \
        .select("query_id", "neighbor_id", "rank")


def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs with the deterministic 'seed'
    IVF blocking — the DuckDB oracle recomputes the identical cells,
    pair blocking and exact cosine verification. Threshold 0.45: the
    synthetic embeddings are random, so true near-dups don't exist;
    this exercises blocking + verify on a non-trivial pair set."""
    return _sim.embedding_near_dups(_emb_table(spark, sf_dir),
                                    threshold=0.45, nlist=8,
                                    quantizer="seed") \
        .select("a", "b")


def _q_json_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPath port (kgp.sources.json_query -> get_json_object): build a
    nested JSON document per row, dig values back out with the
    reference's JPath syntax; extraction must round-trip the original
    fields (the oracle states them directly)."""
    from kgp.sources import json_query
    docs = _docs_table(spark, sf_dir)
    j = F.to_json(F.struct(
        F.struct(F.col("source"), F.col("lang")).alias("meta"),
        F.array("source", "lang").alias("tags"),
        F.col("n_chars")))
    return docs.select(
        "doc_id",
        json_query(j, "/meta/source").alias("src"),
        json_query(j, "tags[1]").alias("lang"),
        json_query(j, "/n_chars").alias("n_chars_str"))


def _q_entity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level entity co-occurrence counts
    (kgp.relations.co_occurrence_pairs, CoOccurrenceRetriever DOCUMENT
    context generalized to all mention pairs)."""
    from kgp.relations import co_occurrence_pairs
    p = _products(spark, sf_dir)
    return co_occurrence_pairs(p["mentions"], mode="document")


def _q_doc_scopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document geographic scope under five ranking detectors
    (kgp.scope: frequency / population / midpoint / first /
    least_distance — ports of the reference scope/ package; trust is
    pytest-covered because link_score has no closed form). The oracle
    re-derives the linked location instances closed-form and ranks
    them in SQL."""
    from kgp import scope as _scope
    p = _products(spark, sf_dir)
    return _scope.detect_scopes(
        p["links"], _corpus.gazetteer(spark),
        methods=("frequency", "population", "midpoint", "first",
                 "least_distance"))


def _q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing (kgp.packing): per
    document, its global token offset and the fixed-length training
    windows it spans. The Spark side computes the offset with a
    two-phase distributed scan (range partition + per-partition base
    offsets) — plan-asserted to never collapse to a single partition —
    and must equal the oracle's single-node window prefix sum."""
    from kgp import packing as _pack
    return _pack.pack_sequences(_docs_table(spark, sf_dir), seq_len=512)


def _q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line/document filtering (kgp.curation.c4_filter). The
    single-line documents text is decorated with deterministic slices
    (doc_id % 5/7/11/13) so every rule family — terminal-punctuation
    keep, lorem-ipsum drop, curly-brace drop, javascript line drop —
    is non-degenerate; the oracle builds the identical decoration."""
    from kgp import curation as _cur
    docs = _docs_table(spark, sf_dir)
    nl = F.lit("\n")
    decorated = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.concat(
            nl, F.lit("First full sentence for the keep rule to fire."),
            nl, F.lit("Second full sentence for the keep rule to fire."),
            nl, F.lit("Third full sentence for the keep rule to fire.")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 1, F.concat(
            nl, F.lit("Short snip."), nl,
            F.lit("We mention Lorem Ipsum dolor sit amet right here "
                  "today."))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 2, F.concat(
            nl, F.lit("function f() does return early; it is a code "
                      "line brace {."))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 3, F.concat(
            nl, F.lit("Please enable JavaScript to continue reading "
                      "this page today."))).otherwise(F.lit(""))))
    return _cur.c4_filter(decorated)


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table A1 quality signals + keep rule
    (kgp.curation.gopher_quality_signals / gopher_quality_filter).
    Deterministic doc_id % 3/5/7/11 slices add stop-word prose (the
    documents table is short keyword soup that the word-count and
    stop-word rules correctly drop wholesale — %3 pushes a third of
    the corpus over both bars so keep=true appears), bullet lines,
    ellipsis lines and hash spam so every rule family is
    non-degenerate; the oracle builds the identical decoration
    (kgp.oracle.GOPHER_SLICES_SQL)."""
    from kgp import curation as _cur
    docs = _docs_table(spark, sf_dir)
    nl = F.lit("\n")
    decorated = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(
            nl, F.lit(_oracle.GOPHER_PROSE))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.concat(
            nl, F.lit("• bullet one"), nl, F.lit("• bullet two")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.concat(
            nl, F.lit("to be continued..."), nl, F.lit("still going…")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.concat(
            nl, F.lit("# # # # # # # #"))).otherwise(F.lit(""))))
    sig = _cur.gopher_quality_signals(decorated)
    return sig.withColumn("keep", _cur.gopher_quality_filter())


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (kgp.pii.pii_scrub): emails, IPv4s and phone
    numbers replaced with placeholder tokens + per-class raw-text
    counts. Deterministic doc_id % 4/6/9 slices inject each class
    (the documents table has no organic PII); the oracle decorates
    identically (kgp.oracle.PII_SLICES_SQL) and runs the SAME regexes
    under RE2."""
    from kgp import pii as _pii
    docs = _docs_table(spark, sf_dir)
    d = F.col("doc_id")
    decorated = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(d % 4 == 0, F.concat(
            F.lit(" contact user"), d.cast("string"),
            F.lit("@mail-"), (d % 7).cast("string"),
            F.lit(".example.com"))).otherwise(F.lit("")),
        F.when(d % 6 == 0, F.concat(
            F.lit(" from 10."), (d % 256).cast("string"),
            F.lit(".0."), (d % 100).cast("string")))
        .otherwise(F.lit("")),
        F.when(d % 9 == 0, F.concat(
            F.lit(" call +1 (555) 123-"),
            (d % 9000 + 1000).cast("string"))).otherwise(F.lit(""))))
    return _pii.pii_scrub(decorated)


def _q_url_canon_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + deterministic stratified sampling
    (kgp.curation). Messy URLs (mixed case, www, :443, tracking
    params, unsorted query, fragments, trailing slash) are synthesized
    as a pure function of doc_id; the sample key is md5-derived so the
    oracle reproduces the identical cut."""
    from kgp import curation as _cur
    docs = _docs_table(spark, sf_dir)
    d = F.col("doc_id")
    messy = F.concat(
        F.lit("https://WWW.News-"), (d % 5).cast("string"),
        F.lit(".Example.COM:443/Articles/"), d.cast("string"),
        F.lit(".html"),
        F.when(d % 3 == 0, F.concat(
            F.lit("?utm_source=feed&ref=tw&b="), (d % 7).cast("string"),
            F.lit("&a=1")))
        .when(d % 3 == 1, F.concat(
            F.lit("/?z=2&a="), (d % 7).cast("string")))
        .otherwise(F.concat(F.lit("#section-"), (d % 4).cast("string"))))
    sampled = _cur.stratified_sample(
        docs.withColumn("messy", messy),
        {"src0": 0.25, "src1": 0.5}, id_col="doc_id",
        strata_col="source")
    return sampled.select(
        "doc_id",
        _cur.canonical_url(F.col("messy")).alias("canon_url"),
        _cur.sample_key(F.col("doc_id")).alias("k"))


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet-style cross-document line dedup over the
    pipeline's extracted text: strike every trimmed line occurring in
    more than 4 distinct documents (site chrome / boilerplate), keep
    the rest in original order. Full oracle: DuckDB rebuilds the same
    line-frequency table over the symbolically reconstructed text."""
    p = _products(spark, sf_dir)
    return _dedup.cross_doc_line_dedup(p["docs"], text_col="text",
                                       id_col="url", max_docs=4)


def _q_lsh_entity_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH fuzzy gazetteer candidate index over the corpus's
    distinct mention surfaces. 15 hash tables push the LSH miss
    probability at the 0.4 boundary to ~1e-6, so the exact-distance
    filter makes this equal to the exact Jaccard cross product — which
    the DuckDB oracle computes directly."""
    p = _products(spark, sf_dir)
    surfaces = p["mentions"].select("surface").distinct()
    return _linker.lsh_candidates(surfaces, _corpus.gazetteer(spark),
                                  jaccard_max_dist=0.4,
                                  num_hash_tables=15) \
        .select("surface", "entity_id", "canon_name").distinct()


def _q_nb_lang_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive Bayes gate: train (n_chars numeric, doc_id%3 nominal) ->
    lang on the documents table, predict per doc. The DuckDB oracle
    recomputes the identical Laplace/Gaussian/density-normalization
    scoring, so the whole classifier math is value-checked."""
    from kgp.mlzoo import nb_predict, nb_train
    docs = _docs_table(spark, sf_dir)
    feat = docs.select(
        F.col("doc_id").alias("_id"),
        F.length("text").cast("double").alias("n_chars"),
        (F.col("doc_id") % 3).cast("string").alias("bucket"),
        F.col("lang").alias("label"))
    model = nb_train(feat, "label")
    return (nb_predict(feat.drop("label"), model, "_id")
            .select(F.col("_id").alias("doc_id"), "predicted"))


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (kgp.decontam): 13-gram overlap of
    every training document against the held-out "benchmark" slice
    (doc_id % 31 = 0). A deterministic canary sentence is appended to
    the test slice AND to the doc_id % 17 = 5 training slice so
    contamination is non-degenerate (the keyword corpus has ~zero
    organic 13-gram overlap); the oracle decorates identically and
    recomputes the exact n-gram pipeline."""
    from kgp import decontam as _dec
    docs = _docs_table(spark, sf_dir)
    canary = F.lit(" " + _oracle.DECONTAM_CANARY)
    is_test = F.col("doc_id") % 31 == 0
    test_docs = docs.where(is_test).select(
        F.concat("text", canary).alias("text"))
    train_docs = docs.where(~is_test).select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 17 == 5, canary)
                 .otherwise(F.lit(""))).alias("text"))
    return _dec.decontaminate(train_docs, test_docs)


def _q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality score (kgp.lmscore — the CCNet perplexity
    filter's engine-reproducible stand-in): top-30 add-one unigram
    model fit on the documents table, then per-document mean token
    log-probability. max_vocab=30 is below the corpus's organic
    vocabulary so the OOV path is exercised; the oracle refits the
    identical model in SQL."""
    from kgp import lmscore as _lm
    docs = _docs_table(spark, sf_dir)
    vocab = _lm.unigram_vocab(docs, max_vocab=30)
    total = _lm.corpus_token_count(docs)
    return _lm.unigram_logprob(docs, vocab, total)


def _q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed DBSCAN (kgp.clustering — DBSCAN.java port) over the
    embeddings table, composed with the deterministic IVF-blocked
    within-eps pair generator (cos >= 0.3, 'seed' quantizer). At
    minPts=3 the corpus splits into all three roles (385 core /
    66 border / 49 noise at sf0.01); the oracle recomputes blocking,
    degrees, recursive core-component reachability and the min-id
    border assignment."""
    from kgp.clustering import dbscan
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = _sim.embedding_near_dups(emb, threshold=0.3, nlist=8,
                                     quantizer="seed")
    return dbscan(emb, pairs, min_pts=3)


def _eval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (actual, predicted) decoration mirroring
    kgp.oracle.EVAL_ACTUAL_SQL / EVAL_PREDICTED_SQL."""
    d = F.col("doc_id")
    c = lambda e: F.concat(F.lit("c"), e.cast("string"))  # noqa: E731
    return _docs_table(spark, sf_dir).select(
        F.when(d % 31 == 7, F.lit("never_pred"))
        .otherwise(c(d % 3)).alias("actual"),
        F.when(d % 5 == 0, c(d % 3))
        .when(d % 5 == 1, F.lit("ghost"))
        .otherwise(c((d + 1) % 3)).alias("predicted"))


def _q_model_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category evaluation (kgp.evaluate.category_metrics —
    ConfusionMatrix.java port) over deterministic (actual, predicted)
    pairs built so every reference edge case is non-degenerate: the
    'ghost' class is predicted but never real (recall-quirk 1.0), the
    'never_pred' class is real but never predicted (null precision)."""
    from kgp.evaluate import category_metrics
    return category_metrics(_eval_pairs(spark, sf_dir))


def _q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC (kgp.evaluate.roc_auc — RocCurves.java port, tie-
    averaged): label = doc_id%3=0 scored by doc_id%7 — seven distinct
    scores over 500 rows exercise the per-distinct-score trapezoid
    with heavy ties."""
    from kgp.evaluate import roc_auc
    d = F.col("doc_id")
    labeled = _docs_table(spark, sf_dir).select(
        (d % 3 == 0).alias("label"),
        (d % 7).cast("double").alias("score"))
    return roc_auc(labeled)


def _q_feature_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature rankers (kgp.featuresel — ChiSquaredFeatureRanker with
    AverageMergingStrategy + InformationGainFeatureRanker) over three
    deterministic nominal features of the documents table (source,
    length-bucket, doc_id parity) against the 3-way doc_id%3 category.
    The oracle recomputes both rankings in SQL with the identical
    zero-cell materialization and log2-entropy rounding ladder."""
    from kgp import featuresel as _fs
    feats = _docs_table(spark, sf_dir).select(
        F.concat(F.lit("c"), (F.col("doc_id") % 3).cast("string"))
        .alias("category"),
        F.col("source").alias("f_src"),
        F.floor(F.length("text") / 100).cast("long").cast("string")
        .alias("f_len"),
        (F.col("doc_id") % 2).cast("string").alias("f_par"))
    cols = ["f_len", "f_par", "f_src"]
    chi = _fs.chi_squared_ranking(feats, cols) \
        .select(F.lit("chi2").alias("method"), "feature", "score")
    rr = _fs.chi_squared_round_robin(feats, cols) \
        .select(F.lit("chi2rr").alias("method"), "feature", "score")
    ig = _fs.information_gain_ranking(feats, cols) \
        .select(F.lit("infogain").alias("method"), "feature", "score")
    return chi.union(rr).union(ig)



def _q_alternate_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geonames alternateNames ingest rules (kgp.corpus
    alternate_names_from_lines — GeonamesImporter.java:387-420):
    TSV lines synthesized JVM-side from documents doc_ids cycle
    through known ISO-639-1 languages, the 'abbr'/empty keep-as-null
    cases, unknown codes ('post', 'link', 'xx') that must drop, and
    short lines that must skip; the oracle re-applies the identical
    split/filter chain in SQL with the 98-code domain inlined."""
    from kgp.corpus import alternate_names_from_lines
    docs = _docs_table(spark, sf_dir).select("doc_id")
    langs = ["de", "en", "es", "sq", "", "abbr", "post", "link", "xx",
             "fr", "ja", "ru"]
    lang = F.element_at(
        F.array(*[F.lit(x) for x in langs]),
        (F.col("doc_id") % len(langs)).cast("int") + 1)
    line = F.when(
        F.col("doc_id") % 17 == 3,
        # <4 columns -> skipped
        F.concat(F.col("doc_id").cast("string"), F.lit("\t"),
                 (F.col("doc_id") % 50).cast("string")))         .otherwise(F.concat(
            F.col("doc_id").cast("string"), F.lit("\t"),
            (F.col("doc_id") % 50).cast("string"), F.lit("\t"),
            lang, F.lit("\tName"),
            (F.col("doc_id") % 23).cast("string")))
    out = alternate_names_from_lines(docs.select(line.alias("value")))
    return out.select("id", "name",
                      F.coalesce("language", F.lit("~")).alias("language"))


def _q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReservoirSampler's uniform-k-subset role (kgp.curation
    .reservoir_sample — md5-sample-key top-k, the repo's deterministic
    substitute for java.util.Random; physically a partial+global
    TakeOrderedAndProject, never a full sort).  FULL oracle: the md5
    key + (key, doc_id) ranking recomputed in SQL."""
    from kgp.curation import reservoir_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source")
    return reservoir_sample(docs, 97)


def _q_nbsvm_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NBSVM r-vector fit (kgp.nbsvm.nbsvm_fit_ratios —
    NbSvmLearner.java:61-126: alpha=1 class-weighted token counts,
    r = log((p/Σp)/(q/Σq)) as float32) over word-count vectors of
    the documents table, label = doc_id parity.  The totals are
    integer-valued doubles, so numpy's pairwise p.sum() and any SQL
    summation order agree EXACTLY; the oracle replays the ratio/ln/
    float32 chain in SQL."""
    from kgp.decontam import norm_tokens
    from kgp.nbsvm import nbsvm_fit_ratios
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = (docs.select("doc_id",
                          F.explode(norm_tokens(F.col("text")))
                          .alias("word"))
              .groupBy("doc_id", "word").count())
    vectors = (counts.groupBy("doc_id")
               .agg(F.map_from_entries(
                   F.collect_list(F.struct(
                       "word", F.col("count").cast("double"))))
                   .alias("tokens"))
               .withColumn("category",
                           (F.col("doc_id") % 2).cast("string")))
    dictionary, r = nbsvm_fit_ratios(vectors)
    rows = [(t, float(r[i])) for t, i in dictionary.items()]
    return spark.createDataFrame(rows, "token string, r double")


def _q_streaming_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming front-end (kgp.streaming): the SAME
    stateless extract stage runs under readStream (file source,
    availableNow drain, checkpointed exactly-once parquet sink) and
    must produce the batch/golden text BYTE-IDENTICALLY — the
    module's batch==stream contract made driver-falsifiable.  FULL
    oracle: the identical closed-form golden text
    (kgp.oracle.extract_text_sql).  The stream's source, sink and
    checkpoint live in a temp dir that is removed before returning;
    the sink rows are materialized first (localCheckpoint)."""
    import shutil
    import tempfile

    from kgp import streaming as _st
    base = tempfile.mkdtemp(prefix="kgp-stream-gate-")
    try:
        pages_dir = f"{base}/pages"
        _corpus.synth_pages(spark, sf_dir).write.mode("overwrite") \
            .parquet(pages_dir)
        stream = _st.stream_docs(_st.stream_pages(spark, pages_dir))
        _st.run_stream(stream.select("url", "text"),
                       f"{base}/out", f"{base}/ckpt")
        return spark.read.parquet(f"{base}/out").select("url", "text") \
            .localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword ENCODING (kgp.bpe.bpe_encode — the greedy
    lowest-rank-first apply rule, first occurrence on ties) under the
    fixed BPE_GATE_COUNTS merge table (the iterative FIT half stays
    pytest-pinned; the table is a deterministic pure function of the
    shared literal counts).  FULL oracle: a recursive CTE replays the
    per-word merge chain (kgp.oracle.bpe_encode_sql)."""
    from kgp.bpe import bpe_encode, learn_bpe_from_counts
    merges = learn_bpe_from_counts(_oracle.BPE_GATE_COUNTS,
                                   _oracle.BPE_GATE_MERGES)
    docs = _docs_table(spark, sf_dir)
    out = bpe_encode(docs, merges)
    return out.select(
        "doc_id", F.col("n_tokens").cast("int").alias("n_tokens"),
        F.array_join("tokens", " ").alias("token_str"))


def _q_gaussian_blur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GaussianBlur (kgp.imageops — ConvolveOp port: float32
    sigma=width/3 kernel normalized by its sequential float32 total,
    replicate edge extension, horizontal-then-vertical passes with
    per-pass (int)(x+0.5) quantization and EDGE_ZERO_FILL borders)
    over the media table's real BMP images, one row per blurred
    pixel.  FULL oracle: kgp.oracle.gaussian_blur_sql replays the
    float32 tap-accumulation order op-by-op (CAST AS REAL after
    every multiply/add) over the closed-form pixels."""
    from kgp.imageops import gaussian_blur_stage
    from kgp.multimodal import synth_media
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gaussian_blur_stage(synth_media(spark, docs))


def _q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (kgp.bloom — BloomFilter.java's
    bundled murmur2 with Java int wrap, seeds 0..k-1, the INT-division
    numHashFunctions sizing): distributed build over the even-doc_id
    member values, broadcast probe over ALL values.  FULL oracle: the
    murmur2 block fold / tail / avalanche chain re-implemented
    bit-exactly in SQL (kgp.oracle.bloom_membership_sql), bit set =
    distinct member positions, probe = all-seeds-present."""
    from kgp.bloom import bloom_build, bloom_probe
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"),
                 F.lit("-suffix")).alias("v"))
    members = docs.where(F.col("doc_id") % 2 == 0)
    bf = bloom_build(members, "v", num_elements=250, fp_prob=0.01)
    return bloom_probe(docs, "v", bf).select("doc_id", "maybe_seen")


def _q_nominal_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nominal co-occurrence classifier (kgp.encode — NominalClassifier
    port, incl. the one-row-space-for-all-columns matrix quirk) over
    two nominal features (source, doc_id%5 bucket) predicting lang.
    The oracle recomputes counts, the 9/6 rounding ladder, and the
    name-asc tie-break in SQL."""
    from kgp.encode import nominal_predict, nominal_train
    docs = _docs_table(spark, sf_dir)
    feats = docs.select(
        "doc_id", F.col("source").alias("f1"),
        F.concat(F.lit("b"), (F.col("doc_id") % 5).cast("string"))
        .alias("f2"),
        F.col("lang").alias("category"))
    model = nominal_train(feats, ["f1", "f2"])
    return nominal_predict(feats.drop("category"), model,
                           ["f1", "f2"], "doc_id")


def _q_tfidf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF document vectors (kgp.textvector — TextVectorizer port,
    TERM_FREQUENCY x IDF): corpus fit on ALL documents, sparse
    (doc_id, term, weight) rows for the doc_id % 17 = 0 slice. The
    idf ln() rounds to 7 before the tf product, the weight to 6
    (cross-engine ladder); the oracle recomputes the corpus and both
    strategies in SQL."""
    from kgp import textvector as _tv
    docs = _docs_table(spark, sf_dir)
    counts, n = _tv.fit_term_corpus(docs)
    out = _tv.vectorize_stage(docs.where(F.col("doc_id") % 17 == 0),
                              counts, n, tf="term_frequency",
                              idf="idf", round_to=6, idf_round=7)
    return out


def _q_tfidf_doc_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise TfIdfSimilarity (kgp.textvector — TfIdfSimilarity.java
    port: tf = count/total, Lucene smoothed idf, cosine) over the
    (doc_id, doc_id + 1) pairs for doc_id % 5 = 0. Per-doc weights and
    norms compute ONCE and join per pair — candidate pairs are an
    equi-join, never all-pairs. Cosine rounds to 4 (order-dependent
    sums sit ~1e-13 below that)."""
    from kgp import textvector as _tv
    docs = _docs_table(spark, sf_dir)
    counts, n = _tv.fit_term_corpus(docs)
    weights = _tv.doc_weights_tfidfsim(docs, counts, n, idf_round=7)
    ids = docs.select("doc_id")
    pairs = (ids.where(F.col("doc_id") % 5 == 0)
             .select(F.col("doc_id").alias("a_id"),
                     (F.col("doc_id") + 1).alias("b_id"))
             .join(ids.select(F.col("doc_id").alias("b_id")), "b_id")
             .select("a_id", "b_id"))
    return _tv.tfidf_pair_sim_stage(pairs, weights, round_to=4)


def _q_feature_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max + z-score normalization (kgp.encode — MinMaxNormalizer /
    ZScoreNormalizer ports; sample stddev per SlimStats.java:109-117)
    of the events value column; stats fit on the full table, outputs
    rounded to 6."""
    from kgp.encode import (apply_minmax, apply_zscore, fit_minmax,
                            fit_zscore)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = events.select("event_id",
                         F.col("value").alias("value_minmax"),
                         F.col("value").alias("value_zscore"))
    mm = fit_minmax(base, ["value_minmax"])
    zs = fit_zscore(base, ["value_zscore"])
    out = apply_zscore(apply_minmax(base, mm), zs)
    return out.select(
        "event_id",
        F.round("value_minmax", 6).alias("value_minmax"),
        F.round("value_zscore", 6).alias("value_zscore"))


def _q_one_hot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding (kgp.encode — DummyVariableCreator port) of
    the events event_type column (5-value domain, no collapse rule):
    fit on the full table, indicator columns for the event_id % 13 = 0
    slice."""
    from kgp.encode import apply_one_hot, fit_one_hot
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    mapping = fit_one_hot(events, ["event_type"])
    sliced = events.where(F.col("event_id") % 13 == 0) \
        .select("event_id", "event_type")
    return apply_one_hot(sliced, mapping)


def _q_threshold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-threshold sweep (kgp.evaluate.threshold_analysis —
    ThresholdAnalyzer.java port: round(score*bins) buckets, cumulative
    at-or-above precision/recall, irrelevant-below accuracy, empty
    bins between min and max occupied included) over the deterministic
    label = doc_id%3=0 / score = (doc_id%101)/100 decoration."""
    from kgp.evaluate import threshold_analysis
    docs = _docs_table(spark, sf_dir)
    labeled = docs.select(
        (F.col("doc_id") % 3 == 0).alias("label"),
        ((F.col("doc_id") % 101) / F.lit(100.0)).alias("score"))
    return threshold_analysis(labeled)


def _q_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query average-precision curve (kgp.mathstats —
    MathHelper.computeAveragePrecision port) over query = doc_id % 5,
    rank = doc_id, relevant = doc_id % 3 = 0; windows partition by
    query, never the whole corpus."""
    from kgp.mathstats import average_precision_curve
    docs = _docs_table(spark, sf_dir)
    ranked = docs.select(
        F.concat(F.lit("q"), (F.col("doc_id") % 5).cast("string"))
        .alias("query"),
        F.col("doc_id").alias("rank"),
        (F.col("doc_id") % 3 == 0).alias("relevant"))
    return average_precision_curve(ranked, round_to=6)


def _q_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson r + OLS alpha/beta (kgp.mathstats — MathHelper
    computePearsonCorrelationCoefficient / performLinearRegression
    ports as built-in second-order aggregates) over events value vs
    event_id % 97."""
    from kgp.mathstats import corr_regression
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    xy = events.select(F.col("value"),
                       (F.col("event_id") % 97).alias("y"))
    return corr_regression(xy, "value", "y", round_to=6)


def _q_set_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dice/Jaccard/Overlap set similarities (kgp.mathstats —
    SetSimilarities.java port incl. the empty-set rules) over the
    norm-token SETS of (doc_id, doc_id + 1) pairs — pure JVM array
    expressions, zero Python."""
    from kgp.mathstats import set_similarity_expr
    from kgp.decontam import norm_tokens
    docs = _docs_table(spark, sf_dir)
    t = docs.select("doc_id",
                    F.array_distinct(norm_tokens(F.col("text")))
                    .alias("s"))
    a = t.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    b = t.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    pairs = (a.where(F.col("a_id") % 9 == 0)
             .join(b, F.col("b_id") == F.col("a_id") + 1))
    return pairs.select(
        "a_id", "b_id",
        F.round(set_similarity_expr("dice", F.col("sa"), F.col("sb")),
                6).alias("dice"),
        F.round(set_similarity_expr("jaccard", F.col("sa"),
                                    F.col("sb")), 6).alias("jaccard"),
        F.round(set_similarity_expr("overlap", F.col("sa"),
                                    F.col("sb")), 6).alias("overlap"))


def _q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed percentiles (kgp.mathstats.fat_percentiles —
    FatStats.getPercentile rule) of the events value column via the
    two-phase range-partitioned rank selection (no single-node sort);
    the oracle recomputes the identical ranks with a window."""
    from kgp.mathstats import fat_percentiles
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ps = [10, 25, 50, 75, 90]
    got = fat_percentiles(events, "value", ps)
    return spark.createDataFrame(
        [(p, got[p]) for p in ps], "p int, value double")


def _q_page_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor/link extraction (HtmlHelper.getLinks + UrlHelper
    .makeFullUrl port, kgp.webgraph): one column-pruned Arrow pass over
    the pages html, document-order dedup per (src, dst), nofollow
    respected. The oracle re-derives every followed link closed-form,
    including the two dedup collisions (hub-vs-Home on news pages,
    next-vs-related when doc_id % 7 == 6 on a host-stable pair)."""
    from kgp import webgraph as _wg
    pages = _corpus.synth_pages(spark, sf_dir)
    return _wg.extract_links_stage(pages)


def _q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph: ONE hash aggregation over the extracted
    links, hosts parsed JVM-side (parse_url) — partial aggregation
    absorbs the 40%-hot news host before the shuffle."""
    from kgp import webgraph as _wg
    pages = _corpus.synth_pages(spark, sf_dir)
    return _wg.host_graph(_wg.extract_links_stage(pages))


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 power steps, d=0.85, dangling mass redistributed)
    over the page-level link graph. The oracle unrolls the identical
    iteration in SQL; ranks compare at the house 6-decimal rounding
    (summation order is the only engine difference)."""
    from kgp import webgraph as _wg
    pages = _corpus.synth_pages(spark, sf_dir)
    links = _wg.extract_links_stage(pages)
    pr = _wg.pagerank(
        links.select(F.col("src_url").alias("src"),
                     F.col("dst_url").alias("dst")), iterations=5)
    return pr.select("node", F.round("rank", 6).alias("rank_r6"))


def _q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per link target — the web-scale
    entity-alias signal: in-link counts, distinct source hosts, and
    the majority anchor (ties lexicographic). Two hash aggregations +
    a dst-partitioned window, never a global one."""
    from kgp import webgraph as _wg
    pages = _corpus.synth_pages(spark, sf_dir)
    return _wg.anchor_stats(_wg.extract_links_stage(pages))


def _q_crawl_reachable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch crawl frontier (Crawler.java:398-428 follow rules:
    length < 400, blacklist find-match drops) — BFS over the link
    graph from every 101st page, 4 levels, /about.html blacklisted.
    Each level joins edges against the FRONTIER only; the oracle
    unrolls the identical BFS."""
    from kgp import webgraph as _wg
    pages = _corpus.synth_pages(spark, sf_dir, with_doc_id=True)
    links = _wg.extract_links_stage(pages.drop("doc_id"))
    seeds = pages.where(F.col("doc_id") % 101 == 0).select("url")
    return _wg.crawl_reachable(links, seeds, max_depth=4,
                               blacklist=[r"/about\.html"])


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (5 L1-normalized iterations) over the
    page link graph; compares at the house 6-decimal rounding."""
    from kgp import webgraph as _wg
    pages = _corpus.synth_pages(spark, sf_dir)
    links = _wg.extract_links_stage(pages)
    s = _wg.hits(links.select(F.col("src_url").alias("src"),
                              F.col("dst_url").alias("dst")),
                 iterations=5)
    return s.select("node", F.round("hub", 6).alias("hub_r6"),
                    F.round("auth", 6).alias("auth_r6"))


def _q_text_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction from prose (UrlHelper.URL_PATTERN handed to the
    JVM regex engine — the same engine the reference runs on) plus
    session-id scrubbing, both pure column expressions. The prose is
    synthesized closed-form (each doc's canonical url + a bare www
    host + non-URL distractors); the oracle re-derives the matches
    SYMBOLICALLY — it never runs the regex, so the pattern port is
    checked against an independent derivation."""
    from kgp import webgraph as _wg
    pages = _corpus.synth_pages(spark, sf_dir, with_doc_id=True)
    dirty = F.concat(
        F.col("url"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(";jsessionid="),
                        F.substring(F.md5(F.col("doc_id")
                                          .cast("string")), 1, 16)))
        .otherwise(F.lit("")))
    text = F.concat(F.lit("Read more at "), F.col("url"),
                    F.lit(" or www.example.com. Not a link: "
                          "filename.txt or 6:00p."))
    return (pages
            .select("doc_id",
                    F.posexplode(_wg.extract_urls_col(text))
                    .alias("pos", "url_match"),
                    _wg.remove_session_id_col(dirty).alias("cleaned")))


def _sitemap_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize per-host sitemap XML files from the pages table:
    CDATA-wrapped locs (doc_id%4==1), entity-escaped query suffixes
    (doc_id%5==2), a priority tag per entry EXCEPT half the blog
    entries (pinning the reference's all-or-nothing priority rule),
    gzipped members for odd siteK hosts, plus one sitemap index
    listing every file."""
    import gzip as _gzip
    import pandas as _pd
    pages = (_corpus.synth_pages(spark, sf_dir, with_doc_id=True)
             .select("doc_id", "url"))
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    is_blog = host == "blog.example.org"
    loc_url = F.concat(
        F.col("url"),
        F.when(F.col("doc_id") % 5 == 2, F.lit("?a=1&amp;b=2"))
        .otherwise(F.lit("")))
    loc_inner = F.when(
        F.col("doc_id") % 4 == 1,
        F.concat(F.lit("<![CDATA["), loc_url, F.lit("]]>"))) \
        .otherwise(loc_url)
    prio_tag = F.when(is_blog & (F.col("doc_id") % 2 == 0), F.lit("")) \
        .otherwise(F.concat(F.lit("<priority>0."),
                            (F.col("doc_id") % 10).cast("string"),
                            F.lit("</priority>")))
    entry = F.concat(F.lit("<url><loc>"), loc_inner, F.lit("</loc>"),
                     prio_tag, F.lit("</url>"))
    sm = (pages.groupBy(host.alias("host"))
          .agg(F.array_join(
              F.transform(
                  F.array_sort(F.collect_list(
                      F.struct(F.col("doc_id"), entry.alias("e")))),
                  lambda s: s.e), "\n").alias("body")))
    content = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n'
              '<urlset xmlns="http://www.sitemaps.org/schemas/'
              'sitemap/0.9" xmlns:news="http://www.google.com/'
              'schemas/sitemap-news/0.9">\n'),
        F.col("body"), F.lit("\n</urlset>"))
    gz = F.col("host").rlike(r"^site(1|3|5|7|9|11|13)\.")
    files = sm.select(
        F.concat(F.lit("https://"), "host", F.lit("/sitemap.xml"),
                 F.when(gz, F.lit(".gz")).otherwise(F.lit("")))
        .alias("url"),
        F.encode(content, "UTF-8").alias("content"))

    def _gzip_members(batches):
        for pdf in batches:
            out_c = []
            for u, c in zip(pdf["url"], pdf["content"]):
                raw = bytes(c)
                out_c.append(_gzip.compress(raw, mtime=0)
                             if u.endswith(".gz") else raw)
            yield _pd.DataFrame({"url": pdf["url"], "content": out_c})

    files = files.mapInPandas(_gzip_members,
                              "url string, content binary")
    idx_body = (files.agg(F.array_join(
        F.transform(F.array_sort(F.collect_list("url")),
                    lambda u: F.concat(F.lit("<sitemap><loc>"), u,
                                       F.lit("</loc></sitemap>"))),
        "\n").alias("b")))
    index = idx_body.select(
        F.lit("https://news.example.com/sitemap_index.xml")
        .alias("url"),
        F.encode(F.concat(
            F.lit('<?xml version="1.0"?>\n<sitemapindex xmlns='
                  '"http://www.sitemaps.org/schemas/sitemap/0.9">\n'),
            F.col("b"), F.lit("\n</sitemapindex>")), "UTF-8")
        .alias("content"))
    return files.union(index)


def _q_sitemap_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap reading (SitemapRetriever port): the synthesized XML
    round-trips through the REAL parser — per-record gunzip, namespace
    cleanup, regex loc/priority scan, entity normalization, the
    all-or-nothing priority rule — while the oracle derives the same
    rows symbolically from doc_id, never touching XML."""
    from kgp import sitemap as _sm
    rows = _sm.sitemap_rows_stage(_sitemap_files(spark, sf_dir))
    return (rows.where(F.col("kind") == "page")
            .select("sitemap_url", F.col("loc").alias("page_url"),
                    "priority"))


def _q_dataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset profile (kgp.datasetstats —
    DatasetStatistics/NumericValueStatistics/NominalValueStatistics
    port: numeric mean/sample-std/min/max + nominal distinct counts,
    null tallies, unsupported types skipped) over the events table in
    ONE full-scan aggregation; floats rounded per the house rule."""
    from kgp.datasetstats import dataset_statistics
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    stats = dataset_statistics(
        events, ["event_id", "user_id", "event_type", "value", "props"])
    return stats.select(
        "column", "kind", "num_nulls", "num_unique",
        F.round("mean", 6).alias("mean"),
        F.round("std_dev", 6).alias("std_dev"),
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"))


def _q_token_informativeness(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Corpus token-frequency informativeness (kgp.informativeness —
    InformativenessAssigner port: Tokenizer tokens via the reference's
    exact Java regex JVM-side, freq = count/total, normalized by the
    max frequency among tokens longer than one char).  One explode +
    one groupBy; the normalization windows run on the
    vocabulary-sized count table."""
    from kgp.informativeness import fit_informativeness_stage
    docs = _docs_table(spark, sf_dir)
    fit = fit_informativeness_stage(docs)
    return fit.select(
        "token", "count",
        F.round("frequency", 9).alias("frequency"),
        F.round("informativeness", 6).alias("informativeness"))


def _q_synonym_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synonym canonicalization (kgp.synonyms —
    SynonymDictionaryCreator.createDictionaryOpenThesaurus port, pure
    JVM per-line parse) over the code-defined demo thesaurus: pairs →
    string connected components → (word, canon_word).  The oracle
    derives the groups symbolically from the same constants, never
    running the parser."""
    from kgp.synonyms import (demo_thesaurus_df,
                              open_thesaurus_pairs_stage, synonym_groups)
    pairs = open_thesaurus_pairs_stage(demo_thesaurus_df(spark))
    return synonym_groups(pairs)


def _q_heat_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heat-grid aggregation (kgp.heatgrid — HeatGridGenerator port:
    [0,1] matrix normalization, Math.round palette buckets, the 16
    reference colors) over events bucketed by (user_id%8,
    event_id%12): ONE groupBy count, grid-sized normalization window,
    palette lookup JVM-side."""
    from kgp.heatgrid import heat_grid_stage
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    grid = heat_grid_stage(
        events.select((F.col("user_id") % 8).alias("r"),
                      (F.col("event_id") % 12).alias("c")), "r", "c")
    return grid.select("row", "col", "n",
                       F.round("intensity", 9).alias("intensity"),
                       "bucket", "color_hex")


def _q_image_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image duplicate scoring (kgp.imageops — ImageHandler
    getSimilarity DIFFG + isDuplicate port) over REAL BMP decode of
    (id, id+39) media pairs — equal widths (39%13==0), differing
    heights (39%7!=0) so the min-height/black-fill path runs.  The
    oracle recomputes the gray-difference from the closed-form pixel
    pattern, never touching BMP bytes."""
    from kgp.imageops import image_dup_stage
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    pairs = image_dup_stage(media, shift=39)
    return pairs.select("id_a", "id_b",
                        F.round("diffg", 9).alias("diffg"), "is_dup")


def _q_date_particles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date feature extraction (kgp.featuretransform —
    DateParticleExtractor + DateDifferenceCalculator ports: US
    week-of-year, java.time-style names, seasons, signed day / walked
    week / business-day differences as closed forms) over the events
    timestamps — pure column expressions, zero Python."""
    from kgp.featuretransform import date_difference, date_particles
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = events.select(
        "event_id", F.to_date("ts").alias("d"),
        F.date_add(F.to_date("ts"),
                   (F.col("event_id") % 21 - 10).cast("int")).alias("d2"))
    out = date_particles(date_difference(base, "d", "d2"), "d")
    return out.select(
        "event_id", "d_year_num", "d_quarter", "d_month_nom",
        F.col("`d_year-month`").alias("d_year_month"),
        "d_week_num", "d_dayOfYear_num", "d_dayOfWeek_num",
        "d_dayOfWeek_nom", "d_weekend",
        "d_minus_d2_days", "d_minus_d2_weeks", "d_minus_d2_businessDays")


def _feed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgp import feeds as _feeds
    f = _feeds.synth_feeds(spark, sf_dir)
    return _feeds.feed_post_statistics(f, _feeds.parse_feed_stage(f))


def _q_feed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed reading (kgp.feeds — RomeFeedParser-family port):
    deterministic feed XML is rendered with pure column expressions,
    round-trips through the REAL Arrow-batched parser (RFC-822 +
    ISO-8601 dates, RSS guid/Atom id), and the link is session-
    stripped (UrlHelper.removeSessionId); the oracle derives the same
    rows symbolically from events, never touching XML."""
    from kgp import feeds as _feeds
    from kgp.webgraph import remove_session_id_col
    items = _feeds.parse_feed_stage(_feeds.synth_feeds(spark, sf_dir))
    return items.select(
        "feed_url", "guid", "title",
        remove_session_id_col("link").alias("link"),
        F.unix_millis("published_ts").alias("pub_ms"))


def _q_feed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeedPostStatistics + FeedClassifier rule cascade
    (FeedPostStatistics.java:75-165, FeedClassifier.java:96-148):
    per-feed sorted-timestamp gaps, FatStats median/sample-stddev with
    exact DECIMAL moments, items/day, poll delay, and the 8-class
    activity pattern — one shuffle, all-JVM column math."""
    from kgp import feeds as _feeds
    c = _feeds.classify_feeds(_feed_stats(spark, sf_dir))
    return c.select(
        "feed_url", "n_items", "median_gap_ms",
        F.round("avg_gap_ms", 6).alias("avg_gap_ms"), "gap_stddev_ms",
        "longest_gap_ms", F.round("items_per_day", 6).alias("items_per_day"),
        "delay_ms", "valid", "pattern")


def _q_feed_update_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-strategy intervals (MavUpdateStrategy.java:44-86,
    FixLearnedUpdateStrategy.java:60-96): MAV min/max with the Java
    long-division delay adjustment, fixLearnedW/P first-window
    intervals, all clamped to [1, 10080] minutes."""
    from kgp import feeds as _feeds
    stats = _feed_stats(spark, sf_dir).persist()
    mav = _feeds.mav_update_interval(stats, lowest=1, highest=10080)
    fixw = _feeds.fix_learned_interval(stats, mode=0, lowest=1,
                                       highest=10080, out_col="fixw")
    fixp = _feeds.fix_learned_interval(stats, mode=1, lowest=1,
                                       highest=10080, out_col="fixp")
    return mav.join(fixw, "feed_url").join(fixp, "feed_url")


def _q_dt_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree scoring (kgp.dtree — quickdt/TreeBuilder +
    QuickDtClassifier port, goldens pinned to QuickDtTest): the
    deterministic gate tree compiles into nested CASE WHEN column
    expressions, so classification is whole-stage-codegen JVM work
    with the model inlined into the plan; the oracle renders the SAME
    tree as SQL."""
    from kgp import dtree as _dt
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    feats = events.select(
        "event_id",
        F.col("value").cast("double").alias("x"),
        (F.col("user_id") % 10).cast("double").alias("y"),
        F.element_at(F.array(F.lit("red"), F.lit("green"),
                             F.lit("blue")),
                     (F.col("event_id") % 3).cast("int") + 1)
        .alias("color"))
    return _dt.classify_stage(feats, _dt.gate_model())


def _content_gate_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ContentDate candidate features from doc_id (shared
    by the content_date_rates and reference_dates gates; the DuckDB
    oracles rebuild the same formulas symbolically)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    ci = F.col("ci")
    cands = docs.select(
        d.cast("string").alias("url"), "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("ci")
    ).withColumn("ci", F.col("ci").cast("long"))
    exact = (d + ci * 2) % 7
    feats = cands.select(
        "url", "doc_id", "ci",
        F.element_at(F.array(F.lit(0.0), F.lit(1.0), F.lit(3.0)),
                     ((d + ci) % 3).cast("int") + 1).alias("key_class"),
        ((d * 3 + ci) % 3).cast("double").alias("key_loc"),
        F.when((d * 3 + ci) % 3 == 2,
               ((d * 7 + ci) % 31).cast("double") / 30.0)
        .otherwise(F.lit(0.0)).alias("key_diff"),
        (((d * 13 + ci * 37) % 100).cast("double") / 100.0)
        .alias("rel_doc_pos"),
        ((ci + 1).cast("double") / 3.0).alias("ord_doc_pos"),
        (((d + 2 * ci) % 3 + 1).cast("double") / 3.0)
        .alias("ord_age_pos"),
        (((d * 5 + ci) % 3 + 1).cast("double") / 3.0)
        .alias("rel_cnt_same"),
        (F.lit(1.0) / 3.0).alias("rel_size"),
        exact.cast("double").alias("exactness"),
        F.when(exact >= 4, 1.0).otherwise(0.0).alias("hour_set"),
        F.when(d % 5 == ci, 1.0).otherwise(0.0).alias("in_meta_d"),
        F.when((d + ci) % 9 == 0, 1.0).otherwise(0.0).alias("h_tag_d"),
        F.when((d + ci) % 4 == 1, 1.0).otherwise(0.0).alias("struct_d"),
        F.when((d % 11 == 0) & (ci == 0), 1.0).otherwise(0.0)
        .alias("in_url_d"),
        (ci * 120 + d % 50).cast("long").alias("abs_pos"),
        (2015 + (d + ci) % 10).cast("long").alias("year"),
        ((d + 2 * ci) % 12 + 1).cast("long").alias("month"),
        ((d * 3 + ci) % 28 + 1).cast("long").alias("day"),
        F.when(exact >= 4, (d + ci) % 24).otherwise(-1)
        .cast("long").alias("hour"))
    return feats.withColumn(
        "value", F.format_string("%04d-%02d-%02d", "year", "month",
                                 "day"))


def _q_content_date_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ContentDateRater + RatedDateComparator as a FULL oracle
    (kgp.contentdates): the quickdt forest rater — mirroring the
    reference's bundled dates_pub QuickDt model,
    ContentDateRater.java:60-105 — compiles into nested CASE WHEN
    columns (tree_column), the publish+inUrl override stays exact, and
    the per-url winner comes from the RatedDateComparator window
    (rate desc, position asc, newest first). Candidate features are
    synthesized closed-form from doc_id so the DuckDB oracle rebuilds
    features, forest and comparator symbolically (tree_sql)."""
    from kgp import contentdates as _cd
    feats = _content_gate_feats(spark, sf_dir)
    rated = _cd.rate_with_forest(feats)
    best = _cd.best_content_dates(rated)
    return best.select("url", "doc_id", "value", "year", "month",
                       "day", "hour", "abs_pos", "rate")


def _q_reference_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReferenceDateGetter (ReferenceDateGetter.java:29-77) as a
    distributed composition over the pre-crawled corpus: a closed-form
    link table joins each source page to the rated content dates of
    its link TARGETS; per link the reference keeps the highest-rate
    dates and takes the OLDEST (unset fields oldest-first -- the
    DateComparator double-reversal), ties broken by candidate
    position. No fetching: the corpus stands in for the reference's
    per-link page downloads, exactly like the DocumentRetriever
    substitution everywhere else in this repo."""
    from kgp import contentdates as _cd
    from kgp.datestack import reference_dates_df
    feats = _content_gate_feats(spark, sf_dir)
    rated = _cd.rate_with_forest(feats)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    links = (docs.where(d % 3 == 0)
             .select(d.alias("src"),
                     F.explode(F.array((d * 7 + 1) % 500,
                                       (d * 13 + 2) % 500))
                     .alias("dst"))
             .distinct())
    out = reference_dates_df(
        links.select("src", F.col("dst").cast("string").alias("dst")),
        rated)
    return out.select("src", F.col("dst").cast("long").alias("dst"),
                      "value", "year", "month", "day", "hour",
                      "rate").orderBy("src", "dst")


def _q_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec gate (kgp.multimodal.encode_png/decode_png —
    pure zlib+numpy, full filter set cycled per scanline): the
    closed-form pixel array round-trips through PNG and the decoded
    integer channel stats must equal the DuckDB closed-form recompute
    — a green row proves the encode->decode loop bit-exact."""
    from kgp.multimodal import png_roundtrip_stage
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return png_roundtrip_stage(docs)


def _q_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG codec gate (kgp.jpegcodec — Annex K tables,
    Huffman entropy coding, DCT, pure numpy): tile-constant grayscale
    with the all-ones quant table round-trips EXACTLY, so the decoded
    stats equal the DuckDB closed-form recompute — a green row proves
    the Huffman/DCT encode->decode loop bit-exact."""
    from kgp.multimodal import jpeg_roundtrip_stage
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return jpeg_roundtrip_stage(docs)


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio signal features (energy / zero crossings /
    peak) over REAL decoded WAV payloads; every value integer-exact,
    so the DuckDB oracle recomputes the frames from the closed synth
    form (kgp.multimodal.audio_features; kgp.oracle.audio_features_sql
    mirrors window=64 hop=32)."""
    from kgp.multimodal import audio_features
    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    return audio_features(media)


def _q_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by energy-difference fingerprint
    (kgp.audiofp — Haitsma/Kalker sign code, 4x8-bit pigeonhole band
    join, exact bit_count(xor) verify). The corpus is decorated with
    re-encoded COPIES — a gain-doubled clip for audio ids %5==0 (new
    id +1_000_000) and a polarity-flipped clip for ids %5==2 (new id
    +2_000_000) — which the fingerprint must pair with their source at
    Hamming 0; the DuckDB oracle recomputes every fingerprint from the
    closed synth PCM form and computes the copies' codes from the
    SOURCE samples, so any invariance break on the Spark side (the
    property under test) hash-mismatches."""
    from kgp.audiofp import audio_near_dups, synth_companion_clips

    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    base = media.where("kind = 'audio'").select(
        "media_id", "kind", "content")
    companions = synth_companion_clips(_docs_table(spark, sf_dir))
    return (audio_near_dups(base.unionByName(companions))
            .orderBy("a", "b"))


def _q_bovw_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-visual-words histograms (kgp.bovw — the
    PoiFeatureExtractor pipeline with the deterministic grid-patch
    descriptor and the seed vocabulary): descriptors from one Arrow
    pass, centroids = training-slice descriptors, nearest-centroid
    assignment with the reference's strict-< first-wins tie rule. The
    DuckDB oracle recomputes descriptors, vocabulary, assignment and
    histograms from the closed-form pixels."""
    from kgp.bovw import bow_histograms, image_descriptors, \
        seed_vocabulary

    media = _mm.synth_media(spark, _docs_table(spark, sf_dir))
    vocab = seed_vocabulary(image_descriptors(media), seed_mod=30)
    return (bow_histograms(media, vocab)
            .orderBy("media_id", "word"))


def _q_phrase_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM phrase probability (kgp.cooccurrence — port of
    CooccurrenceMatrix + PhraseProbabilityCalculator, add-one
    smoothed, log10-summed). The matrix is fit from documents.text
    (two hash aggregations); each document's first-6-token phrase is
    scored by joining its token pairs against the vocabulary-sized
    count tables — zero Python, AQE broadcasts the small sides."""
    from kgp.cooccurrence import (fit_cooccurrence_stage,
                                  phrase_probability_stage)
    docs = _docs_table(spark, sf_dir)
    matrix = fit_cooccurrence_stage(docs)
    arr = F.split(F.regexp_replace("text", r"\s+$", ""), r"\s", 0)
    phrases = docs.select(
        F.col("doc_id").alias("phrase_id"),
        F.array_join(F.slice(arr, 1, 6), " ").alias("phrase"))
    out = phrase_probability_stage(phrases, matrix,
                                   id_col="phrase_id")
    return out.select(F.col("phrase_id").alias("doc_id"),
                      "phrase", "log_prob")


def _q_template_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageSegmenter.findSimilarFiles over the corpus
    (kgp.segmenter.template_pairs): tag-q-gram fingerprints as pure
    JVM columns, same-host candidates via an equi-join on
    (host, ordinal±k) — O(N*window) pairs, hot-host immune — and the
    reference's asymmetric variance + Jaccard erg score with the
    0.689 <= erg < 1.0 cut and top-5 per page. FULL oracle: the tag
    list is closed-form in doc_id (kgp.oracle.template_pairs_sql)."""
    from kgp.segmenter import template_pairs
    pages = _corpus.synth_pages(spark, sf_dir)
    return template_pairs(pages)


def _q_page_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageSegmenter.startPageSegmentation (kgp.segmenter
    .page_segments_stage): DOM-diff conflicts vs the page's top-5
    same-template pages, 50% incompatibility rule, substring scrub,
    line-bag Jaccard variability rating, Segment color buckets. ONE
    applyInPandas over bounded (page + <=5 sims) groups. FULL oracle
    (new r5): over synth pages every DOM-diff outcome is closed-form
    in the doc_id residues — kgp.oracle.page_segments_sql re-derives
    the conflict sets, the 50% merge fold, the scrub and the exact
    Jaccard ratings as integer arithmetic; the generic-DOM detail
    behavior stays pinned in tests/test_segmenter.py."""
    from kgp.segmenter import page_segments_stage, template_pairs
    pages = _corpus.synth_pages(spark, sf_dir)
    return page_segments_stage(pages, template_pairs(pages))


def _q_geo_box_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial box + nearest lookup (kgp.spatial — Spatial2dIdMap's
    distributed twin): grid-cell EQUI-join blocking (never a theta
    join), getBoundingBox/approximateDistance verbatim, rank by
    (rounded dist, id). Points/queries derived deterministically
    from events."""
    from kgp.spatial import closest_to_stage
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = events.select(
        F.col("event_id").alias("id"),
        (((F.col("event_id") * 37) % 16000) / 100.0 - 80.0)
        .alias("lat"),
        (((F.col("event_id") * 73) % 36000) / 100.0 - 180.0)
        .alias("lng"))
    queries_df = (pts.where(F.col("id") % 97 == 0)
                  .select(F.col("id").alias("qid"), "lat", "lng"))
    return closest_to_stage(pts, queries_df, distance_km=500.0)


def _q_wiktionary_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WiktionaryPosTagger (kgp.wikpostag) over a closed-form token
    stream + word dictionary synthesized from documents: exercises the
    full hard-coded rule chain, the single-char branch,
    isNumericExpression (char-class AND the unit branch — '5km'),
    exact + lowercase dictionary lookups, posTagMapping, and the
    unmapped-type passthrough. The oracle re-implements the tagging
    semantically in SQL against the rendered unit bank."""
    from kgp.wikpostag import wiktionary_pos_stage

    def pick(col, options):
        n = len(options)
        expr = F.when(col % n == 0, F.lit(options[0]))
        for i, o in enumerate(options[1:], 1):
            expr = expr.when(col % n == i, F.lit(o))
        return expr

    docs = _docs_table(spark, sf_dir).select("doc_id")
    d = F.col("doc_id")
    tokens = docs.select(
        "doc_id",
        F.posexplode(F.array(
            F.lit("The"),
            F.concat(F.lit("word"), d),
            F.concat(F.lit("Word"), d),
            pick(d, ["5km", "1000", "3,5", "5xyz"]),
            pick(d, [".", "$", "I", "a"]),
            pick(d, ["was", "is", "been", "being", "am", "are",
                     "were", "be"]),
            pick(d, ["and", "or", "either", "some"]),
            pick(d, ["me", "him", "he", "she", "we", "they", "you",
                     "them"]),
            pick(d, ["can", "should", "will", "have", "had",
                     "having", "do", "did", "does", "this", "that",
                     "these", "those"]),
            F.concat(F.lit("zz"), d),
        )).alias("pos", "token"))
    words = docs.select(
        F.when(d % 2 == 0, F.concat(F.lit("word"), d))
        .otherwise(F.concat(F.lit("Word"), d)).alias("word"),
        pick(d, ["Noun", "Verb", "Adjective", "Proper", "Article",
                 "Preposition", "Interjection"]).alias("word_type"))
    return wiktionary_pos_stage(tokens, words).select(
        "doc_id", "pos", "token", "tag")


def _q_single_feature_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SingleFeatureClassification (kgp.featuresel) over a closed-form
    train/validation split of events: three nominal features of
    graded predictive power ranked by single-feature Naive Bayes F1
    of the 'true' class; the oracle re-implements the whole loop
    (counts, Laplace scores, argmax, confusion, NaN->0 mapper) in
    SQL."""
    from kgp.featuresel import single_feature_classification
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id")
    e = F.col("event_id")
    feat = ev.select(
        "event_id",
        F.when(e % 2 == 0, "true").otherwise("false").alias("category"),
        ((e % 2 + F.when(e % 11 == 0, 1).otherwise(0)) % 2)
        .cast("string").alias("f_strong"),
        ((e % 2 + F.when(e % 3 == 0, 1).otherwise(0)) % 2)
        .cast("string").alias("f_weak"),
        (e % 7).cast("string").alias("f_noise"))
    train = feat.where(e % 5 != 0)
    val = feat.where(e % 5 == 0)
    return single_feature_classification(
        train, val, id_col="event_id",
        feature_cols=["f_strong", "f_weak", "f_noise"],
        positive_class="true")


def _q_wiki_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MediaWikiFormattingParser (kgp.wikiformat) over the reference's
    own 12-template test corpus keyed by doc_id %% 12; the oracle
    renders the expected html/counts from the pytest-golden-pinned
    local twin."""
    from kgp.wikiformat import REFERENCE_MARKUPS, wiki_formatting_stage
    docs = _docs_table(spark, sf_dir).select("doc_id")
    d = F.col("doc_id")
    markup = F.when(d % 12 == 0, REFERENCE_MARKUPS[0])
    for i, m in enumerate(REFERENCE_MARKUPS[1:], 1):
        markup = markup.when(d % 12 == i, m)
    pages = docs.select(
        "doc_id", (d % 12).cast("int").alias("variant"),
        markup.alias("text"))
    return wiki_formatting_stage(pages).drop("text")


def _q_postrate_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PostRateUpdateStrategy first-check slice (kgp.feeds
    post_rate_intervals): minute-of-day posts/chances histogram + the
    cyclic probability walk in closed form, over item timelines
    synthesized from events (whole-day spans pinned by two anchor
    items per feed so every probability is binary-exact; the local
    twin == literal Java walk is pinned in tests/test_feeds.py)."""
    from kgp.feeds import MS_PER_MIN, post_rate_intervals
    base0 = 26_666_666 * MS_PER_MIN
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select((F.col("event_id") % 40).alias("feed_id"), "event_id")
    params = ev.select("feed_id").distinct().select(
        "feed_id",
        (F.when(F.col("feed_id") % 3 == 0, 1)
         .when(F.col("feed_id") % 3 == 1, 2).otherwise(4) * 1440 - 1)
        .alias("span"),
        (F.lit(base0) + F.col("feed_id") * 1440 * MS_PER_MIN)
        .alias("base"))
    from_events = (ev.join(params, "feed_id")
                   .select("feed_id",
                           (F.col("base")
                            + ((F.col("event_id") * 131)
                               % (F.col("span") + 1)) * MS_PER_MIN)
                           .alias("published_ms")))
    anchors = params.select(
        "feed_id", F.explode(F.array(
            F.col("base"),
            F.col("base") + F.col("span") * MS_PER_MIN))
        .alias("published_ms"))
    items = from_events.unionByName(anchors)
    lookup = base0 + 30 * MS_PER_MIN
    return post_rate_intervals(items, lookup_ts_ms=lookup, lowest=5) \
        .withColumnRenamed("feed", "feed_id").orderBy("feed_id")


def _q_ttl_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AdaptiveTTL + LRU2 update strategies (kgp.feeds) over item
    timelines synthesized from events; both formulas re-implemented
    in the SQL oracle (trunc-division, duplicate-newest default,
    clamp)."""
    from kgp.feeds import MS_PER_MIN, adaptive_ttl_interval, \
        lru2_interval
    base = 26_000_000 * MS_PER_MIN
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    items = ev.select(
        (F.col("event_id") % 30).alias("feed_id"),
        (F.lit(base) + ((F.col("event_id") * 991) % 86400)
         * MS_PER_MIN).alias("published_ms"))
    poll = base + 90_000 * MS_PER_MIN
    ttl = adaptive_ttl_interval(items, poll_ts_ms=poll, weight_m=0.2,
                                lowest=5, highest=10080)
    lru = lru2_interval(items, lowest=5, highest=10080)
    return (ttl.join(lru, "feed")
            .select(F.col("feed").alias("feed_id"),
                    "adaptive_ttl", "lru2")
            .orderBy("feed_id"))


def _q_wiki_ner_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WikipediaDatasetCreator (kgp.wikidataset) over a closed-form
    wiki corpus synthesized from documents: per-page distant-
    supervision entity dictionaries — link resolution via the corpus
    self-join, infobox type mapping, linked alt-titles, own-title
    entries, *IGNORE* rows, PER/ORG variants. The oracle re-derives
    every dictionary row symbolically (join + CASE + last-wins
    dedupe) in SQL."""
    from kgp.wikidataset import wikipedia_ner_dataset
    docs = _docs_table(spark, sf_dir).select("doc_id")
    d = F.col("doc_id")
    box = F.when(d % 5 == 0, "airport").when(d % 5 == 1, "artist") \
        .when(d % 5 == 2, "airline").when(d % 5 == 3, "nosuchbox")
    box_markup = F.when(box.isNotNull(), F.concat(
        F.lit("{{Infobox "), box, F.lit("\n| name = x\n}}\n"))) \
        .otherwise(F.lit(""))
    j1 = (d * 3 + 1) % 555
    j2 = (d * 7 + 2) % 555
    markup = F.concat(
        box_markup,
        F.lit("'''Alt "), d, F.lit("''' is a page. See [[Page "), j1,
        F.lit("]] and [[Page "), j2, F.lit("|Cap "), d,
        F.lit("]] and [[Ghost "), d, F.lit("]]."))
    pages = docs.select(
        d.alias("page_id"),
        F.concat(F.lit("Page "), d).alias("title"),
        markup.alias("markup"))
    out = wikipedia_ner_dataset(pages)
    return (out.select("page_id", F.explode("dictionary").alias("e"))
            .select("page_id", F.col("e.surface").alias("surface"),
                    F.col("e.tag").alias("tag"))
            .orderBy("page_id", "surface"))


def _q_indhist_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IndHist update strategy (kgp.feeds ind_hist_interval,
    [BGR2006] hourly-histogram pull policy): whole-day item timelines
    (binary-exact rates) from events, poll at minute :15 (dyadic
    remaining-hour fraction), theta 0.75; the oracle re-implements
    the model + closed-form walk in SQL."""
    from kgp.feeds import MS_PER_MIN, ind_hist_interval
    base0 = 26_666_666 * MS_PER_MIN
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select((F.col("event_id") % 35).alias("feed_id"), "event_id")
    params = ev.select("feed_id").distinct().select(
        "feed_id",
        (F.when(F.col("feed_id") % 3 == 0, 1)
         .when(F.col("feed_id") % 3 == 1, 2).otherwise(4) * 1440 - 1)
        .alias("span"),
        (F.lit(base0) + F.col("feed_id") * 7 * 1440 * MS_PER_MIN)
        .alias("base"))
    from_events = (ev.join(params, "feed_id")
                   .select("feed_id",
                           (F.col("base")
                            + ((F.col("event_id") * 197)
                               % (F.col("span") + 1)) * MS_PER_MIN)
                           .alias("published_ms")))
    anchors = params.select(
        "feed_id", F.explode(F.array(
            F.col("base"),
            F.col("base") + F.col("span") * MS_PER_MIN))
        .alias("published_ms"))
    items = from_events.unionByName(anchors)
    poll = base0 - (base0 % 3_600_000) + 15 * MS_PER_MIN
    return ind_hist_interval(items, poll_ts_ms=poll, theta=0.75,
                             lowest=5) \
        .withColumnRenamed("feed", "feed_id").orderBy("feed_id")


def _q_mavsync_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAVSynchronizationUpdateStrategy (kgp.feeds mav_sync_interval,
    rssTTLmode=1) over per-feed stats aggregated from synthesized
    item timelines; in-bounds sync vs fallback vs ttl lower bound all
    exercised; oracle mirrors every truncation in SQL."""
    from kgp.feeds import MS_PER_MIN, mav_sync_interval
    base = 26_000_000 * MS_PER_MIN
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    items = ev.select(
        (F.col("event_id") % 25).alias("feed_id"),
        (F.lit(base) + ((F.col("event_id") * 383) % 100800)
         * MS_PER_MIN).alias("published_ms"))
    stats = (items.groupBy(F.col("feed_id").alias("feed"))
             .agg(F.min("published_ms").alias("oldest"),
                  F.max("published_ms").alias("newest"),
                  F.count("*").alias("n_items")))
    stats = stats.select(
        "*",
        (F.lit(base) + 101_000 * MS_PER_MIN).alias("last_poll_ms"),
        F.when(F.col("feed") % 4 == 0, F.lit(120)).alias("rss_ttl"))
    return (mav_sync_interval(stats, rss_ttl_mode=1, lowest=5,
                              highest=10080)
            .withColumnRenamed("feed", "feed_id").orderBy("feed_id"))


def _q_lihz_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIHZUpdateStrategy [LIHZ08] (kgp.feeds lihz_interval): 21
    daily training polls at 09:00 UTC build the day-of-week rate
    model (incl. the Saturday/sum-row cell collision), then ONE
    prediction poll walks forward <= 7 days -- the untrained index-0
    cell NaN-exits every longer walk, so the loop unrolls to 7
    left-associated cumulative sums, binary-exact vs the literal
    Java walk (pinned in tests/test_feeds.py). Feeds 37-39 carry no
    items (empty-feed branch); per-feed poll-grid offsets feed%7
    exercise every prediction day-of-week."""
    from kgp.feeds import MS_PER_DAY, MS_PER_MIN, lihz_interval
    feeds_df = spark.range(40).select(
        F.col("id").alias("feed"),
        ((18001 + F.col("id") % 7) * MS_PER_DAY
         + 9 * 3_600_000).alias("first_poll_ms"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select((F.col("event_id") % 37).alias("feed"), "event_id")
    items = (ev.join(feeds_df, "feed")
             .select("feed",
                     (F.col("first_poll_ms")
                      + ((F.col("event_id") * 7919) % 21) * MS_PER_DAY
                      + (60 + (F.col("event_id") * 37) % 1320)
                      * MS_PER_MIN).alias("published_ms")))
    out = lihz_interval(feeds_df, items, n_train_polls=21,
                        theta=0.75, lowest=5)
    return out.select(F.col("feed").alias("feed_id"), "n_items",
                      F.col("has_new").cast("int").alias("has_new"),
                      "lihz").orderBy("feed_id")


def _q_mavpr_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MavPrUpdateStrategy (kgp.feeds mavpr_interval): MAV and
    PostRate both run per poll; the carried winner flag (synthesized
    deterministic prior predictions) picks which interval ships --
    with the reference's swapped-branch quirk kept (usePostRate==True
    emits the MAV interval). Item timelines reuse the postrate gate's
    whole-day-span synthesis so every PostRate probability is
    binary-exact."""
    from kgp.feeds import (MS_PER_MIN, feed_post_statistics,
                           mavpr_interval, post_rate_intervals)
    base0 = 26_666_666 * MS_PER_MIN
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select((F.col("event_id") % 40).alias("feed_id"), "event_id")
    params = ev.select("feed_id").distinct().select(
        "feed_id",
        (F.when(F.col("feed_id") % 3 == 0, 1)
         .when(F.col("feed_id") % 3 == 1, 2).otherwise(4) * 1440 - 1)
        .alias("span"),
        (F.lit(base0) + F.col("feed_id") * 1440 * MS_PER_MIN)
        .alias("base"))
    from_events = (ev.join(params, "feed_id")
                   .select("feed_id",
                           (F.col("base")
                            + ((F.col("event_id") * 131)
                               % (F.col("span") + 1)) * MS_PER_MIN)
                           .alias("published_ms")))
    anchors = params.select(
        "feed_id", F.explode(F.array(
            F.col("base"),
            F.col("base") + F.col("span") * MS_PER_MIN))
        .alias("published_ms"))
    items = from_events.unionByName(anchors)
    lookup = base0 + 30 * MS_PER_MIN
    pr = post_rate_intervals(items, lookup_ts_ms=lookup, lowest=5,
                             highest=20000)
    feeds_f = params.select(
        F.col("feed_id").alias("feed_url"),
        F.timestamp_millis(F.lit(lookup)).alias("fetched_ts"))
    items_ts = items.select(
        F.col("feed_id").alias("feed_url"),
        F.timestamp_millis(F.col("published_ms")).alias("published_ts"))
    stats = feed_post_statistics(feeds_f, items_ts)
    state = params.select(
        F.col("feed_id").alias("feed"),
        ((F.col("feed_id") * 53) % 3000).alias("pr_pred"),
        ((F.col("feed_id") * 97) % 3000).alias("mav_pred"),
        (F.col("feed_id") % 2 == 0).alias("use_pr_prev"),
        (F.col("feed_id") % 3 != 1).alias("has_new"),
        (F.lit(lookup) - 1440 * MS_PER_MIN
         + F.col("feed_id") * MS_PER_MIN).alias("last_lookup_ms"))
    out = mavpr_interval(stats, pr, state, lowest=5, highest=20000)
    return out.select(F.col("feed").alias("feed_id"), "n_items",
                      F.col("use_post_rate").cast("int")
                      .alias("use_post_rate"), "mavpr") \
        .orderBy("feed_id")


def _q_indhist_ttl_intervals(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """IndHistTTLUpdateStrategy (kgp.feeds ind_hist_ttl_interval,
    [BGR2006] burst policy): whole-day model timelines (dyadic rates,
    binary-exact predicted-updates composition), new-poll items
    placed before a minute-45 poll so the currentMinutes=seconds
    quirk and both strategy branches fire; feed 34 has no model
    (predicted==0 burst path), f%6==5 feeds no new items (real==0
    IndHist path)."""
    from kgp.feeds import MS_PER_MIN, ind_hist_ttl_interval
    base0 = 26_666_666 * MS_PER_MIN
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select((F.col("event_id") % 35).alias("feed_id"), "event_id")
    params = ev.select("feed_id").distinct().select(
        "feed_id",
        (F.when(F.col("feed_id") % 3 == 0, 1)
         .when(F.col("feed_id") % 3 == 1, 2).otherwise(4) * 1440 - 1)
        .alias("span"),
        (F.lit(base0) + F.col("feed_id") * 1440 * MS_PER_MIN)
        .alias("base"))
    from_events = (ev.where(F.col("event_id") % 9 != 0)
                   .join(params, "feed_id")
                   .select("feed_id",
                           (F.col("base")
                            + ((F.col("event_id") * 197)
                               % (F.col("span") + 1)) * MS_PER_MIN)
                           .alias("published_ms")))
    anchors = params.select(
        "feed_id", F.explode(F.array(
            F.col("base"),
            F.col("base") + F.col("span") * MS_PER_MIN))
        .alias("published_ms"))
    model = from_events.unionByName(anchors) \
        .where(F.col("feed_id") != 34)
    poll = base0 + (40 * 1440 + 19) * MS_PER_MIN  # hour 12, minute 45
    new = (ev.where((F.col("event_id") % 9 == 0)
                    & (F.col("feed_id") % 6 != 5))
           .select("feed_id",
                   (F.lit(poll)
                    - (1 + (F.col("event_id") * 13)
                       % F.when(F.col("feed_id") % 4 == 0, 600)
                       .otherwise(3000)) * MS_PER_MIN)
                   .alias("published_ms")))
    out = ind_hist_ttl_interval(model, new, poll_ts_ms=poll,
                                theta=0.75, t_burst=2.0,
                                window_hours=48, weight_m=0.2,
                                lowest=5)
    return out.withColumnRenamed("feed", "feed_id").orderBy("feed_id")


def _q_page_date_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/Structure/URL date getters end-to-end (kgp.datestack over
    kgp.dateparse, the reference-exact DateParserLogic port): pages
    synthesized closed-form from doc_id (meta variants per doc_id%4,
    a date-bearing div behind a keyword class, an img whose date
    attribute MUST be skipped, URL shapes per doc_id%5), parsed by
    the real HTML5 parser inside ONE Arrow pass; the oracle
    re-renders every expected row symbolically in SQL -- getter
    semantics themselves are pinned against the reference's own test
    pages in tests/test_datestack.py."""
    from kgp.datestack import page_dates_stage
    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(d % 7 == 3).select("doc_id")
    mm = F.lpad((d % 12 + 1).cast("string"), 2, "0")
    dd = F.lpad((d % 28 + 1).cast("string"), 2, "0")
    hh = F.lpad((d % 24).cast("string"), 2, "0")
    mi = F.lpad((d % 60).cast("string"), 2, "0")
    ss = F.lpad(((d * 7) % 60).cast("string"), 2, "0")
    mm2 = F.lpad(((d * 3) % 12 + 1).cast("string"), 2, "0")
    dd2 = F.lpad(((d * 5) % 28 + 1).cast("string"), 2, "0")
    meta = F.when(d % 4 == 0, F.concat(
        F.lit('<meta name="published" content="2010-'), mm, F.lit("-"),
        dd, F.lit(" "), hh, F.lit(":"), mi, F.lit(":"), ss,
        F.lit('">'))) \
        .when(d % 4 == 1, F.concat(
            F.lit('<meta http-equiv="last-modified" content="2010-'),
            mm, F.lit("-"), dd, F.lit('">'))) \
        .when(d % 4 == 2, F.concat(
            F.lit('<meta itemprop="datePublished" content="2011-'),
            mm, F.lit('">'))) \
        .otherwise(F.lit('<meta name="author" content="2010-01-01">'))
    html = F.concat(
        F.lit("<html><head>"), meta,
        F.lit("<title>t</title></head><body><main>"
              '<div class="posted" id="s2012-'), mm2, F.lit("-"), dd2,
        F.lit('">x</div><img id="d2011-02-02x">'
              "</main></body></html>"))
    url = F.when(d % 5 == 0, F.concat(
        F.lit("https://pages.example.org/2012-"), mm,
        F.lit("/doc-"), d)) \
        .otherwise(F.concat(
            F.lit("https://pages.example.org/2012/"), mm, F.lit("/"),
            dd, F.lit("/doc-"), d))
    pages = docs.select(url.alias("url"), html.alias("html"))
    out = page_dates_stage(pages)
    return out.orderBy("url", "technique", "pos")


def _q_wiki_dump_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MediaWiki dump processing end-to-end (kgp.wikidump): dump XML
    chunks synthesized closed-form from doc_id (3 pages per chunk,
    one per namespace, revision ids primed to pin the
    outside-revision page-id rule), parsed by the expat
    MediaWikiPageContentHandler twin in ONE Arrow pass; internal
    links (fragment strip, category drop) and the disambiguation
    flag stay PURE JVM. The oracle re-renders every page and link
    symbolically."""
    from kgp.wikidump import (disambiguation_col, internal_links_df,
                              wiki_dump_stage)
    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(d % 2 == 0).select("doc_id")

    def page(k):
        pid = d * 3 + k
        title = F.concat(
            F.lit("Page "), pid,
            F.when(pid % 7 == 3, F.lit(" (disambiguation)"))
            .otherwise(F.lit("")))
        text = F.concat(
            F.lit("[[Link "), (pid * 3) % 100, F.lit("|a"), pid,
            F.lit("]] txt [[T"), (pid * 5) % 50,
            F.lit("#sec]] [[Category:C"), pid % 10, F.lit("]]"),
            F.when(pid % 11 == 0, F.lit(" {{disambig}}"))
            .otherwise(F.lit("")))
        return F.concat(
            F.lit("<page><title>"), title, F.lit("</title><ns>"),
            F.lit(k), F.lit("</ns><id>"), pid,
            F.lit("</id><revision><id>"), pid + 100000,
            F.lit("</id><text>"), text,
            F.lit("</text></revision></page>"))

    xml = F.concat(F.lit("<mediawiki>"), page(0), page(1), page(2),
                   F.lit("</mediawiki>"))
    dumps = docs.select(xml.alias("xml"))
    pages = wiki_dump_stage(dumps)
    linked = internal_links_df(pages)
    return linked.select(
        "page_id", "namespace_id", "title",
        F.size("links").alias("n_links"),
        F.array_join(F.transform(
            F.col("links"),
            lambda s: F.concat_ws("|", s["target"], s["anchor"])),
            ";").alias("links_s"),
        disambiguation_col("title", "text").cast("int")
        .alias("disamb")).orderBy("page_id")


def _q_wiki_case_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WikipediaCaseDictionaryCreator mine+clean
    (kgp.wikicasedict, WikipediaCaseDictionaryCreator.java:42-140)
    end-to-end over a closed-form dump: one chunk per doc with a
    MAIN-namespace page (bold/link markup exercising the
    getCleanText path, a capitalized mid-sentence word, a digit
    token and a hyphen word for the clean() regex, sentence-initial
    tokens that must never be counted) and one ns-4 page that the
    namespace filter must drop. The oracle re-renders the token
    stream symbolically and re-aggregates in SQL."""
    from kgp.wikicasedict import (clean_case_dictionary,
                                  mine_case_dictionary)
    from kgp.wikidump import wiki_dump_stage

    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")

    def letter(mod):
        return F.substring(F.lit("abcdefg"),
                           (d % mod + 1).cast("int"), 1)

    text0 = F.concat(
        F.lit("Lead '''beta"), letter(7), F.lit("''' Gamma"),
        letter(5), F.lit(" x"), d, F.lit(". Head [[T"), d,
        F.lit("|delta"), letter(3), F.lit("]] well-known Zeta"),
        letter(7), F.lit("."))

    def page(ns, text):
        return F.concat(
            F.lit("<page><title>P"), d, F.lit("-"), F.lit(ns),
            F.lit("</title><ns>"), F.lit(ns), F.lit("</ns><id>"),
            d * 2 + ns, F.lit("</id><revision><id>"),
            d * 2 + ns + 100000, F.lit("</id><text>"), text,
            F.lit("</text></revision></page>"))

    xml = F.concat(
        F.lit("<mediawiki>"), page(0, text0),
        page(4, F.lit("Lead noise words never counted.")),
        F.lit("</mediawiki>"))
    pages = wiki_dump_stage(docs.select(xml.alias("xml")))
    out = clean_case_dictionary(mine_case_dictionary(pages))
    return out.select("word", "total", "upper").orderBy("word")


def _q_stopword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StopWordRemover token predicates (kgp.stopwords,
    StopWordRemover.java:148-169) over the documents table: per doc,
    token count (reference Tokenizer regex, pure JVM), stop tokens
    under the CASE-SENSITIVE isStopWord contains (:167-169), and
    under the case-insensitive membership removeStopWords actually
    targets (:148-160 via replaceWord's lowercased scan). Zero
    Python; the full-text removal path is pinned by pytest goldens
    (not SQL-expressible)."""
    from kgp.informativeness import tokenize_col
    from kgp.stopwords import STOPWORDS_EN

    toks = tokenize_col(F.col("text"))
    words = list(STOPWORDS_EN)
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(
                "doc_id",
                F.size(toks).alias("n_tokens"),
                F.size(F.filter(toks, lambda t: t.isin(words)))
                .alias("n_stop_cs"),
                F.size(F.filter(
                    toks, lambda t: F.lower(t).isin(words)))
                .alias("n_stop_ci"))
            .orderBy("doc_id"))


def _q_snowball_stems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowball stemmers (kgp.stemmer — Stemmer.java:29-108 +
    WordTransformer.stemWord:558-583): the fixed GATE_WORDS bank
    (every en/de algorithm branch + both exception maps) keyed by
    doc_id %% |bank|, stemmed by the distributed per-row-language
    stage (ONE Arrow projection, broadcast word-bank join); the
    oracle renders expected stems from the spec-trace-pinned twin."""
    from kgp.stemmer import GATE_WORDS, stem_stage

    n = len(GATE_WORDS)
    bank = spark.createDataFrame(
        [(i, w, lg) for i, (w, lg) in enumerate(GATE_WORDS)],
        "variant int, word string, lang string")
    docs = (_docs_table(spark, sf_dir)
            .select("doc_id", (F.col("doc_id") % n)
                    .cast("int").alias("variant")))
    joined = docs.join(F.broadcast(bank), "variant")
    return (stem_stage(joined, "word", language_col="lang")
            .select("doc_id", "variant", "word", "lang", "stem")
            .orderBy("doc_id"))


def _q_baseline_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BaselineDisambiguation (kgp.linker.link_mentions_baseline,
    BaselineDisambiguation.java:29-47): mentions synthesized
    closed-form from doc_id against the corpus gazetteer + the branch
    probes (continent break / population >= tie / null-pop drop /
    zero-pop qualify).  The oracle recomputes the expanded gazetteer
    as VALUES and the selection window in SQL."""
    from kgp.corpus import GAZETTEER_SCHEMA
    from kgp import constants as C
    from kgp.linker import baseline_gate_rows, link_mentions_baseline
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    d = F.col("doc_id")

    def pick(vals: list[str], idx) -> F.Column:
        return F.element_at(F.array(*[F.lit(v) for v in vals]),
                            idx.cast("int") + 1)

    def mrow(df, sent: int, start: int, surface, tag: str):
        return df.select(
            d.cast("string").alias("url"),
            F.lit(sent).cast("long").alias("sent_idx"),
            F.lit(start).cast("long").alias("start"),
            surface.alias("surface"), F.lit(tag).alias("tag"))

    mentions = (
        mrow(docs, 0, 5, pick(C.CITIES, d % 11), "CITY")
        .union(mrow(docs, 1, 40, pick(C.COUNTRIES, d % 7), "COUNTRY"))
        .union(mrow(docs.where(d % 3 == 0), 2, 80,
                    F.lit("Atlantis"), "LOC"))
        .union(mrow(docs.where(d % 4 == 1), 3, 120,
                    F.lit("Twinville"), "LOC"))
        .union(mrow(docs.where(d % 5 == 2), 4, 160,
                    F.lit("Ghosttown"), "LOC"))
        .union(mrow(docs.where(d % 6 == 3), 5, 200,
                    F.lit("Zeroville"), "LOC"))
        .union(mrow(docs.where(d % 7 == 4), 6, 240,
                    F.lit("Nowhere"), "LOC"))
    ).withColumn("end",
                 (F.col("start") + F.length("surface")).cast("long"))
    gaz = spark.createDataFrame(baseline_gate_rows(), GAZETTEER_SCHEMA)
    return (link_mentions_baseline(mentions, gaz)
            .orderBy("url", "sent_idx"))


def _q_context_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PatternAnalyzer context mining (kgp.contextpatterns,
    PatternAnalyzer.java:50-111): one annotated line per doc from the
    GATE_TEMPLATES bank (doc_id %% 250 == 0 -> rare slice 8, else
    doc_id %% 8), LEFT contexts of size 2, min_count=5, min_prob=0.6,
    categories CITY/PER.  The oracle hand-derives every variant's
    (context, tag) contributions and recomputes counts, most-likely
    pick and both prunes in SQL — a twin bug mismatches."""
    from kgp.contextpatterns import GATE_TEMPLATES, extract_patterns_stage
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    d = F.col("doc_id")
    v = F.when(d % 250 == 0, F.lit(8)).otherwise(d % 8)
    line = F.element_at(
        F.array(*[F.lit(t) for t in GATE_TEMPLATES]), v.cast("int") + 1)
    lines = docs.select(line.alias("line"))
    return (extract_patterns_stage(
                lines, "line", "LEFT", 2, min_count=5, min_prob=0.6,
                categories=("CITY", "PER"))
            .orderBy("pattern"))


def _q_tudloc_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUD-Loc-2013 reader (kgp.tudloc, TudLoc2013DatasetIterable
    .java:47-181): per-doc file contents from the GATE_TEMPLATES bank
    (doc_id %% 5), parsed by the distributed annotation stage, with a
    coordinate bank joined by (variant, offset).  The oracle
    hand-derives every annotation row — offsets, LocationType
    mapping, Java String.hashCode ids, main-role index — in SQL."""
    from kgp.tudloc import GATE_TEMPLATES, tudloc_annotations_stage
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    d = F.col("doc_id")
    content = F.element_at(
        F.array(*[F.lit(t) for t in GATE_TEMPLATES]),
        (d % 5).cast("int") + 1)
    files = docs.select(d.cast("string").alias("file_name"),
                        content.alias("content"))
    anns = tudloc_annotations_stage(files)
    coords = spark.createDataFrame(
        [(0, 8, 51.05, 13.74), (2, 23, 48.858, 2.294)],
        "variant int, offset long, lat double, lon double")
    anns = anns.withColumn(
        "variant", (F.col("file_name").cast("long") % 5).cast("int"))
    out = (anns.join(F.broadcast(coords), ["variant", "offset"], "left")
           .select("file_name", "idx", "offset", "value", "loc_type",
                   "loc_id", "is_main", "lat", "lon"))
    return out.orderBy(F.col("file_name").cast("long"), "idx")


_GEOTEXT_TEMPLATES = (
    "at the café on main st", "raining again in the city",
    "go vols! game day", "new phone who dis")


def _q_geotext_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoText scope-dataset reader (kgp.geotext, GeoTextDatasetReader
    .java:33-227): full_text.txt lines synthesized closed-form from
    doc_id (hex user ids so the base-16 parse is exercised, exact
    half/quarter coordinates, 4 text variants incl. a latin-1 é),
    read in SINGLE mode with the TRAIN subset filter.  The oracle
    reconstructs user/fold/coords symbolically and inlines the four
    ISO-8859-1 sha1 digests as spec constants."""
    from kgp.geotext import geotext_docs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    d = F.col("doc_id")
    text = F.element_at(
        F.array(*[F.lit(t) for t in _GEOTEXT_TEMPLATES]),
        (d % 4).cast("int") + 1)
    line = F.concat(
        F.lit("USER_"), F.hex(d % 29), F.lit("\tx\ty\t"),
        (d % 90).cast("string"), F.lit(".5\t-"),
        (d % 180).cast("string"), F.lit(".25\t"), text)
    out = geotext_docs(docs.select(line.alias("value")), "TRAIN")
    return out.orderBy("user_name", "doc_name", "lat")


def _q_wiki_scope_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wikipedia scope-dataset reader (kgp.wikiscope,
    WikipediaLocationScopeIterator.java:28-125): per-doc markup from
    the GATE_MARKUPS bank (doc_id %% 4), parsed by the one-Arrow-pass
    stage.  The oracle hand-derives the clean texts and the
    parseComponents coordinate arithmetic."""
    from kgp.wikiscope import GATE_MARKUPS, wikiscope_stage
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    d = F.col("doc_id")
    markup = F.element_at(
        F.array(*[F.lit(m) for m in GATE_MARKUPS]),
        (d % 4).cast("int") + 1)
    files = docs.select(d.cast("string").alias("file_name"),
                        markup.alias("markup"))
    return (wikiscope_stage(files)
            .orderBy(F.col("file_name").cast("long")))


def _q_twitter_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentiment140 reader + Go et al. 2009 normalizations
    (kgp.twittersentiment, TwitterSentimentDatasetIterator.java:
    37-110): per-doc CSV lines from the GATE_LINES bank (doc_id %% 5)
    through the one-Arrow-pass converter; the oracle hand-derives the
    normalized (category, text) per variant."""
    from kgp.twittersentiment import (GATE_LINES,
                                      twitter_sentiment_stage)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    d = F.col("doc_id")
    line = F.element_at(
        F.array(*[F.lit(l) for l in GATE_LINES]),
        (d % 5).cast("int") + 1)
    lines = docs.select(d.alias("doc_id"), line.alias("value"))
    out = twitter_sentiment_stage(lines)
    return out.orderBy("category", "text")


def _q_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeatureSelector greedy forward wrapper selection
    (kgp.featuresel.feature_selection, FeatureSelector.java:139-195)
    over four closed-form nominal features of events (one strongly
    class-aligned, one partial, two noise) with a NaiveBayes +
    accuracy evaluator; the oracle unrolls all four greedy rounds in
    SQL, each round's base terms conditioned on the previous winner
    subqueries. Categories are well-separated by construction so the
    cross-engine ln/argmax is stable (same pragmatics as the green
    single_feature_ranking gate)."""
    from kgp.featuresel import feature_selection
    e = F.col("event_id")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        e.alias("id"),
        F.concat(F.lit("c"), (e % 3)).alias("category"),
        F.concat(F.lit("g"), F.when(e % 10 < 8, e % 3)
                 .otherwise((e + 1) % 3)).alias("f_good"),
        F.concat(F.lit("m"), F.when(e % 2 == 0, e % 3)
                 .otherwise((e * 7) % 5)).alias("f_mid"),
        F.concat(F.lit("j"), (e * 13) % 4).alias("f_junk"),
        F.concat(F.lit("n"), (e * 11) % 2).alias("f_noise"))
    train = ev.where(F.col("id") % 2 == 0)
    val = ev.where(F.col("id") % 2 == 1)
    return feature_selection(
        train, val,
        feature_cols=["f_good", "f_junk", "f_mid", "f_noise"]) \
        .orderBy("sel_order")


def _q_feed_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MetaInformationExtractor capability flags (kgp.feeds
    feed_meta_cols) over gate-local feed XML synthesized closed-form
    from event ids: RSS variants exercise guid/pubDate/cloud/ttl/
    skipDays/skipHours presence combinations, Atom variants
    id/updated/published, plus an inaccessible-status and a non-feed
    payload; everything is ONE codegen projection and the oracle
    re-renders every flag symbolically."""
    from kgp.feeds import feed_meta_cols
    e = F.col("event_id")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select((e % 60).alias("fid")).distinct()
    f = F.col("fid")
    rss_item = F.concat(
        F.lit("<item><title>t</title>"),
        F.when(f % 3 != 0, F.lit("<guid>g1</guid>"))
        .when(f % 9 == 0, F.lit("<guid></guid>")).otherwise(F.lit("")),
        F.when(f % 4 != 1, F.lit("<pubDate>Tue, 01 Jan 2013 00:00:00"
                                 " GMT</pubDate>")).otherwise(F.lit("")),
        F.lit("</item>"))
    rss = F.concat(
        F.lit("<rss version=\"2.0\"><channel>"),
        F.when(f % 5 == 0, F.lit("<cloud domain=\"x\"/>"))
        .otherwise(F.lit("")),
        F.when(f % 6 == 0, F.concat(F.lit("<ttl>"), f * 3,
                                    F.lit("</ttl>")))
        .otherwise(F.lit("")),
        F.when(f % 7 == 0, F.lit("<skipDays><day>Sunday</day>"
                                 "</skipDays>")).otherwise(F.lit("")),
        F.when(f % 8 == 0, F.lit("<skipHours><hour>1</hour>"
                                 "</skipHours>")).otherwise(F.lit("")),
        F.when(f % 10 == 2, F.lit("<atom:link rel=\"hub\" "
                                  "href=\"h\"/>"))
        .otherwise(F.lit("")),
        rss_item, F.lit("</channel></rss>"))
    atom_entry = F.concat(
        F.lit("<entry>"),
        F.when(f % 3 != 0, F.lit("<id>urn:1</id>"))
        .otherwise(F.lit("")),
        F.when(f % 4 != 1, F.lit("<updated>2013-01-01T00:00:00Z"
                                 "</updated>")).otherwise(F.lit("")),
        F.when(f % 5 == 0, F.lit("<published>2013-01-01T00:00:00Z"
                                 "</published>")).otherwise(F.lit("")),
        F.lit("</entry>"))
    atom = F.concat(F.lit("<feed xmlns=\"a\">"), atom_entry,
                    F.lit("</feed>"))
    xml = F.when(f % 11 == 3, F.lit("<html>not a feed</html>")) \
        .when(f % 2 == 0, rss).otherwise(atom)
    status = F.when(f % 13 == 4, 404).when(f % 13 == 9, 403) \
        .otherwise(200)
    out = ev.select(f.alias("feed_id"), xml.alias("xml"),
                    status.alias("status"))
    out = out.select("feed_id",
                     *feed_meta_cols(F.col("xml"), F.col("status")))
    return out.select(
        "feed_id", F.col("accessible").cast("int").alias("accessible"),
        F.col("supports_pubsubhubbub").cast("int").alias("pubsub"),
        "feed_format",
        F.col("has_item_ids").cast("int").alias("has_item_ids"),
        F.col("has_pub_date").cast("int").alias("has_pub_date"),
        F.col("has_cloud").cast("int").alias("has_cloud"),
        "ttl",
        F.col("has_skip_days").cast("int").alias("has_skip_days"),
        F.col("has_skip_hours").cast("int").alias("has_skip_hours"),
        F.col("has_updated").cast("int").alias("has_updated"),
        F.col("has_published").cast("int").alias("has_published")) \
        .orderBy("feed_id")


def _q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4/MJPEG video gate (kgp.mp4 ISO BMFF muxer/demuxer +
    kgp.jpegcodec): tile-constant frames mux into a valid MP4, demux
    via the stsz/stco/stts sample tables and decode bit-exactly; the
    DuckDB oracle recomputes every frame stat from the closed form."""
    from kgp.multimodal import video_frame_stage
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return video_frame_stage(docs)


def _q_ml_disambig_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeatureBasedDisambiguation as a FULL oracle (kgp.disambig_ml):
    candidate generation (broadcast expanded gazetteer), ALL 15
    ConfigurableFeatureExtractor features as column expressions
    (windows over url / mention key, haversine 50 km counts), and the
    quickdt forest — the reference's actual model family,
    FeatureBasedDisambiguation.java:31 — compiled to CASE WHEN
    columns; the DuckDB oracle recomputes candidates, every feature,
    the forest (tree_sql), the argmax window and the probability
    threshold symbolically. Mentions are synthesized closed-form from
    doc_id against the gate gazetteer (corpus gazetteer + geo/acronym/
    ambiguity probes)."""
    from kgp import constants as C
    from kgp import disambig_ml as _dml
    from kgp.corpus import GAZETTEER_SCHEMA
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    d = F.col("doc_id")

    def pick(vals: list[str], idx) -> F.Column:
        return F.element_at(F.array(*[F.lit(v) for v in vals]),
                            idx.cast("int") + 1)

    def mrow(df, sent: int, start: int, surface, tag: str,
             score: float):
        return df.select(
            d.cast("string").alias("url"),
            F.lit(sent).cast("long").alias("sent_idx"),
            F.lit(start).cast("long").alias("start"),
            surface.alias("surface"), F.lit(tag).alias("tag"),
            F.lit(score).alias("score"))

    mentions = (
        mrow(docs, 0, 5, pick(C.CITIES, d % 11), "CITY", 0.9)
        .union(mrow(docs, 1, 40, pick(C.COUNTRIES, d % 7),
                    "COUNTRY", 0.7))
        .union(mrow(docs, 2, 80, pick(C.ORGS, d % 13), "ORG", 0.5))
        .union(mrow(docs.where(d % 4 == 1), 3, 120,
                    F.lit("Rivertown Port"), "POI", 0.6))
        .union(mrow(docs.where(d % 6 == 2), 4, 160, F.lit("ACME"),
                    "ORG", 0.4))
        .union(mrow(docs.where(d % 9 == 3), 5, 200,
                    F.lit("Zanzitown"), "CITY", 0.3))
    ).withColumn("end",
                 (F.col("start") + F.length("surface")).cast("long"))
    gaz = spark.createDataFrame(_dml.gate_gazetteer_rows(),
                                GAZETTEER_SCHEMA)
    return _dml.link_mentions_forest(mentions, gaz)


def _q_unit_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit detection + normalization (kgp.units — UnitNormalizer /
    UnitType port, tables transcribed, goldens pinned to the
    reference's NormalizationTest.java): detect_unit_col runs ONE JVM
    regexp over the longest-first 454-name alternation with bank-
    priority tie-breaking, normalize_amount_cols multiplies through a
    map literal — zero Python per row."""
    from kgp import units as _units
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    slot = F.col("event_id") % len(_units.GATE_UNITS)
    unit = slot.cast("int")
    unit_col = F.element_at(
        F.array(*[F.lit(u) for u in _units.GATE_UNITS]), unit + 1)
    text = F.concat(F.lit("about 7 "), unit_col, F.lit(" total"))
    return events.select(
        "event_id", unit_col.alias("unit"),
        _units.detect_unit_col(text).alias("detected"),
        _units.normalize_amount_cols("value", unit_col)
        .alias("base_value"))


def _q_discovered_feeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed autodiscovery (FeedDiscovery.java FEED_XPATH port): the
    deterministic head-markup corpus round-trips through the REAL
    HTML parser and the rel~alternate/type-exact link scan with
    feed:// normalization and base-aware absolutization; the oracle
    states each variant's expected links symbolically."""
    from kgp import feeds as _feeds
    pages = _feeds.synth_feed_pages(spark, sf_dir)
    return _feeds.discover_feeds_stage(pages)


def _q_intent_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-intent parsing (kgp.intents — SearchIntentParser port):
    the four-pass trigger cascade (MATCH > PHRASE_MATCH > CONTAINS >
    REGEX, restart-on-activation, redirect short-circuit) runs as one
    Arrow stage against the broadcast DEFAULT_INTENTS bank over
    deterministic event-derived queries; the oracle states each
    variant's expected activated action as a closed form."""
    from kgp import intents as _int
    q = _int.synth_queries(spark, sf_dir)
    out = _int.intent_stage(q, _int.DEFAULT_INTENTS)
    # driver-contract: serialize the filter_values array (the driver's
    # canonicalizer pandas-sorts and cannot hash list cells)
    return out.withColumn(
        "filter_values", F.array_join("filter_values", "|"))



def _q_dataset_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DatasetJoiner.join port (kgp.datasetops.join_datasets —
    DatasetJoiner.java:41-105): inner equi-join of two datasets on the
    join column, merged feature vector, SECOND dataset's category
    survives (d1's is dropped).  ONE Spark join; AQE broadcasts the
    customer side at gate scale."""
    from kgp.datasetops import join_gate_stage
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return join_gate_stage(orders, customer)


def _q_dataset_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConcatenatedDataset port (kgp.datasetops.concat_datasets —
    ConcatenatedDataset.java:14-76): row concatenation with UNION
    feature space; features absent from one input read null for its
    rows (FeatureVector miss -> NullValue).  unionByName, narrow plan
    node, no shuffle."""
    from kgp.datasetops import concat_datasets
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    d1 = orders.select(F.col("o_orderkey").alias("a"),
                       F.col("o_totalprice").alias("b"),
                       F.col("o_orderstatus").alias("category"))
    d2 = customer.select(F.col("c_custkey").alias("a"),
                         F.col("c_acctbal").alias("c"),
                         F.col("c_mktsegment").alias("category"))
    return concat_datasets(d1, d2).select("a", "b", "c", "category")


def _q_protected_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProtectedPlanetImporter port (kgp.protectedplanet —
    ProtectedPlanetImporter.java:60-127): quote-aware 26-column WDPA
    CSV split, primary/alternative names, LANDMARK type, coordinate =
    geographic midpoint of the KML ring's DISTINCT vertices.  The gate
    synthesizes deterministic WDPA lines JVM-side from orders keys,
    then runs the real importer (one mapInPandas), so the oracle can
    recompute every output closed-form."""
    from kgp.protectedplanet import protected_areas_stage
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return protected_areas_stage(orders)


def _q_sparse_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SparseDatasetReader port (kgp.sparsedataset —
    SparseDatasetReader.java: quote-aware ' '/':' splits, '?' null
    marker, headerless type inference through the Boolean->Integer->
    Long->Float->Double->LocalDate->String parser chain).  The gate
    synthesizes sparse-format lines from events JVM-side, parses them
    with the real reader (one mapInPandas + vocabulary-sized inference
    join), and emits the long-format rows."""
    from kgp.sparsedataset import parse_sparse_lines
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = events.select(
        F.concat(
            F.col("event_type"),
            F.lit(" 0:"), (F.col("event_id") % 97).cast("string"),
            F.lit(' 1:"u '), F.col("user_id").cast("string"), F.lit('"'),
            F.lit(" 2:"),
            F.when(F.col("event_id") % 5 == 0, F.lit("?"))
             .otherwise((F.col("event_id") % 13).cast("string")),
        ).alias("line"),
        F.lit(0).cast("long").alias("block_start"))
    long = parse_sparse_lines(lines)
    return long.select("category", "feature", "value_type", "value")



def _q_libsvm_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LibSvmDatasetReader port (kgp.sparsedataset.parse_libsvm_lines
    — LibSvmDatasetReader.java:37-113): ``target idx:value ...``
    lines, integer target as the category, 1-based double features.
    The gate synthesizes libsvm lines from events JVM-side, parses
    them back with the pure-JVM reader (zero Python), and explodes the
    features map for hashing."""
    from kgp.sparsedataset import parse_libsvm_lines
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = events.select(
        F.concat(
            (F.col("event_id") % 3).cast("string"),
            F.lit(" 1:"),
            ((F.col("event_id") % 7).cast("double") + 0.5)
            .cast("string"),
            F.when(F.col("event_id") % 2 == 1,
                   F.concat(F.lit(" 3:"),
                            ((F.col("user_id") % 11).cast("double")
                             / 2.0).cast("string")))
             .otherwise(F.lit(""))).alias("value"))
    parsed = parse_libsvm_lines(lines)
    return parsed.select(
        "category",
        F.explode("features").alias("feature", "value"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER is a driver contract: the correctness driver checks
    the FIRST 50 entries only. Round-5 window policy: (1) the 31
    gates with NO driver row in any of CORRECTNESS_r01..r04 come
    first (wiktionary_pos .. alternate_names — the r4 verdict's #1
    gap); (2) phrase_probs (red in r4, determinism-fixed this round),
    page_segments (now emitting a hashable FULL-oracle projection)
    and the two gates whose values changed with the exact-sum rework
    (unigram_lm, feature_ranking); (3) the 15 least-recently-checked
    single-evidence gates fill to 50. With this window the union of
    CORRECTNESS_r1..r5 rows covers all 124 gate names. Every tail
    entry retains at-least-once green driver evidence (r3 or r4)."""
    return {
        # -- never driver-checked (r1-r4) — rotate in first ----
        "wiktionary_pos": _q_wiktionary_pos,
        "single_feature_ranking": _q_single_feature_ranking,
        "wiki_formatting": _q_wiki_formatting,
        "postrate_intervals": _q_postrate_intervals,
        "ttl_intervals": _q_ttl_intervals,
        "wiki_ner_dictionary": _q_wiki_ner_dictionary,
        "indhist_intervals": _q_indhist_intervals,
        "mavsync_intervals": _q_mavsync_intervals,
        "lihz_intervals": _q_lihz_intervals,
        "mavpr_intervals": _q_mavpr_intervals,
        "indhist_ttl_intervals": _q_indhist_ttl_intervals,
        "page_date_stack": _q_page_date_stack,
        "reference_dates": _q_reference_dates,
        "wiki_dump_pages": _q_wiki_dump_pages,
        "wiki_case_dictionary": _q_wiki_case_dictionary,
        "stopword_stats": _q_stopword_stats,
        "snowball_stems": _q_snowball_stems,
        "baseline_links": _q_baseline_links,
        "context_patterns": _q_context_patterns,
        "tudloc_annotations": _q_tudloc_annotations,
        "geotext_docs": _q_geotext_docs,
        "wiki_scope_docs": _q_wiki_scope_docs,
        "twitter_sentiment": _q_twitter_sentiment,
        "feature_selection_rank": _q_feature_selection,
        "feed_meta": _q_feed_meta,
        "dataset_join": _q_dataset_join,
        "dataset_concat": _q_dataset_concat,
        "protected_areas": _q_protected_areas,
        "sparse_dataset": _q_sparse_dataset,
        "libsvm_dataset": _q_libsvm_dataset,
        "alternate_names": _q_alternate_names,
        # -- r4 red (fixed) / changed values / new projection --
        "phrase_probs": _q_phrase_probs,
        "page_segments": _q_page_segments,
        "unigram_lm": _q_unigram_lm,
        "feature_ranking": _q_feature_ranking,
        # -- least-recently-checked single-evidence gates ------
        "er_candidates": _q_er_candidates,
        "dup_spans": _q_dup_spans,
        "doc_scopes": _q_doc_scopes,
        "dbscan_clusters": _q_dbscan_clusters,
        "seq_packing": _q_seq_packing,
        "nb_lang_pred": _q_nb_lang_pred,
        "decontaminate": _q_decontaminate,
        "repetition_signals": _q_repetition_signals,
        "grid_similarity": _q_grid_similarity,
        "block_codes": _q_block_codes,
        "utm_coords": _q_utm_coords,
        "time_intervals": _q_time_intervals,
        "multilabel_eval": _q_multilabel_eval,
        "ensemble_votes": _q_ensemble_votes,
        "reliability_bins": _q_reliability_bins,
        # -- tail: stable gates with green driver evidence -----
        "readability_text": _q_readability_text,
        "content_date_rates": _q_content_date_rates,
        "ml_disambig_links": _q_ml_disambig_links,
        "png_pixel_stats": _q_png_pixel_stats,
        "jpeg_pixel_stats": _q_jpeg_pixel_stats,
        "video_frame_stats": _q_video_frame_stats,
        "audio_features": _q_audio_features,
        "audio_fp_pairs": _q_audio_fp_pairs,
        "bovw_histograms": _q_bovw_histograms,
        "template_pairs": _q_template_pairs,
        "geo_box_neighbors": _q_geo_box_neighbors,
        "image_feature_stats": _q_image_feature_stats,
        "wiktionary_words": _q_wiktionary_words,
        "wiki_locations": _q_wiki_locations,
        "intent_actions": _q_intent_actions,
        "tfidf_vectors": _q_tfidf_vectors,
        "tfidf_doc_sim": _q_tfidf_doc_sim,
        "feature_normalize": _q_feature_normalize,
        "one_hot_events": _q_one_hot_events,
        "threshold_metrics": _q_threshold_metrics,
        "avg_precision": _q_avg_precision,
        "corr_regression": _q_corr_regression,
        "set_sims": _q_set_sims,
        "value_percentiles": _q_value_percentiles,
        "page_links": _q_page_links,
        "host_graph": _q_host_graph,
        "pagerank": _q_pagerank,
        "anchor_stats": _q_anchor_stats,
        "crawl_reachable": _q_crawl_reachable,
        "hits": _q_hits,
        "text_urls": _q_text_urls,
        "sitemap_pages": _q_sitemap_pages,
        "dataset_stats": _q_dataset_stats,
        "token_informativeness": _q_token_informativeness,
        "synonym_groups": _q_synonym_groups,
        "heat_grid": _q_heat_grid,
        "image_dup_pairs": _q_image_dup_pairs,
        "date_particles": _q_date_particles,
        "feed_items": _q_feed_items,
        "feed_activity": _q_feed_activity,
        "feed_update_intervals": _q_feed_update_intervals,
        "discovered_feeds": _q_discovered_feeds,
        "unit_amounts": _q_unit_amounts,
        "dt_predictions": _q_dt_predictions,
        "kg_triples": _q_kg_triples,
        "extract_text": _q_extract_text,
        "mentions_distinct": _q_mentions,
        "canon_mapping": _q_canon,
        "triples_by_pred": _q_triples_by_pred,
        "dedup_exact": _q_dedup_exact,
        "ann_topk": _q_ann_topk,
        "minhash_pairs": _q_minhash_pairs,
        "ivf_topk": _q_ivf_topk,
        "lsh_entity_candidates": _q_lsh_entity_candidates,
        "text_stats": _q_text_stats,
        "near_dup_groups": _q_near_dup_groups,
        "simhash_pairs": _q_simhash_pairs,
        "media_stats": _q_media_stats,
        "media_features": _q_media_features,
        "image_frequency": _q_image_frequency,
        "class_resample": _q_class_resample,
        "image_hashes": _q_image_hashes,
        "phash_dup_pairs": _q_phash_dup_pairs,
        "line_dedup": _q_line_dedup,
        "c4_filter": _q_c4_filter,
        "gopher_quality": _q_gopher_quality,
        "pii_scrub": _q_pii_scrub,
        "entity_pairs_doc": _q_entity_pairs,
        "json_fields": _q_json_fields,
        "url_canon_sample": _q_url_canon_sample,
        "embedding_near_dups": _q_embedding_near_dups,
        "model_eval": _q_model_eval,
        "roc_auc": _q_roc_auc,
        "nominal_pred": _q_nominal_pred,
        # -- new r5 gates (tail: local strict evidence this round) --
        "reservoir_sample": _q_reservoir_sample,
        "nbsvm_r": _q_nbsvm_r,
        "bloom_membership": _q_bloom_membership,
        "gaussian_blur": _q_gaussian_blur,
        "bpe_encode": _q_bpe_encode,
        "streaming_extract": _q_streaming_extract,
    }


def oracle_sql() -> dict[str, str]:
    sl = _oracle.slots()
    return {
        "kg_triples": _oracle.triples_sql(),
        "extract_text": _oracle.extract_text_sql(),
        "readability_text": _oracle.readability_text_sql(),
        "mentions_distinct": _oracle.mentions_sql(),
        "canon_mapping": _oracle.canon_sql(),
        # support per pred: every doc contributes its S-sentence
        # instances; support counts pre-dedup (url, sent) instances
        "triples_by_pred": (
            "SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_triples, "
            "CAST(SUM(sup) AS BIGINT) AS total_support FROM ("
            " SELECT subj, pred, obj, COUNT(*) AS sup FROM ("
            f"  SELECT {sl['per']} AS subj, 'ceo_of' AS pred, "
            f"  {sl['org']} AS obj FROM documents"
            f"  UNION ALL SELECT {sl['per']}, 'born_in', {sl['city2']} "
            "   FROM documents"
            f"  UNION ALL SELECT {sl['org']}, 'headquartered_in', "
            f"  {sl['city']} FROM documents"
            f"  UNION ALL SELECT {sl['city']}, 'capital_of', "
            f"  {sl['country']} FROM documents WHERE doc_id % 3 = 0"
            f"  UNION ALL SELECT {sl['per2']}, 'works_for', {sl['org']} "
            "   FROM documents WHERE doc_id % 4 = 1"
            f"  UNION ALL SELECT {sl['per']}, 'founded', {sl['org']} "
            "   FROM documents WHERE doc_id % 5 = 2"
            f"  UNION ALL SELECT {sl['org2']}, 'headquartered_in', "
            f"  {sl['city3']} FROM documents WHERE doc_id % 7 = 4"
            "  UNION ALL SELECT 'Mary Johnson Systems', "
            f"  'headquartered_in', {sl['city2']} FROM documents "
            "   WHERE doc_id % 23 = 11"
            " ) GROUP BY subj, pred, obj"
            ") GROUP BY pred ORDER BY pred"),
        "text_stats": _oracle.text_stats_sql(),
        "repetition_signals": _oracle.repetition_signals_sql(),
        "dedup_exact": _oracle.dedup_exact_sql(),
        "ann_topk": _oracle.ann_topk_sql(),
        "ivf_topk": _oracle.ivf_topk_sql(),
        "embedding_near_dups": _oracle.embedding_near_dups_sql(),
        "media_stats": _oracle.media_stats_sql(),
        "media_features": _oracle.media_features_sql(),
        "image_feature_stats": _oracle.image_features_sql(),
        "grid_similarity": _oracle.grid_similarity_sql(),
        "block_codes": _oracle.block_codes_sql(),
        "utm_coords": _oracle.utm_coords_sql(),
        "time_intervals": _oracle.time_intervals_sql(),
        "multilabel_eval": _oracle.multilabel_eval_sql(),
        "ensemble_votes": _oracle.ensemble_votes_sql(threshold=0.5),
        "reliability_bins": _oracle.reliability_bins_sql(num_bins=10),
        "dup_spans": _oracle.dup_spans_sql(span_len=40, stride=10),
        "er_candidates": _oracle.er_candidates_sql(threshold=2, max_block_size=1000),
        "image_frequency": _oracle.image_frequency_sql(),
        "class_resample": _oracle.class_resample_sql(),
        "wiktionary_words": _oracle.wiktionary_words_sql(),
        "wiki_locations": _oracle.wiki_locations_sql(),
        "image_hashes": _oracle.image_hashes_sql(),
        "phash_dup_pairs": _oracle.phash_pairs_sql(max_hamming=3),
        "minhash_pairs": _oracle.minhash_pairs_sql(),
        "near_dup_groups": _oracle.near_dup_groups_sql(),
        "simhash_pairs": _oracle.simhash_pairs_sql(),
        "line_dedup": _oracle.line_dedup_sql(),
        "c4_filter": _oracle.c4_filter_sql(),
        "gopher_quality": _oracle.gopher_quality_sql(),
        "pii_scrub": _oracle.pii_scrub_sql(),
        "seq_packing": _oracle.seq_packing_sql(),
        "doc_scopes": _oracle.doc_scopes_sql(),
        "entity_pairs_doc": _oracle.entity_pairs_sql(),
        "json_fields": _oracle.json_fields_sql(),
        "url_canon_sample": _oracle.url_canon_sample_sql(),
        "lsh_entity_candidates": _oracle.lsh_entity_candidates_sql(),
        "nb_lang_pred": _oracle.nb_lang_pred_sql(),
        "decontaminate": _oracle.decontaminate_sql(),
        "unigram_lm": _oracle.unigram_lm_sql(),
        "dbscan_clusters": _oracle.dbscan_clusters_sql(threshold=0.3),
        "model_eval": _oracle.model_eval_sql(),
        "roc_auc": _oracle.roc_auc_sql(),
        "feature_ranking": _oracle.feature_ranking_sql(),
        "nominal_pred": _oracle.nominal_pred_sql(),
        "alternate_names": _oracle.alternate_names_sql(),
        "tfidf_vectors": _oracle.tfidf_vectors_sql(),
        "tfidf_doc_sim": _oracle.tfidf_doc_sim_sql(),
        "feature_normalize": _oracle.feature_normalize_sql(),
        "one_hot_events": _oracle.one_hot_events_sql(),
        "threshold_metrics": _oracle.threshold_metrics_sql(),
        "avg_precision": _oracle.avg_precision_sql(),
        "corr_regression": _oracle.corr_regression_sql(),
        "set_sims": _oracle.set_sims_sql(),
        "value_percentiles": _oracle.value_percentiles_sql(),
        "page_links": _oracle.page_links_sql(),
        "host_graph": _oracle.host_graph_sql(),
        "pagerank": _oracle.pagerank_sql(iterations=5),
        "anchor_stats": _oracle.anchor_stats_sql(),
        "crawl_reachable": _oracle.crawl_reachable_sql(),
        "hits": _oracle.hits_sql(iterations=5),
        "text_urls": _oracle.text_urls_sql(),
        "sitemap_pages": _oracle.sitemap_pages_sql(),
        "dataset_stats": _oracle.dataset_stats_sql(),
        "token_informativeness": _oracle.token_informativeness_sql(),
        "synonym_groups": _oracle.synonym_groups_sql(),
        "heat_grid": _oracle.heat_grid_sql(),
        "image_dup_pairs": _oracle.image_dup_pairs_sql(),
        "date_particles": _oracle.date_particles_sql(),
        "feed_items": _oracle.feed_items_sql(),
        "feed_activity": _oracle.feed_activity_sql(),
        "feed_update_intervals": _oracle.feed_update_intervals_sql(),
        "intent_actions": _oracle.intent_actions_sql(),
        "discovered_feeds": _oracle.discovered_feeds_sql(),
        "unit_amounts": _oracle.unit_amounts_sql(),
        "dt_predictions": _oracle.dt_predictions_sql(),
        "content_date_rates": _oracle.content_date_rates_sql(),
        "ml_disambig_links": _oracle.ml_disambig_links_sql(),
        "png_pixel_stats": _oracle.png_pixel_stats_sql(),
        "jpeg_pixel_stats": _oracle.jpeg_pixel_stats_sql(),
        "video_frame_stats": _oracle.video_frame_stats_sql(),
        "audio_features": _oracle.audio_features_sql(),
        "audio_fp_pairs": _oracle.audio_fp_pairs_sql(),
        "bovw_histograms": _oracle.bovw_histograms_sql(),
        "phrase_probs": _oracle.phrase_probs_sql(),
        "template_pairs": _oracle.template_pairs_sql(),
        "page_segments": _oracle.page_segments_sql(),
        "reservoir_sample": _oracle.reservoir_sample_sql(),
        "nbsvm_r": _oracle.nbsvm_r_sql(),
        "bloom_membership": _oracle.bloom_membership_sql(),
        "gaussian_blur": _oracle.gaussian_blur_sql(),
        "bpe_encode": _oracle.bpe_encode_sql(),
        "streaming_extract": _oracle.extract_text_sql(),
        "geo_box_neighbors": _oracle.geo_box_neighbors_sql(),
        "wiktionary_pos": _oracle.wiktionary_pos_sql(),
        "single_feature_ranking": _oracle.single_feature_ranking_sql(),
        "wiki_formatting": _oracle.wiki_formatting_sql(),
        "postrate_intervals": _oracle.postrate_intervals_sql(),
        "ttl_intervals": _oracle.ttl_intervals_sql(),
        "wiki_ner_dictionary": _oracle.wiki_ner_dictionary_sql(),
        "indhist_intervals": _oracle.indhist_intervals_sql(),
        "mavsync_intervals": _oracle.mavsync_intervals_sql(),
        "lihz_intervals": _oracle.lihz_intervals_sql(),
        "mavpr_intervals": _oracle.mavpr_intervals_sql(),
        "indhist_ttl_intervals": _oracle.indhist_ttl_intervals_sql(),
        "page_date_stack": _oracle.page_date_stack_sql(),
        "reference_dates": _oracle.reference_dates_sql(),
        "wiki_dump_pages": _oracle.wiki_dump_pages_sql(),
        "wiki_case_dictionary": _oracle.wiki_case_dictionary_sql(),
        "stopword_stats": _oracle.stopword_stats_sql(),
        "snowball_stems": _oracle.snowball_stems_sql(),
        "baseline_links": _oracle.baseline_links_sql(),
        "context_patterns": _oracle.context_patterns_sql(),
        "tudloc_annotations": _oracle.tudloc_annotations_sql(),
        "geotext_docs": _oracle.geotext_docs_sql(),
        "wiki_scope_docs": _oracle.wiki_scope_docs_sql(),
        "twitter_sentiment": _oracle.twitter_sentiment_sql(),
        "feature_selection_rank": _oracle.feature_selection_rank_sql(),
        "feed_meta": _oracle.feed_meta_sql(),
        "dataset_join": _oracle.dataset_join_sql(),
        "dataset_concat": _oracle.dataset_concat_sql(),
        "protected_areas": _oracle.protected_areas_sql(),
        "sparse_dataset": _oracle.sparse_dataset_sql(),
        "libsvm_dataset": _oracle.libsvm_dataset_sql(),
    }
