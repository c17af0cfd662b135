"""Web-corpus curation operators: C4-style filtering, URL
canonicalization, deterministic stratified sampling.

The cleaning rules a web-scale training pipeline applies between
extraction (kgp.html_text) and dedup (kgp.dedup): the C4 heuristics
(Raffel et al. 2020 §2.2 — terminal-punctuation line filter, short-line
drop, "javascript" line drop, lorem-ipsum / curly-brace / too-few-lines
page drops), crawl-frontier URL canonicalization (CCNet-style: case,
fragments, tracking parameters, default ports), and reproducible
per-domain downsampling for mixture balancing.

Scale notes:
- Every operator here is pure JVM column expressions — zero Python,
  zero shuffle, whole-stage-codegen all the way (the per-line logic
  rides Spark's higher-order array functions over split lines, never
  explode+regroup, which would shuffle ~full text volume).
- The sampling key is md5-derived (NOT xxhash64) so the identical
  decision is computable in any engine — reproducibility of a corpus
  cut matters more than hash speed, and md5 on a short id string is
  negligible next to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# C4 line filter parameters (c4_utils.py in the public TFDS C4
# implementation: _MIN_WORDS_PER_LINE=5, _MIN_NUM_SENTENCES=3)
MIN_WORDS_PER_LINE = 5
MIN_LINES_PER_DOC = 3

# query parameters that never identify content (tracking / click ids)
TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)="


def _line_word_count(line: Column) -> Column:
    """Whitespace word count of a trimmed line ('' -> 0)."""
    t = F.trim(line)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+")))


def _line_kept(line: Column, min_words: int) -> Column:
    """C4 line rule: >= min_words words, ends in terminal punctuation
    (. ! ? ") after trim, and does not mention javascript."""
    t = F.trim(line)
    return ((_line_word_count(line) >= min_words)
            & t.rlike('[.!?"]$')
            & ~F.lower(t).contains("javascript"))


def c4_filter(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id",
              min_words: int = MIN_WORDS_PER_LINE,
              min_lines: int = MIN_LINES_PER_DOC) -> DataFrame:
    """docs -> (id, clean_text, n_lines, n_kept, keep_doc).

    Line level: keep lines with >= min_words whitespace words that end
    in terminal punctuation and don't contain "javascript" (C4's line
    rules). Doc level: keep_doc is false when fewer than min_lines
    lines survive, or the ORIGINAL text contains "lorem ipsum" or a
    curly brace (code). clean_text preserves original line order; the
    document row always survives so downstream stages can count drops.
    """
    return docs.select(id_col, *c4_columns(F.col(text_col), min_words,
                                           min_lines))


def c4_columns(c: Column, min_words: int = MIN_WORDS_PER_LINE,
               min_lines: int = MIN_LINES_PER_DOC) -> list[Column]:
    """c4_filter's output columns over the text column c: clean_text,
    n_lines, n_kept, keep_doc."""
    lines = F.split(c, r"\n")
    kept = F.filter(lines, lambda l: _line_kept(l, min_words))
    n_lines = F.size(F.filter(lines, lambda l: F.trim(l) != ""))
    n_kept = F.size(kept)
    bad_doc = (F.lower(c).contains("lorem ipsum") | c.contains("{"))
    return [
        F.array_join(F.transform(kept, F.trim), "\n").alias("clean_text"),
        n_lines.cast("int").alias("n_lines"),
        n_kept.cast("int").alias("n_kept"),
        ((n_kept >= min_lines) & ~bad_doc).alias("keep_doc")]


def canonical_url(col: Column) -> Column:
    """Crawl-frontier canonical form of a URL:

    - drop the fragment
    - lowercase scheme and host, strip a leading ``www.``
    - strip default ports (:80 http, :443 https)
    - drop tracking query parameters (utm_*, fbclid, gclid, ...),
      sort the survivors bytewise for order-independence
    - strip a trailing slash from a non-root path

    Pure column expressions (regex + higher-order array ops), the same
    pipeline any engine can reproduce; invalid URLs pass through with
    only the applicable steps applied (no nulls introduced).
    """
    u = F.regexp_replace(col, r"#.*$", "")          # fragment
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    tail = F.when(head == "", u).otherwise(
        F.substring(u, F.length(head) + F.lit(1), F.length(u)))
    head = F.lower(head)
    head = F.regexp_replace(head, r"^([a-z0-9+.-]+://)www\.", r"$1")
    head = F.regexp_replace(head, r"^(http://[^/?:]*):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://[^/?:]*):443$", r"$1")
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"(.)/$", r"$1")  # trailing slash
    query = F.when(tail.contains("?"),
                   F.regexp_replace(tail, r"^[^?]*\?", "")) \
        .otherwise(F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE))
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        head, path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)))


def sample_key(col: Column) -> Column:
    """Deterministic engine-portable sample key in [0, 10000): first 8
    md5 hex chars of the id as an integer, mod 10000. md5-derived so
    the identical cut is reproducible outside Spark (xxhash64 isn't)."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("long") % 10000)


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      id_col: str = "doc_id",
                      strata_col: str = "source",
                      default_rate: float = 1.0) -> DataFrame:
    """Reproducible per-stratum downsampling for mixture balancing:
    keep a row iff sample_key(id) < rate(stratum) * 10000. A pure
    filter over the scan — no shuffle, no RNG state, stable under
    re-partitioning and re-runs; the same row set falls out of any
    engine that can compute md5."""
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum,
                      F.lit(float(r))).otherwise(rate)
    return docs.where(
        sample_key(F.col(id_col)).cast("double") < rate * 10000.0)


# ------------------------------------------- Gopher quality rules
# Rae et al. 2021 (Gopher), Table A1 — the document-quality heuristics
# that complement the repetition family in kgp.repetition: word-count
# bounds, mean word length, hash/ellipsis symbol ratios, bullet- and
# ellipsis-line fractions, alphabetic-word fraction, and the required
# English stop words. All pure JVM column expressions (higher-order
# array functions over the split words/lines) — zero Python, zero
# shuffle, and every fraction is reproducible in any SQL engine.

GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and",
                     "that", "have", "with")


def _count_occurrences(text: Column, needle: str) -> Column:
    """Occurrences of a literal substring (length delta / needle len)."""
    return ((F.length(text)
             - F.length(F.replace(text, F.lit(needle), F.lit(""))))
            / len(needle)).cast("long")


def gopher_quality_signals(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """docs -> one row per document with the Gopher quality signals:

    n_words, mean_word_len, hash_word_ratio, ellipsis_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_words.

    Words are non-empty whitespace tokens; lines are non-blank
    newline-split segments; "alphabetic" is ASCII [A-Za-z] (documented
    simplification — language-specific alphabets ride the lang column
    upstream); ellipses count both '…' and '...'. Fractions round to
    6 decimals so any engine lands on the same side of a threshold."""
    return docs.select(id_col, *gopher_quality_columns(F.col(text_col)))


# gopher_quality_signals' signal columns, in output order
GOPHER_SIGNALS = ("n_words", "mean_word_len", "hash_word_ratio",
                  "ellipsis_word_ratio", "bullet_line_frac",
                  "ellipsis_line_frac", "alpha_word_frac", "n_stop_words")


def gopher_quality_columns(c: Column) -> list[Column]:
    """gopher_quality_signals' signal columns (GOPHER_SIGNALS) over the
    text column c."""
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    lines = F.filter(F.transform(F.split(c, "\n"), F.trim),
                     lambda s: s != "")
    n_words = F.size(words)
    nw = F.when(n_words > 0, n_words.cast("double"))       # null -> null
    n_lines = F.size(lines)
    nl = F.when(n_lines > 0, n_lines.cast("double"))
    word_chars = F.aggregate(words, F.lit(0).cast("long"),
                             lambda a, w: a + F.length(w))
    n_ellipsis = (_count_occurrences(c, "…")
                  + _count_occurrences(c, "..."))
    n_bullet_lines = F.size(F.filter(
        lines, lambda s: (s.startswith("•") | s.startswith("-")
                          | s.startswith("*"))))
    n_ellipsis_lines = F.size(F.filter(
        lines, lambda s: (s.endswith("…") | s.endswith("..."))))
    n_alpha_words = F.size(F.filter(words,
                                    lambda w: w.rlike("[A-Za-z]")))
    stops = F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS])
    n_stops = F.size(F.array_intersect(
        F.transform(words, F.lower), stops))
    r6 = lambda col: F.round(col, 6)  # noqa: E731
    cols = [
        n_words.cast("long"),
        r6(word_chars / nw),
        r6(_count_occurrences(c, "#") / nw),
        r6(n_ellipsis / nw),
        r6(n_bullet_lines / nl),
        r6(n_ellipsis_lines / nl),
        r6(n_alpha_words / nw),
        n_stops.cast("int"),
    ]
    return [col.alias(name) for col, name in zip(cols, GOPHER_SIGNALS)]


def gopher_quality_filter(min_words: int = 50, max_words: int = 100_000,
                          min_mean_word_len: float = 3.0,
                          max_mean_word_len: float = 10.0,
                          max_symbol_ratio: float = 0.1,
                          max_bullet_frac: float = 0.9,
                          max_ellipsis_frac: float = 0.3,
                          min_alpha_frac: float = 0.8,
                          min_stop_words: int = 2) -> Column:
    """Gopher Table A1 keep rule over a gopher_quality_signals row.
    Null fractions (empty documents) fail the rule."""
    return (F.col("n_words").between(min_words, max_words)
            & F.col("mean_word_len").between(min_mean_word_len,
                                             max_mean_word_len)
            & (F.col("hash_word_ratio") <= max_symbol_ratio)
            & (F.col("ellipsis_word_ratio") <= max_symbol_ratio)
            & (F.coalesce(F.col("bullet_line_frac"), F.lit(1.0))
               <= max_bullet_frac)
            & (F.coalesce(F.col("ellipsis_line_frac"), F.lit(1.0))
               <= max_ellipsis_frac)
            & (F.col("alpha_word_frac") >= min_alpha_frac)
            & (F.col("n_stop_words") >= min_stop_words))


def reservoir_sample(df: DataFrame, k: int,
                     id_col: str = "doc_id") -> DataFrame:
    """ReservoirSampler's role (com.uprizer...ReservoirSampler.java:
    20-62 — keep a uniform k-subset of a stream) with the repo's
    deterministic substitution for its java.util.Random: rank rows by
    the md5 sample key (then id) and keep the first k. Same uniform-
    subset semantics, reproducible across runs/engines/partitionings;
    physically a partial+global top-k (TakeOrderedAndProject), never
    a full sort."""
    keyed = df.withColumn("_sk", sample_key(F.col(id_col)))
    return keyed.orderBy("_sk", id_col).limit(k).drop("_sk")
