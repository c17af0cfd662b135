"""Stage 4 — pattern-based relation extraction → (subj, pred, obj).

The reference has no triple extractor; this stage composes its
primitives the way SURVEY.md §2.8 maps them:

  * sentence-level co-occurrence of two mentions
    (/root/reference/palladian-core/src/main/java/ws/palladian/retrieval/cooccurrence/CoOccurrenceRetriever.java:27-60
    — SENTENCE window);
  * the text BETWEEN / AROUND the pair is matched against a predicate
    pattern bank — the reference's left/right context machinery
    (NerHelper.getLeftContexts/getRightContexts,
    /root/reference/palladian-core/src/main/java/ws/palladian/extraction/entity/tagger/NerHelper.java:244-298)
    applied to relation typing instead of entity typing.

Execution shape: links are grouped per (url, sent_idx) with
`applyInPandas` — document-local, a single hash shuffle whose key
(url) is unique → no skew; pattern matching is pure Python over small
per-sentence groups inside Arrow batches. Emitted triples join entity
canon names; dedup/canonical ordering happens in the materialize stage.
"""

from __future__ import annotations

from typing import NamedTuple

import pandas as pd
import regex
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Pattern(NamedTuple):
    pred: str
    subj_tag: str          # NER tag required on the LEFT mention
    obj_tag: str           # NER tag required on the RIGHT mention
    infix: "regex.Pattern"  # must fully match text between the mentions
    swap: bool = False     # emit (right, pred, left) instead
    conf: float = 0.9


def _p(pat: str) -> "regex.Pattern":
    return regex.compile(pat, regex.IGNORECASE)


# Predicate bank. Infixes are matched against the exact inter-mention
# text (leftmost mention end → rightmost mention start), so patterns
# stay anchored — far fewer false positives than bag-of-words windows.
DEFAULT_PATTERNS: list[Pattern] = [
    Pattern("ceo_of", "PER", "ORG",
            _p(r",? ?(?:the )?(?:chief executive officer|ceo) of ")),
    Pattern("born_in", "PER", "CITY", _p(r" (?:was|is) born in ")),
    Pattern("headquartered_in", "ORG", "CITY",
            _p(r" (?:is|are)? ?headquartered in ")),
    # variant phrasing: emitted as its own surface predicate, merged
    # into headquartered_in by kgp.predicates.normalize_predicates
    Pattern("based_in", "ORG", "CITY",
            _p(r" (?:is|are)? ?based in ")),
    Pattern("capital_of", "CITY", "COUNTRY",
            _p(r" is the capital (?:city )?of ")),
    Pattern("works_for", "PER", "ORG", _p(r" works? (?:for|at) ")),
    Pattern("founded", "ORG", "PER",
            _p(r" (?:was|were) (?:founded|established|started) by "),
            swap=True),
]

TRIPLE_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("subj_id", T.LongType()),
    T.StructField("obj_id", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("sent_idx", T.IntegerType()),
    T.StructField("conf", T.DoubleType()),
])


def match_sentence(sent_text: str, sent_start: int,
                   mentions: list[dict],
                   patterns: list[Pattern]) -> list[dict]:
    """All pattern matches over one sentence's linked mentions.

    mentions: dicts with doc-level start/end, surface, tag, canon_name,
    entity_id, link_score. Offsets are re-based onto the sentence via
    sent_start.
    """
    out = []
    ms = sorted(mentions, key=lambda m: (m["start"], -m["end"]))
    for i, left in enumerate(ms):
        for right in ms[i + 1:]:
            gap_lo = left["end"] - sent_start
            gap_hi = right["start"] - sent_start
            if gap_hi < gap_lo:
                continue  # overlapping spans
            infix = sent_text[gap_lo:gap_hi]
            if len(infix) > 60:
                continue  # pattern window cap (cheap early exit)
            for p in patterns:
                if left["tag"] != p.subj_tag or right["tag"] != p.obj_tag:
                    continue
                if not p.infix.fullmatch(infix):
                    continue
                s, o = (right, left) if p.swap else (left, right)
                conf = p.conf
                for m in (left, right):
                    ls = m.get("link_score")
                    if ls is not None and 0.0 < ls < 1.0:
                        conf *= ls
                out.append({
                    "subj": s["canon_name"], "pred": p.pred,
                    "obj": o["canon_name"],
                    "subj_id": s.get("entity_id"),
                    "obj_id": o.get("entity_id"),
                    "conf": float(conf),
                })
    return out


def extract_relations(links: DataFrame,
                      patterns: list[Pattern] | None = None) -> DataFrame:
    """links → triples(subj, pred, obj, subj_id, obj_id, url, sent_idx,
    conf).

    One `applyInPandas` over hash buckets of documents (NOT per-url
    groups — one Python call per document would be overhead-bound; each
    of the 4·defaultParallelism buckets iterates its docs in pandas).
    Sentences with <2 mentions are skipped in Python; the filter that
    matters at scale is that unlinked/untagged text never reaches this
    stage."""
    pats = patterns if patterns is not None else DEFAULT_PATTERNS
    spark = links.sparkSession
    n = spark.sparkContext.defaultParallelism * 4

    def _rel(pdf: pd.DataFrame) -> pd.DataFrame:
        # single sorted pass over the bucket — no pandas groupby (one
        # groupby object per sentence costs more than the matching)
        rows: list[dict] = []

        def flush(group: list) -> None:
            if len(group) < 2:
                return
            first = group[0]
            mentions = [{
                "start": t.start, "end": t.end, "surface": t.surface,
                "tag": t.tag, "canon_name": t.canon_name,
                "entity_id": None if pd.isna(t.entity_id)
                else int(t.entity_id),
                "link_score": t.link_score,
            } for t in group]
            for tr in match_sentence(first.sent_text,
                                     int(first.sent_start),
                                     mentions, pats):
                tr["url"] = first.url
                tr["sent_idx"] = int(first.sent_idx)
                rows.append(tr)

        pdf = pdf.sort_values(["url", "sent_idx", "start", "end"],
                              kind="mergesort")
        cur_key, cur = None, []
        for t in pdf.itertuples():
            key = (t.url, t.sent_idx)
            if key != cur_key:
                flush(cur)
                cur, cur_key = [], key
            cur.append(t)
        flush(cur)
        return pd.DataFrame(rows,
                            columns=[f.name for f in TRIPLE_SCHEMA.fields])

    bucketed = links.withColumn("_bucket",
                                F.pmod(F.xxhash64("url"), F.lit(n)))
    out = bucketed.groupBy("_bucket").applyInPandas(_rel, TRIPLE_SCHEMA)
    # canonicalize predicate phrasing variants (based_in →
    # headquartered_in) — literal column map, no shuffle
    from kgp.predicates import normalize_predicates
    return normalize_predicates(out)


# ------------------------------------------------- induced patterns
# The learned counterpart of DEFAULT_PATTERNS: frequent exact infix
# strings between same-sentence tagged mention pairs become anchored
# Pattern entries — the reference's Apriori support counting
# (extraction/apriori/Apriori.java) applied to relation phrasing
# instead of market baskets (SURVEY §2.8). It mines the literal
# infix, so the result anchors with fullmatch like the hand bank.


def induce_patterns(links: DataFrame, min_support: float = 0.05,
                    min_count: int = 3, max_infix_len: int = 60,
                    max_patterns: int = 50) -> list[Pattern]:
    """Mine frequent (subj_tag, obj_tag, infix) triples from linked
    mentions and return them as anchored Patterns, confidence from
    relative support within the tag pair. The predicate name is the
    snake_cased alphabetic token sequence of the infix (then subject
    to kgp.predicates.normalize_predicates downstream)."""
    m = links.select("url", "sent_idx", "start", "end", "tag",
                     "sent_start", "sent_text")
    a, b = m.alias("a"), m.alias("b")
    pairs = (a.join(b, (F.col("a.url") == F.col("b.url"))
                    & (F.col("a.sent_idx") == F.col("b.sent_idx"))
                    & (F.col("a.end") < F.col("b.start")))
             .select(F.col("a.tag").alias("subj_tag"),
                     F.col("b.tag").alias("obj_tag"),
                     F.expr("substring(a.sent_text, "
                            "a.end - a.sent_start + 1, "
                            "b.start - a.end)").alias("infix")))
    pairs = pairs.where((F.length("infix") <= max_infix_len)
                        & (F.length(F.trim("infix")) > 0))
    counts = (pairs.groupBy("subj_tag", "obj_tag", "infix")
              .agg(F.count("*").alias("n")))
    w = Window.partitionBy("subj_tag", "obj_tag")
    mined = (counts
             .withColumn("support", F.col("n") / F.sum("n").over(w))
             .where((F.col("support") >= min_support)
                    & (F.col("n") >= min_count))
             .orderBy(F.desc("n"), "subj_tag", "obj_tag", "infix")
             .limit(max_patterns)
             .collect())
    from kgp.predicates import normalize_predicate_name
    out: list[Pattern] = []
    for r in mined:
        words = regex.findall(r"[a-z]+", r["infix"].lower())
        if not words:
            continue
        pred = normalize_predicate_name("_".join(words))
        conf = min(0.95, round(0.5 + 0.5 * float(r["support"]), 4))
        out.append(Pattern(pred, r["subj_tag"], r["obj_tag"],
                           regex.compile(regex.escape(r["infix"])),
                           conf=conf))
    return out


# ------------------------------------------------- co-occurrence modes
# CoOccurrenceRetriever.findCoOccurrences
# (palladian-core/.../cooccurrence/CoOccurrenceRetriever.java:102-141)
# counts term pairs in three contexts: DOCUMENT, SENTENCE,
# CONTEXT_200_CHARS. The SENTENCE mode has always driven
# extract_relations; these are the other two, generalized from a
# fixed (term1, term2) probe to ALL mention pairs — the web-scale
# shape of the same statistic.


def co_occurrence_pairs(links: DataFrame, mode: str = "document",
                        max_chars: int = 200) -> DataFrame:
    """(surface_a, surface_b, tag_a, tag_b, n_contexts): distinct
    co-occurrence contexts per unordered mention pair.

    mode='document': one context per document containing both
    (CoOccurrenceContext.DOCUMENT). mode='sentence': one per sentence
    (SENTENCE). mode='chars': one per document where the two mention
    START offsets lie within max_chars (CONTEXT_200_CHARS's
    `term1.{0,200}term2` probe, span-based).

    Scale shape: self-joins are keyed on the context id (url /
    url+sent), never cross-document. The chars mode adds a bucketed
    band join — each mention lands in floor(pos/max_chars) and joins
    only its own and the adjacent bucket, then the exact distance
    filter verifies; candidate fan-out is bounded by mentions within
    2*max_chars of each other, not the document's mention count."""
    pos = (F.col("sent_start") + F.col("start")).alias("pos")
    base = links.select("url", "sent_idx", "surface", "tag", pos)
    if mode == "document":
        m = base.select("url", "surface", "tag").distinct()
        key = ["url"]
    elif mode == "sentence":
        m = base.select("url", "sent_idx", "surface", "tag").distinct()
        key = ["url", "sent_idx"]
    elif mode == "chars":
        m = (base.select("url", "surface", "tag", "pos").distinct()
             .withColumn("bucket",
                         F.floor(F.col("pos") / F.lit(max_chars))))
        a = m.select(F.col("url"),
                     F.col("surface").alias("surface_a"),
                     F.col("tag").alias("tag_a"),
                     F.col("pos").alias("_pa"),
                     F.col("bucket").alias("_ba"))
        pairs = None
        for shift in (0, 1):
            b = m.select(F.col("url"),
                         F.col("surface").alias("surface_b"),
                         F.col("tag").alias("tag_b"),
                         F.col("pos").alias("_pb"),
                         (F.col("bucket") - shift).alias("_ba"))
            part = (a.join(b, ["url", "_ba"])
                    .where((F.col("surface_a") < F.col("surface_b"))
                           if shift == 0 else F.lit(True))
                    .where(F.abs(F.col("_pa") - F.col("_pb"))
                           <= max_chars))
            if shift == 1:
                # adjacent buckets: both directions arrive once; keep
                # the unordered orientation
                part = part.where(
                    F.col("surface_a") != F.col("surface_b"))
                part = part.select(
                    "url",
                    F.least("surface_a", "surface_b").alias("surface_a"),
                    F.greatest("surface_a", "surface_b")
                    .alias("surface_b"),
                    F.when(F.col("surface_a") < F.col("surface_b"),
                           F.col("tag_a")).otherwise(F.col("tag_b"))
                    .alias("tag_a"),
                    F.when(F.col("surface_a") < F.col("surface_b"),
                           F.col("tag_b")).otherwise(F.col("tag_a"))
                    .alias("tag_b"))
            else:
                part = part.select("url", "surface_a", "surface_b",
                                   "tag_a", "tag_b")
            pairs = part if pairs is None else pairs.unionByName(part)
        return (pairs.distinct()
                .groupBy("surface_a", "surface_b", "tag_a", "tag_b")
                .agg(F.count("*").alias("n_contexts")))
    else:
        raise ValueError(f"unknown mode: {mode}")
    a = m.select(*key, F.col("surface").alias("surface_a"),
                 F.col("tag").alias("tag_a"))
    b = m.select(*key, F.col("surface").alias("surface_b"),
                 F.col("tag").alias("tag_b"))
    return (a.join(b, key)
            .where(F.col("surface_a") < F.col("surface_b"))
            .groupBy("surface_a", "surface_b", "tag_a", "tag_b")
            .agg(F.count("*").alias("n_contexts")))
