"""NER context-pattern mining — port of PatternAnalyzer
(extraction/location/experimental/PatternAnalyzer.java:50-111).

Per input line of an XML-annotated corpus (skipping ``=-DOCSTART-``
lines, :68-70): protected spaces replaced, quotes normalized (:71-72),
annotations parsed (FileFormatParser.getAnnotationsFromXmlText, ported
at kgp.conll.annotations_from_xml_text), tags stripped
(HtmlHelper.stripHtmlTags — the STRIP_ALL_TAGS pattern,
HtmlHelper.java:62), and for every annotation whose tag passes the
category filter the cumulative left/right contexts of 1..size words
(NerHelper.getLeftContexts/getRightContexts, ported at kgp.mentions)
are lowercased, filtered to full-match ``.{2,}`` (Predicates.regex
uses matches(), Predicates.java:169-173), and counted into a
(term, category) dictionary (DictionaryTrieModel.Builder.addDocument
:78-99 — one increment per occurrence).

Pruning + output (:92-111):
- TermCountPruningStrategy(minCount): total count of the term across
  categories >= minCount (PruningStrategies.java:46-48);
- MinProbabilityPruningStrategy(minProb): probability of the most
  likely category >= minProb (:72-74);
- each surviving term is emitted as ``term *`` (LEFT) or ``* term``
  (RIGHT) with its most-likely category.

Most-likely ties cannot occur in the reference's float-probability
walk deterministically (HashMap order); this port fixes the
documented house rule: count DESC, then category ASC.

Spark shape: ONE column-pruned Arrow pass over the lines that
pre-aggregates (context, tag) counts per batch (map-side combine —
only vocabulary-sized partials shuffle), one hash aggregation on the
(context, tag) key, then a context-partitioned window for the
most-likely pick and both prunes.  At corpus scale nothing but
(context, tag, count) rows ever leaves the mappers.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# HtmlHelper.STRIP_ALL_TAGS (HtmlHelper.java:62-64), DOTALL + CI
_STRIP_ALL_TAGS = re.compile(
    r"<!--.*?-->|<script.*?>.*?</script>|<style.*?>.*?</style>"
    r"|<[^<]*?>", re.DOTALL | re.IGNORECASE)

def strip_html_tags(text: str) -> str:
    """HtmlHelper.stripHtmlTags (HtmlHelper.java:155-157)."""
    return _STRIP_ALL_TAGS.sub("", text)


def html_to_readable_text(html: str) -> str:
    """HtmlHelper.htmlToReadableText (HtmlHelper.java:380-385):
    <br>/<li> -> newline, </p> -> blank line, strip tags, trim."""
    html = re.sub(r"<(br|li)\s?/?>", "\n", html, flags=re.IGNORECASE)
    html = re.sub(r"</p>", "\n\n", html, flags=re.IGNORECASE)
    return strip_html_tags(html).strip()


def html_to_readable_text_col(col):
    """The same chain as pure JVM column expressions (the regexes are
    Java-identical by construction)."""
    from pyspark.sql import functions as F
    c = F.regexp_replace(col, r"(?i)<(br|li)\s?/?>", "\n")
    c = F.regexp_replace(c, r"(?i)</p>", "\n\n")
    c = F.regexp_replace(
        c, r"(?is)<!--.*?-->|<script.*?>.*?</script>"
           r"|<style.*?>.*?</style>|<[^<]*?>", "")
    # Java String.trim strips every char <= U+0020 (F.trim only
    # strips spaces)
    return F.regexp_replace(c, "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")


def line_contexts(line: str, direction: str = "LEFT", size: int = 1,
                  categories: tuple[str, ...] | None = None
                  ) -> list[tuple[str, str]]:
    """The per-line body of PatternAnalyzer.extractPatterns
    (:66-91): (context, tag) occurrences of one XML-annotated line."""
    from kgp.conll import annotations_from_xml_text
    from kgp.entity_preprocess import normalize_quotes
    from kgp.mentions import get_left_contexts, get_right_contexts

    if line.startswith("=-DOCSTART-"):
        return []
    line = line.replace("\u00a0", " ")  # replaceProtectedSpace
    line = normalize_quotes(line)
    anns = annotations_from_xml_text(line)
    clean = strip_html_tags(line)
    out: list[tuple[str, str]] = []
    for a in anns:
        if categories is not None and a.tag not in categories:
            continue
        if direction == "LEFT":
            ctxs = get_left_contexts(clean, a.start, size)
        else:
            ctxs = get_right_contexts(clean, a.end, size)
        for c in ctxs:
            c = c.lower()
            if re.fullmatch(r".{2,}", c):
                out.append((c, a.tag))
    return out


def extract_patterns_local(lines: Iterable[str], direction: str = "LEFT",
                           size: int = 1, min_count: int = 50,
                           min_prob: float = 0.9,
                           categories: tuple[str, ...] | None = None
                           ) -> list[tuple[str, str, int, float]]:
    """Literal single-process twin of extractPatterns: returns
    (pattern, tag, count, prob) sorted by pattern."""
    counts: Counter = Counter()
    for line in lines:
        counts.update(line_contexts(line, direction, size, categories))
    totals: Counter = Counter()
    for (ctx, _t), c in counts.items():
        totals[ctx] += c
    out = []
    for ctx in sorted(totals):
        per = sorted(((c, t) for (x, t), c in counts.items()
                      if x == ctx), key=lambda ct: (-ct[0], ct[1]))
        best_c, best_t = per[0]
        prob = best_c / totals[ctx]
        if totals[ctx] >= min_count and prob >= min_prob:
            pattern = f"{ctx} *" if direction == "LEFT" else f"* {ctx}"
            out.append((pattern, best_t, best_c, prob))
    return out


# Gate template bank (context_patterns gate): one XML-annotated line
# per doc, keyed by CASE doc_id % 250 == 0 -> 8 ELSE doc_id % 8.
# Probes: digit masking (v7), NBSP (v3), curly quote (v1), DOCSTART
# skip (v2), category filter (v5 ORG), .{2,} length filter (v6),
# min_prob prune ("near" splits CITY/PER across v1/v4), min_count
# prune (v8 rides the 2-doc %250 slice).  The oracle hand-derives
# each variant's (context, tag) contributions — NOT rendered from
# this module — so a twin bug mismatches.
GATE_TEMPLATES: tuple[str, ...] = (
    "He visited <CITY>Rivertown</CITY> in 1999",
    "She’d met <PER>Ann Lee</PER> near <CITY>Oldtown</CITY>",
    "=-DOCSTART- fully <CITY>Skipped</CITY>",
    "So\u00a0he visited <CITY>Springfield</CITY> today",
    "I stand near <PER>Omar</PER> today",
    "Inside <ORG>Acme Corp</ORG> offices",
    "A <CITY>Hilltown</CITY> visit",
    "Back in 2010 <PER>Omar</PER> returned",
    "Rare talk of <CITY>Mystville</CITY> here",
)


def extract_patterns_stage(lines: DataFrame, text_col: str = "line",
                           direction: str = "LEFT", size: int = 1,
                           min_count: int = 50, min_prob: float = 0.9,
                           categories: tuple[str, ...] | None = None
                           ) -> DataFrame:
    """Distributed extractPatterns -> (pattern, tag, count, prob).

    count = the most-likely category's count; prob = its probability
    within the term (the pruning quantities)."""
    cats = tuple(categories) if categories is not None else None
    dirn, sz = direction, size

    def scan(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            cnt: Counter = Counter()
            for line in pdf[text_col]:
                if line is not None:
                    cnt.update(line_contexts(line, dirn, sz, cats))
            if cnt:
                yield pd.DataFrame(
                    [(ctx, tag, c) for (ctx, tag), c in cnt.items()],
                    columns=["ctx", "tag", "cnt"])

    schema = T.StructType([
        T.StructField("ctx", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("cnt", T.LongType())])
    partial = lines.select(text_col).mapInPandas(scan, schema)
    counts = partial.groupBy("ctx", "tag").agg(F.sum("cnt").alias("c"))
    w = Window.partitionBy("ctx")
    pick = Window.partitionBy("ctx").orderBy(F.desc("c"), F.asc("tag"))
    out = (counts
           .withColumn("total", F.sum("c").over(w))
           .withColumn("_rn", F.row_number().over(pick))
           .where(F.col("_rn") == 1)
           .where((F.col("total") >= min_count)
                  & (F.col("c") / F.col("total") >= min_prob)))
    pattern = (F.concat(F.col("ctx"), F.lit(" *")) if direction == "LEFT"
               else F.concat(F.lit("* "), F.col("ctx")))
    return out.select(
        pattern.alias("pattern"), F.col("tag"),
        F.col("c").alias("count"),
        F.round(F.col("c") / F.col("total"), 9).alias("prob"))
