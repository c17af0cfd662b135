"""Repetition quality signals for web-corpus curation (Gopher rules).

The duplicate-line / duplicate-paragraph / top-n-gram /
duplicated-n-gram character fractions from Rae et al. 2021 ("Scaling
Language Models", Appendix A1.1) — the standard repetition filters a
100 TB training-data pipeline applies to every document. The reference
has no counterpart (its quality signals are per-sentence heuristics);
this module extends kgp.textstats the way SURVEY.md's training-data
section prescribes.

Exact definitions (deterministic, mirrored 1:1 by the DuckDB oracle in
kgp.oracle.repetition_signals_sql):

* lines  = non-empty trim()med segments of split(text, '\\n');
  paragraphs = same over split(text, '\\n\\s*\\n').
* dup_line_frac        = (len(lines) - distinct(lines)) / len(lines)
* dup_line_char_frac   = sum(len(l) for every occurrence of a line
                         AFTER its first) / sum(len(l) for all lines)
  (and the _para_ twins).
* words = regexp_extract_all(lower(text), '[a-z0-9]+'); an n-gram is
  n consecutive words joined by one space.
* top_{n}gram_char_frac (n=2..4) = cnt(top) * len(top) / len(text),
  top = the (count, gram)-lexicographically largest pair — count
  first, then gram string — so ties are deterministic.
* dup_{n}gram_char_frac (n=5..10) = min(1, sum((cnt-1) * len(gram)
  for grams with cnt > 1) / len(text)).

Execution shape for 100 TB: the line/paragraph metrics are pure column
expressions (whole-stage codegen). The n-gram metrics are ONE
Arrow-batched pandas UDF doing an O(words) counting pass per document
— deliberately NOT explode + groupBy(doc_id, n, gram): that plan
shuffles ~9x the corpus text volume (every word position, for nine n
values) to compute a purely document-local statistic. Zero Exchange in
the whole query (plan-asserted in tests/test_plans.py).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
import regex
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)

_WORD_RE = regex.compile(r"[a-z0-9]+")


def _segments(col: Column, sep: str) -> Column:
    segs = F.transform(F.split(col, sep), lambda x: F.trim(x))
    return F.filter(segs, lambda x: x != "")


def _dup_frac(segs: Column) -> Column:
    n = F.size(segs)
    return F.when(n > 0, F.round(
        (n - F.size(F.array_distinct(segs))) / n.cast("double"), 4)
    ).otherwise(F.lit(0.0))


def _dup_char_frac(segs: Column) -> Column:
    """Chars in occurrences after the first ÷ total segment chars.
    array_position gives the FIRST index of a value, so position i
    holding a value first seen earlier is a duplicate occurrence."""
    total = F.aggregate(segs, F.lit(0),
                        lambda acc, x: acc + F.length(x))
    idx = F.sequence(F.lit(1), F.size(segs))
    dup = F.aggregate(
        idx, F.lit(0),
        lambda acc, i: acc + F.when(
            F.array_position(segs, F.element_at(segs, i)) != i.cast("long"),
            F.length(F.element_at(segs, i))).otherwise(F.lit(0)))
    return F.when(total > 0, F.round(dup / total.cast("double"), 4)) \
        .otherwise(F.lit(0.0))


def ngram_fractions(text: str) -> list[float]:
    """Python twin of the UDF body for one document: the 3 top-n-gram
    and 6 dup-n-gram char fractions, in TOP_NS + DUP_NS order.
    Values are UNROUNDED — rounding happens JVM-side (Spark round is
    HALF_UP like the DuckDB oracle's; Python's round is half-even)."""
    words = _WORD_RE.findall((text or "").lower())
    n_chars = len(text) if text else 0
    out: list[float] = []
    for n in TOP_NS:
        grams = [" ".join(words[i:i + n])
                 for i in range(len(words) - n + 1)]
        if not grams or n_chars == 0:
            out.append(0.0)
            continue
        cnt = Counter(grams)
        top_c, top_g = max((c, g) for g, c in cnt.items())
        out.append(top_c * len(top_g) / n_chars)
    for n in DUP_NS:
        grams = [" ".join(words[i:i + n])
                 for i in range(len(words) - n + 1)]
        if not grams or n_chars == 0:
            out.append(0.0)
            continue
        cnt = Counter(grams)
        dup = sum((c - 1) * len(g) for g, c in cnt.items() if c > 1)
        out.append(min(1.0, dup / n_chars))
    return out


def repetition_signals(docs: DataFrame,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """documents → per-doc repetition-signal row (see module doc)."""
    inner, outer = repetition_columns(F.col(text_col))
    return docs.select(id_col, *inner).select(id_col, *outer)


def repetition_columns(c: Column) -> tuple[list[Column], list[Column]]:
    """repetition_signals' columns over the text column c, as two
    projections: `inner` computes the line/paragraph fractions and the
    n-gram UDF's array `_g` once per row; `outer` reads them by name
    and is the output columns."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def gram_udf(texts: pd.Series) -> pd.Series:
        return texts.map(ngram_fractions)

    gram_names = [f"top_{n}gram_char_frac" for n in TOP_NS] + \
                 [f"dup_{n}gram_char_frac" for n in DUP_NS]
    lines = _segments(c, r"\n")
    paras = _segments(c, r"\n\s*\n")
    inner = [
        _dup_frac(lines).alias("dup_line_frac"),
        _dup_char_frac(lines).alias("dup_line_char_frac"),
        _dup_frac(paras).alias("dup_para_frac"),
        _dup_char_frac(paras).alias("dup_para_char_frac"),
        gram_udf(c).alias("_g"),
    ]
    outer = [F.col(n) for n in ("dup_line_frac", "dup_line_char_frac",
                                "dup_para_frac", "dup_para_char_frac")]
    outer += [F.round(F.element_at("_g", i + 1), 4).alias(name)
              for i, name in enumerate(gram_names)]
    return inner, outer
