"""Twitter sentiment dataset reader — port of
TwitterSentimentDatasetIterator (classification/text/evaluation/
TwitterSentimentDatasetIterator.java:37-110), the reference's reader
for the Sentiment140 distant-supervision corpus with the
normalizations of Go/Bhayani/Huang 2009 (public paper).

Per line (:78-103): quote-aware 6-column split
(DelimitedStringHelper.splitLine, ported at
kgp.datasetops.split_delimited_line; != 6 columns raises
IllegalStateException — the stage raises too); category = column 0,
text = column 5, then in ORDER:
- QUERY_TERM: StringHelper.replaceWord(column 3, "QUERY_TERM", text)
  (ported at kgp.stringhelpers.replace_word — case-insensitive
  whole-word bounded splice);
- USER_NAMES: ``@[^\\s]+`` -> USERNAME;
- LINKS: ``https?://[^\\s]+`` -> URL;
- REPEATED_LETTERS: ``(\\w)\\1{3,}`` -> ``$1$1`` (Java \\w is ASCII
  — mirrored with re.ASCII).

Spark shape: ONE Arrow pass per line batch (the quote-toggle split
and replaceWord's rescan-after-splice semantics are stateful string
walks); output is just (category, text) rows.  The reference's
buffer()/RandomSplit/optimizer driver in main() is the experiment
harness around kgp.textclassifier; it is not ported.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

ALL_OPTIONS = ("QUERY_TERM", "USER_NAMES", "LINKS",
               "REPEATED_LETTERS")

_USER_RE = re.compile(r"@[^\s]+")
_LINK_RE = re.compile(r"https?://[^\s]+")
_REPEAT_RE = re.compile(r"(\w)\1{3,}", re.ASCII)


def parse_tweet_line(line: str,
                     options: tuple[str, ...] = ALL_OPTIONS
                     ) -> tuple[str, str]:
    """The per-line converter (:78-103) -> (category, text)."""
    from kgp.datasetops import split_delimited_line
    from kgp.stringhelpers import replace_word
    split = split_delimited_line(line, ",", '"')
    if split is None or len(split) != 6:
        n = "unclosed-quote" if split is None else len(split)
        raise ValueError(
            f"Expected six columns, got {n} in '{line}'")
    category = split[0]
    text = split[5]
    if "QUERY_TERM" in options:
        text = replace_word(split[3], "QUERY_TERM", text)
    if "USER_NAMES" in options:
        text = _USER_RE.sub("USERNAME", text)
    if "LINKS" in options:
        text = _LINK_RE.sub("URL", text)
    if "REPEATED_LETTERS" in options:
        text = _REPEAT_RE.sub(r"\1\1", text)
    return category, text


# Gate line bank (twitter_sentiment gate), keyed by doc_id % 5:
# all-options pipeline, quoted comma, replaceWord boundary +
# case-insensitivity, ASCII \w repeats, link+user pair.  The oracle
# hand-derives each normalized (category, text).
GATE_LINES: tuple[str, ...] = (
    '"0","1","Mon Apr 06","myterm","bob","@alice check '
    'http://t.co/xyz I am soooooo huuuuuungry for MyTerm now"',
    '"4","2","date","NO_QUERY","ann","I love it, really cool stuff"',
    '"2","9","d","cat","joe","my cat concatenates cat-like things"',
    '"0","3","d","NO_QUERY","u","wow!!!! yes____no aaaab"',
    '"4","5","d","NO_QUERY","u","see https://ex.com/a?b=1 and '
    '@bob_x now"',
)


_SCHEMA = T.StructType([
    T.StructField("category", T.StringType()),
    T.StructField("text", T.StringType()),
])


def twitter_sentiment_stage(lines: DataFrame,
                            options: tuple[str, ...] = ALL_OPTIONS,
                            line_col: str = "value") -> DataFrame:
    """lines(value) -> (category, text); ONE Arrow pass."""
    opts = tuple(options)

    def scan(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = [parse_tweet_line(l, opts)
                    for l in pdf[line_col] if l is not None]
            if rows:
                yield pd.DataFrame(rows, columns=["category", "text"])

    return lines.select(line_col).mapInPandas(scan, _SCHEMA)
