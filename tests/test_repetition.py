"""Gopher repetition signals (kgp.repetition): hand-computed goldens
for every metric family, the Spark/oracle parity on crafted corpora,
and the zero-shuffle plan shape."""

from __future__ import annotations

import duckdb
import pytest

from kgp.oracle import repetition_signals_sql
from kgp.repetition import (DUP_NS, TOP_NS, ngram_fractions,
                            repetition_signals)


def test_ngram_top_fraction_hand_computed():
    # words: to be or not to be; top 2-gram "to be" x2, len 5;
    # len(text) = 18 -> 10/18
    got = ngram_fractions("to be or not to be")
    assert got[0] == pytest.approx(10 / 18)
    # top 3-gram: all count 1 -> tie broken by largest gram string
    # ("to be or" < "be or not" < "or not to" < "not to be"?  largest
    # lexicographically is "to be or") -> 1 * 8 / 18
    assert got[1] == pytest.approx(8 / 18)


def test_ngram_dup_fraction_hand_computed():
    # "a b c d e a b c d e": the 5-gram "a b c d e" occurs twice ->
    # (2-1)*9 / 19; 6..10-grams occur once each -> 0
    got = ngram_fractions("a b c d e a b c d e")
    d5 = got[len(TOP_NS)]
    assert d5 == pytest.approx(9 / 19)
    assert got[len(TOP_NS) + 1] == 0.0


def test_ngram_empty_and_short():
    assert ngram_fractions("") == [0.0] * (len(TOP_NS) + len(DUP_NS))
    assert ngram_fractions("one") == [0.0] * (len(TOP_NS) + len(DUP_NS))


def _run(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r.asDict()
            for r in repetition_signals(docs).collect()}


def test_duplicate_line_metrics(spark):
    got = _run(spark, [(1, "aa bb\naa bb\ncc")])[1]
    assert got["dup_line_frac"] == pytest.approx(round(1 / 3, 4))
    # chars: dup 5 of total 12
    assert got["dup_line_char_frac"] == pytest.approx(round(5 / 12, 4))
    assert got["dup_para_frac"] == 0.0          # no blank-line split


def test_duplicate_paragraph_metrics(spark):
    got = _run(spark, [(1, "x\n\nx\n\ny")])[1]
    assert got["dup_para_frac"] == pytest.approx(round(1 / 3, 4))
    assert got["dup_para_char_frac"] == pytest.approx(round(1 / 3, 4))
    # line split sees the same three non-empty segments
    assert got["dup_line_frac"] == pytest.approx(round(1 / 3, 4))


def test_empty_doc_is_all_zero(spark):
    got = _run(spark, [(1, ""), (2, "   \n  \n")])
    for d in got.values():
        assert all(v == 0.0 for k, v in d.items() if k != "doc_id")


def test_oracle_parity_on_crafted_corpus(spark, tmp_path):
    """Spark vs DuckDB on docs exercising EVERY metric family —
    duplicate lines, paragraphs, top grams, dup 5..10-grams, ties."""
    rows = [
        (0, "aa bb\naa bb\ncc"),
        (1, "x\n\nx\n\ny"),
        (2, "to be or not to be"),
        (3, "a b c d e a b c d e f g h i j a b c d e"),
        (4, ""),
        (5, "repeat me " * 30),
        (6, "one two one two one two\none two\n\none two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = repetition_signals(docs).orderBy("doc_id").collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = con.sql(repetition_signals_sql(dup_slice_mod=0)).fetchall()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert list(g) == pytest.approx(list(w), abs=1e-9), g["doc_id"]


def test_plan_zero_shuffle(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = repetition_signals(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1

