from __future__ import annotations

from pyspark.sql import functions as F

from kgp.curation import (c4_filter, canonical_url, sample_key,
                          stratified_sample)

GOOD = "This is a perfectly fine sentence with enough words in it."
SHORT = "Too short."                           # < 5 words
NOPUNCT = "this line has plenty of words but no terminal punctuation"
JS = "Please enable JavaScript to view the comments powered here."
MENU = "Home"


def test_c4_filter_line_rules(spark):
    docs = spark.createDataFrame(
        [(1, "\n".join([GOOD, SHORT, NOPUNCT, JS, MENU, GOOD, GOOD]))],
        "doc_id long, text string")
    r = c4_filter(docs).collect()[0]
    # only the 3 GOOD lines survive: >=5 words, terminal punct, no JS
    assert r.clean_text == "\n".join([GOOD, GOOD, GOOD])
    assert r.n_lines == 7 and r.n_kept == 3
    assert r.keep_doc


def test_c4_filter_doc_rules(spark):
    docs = spark.createDataFrame(
        [(1, "\n".join([GOOD, GOOD, GOOD])),           # keeps
         (2, "\n".join([GOOD, GOOD])),                 # < 3 kept lines
         (3, "\n".join([GOOD, GOOD, GOOD,
                        "Some Lorem Ipsum filler text goes right here."])),
         (4, "\n".join([GOOD, GOOD, "if (x) { return; }", GOOD])),
         (5, "")],                                     # empty doc
        "doc_id long, text string")
    got = {r.doc_id: r for r in c4_filter(docs).collect()}
    assert got[1].keep_doc
    assert not got[2].keep_doc and got[2].n_kept == 2
    assert not got[3].keep_doc          # lorem ipsum (case-insensitive)
    assert not got[4].keep_doc          # curly brace
    assert not got[5].keep_doc and got[5].n_lines == 0
    assert got[5].clean_text == ""


def _canon(spark, url: str) -> str:
    df = spark.createDataFrame([(url,)], "u string")
    return df.select(canonical_url(F.col("u")).alias("c")).collect()[0].c


def test_canonical_url(spark):
    cases = {
        # fragment + trailing slash + case
        "HTTPS://WWW.Example.COM/Path/#frag": "https://example.com/Path",
        # default ports
        "http://example.com:80/a": "http://example.com/a",
        "https://example.com:443/a": "https://example.com/a",
        "http://example.com:8080/a": "http://example.com:8080/a",
        # tracking params dropped, survivors sorted
        "https://example.com/x?utm_source=tw&b=2&a=1&fbclid=zz":
            "https://example.com/x?a=1&b=2",
        # all params tracking -> no '?'
        "https://example.com/x?utm_campaign=c": "https://example.com/x",
        # root slash kept; path case preserved
        "https://example.com/": "https://example.com/",
        # non-URL passes through
        "not a url.": "not a url.",
    }
    for raw, want in cases.items():
        assert _canon(spark, raw) == want, raw


def test_sample_key_matches_duckdb(spark):
    import duckdb
    ids = list(range(200))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.k for r in
           df.select("doc_id",
                     sample_key(F.col("doc_id")).alias("k")).collect()}
    want = dict(duckdb.sql(
        "SELECT i, CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8))"
        " AS BIGINT) % 10000 FROM range(200) t(i)").fetchall())
    assert got == want


def test_stratified_sample(spark):
    rows = [(i, "news" if i % 2 == 0 else "forum") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(docs, {"news": 0.25, "forum": 1.0})
    by_src = {r.source: r.n for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src["forum"] == 1000                  # rate 1.0 keeps all
    assert 150 < by_src["news"] < 350               # ~25% of 1000
    # deterministic: identical cut on re-run
    again = stratified_sample(docs, {"news": 0.25, "forum": 1.0})
    assert sorted(r.doc_id for r in out.collect()) == \
        sorted(r.doc_id for r in again.collect())


def test_no_python_no_shuffle_plan(spark):
    """The curation ops are scan-side: no Exchange, no Python eval."""
    docs = spark.createDataFrame([(1, GOOD, "news")],
                                 "doc_id long, text string, source string")
    for df in (c4_filter(docs),
               stratified_sample(docs, {"news": 0.5})):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan and "BatchEvalPython" not in plan


# ---- Gopher quality rules (Rae et al. 2021 Table A1)


def test_gopher_quality_signals_goldens(spark):
    from kgp.curation import gopher_quality_filter, gopher_quality_signals
    rows = [
        (1, "the cat sat on the mat with a hat that fits"),
        (2, "• one\n• two\nplain line here."),
        (3, "wait...\nmore…\nok."),
        (4, "# # # code"),
        (5, "ab cd"),
        (6, "12 34 56 78 x9"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           gopher_quality_signals(docs).collect()}
    r1 = got[1]
    assert r1.n_words == 11
    assert r1.n_stop_words == 3            # the, with, that
    assert abs(r1.alpha_word_frac - 1.0) < 1e-9
    assert abs(r1.mean_word_len - 33 / 11) < 1e-6
    r2 = got[2]
    assert abs(r2.bullet_line_frac - 2 / 3) < 1e-6
    r3 = got[3]
    assert abs(r3.ellipsis_line_frac - 2 / 3) < 1e-6
    assert abs(r3.ellipsis_word_ratio - 2 / 3) < 1e-6
    r4 = got[4]
    assert abs(r4.hash_word_ratio - 3 / 4) < 1e-6
    r5 = got[5]
    assert abs(r5.mean_word_len - 2.0) < 1e-9
    r6 = got[6]
    assert abs(r6.alpha_word_frac - 1 / 5) < 1e-6
    # the filter: only long-enough prose with stop words survives
    long_doc = " ".join(["the quick brown fox jumps over that lazy dog"
                         " to be of and with have"] * 8)
    docs2 = spark.createDataFrame(
        [(10, long_doc), (11, "short text.")], "doc_id long, text string")
    sig = gopher_quality_signals(docs2)
    kept = {r.doc_id: r.keep for r in
            sig.withColumn("keep", gopher_quality_filter()).collect()}
    assert kept == {10: True, 11: False}


def test_gopher_quality_empty_and_plan(spark):
    from kgp.curation import gopher_quality_filter, gopher_quality_signals
    docs = spark.createDataFrame([(1, ""), (2, "   \n  ")],
                                 "doc_id long, text string")
    sig = gopher_quality_signals(docs)
    rows = {r.doc_id: r for r in
            sig.withColumn("keep", gopher_quality_filter()).collect()}
    for r in rows.values():
        assert r.n_words == 0 and r.mean_word_len is None
        assert r.keep is False
    # zero Python, zero Exchange — pure JVM expressions over the scan
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan

