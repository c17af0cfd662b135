"""PatternAnalyzer (kgp.contextpatterns) — per-line context goldens,
pruning semantics, distributed == literal-twin parity, plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgp.contextpatterns import (extract_patterns_local,
                                 extract_patterns_stage, line_contexts,
                                 strip_html_tags)


def test_line_contexts_left_and_masking():
    assert line_contexts(
        "He visited <CITY>Rivertown</CITY> in 1999", "LEFT", 2) == [
        ("visited", "CITY"), ("he visited", "CITY")]
    # \d -> § masking (NerHelper.java:254)
    assert line_contexts(
        "Back in 2010 <PER>Omar</PER> returned", "LEFT", 2) == [
        ("§§§§", "PER"), ("in §§§§", "PER")]


def test_line_contexts_filters():
    # regex(".{2,}") matches(): single-char context dropped
    assert line_contexts("A <CITY>Hilltown</CITY> visit", "LEFT", 2) == []
    # =-DOCSTART- lines skipped wholesale (PatternAnalyzer.java:68-70)
    assert line_contexts("=-DOCSTART- x <CITY>Skip</CITY>", "LEFT", 2) == []
    # category filter
    assert line_contexts("Inside <ORG>Acme Corp</ORG> offices",
                         "LEFT", 2, ("CITY", "PER")) == []
    assert line_contexts("Inside <ORG>Acme Corp</ORG> offices",
                         "LEFT", 2) == [("inside", "ORG")]


def test_line_contexts_right_punctuation_and_tail():
    # trailing punctuation stripped per token; the final token is only
    # emitted when a space follows it (the reference's idx==0 branch
    # never fires rightward) — "ok" is silently lost
    assert line_contexts("met <PER>Omar</PER> today, ok", "RIGHT", 2) == [
        ("today", "PER")]


def test_line_contexts_quotes_and_nbsp():
    # normalizeQuotes before parsing; NBSP becomes a real space
    assert line_contexts(
        "She’d met <PER>Ann Lee</PER> ok", "LEFT", 2) == [
        ("met", "PER"), ("she'd met", "PER")]
    assert line_contexts(
        "He visited <CITY>Rivertown</CITY> ok", "LEFT", 2) == [
        ("visited", "CITY"), ("he visited", "CITY")]


def test_strip_html_tags():
    assert strip_html_tags(
        "a<!-- c --><script>x</script><style>y</style><b>z</b>") == "az"


def test_extract_patterns_local_pruning():
    lines = (["He visited <CITY>Rivertown</CITY> now"] * 4
             + ["He visited <PER>Omar</PER> now"] * 2
             + ["Standing near <PER>Kim</PER> ok"] * 2
             + ["Sat near <CITY>Oldtown</CITY> ok"] * 2)
    out = extract_patterns_local(lines, "LEFT", 2, min_count=3,
                                 min_prob=0.6)
    pats = {(p, t): (c, round(pr, 6)) for p, t, c, pr in out}
    # "visited": 4 CITY vs 2 PER -> kept, prob 2/3
    assert pats[("visited *", "CITY")] == (4, round(4 / 6, 6))
    assert pats[("he visited *", "CITY")] == (4, round(4 / 6, 6))
    # "near": 2 PER vs 2 CITY -> tie -> CITY first (count DESC, tag
    # ASC), prob 0.5 < 0.6 -> pruned
    assert not any(p.startswith("near") for p, _ in pats)
    # "standing near"/"sat near": count 2 < min_count 3 -> pruned
    assert ("standing near *", "PER") not in pats
    assert len(pats) == 2


def test_stage_matches_local(spark):
    lines = (["He visited <CITY>Rivertown</CITY> in 1999"] * 5
             + ["He visited <PER>Omar</PER> today"] * 3
             + ["=-DOCSTART- <CITY>Skip</CITY>"] * 9
             + ["Back in 2010 <PER>Omar</PER> returned"] * 4
             + ["Inside <ORG>Acme Corp</ORG> offices"] * 9
             + ["A <CITY>Hilltown</CITY> visit"] * 9)
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    for direction in ("LEFT", "RIGHT"):
        got = sorted(
            (r["pattern"], r["tag"], r["count"], round(r["prob"], 6))
            for r in extract_patterns_stage(
                df.repartition(7), "line", direction, 2, min_count=3,
                min_prob=0.6, categories=("CITY", "PER")).collect())
        want = sorted((p, t, c, round(pr, 6))
                      for p, t, c, pr in extract_patterns_local(
                          lines, direction, 2, 3, 0.6, ("CITY", "PER")))
        assert got == want, direction
    assert want  # non-trivial


def test_stage_plan_shape(spark):
    df = spark.createDataFrame(
        [("He visited <CITY>Rivertown</CITY> ok",)], "line string")
    plan = (extract_patterns_stage(df)
            ._jdf.queryExecution().executedPlan().toString())
    # ONE Arrow scan, no per-row python
    assert plan.count("FlatMapsInPandas") <= 1
    assert "BatchEvalPython" not in plan


def test_reference_html_helper_strip_tags_goldens():
    """The reference's OWN HtmlHelperTest.testStripTags
    (HtmlHelperTest.java:53-79) md5 golden over its removeHtmlTest.html
    fixture."""
    import hashlib

    fixture = ("/root/reference/palladian-commons/src/test/resources/"
               "removeHtmlTest.html")
    # FileHelper.readFileToString appends "\n" after EVERY readLine
    # (FileHelper.java:351-354) — mirror it or the md5 shifts
    raw = open(fixture, encoding="utf-8").read()
    content = "".join(l + "\n" for l in raw.splitlines())
    result = strip_html_tags(content)
    assert hashlib.md5(result.encode("utf-8")).hexdigest() == \
        "65efc6cba6ae65e3e53e15c07e491fc4"

    # '<' that opens no tag survives
    assert strip_html_tags("It weights <3 tons<br />(bridge)") == \
        "It weights <3 tons(bridge)"


def test_reference_html_to_readable_text_goldens(spark):
    """HtmlHelperTest.testHtmlToReadableText (HtmlHelperTest.java:
    43-49) — scalar twin AND the pure-JVM column chain."""
    from kgp.contextpatterns import (html_to_readable_text,
                                     html_to_readable_text_col)
    s1 = ("Event: Dropkick Murphys<br>Venue: Aragon Ballroom<br>"
          "Start: 2/22/2013 7:00:00 PM<br>Category: CONCERTS "
          "ALTERNATIVE")
    s2 = ('<p class="standfirst">David Cameron describes dismissal '
          "of claims that EU law gives prisoners right to vote as 'a "
          "great victory for common sense'</p><p>Two convicted "
          "murderers who argued that European Union law gave them "
          "the right to vote in UK elections have had their appeals "
          "dismissed by the supreme court at Westminster.</p>")
    s3 = "".join(
        f'<li><b><a href="http://x/{i}">headline {i}</a></b></li>'
        + ("  " if i in (4, 5) else "") for i in range(6))
    assert len(html_to_readable_text(s1).split("\n")) == 4
    assert len(html_to_readable_text(s2).split("\n\n")) == 2
    assert len(html_to_readable_text(s3).split("\n")) == 6
    df = spark.createDataFrame([(s1,), (s2,), (s3,)], "h string")
    got = [r[0] for r in
           df.select(html_to_readable_text_col(F.col("h"))).collect()]
    assert got == [html_to_readable_text(s) for s in (s1, s2, s3)]
