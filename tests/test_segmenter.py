"""PageSegmenter port tests: listTags/fingerprint goldens (the
reference's truncation + skip quirks), asymmetric similarity math,
compareDocuments hand goldens (short-list ##### fallback, xpath
surgery, nonconflict->conflict promotion), the 50% incompatibility
rule, substring scrub, rating average-of-averages, and JVM==python
fingerprint parity on the real synth corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgp.html_text import parse_html
from kgp.segmenter import (color_of, compare_nodes, fingerprint,
                           fp_jaccard, fp_similarity, list_tags,
                           node_similarity, page_fingerprints,
                           page_segments_stage, segment_page,
                           tag_qgrams_col, template_pairs)


def test_list_tags_quirks():
    html = ('<!DOCTYPE html><html lang="en"><head><title>T</title>'
            '<meta charset="utf-8"><body><header><nav>'
            '<div class="x"><p>a</p><header id="h"></header>'
            '</div></body></html>')
    tags = list_tags(html)
    # <!DOCTYPE..>, <html lang..>, <meta charset..> -> <meta> kept;
    # <header id=..> -> <header> contains '<head' -> DROPPED, but the
    # bare <header> (no attrs) survives — the reference's quirk
    assert tags == ["<head>", "<title>", "</title>", "<meta>",
                    "<body>", "<header>", "<nav>", "<div>", "<p>",
                    "</p>", "</header>", "</div>", "</body>",
                    "</html>"]


def test_fingerprint_counts():
    # 10 tags -> two 9-grams
    html = "<a><b><c><d><e><f><g><h><i><j>"
    fp = fingerprint(html)
    assert fp == {
        "<a> <b> <c> <d> <e> <f> <g> <h> <i>": 1,
        "<b> <c> <d> <e> <f> <g> <h> <i> <j>": 1,
    }
    assert fingerprint("<a><b>") == {}


def test_similarity_asymmetric():
    fp1 = {"x": 2, "y": 1}
    fp2 = {"x": 4, "z": 9}
    # over fp1's grams: x -> 1 - 2/4 = 0.5 ; y -> 1  => mean 0.75
    assert fp_similarity(fp1, fp2) == pytest.approx(0.75)
    # over fp2's grams: x -> 0.5 ; z -> 1  => 0.75 (same here)
    assert fp_similarity(fp2, fp1) == pytest.approx(0.75)
    fp3 = {"x": 2, "y": 1, "w": 1}
    # fp1 vs fp3: x equal -> 0, y equal -> 0 => 0
    assert fp_similarity(fp1, fp3) == 0.0
    # fp3 vs fp1: w missing -> 1 => 1/3
    assert fp_similarity(fp3, fp1) == pytest.approx(1 / 3)
    assert fp_jaccard(fp1, fp3) == pytest.approx(2 / 3)


def _bodies(h1: str, h2: str):
    r1, r2 = parse_html(h1), parse_html(h2)
    b = lambda r: next(n for n in r.iter() if n.tag == "body")  # noqa
    return b(r1), b(r2)


def test_compare_nodes_golden():
    b1, b2 = _bodies(
        "<body><div>same</div><div><h1>A</h1><p>x</p></div></body>",
        "<body><div>same</div><div><h1>B</h1><p>x</p></div></body>")
    c, nc = [], []
    compare_nodes(b1, b2, c, nc, 100, "/html/body")
    assert c == ["/html/body/div[2]", "/html/body/div[2]/h1[1]"]
    assert nc == ["/html/body/div[1]", "/html/body/div[2]/p"]


def test_compare_nodes_short_list_fallback():
    b1, b2 = _bodies("<body><p>a</p><p>b</p></body>",
                     "<body><p>a</p></body>")
    c, nc = [], []
    compare_nodes(b1, b2, c, nc, 100, "/html/body")
    # second <p> has no counterpart -> compared against '#####'
    assert c == ["/html/body/p[2]"]
    assert nc == ["/html/body/p[1]"]


def test_compare_nodes_text_child_maps_to_parent():
    b1, b2 = _bodies("<body>hello<p>x</p></body>",
                     "<body>world<p>x</p></body>")
    c, nc = [], []
    compare_nodes(b1, b2, c, nc, 100, "/html/body")
    # the differing #text child rates the PARENT xpath
    assert c == ["/html/body"]
    assert "/html/body/p" in nc or "/html/body/p[2]" in nc


def test_node_similarity_average_of_averages():
    r1 = parse_html("<html><body><div id='d'>l1\nl2</div></body></html>")
    r2 = parse_html("<html><body><div>l1\nl3</div></body></html>")
    roots = [r1, r2]
    # unique line sets {l1,l2} vs {l1,l3}: jacc = 1/3 both ways
    sim = node_similarity(roots, "/html/body/div")
    assert sim == pytest.approx(1 / 3)


def test_segment_page_end_to_end():
    page = ("<html><body><nav>menu</nav>"
            "<div><h1>T1</h1><p>body one</p></div>"
            "<footer>foot</footer></body></html>")
    sims = [("<html><body><nav>menu</nav>"
             f"<div><h1>T{i}</h1><p>body {i}</p></div>"
             "<footer>foot</footer></body></html>") for i in (2, 3)]
    segs = {s["xpath"]: s for s in segment_page(page, sims)}
    assert segs["/html/body/nav[1]"]["variability"] == 0.0
    assert segs["/html/body/footer"]["variability"] == 0.0
    div = segs["/html/body/div[1]"]
    assert div["variability"] > 0.5
    assert segs["/html/body/div[1]/h1[1]"]["variability"] > 0.5
    assert color_of(div["variability"]) in (
        "RED", "LIGHTRED", "REDYELLOW", "YELLOW")
    # depths in the ORIGINAL document: body div = 2 hops from root+html
    assert div["depth"] == 3


def test_incompatible_similar_page_dropped():
    page = ("<html><body><div>a</div><p>k</p></body></html>")
    good = "<html><body><div>b</div><p>k</p></body></html>"
    # wildly different structure -> new conflicts >= 50% growth
    bad = ("<html><body><ul>x</ul><ol>y</ol><span>z</span>"
           "<em>w</em><b>v</b></body></html>")
    segs = segment_page(page, [good, bad])
    xps = {s["xpath"] for s in segs}
    # conflicts from `bad` (ul/ol/span/em/b paths) must NOT appear
    assert not any("/ul" in x or "/ol" in x for x in xps)


def test_color_steps():
    assert color_of(0.0) == "GREEN"
    assert color_of(0.14) == "GREEN"
    assert color_of(0.15) == "LIGHTGREEN"
    assert color_of(0.50) == "YELLOW"
    assert color_of(0.87) == "RED"


# ------------------------------------------------------ spark side


@pytest.fixture(scope="module")
def pages(spark):
    from kgp.corpus import synth_pages
    return synth_pages(spark, "/root/testdata/sf0.001").limit(80).cache()


def test_jvm_fingerprint_matches_python(pages):
    from collections import Counter
    rows = pages.select(
        "url", F.decode("html", "UTF-8").alias("h"),
        tag_qgrams_col(F.decode("html", "UTF-8")).alias("qgrams")
    ).collect()
    assert rows
    for r in rows:
        assert dict(Counter(r["qgrams"])) == fingerprint(r["h"])


def test_template_pairs_and_segments(pages, spark):
    pairs = template_pairs(pages).cache()
    got = pairs.collect()
    assert got, "same-host template pages must pair"
    for r in got:
        assert 0.689 <= r["erg"] < 1.0
        assert 1 <= r["rank"] <= 5
    # local twin parity on one sampled pair
    html_by_url = {r["url"]: bytes(r["html"]).decode("utf-8")
                   for r in pages.select("url", "html").collect()}
    r0 = got[0]
    fp1 = fingerprint(html_by_url[r0["url"]])
    fp2 = fingerprint(html_by_url[r0["sim_url"]])
    assert r0["vari"] == pytest.approx(fp_similarity(fp1, fp2), abs=1e-6)
    assert r0["jacc"] == pytest.approx(fp_jaccard(fp1, fp2), abs=1e-9)

    segs = page_segments_stage(pages, pairs)
    seg_rows = segs.collect()
    assert seg_rows
    # distributed == local twin for one url
    url0 = seg_rows[0]["url"]
    sims = sorted([r for r in got if r["url"] == url0],
                  key=lambda r: (-r["erg"], r["sim_url"]))
    local = segment_page(
        html_by_url[url0],
        [html_by_url[r["sim_url"]] for r in sims])
    local_map = {s["xpath"]: round(s["variability"], 6) for s in local}
    dist_map = {r["xpath"]: r["variability"] for r in seg_rows
                if r["url"] == url0}
    assert dist_map == local_map


def test_no_python_in_pair_plan(pages):
    plan = (template_pairs(pages)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


# --------------------------------------- makeMutual + xml10 filter


def test_remove_xpath_indices():
    from kgp.segmenter import remove_xpath_indices
    assert remove_xpath_indices("/html/body/div[2]/p[11]") == \
        "/html/body/div/p"


def test_make_mutual_xpath():
    from kgp.segmenter import make_mutual_xpath
    xps = ["/html/body/div[1]/p[1]", "/html/body/div[1]/p[2]",
           "/html/body/div[1]/p[3]", "/html/body/span[1]"]
    # group /html/body/div/p wins (count 3); most specific member
    # kept; the varying p index is dropped, the constant div[1] kept
    assert make_mutual_xpath(xps) == "/html/body/div[1]/p"
    assert make_mutual_xpath([]) == ""
    assert make_mutual_xpath(["/a/b[2]"]) == "/a/b[2]"

