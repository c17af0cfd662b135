"""HTML → text extraction: hand-derived unit goldens + corpus byte-identity.

Unit expectations hand-computed from the reference rules
(HtmlHelper.documentToText — skip set, block-entry newline, >=2-space-run
deletion; /root/reference/palladian-commons/.../html/HtmlHelper.java:694-728).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kgp.corpus import synth_pages
from kgp.html_text import (clean_dom, detect_language, document_to_text,
                           extract_main_content, extract_stage, find_main_node,
                           parse_html)

# ------------------------------------------------- documentToText unit


def test_doc_to_text_skips_script_style_head():
    html = ("<html><head><title>T</title></head><body>"
            "<script>var x;</script><style>.a{}</style>"
            "<p>Hello</p></body></html>")
    # html(not block) > body(not block) > p(block): "\n" then "Hello"
    assert document_to_text(parse_html(html)) == "\nHello"


def test_doc_to_text_block_newline_before_content():
    html = "<div>a</div><div>b</div>"
    assert document_to_text(parse_html(html)) == "\na\nb"


def test_doc_to_text_space_run_deletion():
    # the reference DELETES runs of >=2 spaces (replaceAll("[ ]{2,}", ""))
    assert document_to_text(parse_html("<p>a  b   c</p>")) == "\nabc"
    assert document_to_text(parse_html("<p>a  b</p>")) == "\nab"
    assert document_to_text(parse_html("<p>a b</p>")) == "\na b"


def test_doc_to_text_space_run_deletion_is_per_node():
    # HtmlHelper.java:727 applies the deletion at EVERY recursive call:
    # the leaf pass collapses "a  " to "a" BEFORE the sibling's " b" is
    # concatenated, so the runs never merge — the answer is "a b", not
    # the "ab" a single global pass over the concatenation would give.
    assert document_to_text(parse_html("a  <span></span> b")) == "a b"
    # leaf-level run deletion, then clean single-space junction
    assert document_to_text(parse_html("a <span></span>b")) == "a b"
    # junction run of exactly two (1 trailing + 1 leading) is deleted
    # at the parent level
    assert document_to_text(parse_html("a <span></span> b")) == "ab"
    # all-space text node between siblings merges runs at parent level
    assert document_to_text(parse_html("a <b>&#32;</b> c")) == "ac"


def test_doc_to_text_option_and_comment_skipped():
    html = ("<p>x<!-- hidden --><select><option>opt</option></select>y</p>")
    out = document_to_text(parse_html(html))
    assert "hidden" not in out and "opt" not in out
    assert "x" in out and "y" in out


def test_doc_to_text_inline_vs_block():
    html = "<p>one <b>two</b> three</p><br>four"
    out = document_to_text(parse_html(html))
    assert out == "\none two three\nfour"


def test_unclosed_p_tags_implied_close():
    a = parse_html("<div><p>one<p>two</div>")
    b = parse_html("<div><p>one</p><p>two</p></div>")
    assert document_to_text(a) == document_to_text(b) == "\n\none\ntwo"


def test_nested_table_adversarial():
    html = ("<table><tr><td>a</td><td>b<table><tr><td>c</td></tr></table>"
            "</td></tr></table>")
    out = document_to_text(parse_html(html))
    for ch in "abc":
        assert ch in out


# ------------------------------------------------- main content / lang


def test_main_content_hint_path():
    html = ('<html><body><nav>Menu Home</nav>'
            '<div class="article-body"><h1>Title</h1>'
            "<p>First real sentence is long enough. Second one also here.</p>"
            "<p>Third paragraph sentence for density.</p></div>"
            "<footer>(c) foot</footer></body></html>")
    r = extract_main_content(html)
    assert r["text"] == ("Title\n\nFirst real sentence is long enough. "
                         "Second one also here.\n\n"
                         "Third paragraph sentence for density.\n\n")
    assert r["title"] == "Title"


def test_main_content_density_path_without_hint():
    html = ('<html><body><div class="zone-a">'
            "<p>This is the main article text with value. "
            "It has several proper sentences inside. "
            "Density scoring should find this division.</p></div>"
            '<div class="other"><p>tiny bit</p></div></body></html>')
    root = clean_dom(parse_html(html))
    main = find_main_node(root)
    assert main is not None and main.attrs.get("class") == "zone-a"


def test_main_content_fallback_small():
    html = "<html><body><p>Too small.</p></body></html>"
    r = extract_main_content(html)
    assert r["text"] == "\nToo small."  # full documentToText fallback


def test_detect_language():
    assert detect_language(parse_html('<html lang="de"><body>x</body>')) == "de"
    assert detect_language(
        parse_html('<html><head><meta http-equiv="content-language" '
                   'content="fr-FR"></head>')) == "fr"
    assert detect_language(parse_html("<html>"),
                           "https://x.example.de/a") == "de"


# --------------------------------------- corpus-wide byte identity


def test_corpus_byte_identity(spark, sf_dir):
    """THE invariant: extractor output == golden text for every url."""
    pages = synth_pages(spark, sf_dir)
    docs = extract_stage(pages)
    joined = docs.alias("d").join(pages.alias("p"), "url").select(
        "url", F.col("d.text").alias("got"), F.col("p.text").alias("want"),
        F.col("d.lang").alias("got_lang"), F.col("p.lang").alias("want_lang"))
    bad = joined.where("got <> want").count()
    assert bad == 0, joined.where("got <> want").first()
    assert joined.where("got_lang <> want_lang").count() == 0


def test_corpus_sentences(spark, sf_dir):
    docs = extract_stage(synth_pages(spark, sf_dir, with_doc_id=False))
    row = docs.where(F.col("url").contains("/0.html")).first()
    sents = [s.text for s in row.sentences]
    assert sents[0].startswith("John Smith, the chief executive officer")
    assert any(s.startswith("Springfield is the capital of") for s in sents)
    assert sents[-1].endswith("river bank.")
    # headline is not a real sentence
    assert not any("update" in s for s in sents)


# ------------------------------------------------ adversarial inputs


def test_extract_survives_hostile_inputs():
    from kgp.html_text import extract_main_content
    cases = [
        b"",
        b"\xff\xfe<p>caf\xc3\xa9</p>",                       # bad utf-8
        b"just plain text, no markup at all.",
        ("<div>" * 5000 + "x" + "</div>" * 5000).encode(),   # deep nesting
        b"<table><tr><td>a<td>b<tr><td>c</table>",           # implied closes
        b"<script>var x = '<p>not text</p>';</script>",
    ]
    for html in cases:
        r = extract_main_content(html, "https://x.example.com/a")
        assert isinstance(r["text"], str)


def test_deep_nesting_no_recursion_error():
    from kgp.html_text import document_to_text, parse_html
    root = parse_html("<div>" * 5000 + "hello" + "</div>" * 5000)
    assert "hello" in document_to_text(root)
    assert root.text_content().strip() == "hello"


# ---------------- XPath evaluation / readable text

FIXDIR = ("/root/reference/palladian-core/src/test/resources/"
          "pageContentExtractor")


def test_xpath_nodes_evaluator():
    from kgp.html_text import xpath_nodes
    root = parse_html("<html><body><div><h1>T</h1><p>a</p><p>b</p>"
                      "<ul><li>x</li></ul></div></body></html>")
    ps = xpath_nodes(root, "/html/body/div/p")
    assert [p.text_content() for p in ps] == ["a", "b"]
    assert len(xpath_nodes(root, "/html/body/div/p[2]")) == 1
    sel = xpath_nodes(root, "/html/body/div/*[(self::h1) or (self::ul)]")
    assert [n.tag for n in sel] == ["h1", "ul"]
    assert [n.tag for n in xpath_nodes(root, "//li")] == ["li"]


def test_document_to_readable_text():
    from kgp.html_text import document_to_readable_text
    root = parse_html("<div><p>one</p><script>skip()</script>"
                      "<p>two</p></div>")
    out = document_to_readable_text(root)
    assert "one" in out and "two" in out and "skip" not in out
    # block elements newline on enter AND leave
    assert "\none\n" in out


# -------------------- HTML5 tree-construction cases (round 3)


def _txt(html):
    from kgp.html_text import document_to_text, parse_html
    return document_to_text(parse_html(html))


def test_foster_parenting_div_in_table():
    # WHATWG "in table": a <div> between table rows is inserted BEFORE
    # the table, not inside it
    out = _txt("<body><table><div>hoisted</div>"
               "<tr><td>cell</td></tr></table></body>")
    assert out.index("hoisted") < out.index("cell")
    from kgp.html_text import parse_html
    root = parse_html("<body><table><div>h</div><tr><td>c</td></tr>"
                      "</table></body>")
    body = next(n for n in root.iter() if n.tag == "body")
    assert [c.tag for c in body.children] == ["div", "table"]


def test_foster_parenting_stray_text_in_table():
    out = _txt("<body><table>stray<tr><td>cell</td></tr></table></body>")
    assert out.index("stray") < out.index("cell")


def test_whitespace_in_table_not_fostered():
    from kgp.html_text import parse_html
    root = parse_html("<body><table> <tr><td>c</td></tr></table></body>")
    body = next(n for n in root.iter() if n.tag == "body")
    assert [c.tag for c in body.children] == ["table"]


def test_end_tag_br_acts_as_br():
    # WHATWG: </br> is treated as a <br> start tag -> block newline in
    # documentToText (br is in HtmlHelper.BLOCK_ELEMENTS)
    assert _txt("<body>a</br>b</body>") == "a\nb"


def test_nested_table_start_closes_open_table():
    from kgp.html_text import parse_html
    root = parse_html("<body><table><tr><td>a</td><table><tr><td>b"
                      "</td></tr></table></body>")
    body = next(n for n in root.iter() if n.tag == "body")
    assert [c.tag for c in body.children] == ["table", "table"]


def test_charset_sniffing():
    from kgp.html_text import sniff_decode
    # meta prescan: latin-1 label decodes as windows-1252
    raw = ('<html><head><meta http-equiv="content-type" '
           'content="text/html; charset=iso-8859-1"></head>'
           '<body>f\xfcr</body></html>').encode("iso-8859-1")
    assert "für" in sniff_decode(raw)
    # BOM wins
    assert sniff_decode("﻿café".encode("utf-8")) == "café"
    # unlabelled valid utf-8 stays utf-8
    assert "café" in sniff_decode("<p>café</p>".encode("utf-8"))
    # unlabelled invalid utf-8 falls back to windows-1252
    assert "\x80" not in sniff_decode(b"<p>caf\xe9</p>")
    assert "café" in sniff_decode(b"<p>caf\xe9</p>")


def test_extract_stage_auto_german_sentences(spark):
    # auto mode: content-based lang-ID routes German prose through the
    # DE sentence regex, whose abbreviation lookbehinds (z. B., bzw.,
    # Nr. — SENTENCE_SPLIT_REGEX_DE, Tokenizer.java:31) must NOT split
    de_body = ("Die Stadt hat z. B. nicht nur einen Bahnhof gebaut. "
               "Das Projekt kostete ca. zehn Millionen Euro und wurde "
               "bzw. wird von der Stadt getragen. "
               "Die Nr. 7 der Liste ist nicht das Ende der Geschichte.")
    html = ('<html lang="en"><body><div class="article-body"><p>'
            + de_body + "</p></div></body></html>").encode()
    pages = spark.createDataFrame([("https://x.example.de/a", html)],
                                  "url string, html binary")
    row = extract_stage(pages.withColumn(
        "warc_ts", F.current_timestamp())).first()
    sents = [s.text for s in row.sentences]
    # three sentences — none split at the abbreviation dots
    assert len(sents) == 3, sents
    assert sents[0].startswith("Die Stadt hat z. B.")
    assert "ca. zehn Millionen" in sents[1]
    assert sents[2].startswith("Die Nr. 7")

    # same prose through the EN regex splits differently ("z. B." is
    # not in the EN lookbehind list) — pinning that auto picked DE
    from kgp.tokenize import get_sentences
    en_sents = get_sentences(de_body, only_real=True, language="en")
    assert len(en_sents) != 3


def test_extract_stage_auto_english_unaffected(spark):
    html = ('<html lang="de"><body><div class="article-body"><p>'
            "The committee was not convinced by the proposal. "
            "It asked for more time and for more evidence of the plan."
            "</p></div></body></html>").encode()
    pages = spark.createDataFrame([("https://x.example.de/a", html)],
                                  "url string, html binary")
    row = extract_stage(pages.withColumn(
        "warc_ts", F.current_timestamp())).first()
    # declared lang is de, but the content is English -> EN split
    assert len(row.sentences) == 2


def test_adoption_agency_formatting_end_keeps_block_open():
    """</b> across an open <div> removes the formatting entry but must
    NOT close the div (the adoption-agency outcome for text placement):
    text after the end tag stays inside the block."""
    from kgp.html_text import parse_html
    root = parse_html("<body><b>one<div>two</b>three</div>after</body>")
    div = next(n for n in root.iter() if n.tag == "div")
    assert "three" in div.text_content()
    body = next(n for n in root.iter() if n.tag == "body")
    # "after" is a direct child of body, not swallowed by <b>
    assert any(c.tag == "#text" and "after" in (c.data or "")
               for c in body.children)


def test_misnested_special_end_tag_ignored():
    """WHATWG 'any other end tag': </span> with an open <div> in the
    way is ignored — the div stays open and the span swallows the
    following content (matching browser trees)."""
    from kgp.html_text import parse_html
    root = parse_html("<body><span><div>x</span>y</div>z</body></html>")
    div = next(n for n in root.iter() if n.tag == "div")
    assert "y" in div.text_content()
    span = next(n for n in root.iter() if n.tag == "span")
    assert "z" in span.text_content()


def test_ul_end_closes_unclosed_li():
    """</ul> with unclosed <li> children pops through them (generate
    implied end tags) — the codinghorror fixture case: content after
    the list must not nest inside the last <li>."""
    from kgp.html_text import parse_html
    root = parse_html("<body><ul><li>a<li>b</ul><p>after</p></body>")
    ul = next(n for n in root.iter() if n.tag == "ul")
    assert "after" not in ul.text_content()
    assert len([c for c in ul.children if c.tag == "li"]) == 2


def test_block_end_tag_not_in_scope_ignored():
    """</div> inside a table cell must not close a div outside the
    table (scope barrier), and an implied </p> is likewise bounded."""
    from kgp.html_text import parse_html
    root = parse_html("<body><div>out<table><tr><td>in</div>still"
                      "</td></tr></table>tail</div></body>")
    td = next(n for n in root.iter() if n.tag == "td")
    assert "still" in td.text_content()
    # the outer div survives until its real end tag
    div = next(n for n in root.iter() if n.tag == "div")
    assert "tail" in div.text_content()


def test_table_closes_p_and_td_p_is_scoped():
    """<table> start closes an open <p> (standards mode); a <p> opened
    inside a td is closed by a block start WITHIN the cell, not by
    anything outside (button scope bounded at the cell)."""
    from kgp.html_text import parse_html
    root = parse_html("<body><p>before<table><tr><td><p>inner<div>d"
                      "</div></td></tr></table>after</body>")
    body = next(n for n in root.iter() if n.tag == "body")
    assert [c.tag for c in body.children
            if not c.tag.startswith("#")] == ["p", "table"]
    outer_p = next(n for n in root.iter() if n.tag == "p")
    assert outer_p.text_content() == "before"
    td = next(n for n in root.iter() if n.tag == "td")
    inner_p = next(n for n in td.iter() if n.tag == "p")
    assert "d" not in inner_p.text_content()   # div closed it
    assert "d" in td.text_content()


# ---------------- adoption agency (WHATWG 13.2.6.4.7)

def _tree(html):
    from kgp.html_text import parse_html

    def dump(n):
        if n.tag == "#text":
            return repr(n.data)
        kids = ",".join(dump(c) for c in n.children)
        return f"{n.tag}({kids})" if kids else n.tag
    root = parse_html(html)
    return ",".join(dump(c) for c in root.children)


def test_aaa_b_p_misnest():
    # <b> spans a <p> boundary: reconstruction re-opens it in the new
    # paragraph, </b> closes the clone (browser-verified shape)
    assert _tree("<p>1<b>2<p>3</b>4") == \
        "p('1',b('2')),p(b('3'),'4')"


def test_aaa_classic_bi():
    assert _tree("<p><b><i>bi</b>i-only</i>plain</p>") == \
        "p(b(i('bi')),i('i-only'),'plain')"


def test_aaa_a_reopen():
    # WHATWG: a second <a> adopts the first out of the way
    assert _tree("<a>one<a>two</a>") == "a('one'),a('two')"


def test_aaa_furthest_block_rewrap():
    # text after </b> inside the still-open block is NOT bold; the
    # block's earlier content is re-wrapped in a clone of <b>
    assert _tree("<b>bold<div>still bold</b>not bold</div>") == \
        "b('bold'),div(b('still bold'),'not bold')"


def test_aaa_reconstruct_after_block_close():
    assert _tree("<div><b>x</div>y") == "div(b('x')),b('y')"


def test_aaa_noahs_ark():
    # the active-formatting LIST keeps at most 3 identical entries,
    # so the reconstructed run inside the div is capped at 3 (the 5
    # original sibling <b>s stay in the DOM untouched)
    out = _tree("<p>" + "<b>" * 5 + "x<div>y")
    assert out == "p(b(b(b(b(b('x')))))),div(b(b(b('y'))))"


def test_aaa_ignores_unopened_formatting_end():
    assert _tree("<p>x</b>y</p>") == "p('x','y')"


def test_aaa_text_output_stable():
    # document_to_text must see identical text regardless of the
    # inline re-wrapping the algorithm performs
    from kgp.html_text import document_to_text, parse_html
    t = document_to_text(parse_html(
        "<p>1<b>2<p>3</b>4<div><i>5</div>6"))
    for ch in "123456":
        assert ch in t


# ---------------- reference fixture pages


def test_get_links_fixture_base_href():
    # PageAnalyzerTest.java:208-217: getLinks resolves against the
    # <base> tag (test9) and the document URL (test10)
    from kgp.html_text import parse_html, sniff_decode
    from kgp.webgraph import get_links
    for name in ("test9.html", "test10.html"):
        path = os.path.join(FIXDIR, name)
        if not os.path.exists(path):
            pytest.skip("reference fixtures not available")
        root = parse_html(sniff_decode(open(path, "rb").read()))
        links = get_links(root, "http://www.example.com/", True, True)
        assert links[0]["url"] == "http://www.example.com/test.html", name

