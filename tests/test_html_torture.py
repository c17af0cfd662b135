"""Adversarial real-crawl HTML torture battery.

Byte-identity on clean pages is pinned by the fixture sweeps and the
extract_text gate; this file stresses the WHATWG edges real crawls
hit constantly — CDATA sections in HTML content, processing
instructions, entity boundary cases, encoding lies in <meta>, deep
nesting, and table-structure misnesting (the "clear the stack back
to table context" / "close the cell" / in-body-ignore rules of
13.2.6.4.9-4.13) — plus a deterministic corruption fuzz pass over
the sf0.01 corpus asserting the full extract stage never throws.

Every tree expectation below is the WHATWG tree-construction output
(browser-verified shapes).
"""

from __future__ import annotations

import pytest

from kgp.html_text import document_to_text, parse_html, sniff_decode


def _tree(html):
    def dump(n):
        if n.tag == "#text":
            return repr(n.data)
        if n.tag == "#comment":
            return f"c[{n.data!r}]"
        kids = ",".join(dump(c) for c in n.children)
        return f"{n.tag}({kids})" if kids else n.tag
    return ",".join(dump(c) for c in parse_html(html).children)


# ------------------------------------------------ tokenizer edges

def test_cdata_in_html_is_bogus_comment():
    # CDATA is only real in foreign content; in HTML it is a bogus
    # comment with the '[CDATA[' prefix preserved
    assert _tree("<p><![CDATA[x]]></p>") == "p(c['[CDATA[x]]'])"


def test_ms_conditional_section_is_bogus_comment():
    # <![if ...]> and <![endif]> end at ']>': one ']' closes the data,
    # and the text between them is ordinary content
    assert (_tree("<p><![if !IE]>x<![endif]></p>")
            == "p(c['[if !IE]'],'x',c['[endif]'])")
    assert _tree("<p><![ELSE]></p>") == "p(c['[ELSE]'])"
    # CDATA whose content starts with 'if' still closes with ']]'
    assert _tree("<p><![CDATA[if]]></p>") == "p(c['[CDATA[if]]'])"
    assert (document_to_text(parse_html("<p><![if !IE]>x y<![endif]></p>"))
            == document_to_text(parse_html("<p>x y</p>")))


def test_processing_instruction_is_bogus_comment():
    assert _tree("<p><?php e ?></p>") == "p(c['?php e ?'])"


def test_bogus_markup_declaration_is_comment():
    assert _tree("<p><!weird></p>") == "p(c['weird'])"


def test_entity_legacy_prefix_match():
    # '&notit;' matches the legacy '&not' entity, rest is literal
    assert _tree("<p>&notit;</p>") == "p('¬it;')"


def test_entity_bare_ampersand_and_out_of_range():
    # '&amp x' (no ';') resolves, numeric > 0x10FFFF becomes U+FFFD
    assert _tree("<p>&amp x &#x110000; &#65;</p>") == \
        "p('& x � A')"


# ------------------------------------------------ encoding lies

def test_meta_charset_lie_wins_over_bytes():
    # bytes are latin-1 but <meta> claims utf-8: the claim wins and
    # the bad byte becomes U+FFFD (what validator.nu/browsers do)
    raw = ('<html><head><meta charset="utf-8"></head>'
           '<body>caf\xe9</body></html>').encode("latin-1")
    assert "caf�" in sniff_decode(raw)


def test_bom_beats_conflicting_meta():
    raw = b"\xef\xbb\xbf" + (
        "<html><head><meta charset='latin-1'></head>"
        "<body>café</body>").encode("utf-8")
    assert "café" in sniff_decode(raw)


def test_meta_beyond_prescan_window_is_ignored():
    # the charset prescan covers the first 1024 bytes only; a late
    # koi8-r claim never applies and the page falls back to the
    # windows-1252 legacy default
    raw = (b"<html>" + b" " * 2000
           + b'<meta charset="koi8-r"><body>\xf0\xd2')
    out = sniff_decode(raw)
    assert "ðÒ" in out          # cp1252, not koi8-r
    assert "п" not in out            # koi8-r would give Cyrillic


def test_utf16_meta_label_means_utf8():
    # WHATWG: a utf-16 label on byte content is treated as utf-8
    raw = ('<meta charset="utf-16"><body>café'
           ).encode("utf-8")
    assert "café" in sniff_decode(raw)


# ------------------------------------------------ deep nesting

def test_deep_formatting_nesting_no_recursion_error():
    html = "<b><i>" * 150 + "x"
    t = document_to_text(parse_html(html))
    assert "x" in t


def test_deep_div_nesting_no_recursion_error():
    html = "<div>" * 600 + "deep" + "</div>" * 600
    t = document_to_text(parse_html(html))
    assert "deep" in t


def test_noahs_ark_bounds_reconstruction():
    # the active formatting list clamps identical entries at 3, so a
    # pathological run of <b> tags cannot blow up reconstruction
    out = _tree("<p>" + "<b>" * 50 + "x<div>y")
    assert out.count("b(", out.index("div")) == 3


# ------------------------------------------------ table misnesting

def test_td_after_fostered_p_clears_to_table():
    # the fostered <p> stays on the open stack; the <td> must clear
    # the stack back to table context before implying tbody/tr
    assert _tree("<table><p>foo<td>bar</table>") == \
        "p('foo'),table(tbody(tr(td('bar'))))"


def test_td_in_cell_closes_the_cell():
    assert _tree("<table><td><p>hi<td>next</table>") == \
        "table(tbody(tr(td(p('hi')),td('next'))))"


def test_tr_in_cell_closes_cell_and_row():
    assert _tree("<table><td><p>hi<tr><td>b</table>") == \
        "table(tbody(tr(td(p('hi'))),tr(td('b'))))"


def test_stray_td_outside_any_table_is_ignored():
    # "in body": td/th/tr/section start tags are parse errors and
    # the token is IGNORED — the text still lands in the div
    assert _tree("<div><td>x</div>") == "div('x')"
    assert _tree("<div><tr>y</div>") == "div('y')"


def test_nested_table_in_cell_keeps_inner_context():
    assert _tree(
        "<table><tr><td><table><p>x<td>y</table>z</table>") == \
        "table(tbody(tr(td(p('x'),table(tbody(tr(td('y')))),'z'))))"


def test_caption_after_fostered_p():
    assert _tree("<table><p>f<caption>c</caption><td>x</table>") == \
        "p('f'),table(caption('c'),tbody(tr(td('x'))))"


def test_mixed_encoding_table_text_extracts():
    raw = ('<meta charset="utf-8"><table><p>caf\xe9'
           '<td>z\xfcrich</table>').encode("latin-1")
    t = document_to_text(parse_html(sniff_decode(raw)))
    assert "caf�" in t and "z�rich" in t


# ------------------------------------------------ corruption fuzz

def _mutations(raw: bytes, doc_id: int) -> list[bytes]:
    """Deterministic corruption battery for one page: truncation at
    a content-dependent offset, invalid UTF-8 splice, tag-boundary
    splice, nulls, and a reversed chunk."""
    n = len(raw)
    cut = (doc_id * 7919 + 13) % max(n - 1, 1) + 1
    return [
        raw[:cut],                                    # truncated
        raw[:cut] + b"\xfe\xff\x80\x80" + raw[cut:],  # invalid UTF-8
        raw[:cut] + b"<td><![CDATA[" + raw[cut:],     # spliced markup
        raw.replace(b"<p>", b"<p \x00 ", 3),          # NULs in tag
        raw[:cut] + raw[cut:cut + 64][::-1] + raw[cut + 64:],
    ]


def test_fuzz_corpus_extraction_never_throws(spark):
    """End-to-end: run the REAL extract stage over deterministically
    corrupted sf0.01 pages — every mutation must parse and extract
    without an exception (output text may be anything)."""
    from pyspark.sql import functions as F

    from kgp import corpus as _corpus
    from kgp.html_text import extract_stage

    pages = (_corpus.synth_pages(spark, "/root/testdata/sf0.01",
                                 with_doc_id=True)
             .where(F.col("doc_id") % 9 == 0).limit(60)
             .select("doc_id", "url", "warc_ts", "html", "text",
                     "lang")
             .collect())
    assert len(pages) >= 50
    rows = []
    for r in pages:
        for k, m in enumerate(_mutations(bytes(r.html), r.doc_id)):
            rows.append((f"{r.url}#m{k}", r.warc_ts, m, r.text,
                         r.lang))
    mutated = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    out = extract_stage(mutated)
    # the action itself is the assertion: no task may throw
    assert out.count() == len(rows)
    # sane shape: every row produced a (possibly empty) text
    assert out.where(F.col("text").isNull()).count() == 0
