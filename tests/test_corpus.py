"""Corpus generator: determinism, shape, skew, golden-text structure."""

from __future__ import annotations

from kgp import constants as C
from kgp.corpus import expected_canon, gazetteer, synth_pages


def test_pages_shape_and_determinism(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    a = pages.orderBy("url").limit(5).collect()
    b = synth_pages(spark, sf_dir).orderBy("url").limit(5).collect()
    assert a == b
    assert pages.count() == 500
    r = a[0]
    assert r.url.startswith("https://")
    assert isinstance(r.html, (bytes, bytearray))
    assert r.text.endswith("\n\n")


def test_golden_text_structure(spark, sf_dir):
    rows = synth_pages(spark, sf_dir, with_doc_id=True).where(
        "doc_id in (0, 5, 7, 17, 49)").collect()
    by_id = {r.doc_id: r for r in rows}
    t0 = by_id[0].text
    # doc 0: per=John Smith org=Acme Corp city=Springfield city2=Porthaven
    assert t0.startswith("Acme Corp update 0\n\n")
    assert "John Smith, the chief executive officer of Acme Corp" in t0
    assert "John Smith was born in Porthaven." in t0
    assert "Springfield is the capital of Freedonia." in t0  # doc0 % 3 == 0
    assert C.D1 in t0
    # doc 5: alias condition (5%9==5, 5%13=5 -> >=3, NOT aliased)
    assert "Wayne Enterprises is headquartered in" in by_id[5].text
    # doc 17: not %9==5 -> no alias surface anywhere
    assert all(a not in by_id[17].text for a in C.ORG_ALIASES)
    # unclosed-tag adversarial variant: article <p>s unclosed, only the
    # comments (2) + footer (1) paragraphs still close
    html7 = bytes(by_id[7].html).decode()
    assert html7.count("</p>") == 3
    assert bytes(by_id[49].html).decode().count("</p>") > 3


def test_alias_surface_used(spark, sf_dir):
    # doc_id 14: 14%9=5, 14%13=1 -> alias "Globex Systems International"
    r = synth_pages(spark, sf_dir, with_doc_id=True).where(
        "doc_id = 14").collect()[0]
    assert "Globex Systems International is headquartered in" in r.text


def test_host_skew(spark, sf_dir):
    from pyspark.sql import functions as F
    pages = synth_pages(spark, sf_dir)
    top = (pages.groupBy(F.regexp_extract("url", "https://([^/]+)/", 1)
                         .alias("host"))
           .count().orderBy(F.desc("count")).first())
    assert top.host == "news.example.com"
    assert top["count"] >= 0.35 * 500


def test_gazetteer(spark):
    g = gazetteer(spark)
    assert g.count() == 17 + 13 + 3 + 1 + 11 + 1 + 7
    dup = g.where(f"name = '{C.CITIES[0]}'").collect()
    assert len(dup) == 2
    canon = expected_canon()
    assert canon[C.ORG_CHAIN_ID] == C.ORG_ID
    assert canon[C.ORG_ALIAS_ID + 1] == C.ORG_ID + 1


def test_alternate_names_java_split_rule(spark, tmp_path):
    """The alternate-names reader applies Java's split("\\t"): trailing
    empty fields are dropped before the 4-field check, interior empty
    ones are kept — so an interior-empty name survives as ''."""
    from kgp.corpus import alternate_names_from_lines
    lines = ["1\t10\tde\tStuttgart",
             "2\t11\tde\t\tfoo",         # interior-empty name: kept
             "3\t12\tde\t",              # trailing-empty name: skipped
             "4\t13\tde\t\t\t",          # all-trailing empties: skipped
             "5\t14\t\tNoLang\t\t",      # empty language, trailing tabs
             "6\t15\tabbr\tStgt",
             "7\t16\tpost\t70173",       # not an ISO 639-1 code
             "8\t17\ten"]                # < 4 fields
    path = tmp_path / "alternateNames.txt"
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    # (geonameid, name, language): the id is the SECOND column
    want = [(10, "Stuttgart", "de"), (11, "", "de"), (14, "NoLang", None),
            (15, "Stgt", None)]
    df = alternate_names_from_lines(spark.read.text(str(path)))
    assert sorted(tuple(r) for r in df.collect()) == want

