"""Head/Structure/URL/HTTP date getters + raters vs the reference's
own test pages and goldens (HeadDateGetterTest.java,
StructureDateGetterTest.java, UrlDateGetterTest.java,
HttpDateGetterTest.java, and rater semantics from
palladian-experimental)."""

from __future__ import annotations

import pytest

from kgp import dateparse as dp
from kgp import datestack as ds
from kgp.dateparse import get_normalized_date_string as norm
from kgp.html_text import parse_html

RES = "/root/reference/palladian-core/src/test/resources/webPages/"


def _page(name: str):
    raw = open(RES + name, "rb").read()
    return parse_html(raw.decode("utf-8", "replace"))


# ------------------------------------------------ HeadDateGetterTest
def test_head_dates_website104():
    got = [norm(d.date) for d in ds.head_dates(_page("website104.html"))]
    assert got == ["2009-01-15", "2009-01-15 20:39", "2009-01-16"]


def test_head_dates_zeit2():
    got = [norm(d.date) for d in
           ds.head_dates(_page("dateExtraction/zeit2.htm"))]
    assert got == ["2010-09-03 09:43:13", "2010-09-02 06:00:00",
                   "2010-09-03 09:44:12", "2010-09-03 09:41:54",
                   "2010-09-03 09:43:13", "2010-09-02 06:00:00"]


def test_head_dates_website105_106():
    got = [norm(d.date) for d in ds.head_dates(_page("website105.html"))]
    assert got == ["2012-12-09", "2012-12-09 15:45:41",
                   "2012-12-09 15:49:41"]
    got = [norm(d.date) for d in ds.head_dates(_page("website106.html"))]
    assert got == ["2012-10-07 18:14:03", "2012-10-07 17:44:34"]


# ------------------------------------------- StructureDateGetterTest
def test_structure_dates_w3c():
    got = [(d.date.date_string, d.keyword, d.tag, d.depth)
           for d in ds.structure_dates(_page("webPageW3C.htm"))]
    assert got == [
        ("2010-07-08T08:02:04-05:00", "published", "span", 12),
        ("2010-07-20T11:50:47-05:00", "published", "span", 12),
        ("2010-07-13T14:55:57-05:00", "published", "span", 12),
        ("2010-07-13T14:46:56-05:00", "published", "span", 12),
        ("2010-07-20", "published", "abbr", 10),
        ("2010-07-16", "published", "abbr", 10),
        ("2010-07-07", "published", "abbr", 10)]


def test_structure_dates_website103():
    got = [d.date.date_string
           for d in ds.structure_dates(_page("website103.html"))]
    assert got == ["2002-08-06T03:08", "2002-08-06T00:00"]


def test_structure_dates_spiegel():
    got = [(norm(d.date), d.keyword, d.depth, d.tag)
           for d in ds.structure_dates(_page("dateExtraction/spiegel.html"))]
    assert got == [("2010-07-18 09:32:01", "published", 6, "div")]


def test_structure_dates_zeit3():
    got = [(norm(d.date), d.keyword, d.tag, d.depth)
           for d in ds.structure_dates(_page("dateExtraction/zeit3.html"))]
    assert len(got) == 34
    assert got[0] == ("2010-07", "data-smk_path", "body", 0)
    assert got[1] == ("2010-07-19", "published", "li", 5)
    assert all(g[:3] == ("2010-07", "id", "a") for g in got[2:])
    assert [g[3] for g in got[2:]] == [
        6, 6, 6, 6, 6, 5, 6, 6, 8, 8, 8, 6, 5, 6, 6, 8, 8, 8,
        6, 5, 6, 6, 8, 8, 8, 6, 5, 6, 6, 8, 8, 8]


# ------------------------------------------------- UrlDateGetterTest
URL_CASES = [
    ("http://www.example.com/2010-06-30/example.html", "2010-06-30"),
    ("http://www.nytimes.com2010_06_30/business/economy/"
     "30leonhardt.html?hp", "2010-06-30"),
    ("http://www.example.com/2010_06_30/example.html", "2010-06-30"),
    ("http://www.example.com/2010.06.30/example.html", "2010-06-30"),
    ("http://www.example.com/text/2010.06.30.html", "2010-06-30"),
    ("http://www.example.com/text/2010/othertext/06_30/example.html",
     "2010-06-30"),
    ("http://www.example.com/text/2010/othertext/06/30/example.html",
     "2010-06-30"),
    ("http://www.example.com/text/2010/othertext/06/30example.html",
     "2010-06-30"),
    ("http://www.example.com/text/2010/other/text/06_30example.html",
     "2010-06-30"),
    ("http://www.example.com/text/othertext/20100630example.html",
     "2010-06-30"),
    ("http://www.guardian.co.uk/world/2002/sep/06/iraq.johnhooper",
     "2002-09-06"),
    ("http://www.gazettextra.com/news/2010/sep/23/"
     "abortion-issue-senate-races/", "2010-09-23"),
    ("http://www.tmcnet.com/news/2010/06/30/1517705.htm", "2010-06-30"),
    ("http://www.zeit.de/sport/2010-06/example", "2010-06"),
    ("http://www.example.com/2010/06/example.html", "2010-06"),
    ("http://www.example.com/2010_06/example.html", "2010-06"),
    ("http://www.example.com/2010.06/example.html", "2010-06"),
]


def test_url_dates_reference_goldens():
    for url, want in URL_CASES:
        d = ds.url_date(url)
        assert d is not None and norm(d) == want, (url, d)


# ------------------------------------------------- HttpDateGetter
def test_http_dates():
    # HttpDateGetterTest golden header values (testPage01.httpResult)
    headers = {"date": ["Sun, 22 Jul 2012 14:35:38 GMT"],
               "last-modified": ["Sun, 22 Jul 2012 13:59:10 GMT"]}
    got = [norm(d.date) for d in ds.http_dates(headers)]
    assert got == ["2012-07-22 14:35:38", "2012-07-22 13:59:10"]
    # every-format quirk: a value matching two RFC banks emits twice
    headers = {"date": ["Sun, 22 Jul 2012 14:35:38 +0000"]}
    got = ds.http_dates(headers)
    assert len(got) >= 1


# ------------------------------------------------- parse primitives
def test_parse_quirks():
    # Python int() underscore tolerance must NOT leak in (Java throws)
    with pytest.raises(ValueError):
        dp._java_int("06_30")
    # two-digit year pivot at CONTEXT_YEAR
    assert dp.get_4digit_year(99) == 1999
    assert dp.get_4digit_year(7) == 2007
    assert dp.get_4digit_year(26) == 2026
    assert dp.get_4digit_year(27) == 1927
    # UTC diff subtraction incl. day rollover
    p = dp.parse_date("2010-07-19T00:30:00+0200",
                      "YYYY-MM-DDTHH:MM:SS+HH:MM")
    assert norm(p) == "2010-07-18 22:30:00"
    # negative offset adds
    p = dp.parse_date("2010-07-18T23:30:00-0300",
                      "YYYY-MM-DDTHH:MM:SS+HH:MM")
    assert norm(p) == "2010-07-19 02:30:00"
    # ISO week: Java DAY_OF_WEEK quirk (1 = the week's SUNDAY)
    p = dp.parse_date("2010-W28-2", "YYYY-WW-D")
    assert norm(p) == "2010-07-12"  # Monday of W28
    p = dp.parse_date("2010-W28-1", "YYYY-WW-D")
    assert norm(p) == "2010-07-18"  # Sunday (end of ISO week)
    # day of year
    p = dp.parse_date("2010-200", "YYYY-DDD")
    assert norm(p) == "2010-07-19"
    # normalized -0 chop for month-less dates
    p = dp.ParsedDate("", "", 2010, -1, -1, -1, -1, -1, None)
    assert norm(p) == "2010"


def test_rater_semantics():
    # url rater constants
    d1 = ds.url_date("http://x.com/2010/06/30/a.htm")
    d2 = ds.url_date("http://x.com/2010/06/a.htm")
    assert ds.url_date_rates([d1]) == [0.95]
    assert ds.url_date_rates([d2]) == [0.99]
    future = dp.ParsedDate("", "YYYY_MM_DD", 2031, 1, 1, -1, -1, -1,
                           None)
    assert ds.url_date_rates([future]) == [0.0]


def test_reference_dates_df(spark):
    from kgp.datestack import reference_dates_df
    rated = spark.createDataFrame(
        [("10", 0.9, 2015, 3, 2, -1, 0),
         ("10", 0.9, 2014, 5, 1, -1, 120),   # older -> wins
         ("10", 0.95, 2020, 1, 1, 5, 240),   # higher rate -> beats age
         ("11", 0.5, 2016, -1, -1, -1, 0),   # unset = oldest-first
         ("11", 0.5, 2016, 1, 1, -1, 120)],
        "url string, rate double, year long, month long, day long, "
        "hour long, abs_pos long")
    links = spark.createDataFrame([(1, "10"), (1, "11"), (2, "10")],
                                  "src long, dst string")
    out = {(r["src"], r["dst"]): (r["year"], r["month"], r["rate"])
           for r in reference_dates_df(links, rated).collect()}
    assert out[(1, "10")] == (2020, 1, 0.95)
    assert out[(2, "10")] == (2020, 1, 0.95)
    # unset month sorts before set month (oldest-first quirk)
    assert out[(1, "11")] == (2016, -1, 0.5)


def test_best_pub_date_html5():
    html = ("<html><body><article>short<time pubdate datetime="
            "'2011-01-02'>x</time></article>"
            "<article>a much longer article body text here"
            "<time pubdate datetime='2012-03-04 10:20:30'>y</time>"
            "</article></body></html>")
    d = ds.best_pub_date_html5(parse_html(html))
    assert norm(d) == "2012-03-04 10:20:30"
    # no pubdate time -> None; falls back to whole document when no
    # article exists
    d = ds.best_pub_date_html5(parse_html(
        "<html><body><time datetime='2011-01-02'>x</time></body></html>"))
    assert d is None
    d = ds.best_pub_date_html5(parse_html(
        "<html><body><p><time pubdate datetime='2013-05-06'>z</time>"
        "</p></body></html>"))
    assert norm(d) == "2013-05-06"


def test_http_and_reference_raters():
    mk = lambda y, m, d, h: ds.TechDate(
        "http", "date", None, -1,
        dp.ParsedDate("", "", y, m, d, h, 0, 0, None))
    old = mk(2020, 1, 1, 0)
    fresh = mk(2026, 8, 20, 11)   # < 12h from the pinned now
    rated = ds.http_date_rates([old, fresh])
    first = {id(r.td): r.rate for r in rated[:2]}
    assert first[id(old)] == 0.75 and first[id(fresh)] == 0.0
    # age discount appended per date (duplicates kept)
    assert len(rated) == 4
    # oldest keeps its rate (diff 0), the fresh one is 0 either way
    assert any(r.td is old and r.rate == 0.75 for r in rated[2:])
    # reference rater: youngest only, rate 0
    a = dp.ParsedDate("", "", 2019, 5, 1, -1, -1, -1, None)
    b = dp.ParsedDate("", "", 2021, 2, 3, -1, -1, -1, None)
    got = ds.reference_date_rate([a, b])
    assert got == (b, 0.0)
    assert ds.reference_date_rate([]) is None
