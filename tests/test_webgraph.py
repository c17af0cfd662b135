"""Web-graph stack: UrlHelper/HtmlHelper link-semantics parity and the
distributed graph stages (link extraction, host graph, PageRank).

Goldens are ported from UrlHelperTest.testMakeFullUrl
(palladian-commons/src/test/java/ws/palladian/helper/UrlHelperTest
.java:73-118) and pin HtmlHelper.getLinks:749-843 behaviors.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from kgp import constants as C
from kgp.canonicalize import SMALL_GRAPH_EDGES
from kgp.corpus import synth_pages
from kgp.html_text import parse_html
from kgp.webgraph import (extract_links_stage, get_domain, get_links,
                          host_graph, make_full_url, pagerank,
                          remove_anchors)


# ------------------------------------------------- makeFullUrl parity

MAKE_FULL_URL_GOLDENS = [
    # (expected, page_url, base_url, link_url) — UrlHelperTest:73-108
    ("http://big-planet.biz/vacancies.php?d=aaa",
     "http://big-planet.biz/vacancies.php?d=123&b=whatever", None,
     "?d=aaa"),
    ("http://big-planet.biz/vacancies.php?d=314",
     "http://big-planet.biz/vacancies.php", None, "?d=314"),
    ("http://www.xyz.de/page.html", "http://www.xyz.de", "",
     "page.html"),
    ("http://www.xyz.de/page.html", "http://www.xyz.de", None,
     "page.html"),
    ("http://www.xyz.de/page.html", "http://www.xyz.de/index.html", "",
     "page.html"),
    ("http://www.xyz.de/page.html", "http://www.xyz.de/index.html",
     "/directory", "/page.html"),
    ("http://www.xyz.de/directory/page.html",
     "http://www.xyz.de/index.html", "/directory", "./page.html"),
    ("http://www.xyz.de/directory/page.html",
     "http://www.xyz.de/index.html", "/directory/directory",
     "../page.html"),
    ("http://www.abc.de/page.html", "http://www.xyz.de", "",
     "http://www.abc.de/page.html"),
    ("http://www.abc.de/page.html", "http://www.xyz.de",
     "http://www.abc.de/", "/page.html"),
    ("http://www.example.com/page.html", None, None,
     "http://www.example.com/page.html"),
]

MAKE_FULL_URL_2ARG_GOLDENS = [
    ("http://www.xyz.de/directory/page.html",
     "http://www.xyz.de/directory/", "./page.html"),
    ("http://www.xyz.de/directory/page.html",
     "http://www.xyz.de/directory/directory/", "../page.html"),
    ("http://www.xyz.de/page.html", "http://www.xyz.de/directory/",
     "../page.html"),
    ("http://www.xyz.de/page.html", "http://www.xyz.de/directory",
     "../page.html"),
    ("http://www.xyz.de/page.html", "http://www.xyz.de/",
     "../page.html"),
    ("http://www.xyz.de/page.html", "http://www.xyz.de", "../page.html"),
    ("http://www.example.com/page.html", "/some/file/path.html",
     "http://www.example.com/page.html"),
    ("mailto:example@example.com", "http://www.xyz.de",
     "mailto:example@example.com"),
]


def test_make_full_url_goldens():
    for exp, page, base, link in MAKE_FULL_URL_GOLDENS:
        assert make_full_url(page, base, link) == exp, (page, base, link)


def test_make_full_url_2arg_goldens():
    for exp, ctx, link in MAKE_FULL_URL_2ARG_GOLDENS:
        assert make_full_url(ctx, link) == exp, (ctx, link)


def test_make_full_url_null_link_raises():
    # UrlHelperTest:110-117 — null linkUrl is an NPE in the reference
    with pytest.raises(ValueError):
        make_full_url(None, "http://www.example.com", None)


def test_make_full_url_unknown_scheme_passthrough():
    # new URL("javascript:...") throws unknown-protocol; the reference
    # swallows it and the raw link survives (UrlHelper.java:220-222)
    assert make_full_url("http://a.com/x", None, "javascript:void(0)") \
        == "javascript:void(0)"
    # malformed context: raw link survives too
    assert make_full_url("not a url", None, "page.html") == "page.html"


def test_get_domain():
    # the 1-arg overload defaults includeProtocol=true
    # (UrlHelper.java:305-307)
    assert get_domain("http://www.example.com/page.html") \
        == "http://www.example.com"
    assert get_domain("http://www.example.com/page.html", False) \
        == "www.example.com"
    assert get_domain("http://www.example.com/page.html", True) \
        == "http://www.example.com"
    assert get_domain("http://www.example.com/page.html",
                      False, False) == "example.com"
    # second-level suffix wins over the bare TLD
    assert get_domain("http://news.example.co.uk/x", False, False) \
        == "example.co.uk"
    assert get_domain("mailto:x@y.com") == ""
    assert get_domain("/relative/only.html") == ""


def test_remove_anchors():
    assert remove_anchors("http://a.com/x#frag") == "http://a.com/x"
    assert remove_anchors("#top") == ""


# ---------------------------------------------------- getLinks parity

PAGE = """<html><head><base href="http://base.example.com/sub/">
</head><body>
<a href="page1.html">One</a>
<a href="/abs.html">Abs</a>
<a href="http://other.org/x">Out</a>
<a href="mailto:a@b.com">Mail</a>
<a href="tel:+123">Tel</a>
<a rel="nofollow" href="http://ads.biz/c">Ad</a>
<a href="page1.html#sec2">One again</a>
<map><area href="area.html" alt="AreaAlt"></map>
<a>no href</a>
</body></html>"""


def _link_urls(root, original_url, **kw):
    """The reference's return shape (Set<String>) of get_links."""
    return {d["url"] for d in get_links(root, original_url, **kw)}


def test_get_links_base_href_and_filters():
    root = parse_html(PAGE)
    got = _link_urls(root, "http://www.example.com/dir/index.html",
                     include_subdomains=True)
    # base href wins over the page url for relative resolution
    assert "http://base.example.com/sub/page1.html" in got
    assert "http://base.example.com/abs.html" in got
    assert "http://other.org/x" in got
    # tel/mailto filtered; nofollow NOT filtered by default
    assert not any(u.startswith(("mailto:", "tel:")) for u in got)
    assert "http://ads.biz/c" in got
    # area href collected; anchor-only duplicate deduped (set)
    assert "http://base.example.com/sub/area.html" in got
    assert len([u for u in got if u.endswith("page1.html")]) == 1


def test_get_links_nofollow_and_domains():
    root = parse_html(PAGE)
    links = get_links(root, "http://www.example.com/dir/index.html",
                      respect_nofollow=True, include_subdomains=True)
    urls = {d["url"] for d in links}
    assert "http://ads.biz/c" not in urls
    by_url = {d["url"]: d for d in links}
    # base.example.com is a subdomain of example.com -> in-domain when
    # include_subdomains
    assert by_url["http://base.example.com/abs.html"]["in_domain"]
    assert not by_url["http://other.org/x"]["in_domain"]
    # anchor text is the first-seen text, area uses alt
    assert by_url["http://base.example.com/sub/page1.html"]["anchor"] \
        == "One"
    assert by_url["http://base.example.com/sub/area.html"]["anchor"] \
        == "AreaAlt"


def test_get_links_subdomain_drop_quirk():
    # includeSubdomains=False: subdomain-variant links drop from BOTH
    # sets (HtmlHelper.java:832-834)
    html = ('<html><body><a href="http://sub.example.com/a">S</a>'
            '<a href="http://example.com/b">R</a>'
            '<a href="http://other.org/c">O</a></body></html>')
    root = parse_html(html)
    got = _link_urls(root, "http://example.com/",
                     include_subdomains=False)
    assert got == {"http://example.com/b", "http://other.org/c"}


def test_get_links_in_out_flags():
    html = ('<html><body><a href="/in.html">I</a>'
            '<a href="http://other.org/c">O</a></body></html>')
    root = parse_html(html)
    assert _link_urls(root, "http://example.com/x", in_domain=True,
                      out_domain=False) == {"http://example.com/in.html"}
    assert _link_urls(root, "http://example.com/x", in_domain=False,
                      out_domain=True) == {"http://other.org/c"}
    # prefix filter (HtmlHelper.java:837)
    assert _link_urls(root, "http://example.com/x",
                      prefix="http://other") == {"http://other.org/c"}


def test_get_links_fragment_only_is_self_link():
    # href="#top" -> removeAnchors -> "" -> resolves to the page url
    # (the reference's Set picks it up as a self-link)
    html = '<html><body><a href="#top">Top</a></body></html>'
    got = _link_urls(parse_html(html), "http://example.com/x.html")
    assert got == {"http://example.com/x.html"}


# --------------------------------------------------- Spark stages


def test_extract_links_stage_matches_local(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    links = extract_links_stage(pages).collect()
    # every non-adversarial page emits rows; adversarial none
    srcs = {r.src_url for r in links}
    rows = pages.select("url", "html").collect()
    import re as _re
    for r in rows:
        doc_id = int(_re.search(r"/articles/(\d+)\.html", r.url).group(1))
        if doc_id % 17 == 13:
            assert r.url not in srcs
        else:
            assert r.url in srcs
    # spot-check one page against the pure-python extractor
    from kgp.html_text import sniff_decode
    row = next(r for r in rows
               if int(_re.search(r"(\d+)\.html", r.url).group(1))
               % 17 != 13)
    local = get_links(parse_html(sniff_decode(bytes(row.html))), row.url,
                      respect_nofollow=True, include_subdomains=True)
    got = sorted((r.dst_url, r.anchor, r.in_domain) for r in links
                 if r.src_url == row.url)
    want = sorted((d["url"], d["anchor"], d["in_domain"]) for d in local)
    assert got == want


def test_extract_links_stage_no_shuffle(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    plan = extract_links_stage(pages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_host_graph_single_aggregation(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    hg = host_graph(extract_links_stage(pages))
    plan = hg._jdf.queryExecution().executedPlan().toString()
    # distinct-count rewrite: expand + partial aggs, but host parsing
    # must stay JVM-side (no extra Python stage beyond the extractor)
    assert plan.count("ArrowEvalPython") == 0
    row = hg.where((F.col("src_host") == "blog.example.org")
                   & (F.col("dst_host") == "news.example.com")).first()
    assert row is not None and row.weight >= row.n_src_pages


def test_pagerank_tiny_graph_vs_numpy(spark):
    # 4-node graph with a dangling node (d); compare against a dense
    # numpy power iteration with the same update rule
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank
           for r in pagerank(df, iterations=8, damping=0.85).collect()}
    nodes = ["a", "b", "c", "d"]
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    mat = np.zeros((n, n))
    for s, t in edges:
        out[idx[s]] += 1
    for s, t in edges:
        mat[idx[t], idx[s]] = 1.0 / out[idx[s]]
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        dangling = sum(r[i] for i in range(n) if out[i] == 0)
        r = 0.15 / n + 0.85 * (mat @ r + dangling / n)
    for node in nodes:
        assert got[node] == pytest.approx(r[idx[node]], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_rank_mass_conserved(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    links = extract_links_stage(pages)
    pr = pagerank(links.select(F.col("src_url").alias("src"),
                               F.col("dst_url").alias("dst")),
                  iterations=3)
    total = pr.agg(F.sum("rank")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-6)
    # the hub (news homepage) must out-rank every article page
    ranks = {r.node: r.rank for r in pr.collect()}
    hub = ranks[C.LINK_HUB_URL]
    art = max(v for k, v in ranks.items() if "/articles/" in k)
    assert hub > art


def test_pagerank_empty_edges(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert pagerank(df, iterations=2).count() == 0


def test_pagerank_bit_identical_across_regimes_and_partitionings(spark):
    """Fixed-point sums make the ranks exact: the driver regime and the
    distributed one (small_threshold=0), at 2 and 16 shuffle
    partitions, with the input split 1 and 7 ways, give == ranks. An
    edge with a null endpoint is no edge in either regime: it adds no
    node and no out-degree."""
    rng = random.Random(7)
    names = [f"n{i:03d}" for i in range(120)]
    edges = [(rng.choice(names), rng.choice(names)) for _ in range(600)]
    edges += [("n000", "sink1"), ("n001", "sink2")]   # dangling nodes
    edges += edges[:50]                                # duplicates
    nulls = [(None, "n002"), ("orphan", None), (None, None)]
    ddl = "src string, dst string"
    clean = {r.node: r.rank
             for r in pagerank(spark.createDataFrame(edges, ddl),
                               iterations=4).collect()}
    assert set(clean) == {x for e in edges for x in e}
    with_nulls = spark.createDataFrame(edges + nulls, ddl)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (2, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            for split in (1, 7):
                for k in (SMALL_GRAPH_EDGES, 0):
                    got = {r.node: r.rank for r in pagerank(
                        with_nulls.repartition(split), iterations=4,
                        small_threshold=k).collect()}
                    assert got == clean, (parts, split, k)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# ----------------------------------- anchor stats / crawl BFS / HITS


def test_anchor_stats(spark, sf_dir):
    from kgp.webgraph import anchor_stats
    pages = synth_pages(spark, sf_dir)
    stats = anchor_stats(extract_links_stage(pages))
    row = stats.where(F.col("dst_url") == C.LINK_HUB_URL).first()
    # the hub collects 'Example News' from non-news pages (60%) and
    # 'Home' from news pages (40%, hub deduped against nav Home) —
    # majority anchor must be the hub anchor
    assert row.top_anchor == C.LINK_HUB_ANCHOR
    assert row.n_src_hosts > 10  # blog + every siteK host
    assert row.n_inlinks > row.n_src_hosts


def test_crawl_reachable_bfs_depths(spark):
    from kgp.webgraph import crawl_reachable
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
             ("a", "x-blocked"), ("x-blocked", "y")]
    links = spark.createDataFrame(edges,
                                  "src_url string, dst_url string")
    seeds = spark.createDataFrame([("a",)], "url string")
    got = {r.url: r.depth
           for r in crawl_reachable(links, seeds, max_depth=3,
                                    blacklist=["blocked"]).collect()}
    # blocked node never entered, so y is unreachable; BFS depths exact
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_crawl_reachable_seed_not_filtered(spark):
    from kgp.webgraph import crawl_reachable
    links = spark.createDataFrame([("s-blocked", "t")],
                                  "src_url string, dst_url string")
    seeds = spark.createDataFrame([("s-blocked",)], "url string")
    got = {r.url: r.depth
           for r in crawl_reachable(links, seeds, max_depth=2,
                                    blacklist=["blocked"]).collect()}
    # Crawler.startCrawl pushes seeds straight onto the stack — the
    # follow rules only gate DISCOVERED urls
    assert got == {"s-blocked": 0, "t": 1}


def test_crawl_reachable_min_depth_on_cycle(spark):
    from kgp.webgraph import crawl_reachable
    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a")]
    links = spark.createDataFrame(edges,
                                  "src_url string, dst_url string")
    seeds = spark.createDataFrame([("a",)], "url string")
    got = {r.url: r.depth
           for r in crawl_reachable(links, seeds, max_depth=5).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_hits_tiny_graph_vs_numpy(spark):
    from kgp.webgraph import hits
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: (r.hub, r.auth)
           for r in hits(df, iterations=6).collect()}
    nodes = ["a", "b", "c", "d"]
    idx = {n: i for i, n in enumerate(nodes)}
    adj = np.zeros((4, 4))
    for s, t in edges:
        adj[idx[s], idx[t]] = 1.0
    hub, auth = np.ones(4), np.ones(4)
    for _ in range(6):
        auth = adj.T @ hub
        auth /= auth.sum()
        hub = adj @ auth
        hub /= hub.sum()
    for n in nodes:
        assert got[n][0] == pytest.approx(hub[idx[n]], abs=1e-9)
        assert got[n][1] == pytest.approx(auth[idx[n]], abs=1e-9)
    # c is the clear authority; a the clear hub
    assert got["c"][1] == max(v[1] for v in got.values())
    assert got["a"][0] == max(v[0] for v in got.values())


# ------------------------------- URL extraction from text (URL_PATTERN)

EXTRACT_URL_GOLDENS = [
    # (text, first expected match) — UrlHelperTest.testExtractUrls
    ("http://foo.com/blah_blah", "http://foo.com/blah_blah"),
    ("http://foo.com/blah_blah/", "http://foo.com/blah_blah/"),
    ("(Something like http://foo.com/blah_blah)",
     "http://foo.com/blah_blah"),
    ("http://foo.com/blah_blah_(wikipedia)",
     "http://foo.com/blah_blah_(wikipedia)"),
    ("http://foo.com/more_(than)_one_(parens)",
     "http://foo.com/more_(than)_one_(parens)"),
    ("(Something like http://foo.com/blah_blah_(wikipedia))",
     "http://foo.com/blah_blah_(wikipedia)"),
    ("http://foo.com/blah_(wikipedia)#cite-1",
     "http://foo.com/blah_(wikipedia)#cite-1"),
    ("http://foo.com/blah_(wikipedia)_blah#cite-1",
     "http://foo.com/blah_(wikipedia)_blah#cite-1"),
    ("http://foo.com/unicode_(✪)_in_parens",
     "http://foo.com/unicode_(✪)_in_parens"),
    ("http://foo.com/(something)?after=parens",
     "http://foo.com/(something)?after=parens"),
    ("http://foo.com/blah_blah.", "http://foo.com/blah_blah"),
    ("http://foo.com/blah_blah/.", "http://foo.com/blah_blah/"),
    ("<http://foo.com/blah_blah>", "http://foo.com/blah_blah"),
    ("<http://foo.com/blah_blah/>", "http://foo.com/blah_blah/"),
    ("http://foo.com/blah_blah,", "http://foo.com/blah_blah"),
    ("http://www.extinguishedscholar.com/wpglob/?p=364.",
     "http://www.extinguishedscholar.com/wpglob/?p=364"),
    ("<tag>http://example.com</tag>", "http://example.com"),
    ("Just a www.example.com link.", "www.example.com"),
    ("http://example.com/something?with,commas,in,url, but not at end",
     "http://example.com/something?with,commas,in,url"),
    ("bit.ly/foo", "bit.ly/foo"),
    ("WWW.EXAMPLE.COM", "WWW.EXAMPLE.COM"),
    ("http://example.com/quotes-are-“part”",
     "http://example.com/quotes-are-“part”"),
    ("example.com", "example.com"),
    ("example.com/", "example.com/"),
    ("'http://foo.com/blah_blah'", "http://foo.com/blah_blah"),
    ('"http://foo.com/blah_blah"', "http://foo.com/blah_blah"),
    ("You can download it here: cinefreaks.com/coolstuff.zip but",
     "cinefreaks.com/coolstuff.zip"),
    ("here: 1-2-3.net/auctions-Are-out.jpg but",
     "1-2-3.net/auctions-Are-out.jpg"),
    ("here: http://www.cinefreaks.com/coolstuff.zip but",
     "http://www.cinefreaks.com/coolstuff.zip"),
    ("here: http://www.cinefreaks.com/", "http://www.cinefreaks.com/"),
    ("here: http://www.cinefreaks.com.", "http://www.cinefreaks.com"),
    ("here: http://www.cinefreaks.com?", "http://www.cinefreaks.com"),
    ("here: http://www.cinefreaks.com! Or", "http://www.cinefreaks.com"),
    ("here: http://www.cinefreaks.com, this", "http://www.cinefreaks.com"),
    ("http://www.google.com/search?tbm=isch&hl=en&source=hp&biw=1660&"
     "bih=751&q=alfred+neuman+mad+magazine&gbv=2&aq=1s&aqi=g1g-s1g-sx1&"
     "aql=&oq=alfred+newman+m",
     "http://www.google.com/search?tbm=isch&hl=en&source=hp&biw=1660&"
     "bih=751&q=alfred+neuman+mad+magazine&gbv=2&aq=1s&aqi=g1g-s1g-sx1&"
     "aql=&oq=alfred+newman+m"),
    ("http://add.my.yahoo.com/rss?url=http://feeds.reuters.com/news/"
     "artsculture",
     "http://add.my.yahoo.com/rss?url=http://feeds.reuters.com/news/"
     "artsculture"),
    ("http://stockscreener.us.reuters.com/Stock/US/Index?"
     "quickscreen=gaarp",
     "http://stockscreener.us.reuters.com/Stock/US/Index?"
     "quickscreen=gaarp"),
]

EXTRACT_URL_NEGATIVES = [
    "6:00p", "filename.txt", "16-28-33.0.backup.allcues.update.7z",
    "09.Sep.11", "Environment.CurrentDirectory",
    "zipProcess.StandardOutput.ReadToEnd()", "check_lang.sh",
]

SESSION_ID_GOLDENS = [
    ("http://www.idealo.de/preisvergleich/OffersOfProduct/"
     "3914600_-lumia-925-16gb-white-nokia.html;jsessionid=a1jUi00AR7u-",
     "http://www.idealo.de/preisvergleich/OffersOfProduct/"
     "3914600_-lumia-925-16gb-white-nokia.html"),
    ("http://brbb.freeforums.org/viewforum.php?f=3&"
     "sid=5c2676a9f621ffbadb6962da7e0c50d4",
     "http://brbb.freeforums.org/viewforum.php?f=3"),
    ("http://brbb.freeforums.org/viewforum.php?"
     "sid=5c2676a9f621ffbadb6962da7e0c50d4",
     "http://brbb.freeforums.org/viewforum.php"),
    ("http://brbb.freeforums.org/viewforum.php?"
     "sid=5c2676a9f621ffbadb6962da7e0c50d4&f=3",
     "http://brbb.freeforums.org/viewforum.php?f=3"),
    ("http://brbb.freeforums.org/viewforum.php?f=3;"
     "sid=5c2676a9f621ffbadb6962da7e0c50d4",
     "http://brbb.freeforums.org/viewforum.php?f=3"),
    ("http://www.hagebau.de/Garten-und-Freizeit/Pavillons/sh3391862;"
     "sid=QyZVAH0QUTdSAC95WwlCaREaDHk7KDmlYK6T5C8iB5N2iJYpHCTsIwPsB5N2"
     "iA1M7nBXWZ_h",
     "http://www.hagebau.de/Garten-und-Freizeit/Pavillons/sh3391862"),
]


def test_extract_urls_goldens():
    from kgp.webgraph import extract_urls
    for text, want in EXTRACT_URL_GOLDENS:
        got = extract_urls(text)
        assert got and got[0] == want, (text, got)


def test_extract_urls_multi_and_negatives():
    from kgp.webgraph import extract_urls
    text = ("The quick brown fox. Check out: http://microsoft.com, "
            "www.apple.com, google.com. (www.tu-dresden.de)")
    got = extract_urls(text)
    for want in ["http://microsoft.com", "www.apple.com", "google.com",
                 "www.tu-dresden.de"]:
        assert want in got
    for neg in EXTRACT_URL_NEGATIVES:
        assert extract_urls(neg) == [], neg
    assert extract_urls("") == []
    assert extract_urls(None) == []


def test_remove_session_id_goldens():
    from kgp.webgraph import remove_session_id
    for dirty, clean in SESSION_ID_GOLDENS:
        assert remove_session_id(dirty) == clean, dirty
    assert remove_session_id(None) is None


def test_url_column_twins_match_python(spark):
    """The JVM column versions (reference's own regex engine) agree
    with the pure-python twins on every golden."""
    from kgp.webgraph import (extract_urls, extract_urls_col,
                              remove_session_id, remove_session_id_col)
    texts = ([t for t, _ in EXTRACT_URL_GOLDENS]
             + EXTRACT_URL_NEGATIVES)
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select("t", extract_urls_col("t").alias("m")).collect()
    for r in rows:
        assert list(r.m) == extract_urls(r.t), r.t
    urls = [d for d, _ in SESSION_ID_GOLDENS]
    df2 = spark.createDataFrame([(u,) for u in urls], "u string")
    for r in df2.select("u", remove_session_id_col("u").alias("c")) \
            .collect():
        assert r.c == remove_session_id(r.u), r.u


def test_text_urls_query_plan_pure_jvm(spark):
    """The text_urls gate query must stay entirely JVM-side: no
    Python eval anywhere (regexp_extract_all + regexp_replace)."""
    import __spark_entry__ as entry
    df = entry.queries()["text_urls"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan
