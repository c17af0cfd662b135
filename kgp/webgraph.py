"""Web-graph construction: link extraction, host graph, PageRank.

Link semantics port the reference's crawl helpers:

- ``make_full_url`` — UrlHelper.makeFullUrl (palladian-commons/src/main/
  java/ws/palladian/helper/UrlHelper.java:191-225): ``?query`` links
  replace the context's query; otherwise java.net.URL-style resolution
  followed by the reference's literal ``"../"``/``"./"`` string
  deletions; a malformed/unknown-protocol context or link returns the
  link unchanged (the reference's swallowed MalformedURLException).
- ``get_domain`` — UrlHelper.getDomain:258-290: host, optionally
  stripped to last-label + matched suffix. The reference loads its
  suffix list from a bundled ``top-level-domains.txt`` resource; this
  port substitutes a compact public-suffix subset with the same
  matching algorithm (first ``endswith`` wins, second-level suffixes
  take precedence over bare TLDs), the same substitution pattern as
  the CSS-palette stand-in in kgp.multimodal.
- ``get_links`` — HtmlHelper.getLinks (palladian-commons/.../html/
  HtmlHelper.java:730-843): ``//a[@href]`` + ``//area[@href]`` in
  document order, href trim + anchor removal, ``^(tel|mailto):`` drop,
  optional rel=nofollow drop, base-href-aware absolutization, then the
  in/out-domain filter (with the reference's quirk that when
  includeSubdomains is false, subdomain-variant links are dropped from
  BOTH sets). The reference returns a URL set; this port keeps
  document order and first-seen anchor text per distinct URL.

Graph stages are Spark-first:

- ``extract_links_stage`` — ONE column-pruned Arrow pass (mapInPandas
  over (url, html)), no shuffle; at 10^12 pages this runs embarrassing-
  parallel over the page partitions.
- ``host_graph`` — a single hash aggregation on (src_host, dst_host);
  host parsing stays JVM-side (parse_url), no Python.
- ``pagerank`` / ``hits`` — two regimes, picked by one probe (a
  ``limit(k+1)`` Arrow collect, one job) as in
  ``kgp.canonicalize.connected_components``: a graph of at most
  ``SMALL_GRAPH_EDGES`` edges is deduped and power-iterated in numpy
  on the driver over a fixed, sorted node and edge order and returned
  as an Arrow local relation; a larger one runs the distributed loop
  (edges deduped, src-partitioned and persisted once, one join plus
  one dst aggregation per iteration, where map-side partial sums absorb
  the hub node's in-degree skew, scores localCheckpoint-ed per
  iteration). PageRank sums in fixed point in both regimes (every
  rank/deg contribution and dangling rank is ``floor(x * 2**60)`` as
  a long, and long addition is associative), so its ranks are
  bit-identical across regimes, partitionings, core counts and
  resumes. An edge with a null endpoint is no edge in either regime.
"""

from __future__ import annotations

import re
from functools import reduce as functools_reduce
from urllib.parse import urljoin, urlsplit

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp.canonicalize import SMALL_GRAPH_EDGES, local_relation
from kgp.html_text import Node, parse_html, sniff_decode

# schemes java.net.URL has stock protocol handlers for; anything else
# makes `new URL(...)` throw and makeFullUrl fall through to the raw
# link (UrlHelper.java:220-222)
_KNOWN_SCHEMES = {"http", "https", "ftp", "file", "mailto", "jar"}

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):")

# compact public-suffix subset standing in for the reference's bundled
# top-level-domains.txt resource (UrlHelper.java:64-103): second-level
# suffixes FIRST (the reference appends bare TLDs after the sld list,
# and the first endswith match wins)
_SLD_SUFFIXES = [
    ".co.uk", ".org.uk", ".ac.uk", ".gov.uk", ".me.uk",
    ".com.au", ".net.au", ".org.au", ".co.nz", ".org.nz",
    ".co.jp", ".or.jp", ".ne.jp", ".ac.jp",
    ".com.br", ".net.br", ".org.br", ".com.cn", ".net.cn", ".org.cn",
    ".co.in", ".net.in", ".org.in", ".co.za", ".org.za",
    ".com.mx", ".com.ar", ".com.tr", ".com.sg", ".com.hk",
    ".co.kr", ".or.kr", ".com.tw", ".co.th", ".co.id",
    ".com.my", ".com.ph", ".com.vn", ".com.ua", ".co.il", ".org.il",
    # US states / CA provinces (second-level-domains.txt carries the
    # full per-state set)
    ".or.us", ".ca.us", ".ny.us", ".tx.us", ".wa.us", ".fl.us",
    ".qc.ca", ".on.ca", ".bc.ca", ".ab.ca",
]
_TLDS = [
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "name", "io", "co", "ai", "app", "dev", "xyz", "me", "tv", "cc",
    "de", "uk", "fr", "it", "nl", "es", "pl", "ru", "jp", "cn", "au",
    "br", "in", "ca", "ch", "at", "se", "no", "dk", "fi", "be", "us",
    "eu", "cz", "pt", "gr", "hu", "ro", "ie", "nz", "za", "kr", "tw",
    "hk", "sg", "my", "th", "id", "ph", "vn", "tr", "il", "mx", "ar",
    "cl", "ua", "ly", "gd", "codes",
]


def _length_sorted(strings: "list[str]") -> "list[str]":
    """StringLengthComparator order (StringLengthComparator.java:
    23-26): length DESC, then case-insensitive alpha."""
    return sorted(strings, key=lambda s: (-len(s), s.lower()))


DOMAIN_SUFFIXES = (_length_sorted(_SLD_SUFFIXES)
                   + ["." + t for t in _length_sorted(_TLDS)])


def _jtrim(s: str) -> str:
    """Java String.trim(): strip chars <= U+0020 only (not all unicode
    whitespace like Python str.strip())."""
    i, j = 0, len(s)
    while i < j and s[i] <= " ":
        i += 1
    while j > i and s[j - 1] <= " ":
        j -= 1
    return s[i:j]


def remove_anchors(url: str) -> str:
    """UrlHelper.removeAnchors:244-246 — `#.*` deleted (non-DOTALL,
    exactly like the Java regex)."""
    return re.sub(r"#.*", "", url)


def _resolve(context: str | None, link: str) -> str:
    """2-arg UrlHelper.makeFullUrl:209-225."""
    if context is None:
        return link
    if link.startswith("?"):
        # URL_PARAM = "\?.*" replaced on the context, link appended
        return re.sub(r"\?.*", "", context) + link
    m = _SCHEME_RE.match(link)
    if m and m.group(1).lower() not in _KNOWN_SCHEMES:
        # new URL(ctx, "javascript:...") throws unknown-protocol;
        # the reference swallows it and keeps the raw link
        return link
    c = _SCHEME_RE.match(context)
    if not c or c.group(1).lower() not in _KNOWN_SCHEMES:
        # new URL(contextUrl) itself throws; raw link survives
        return link
    result = urljoin(context, link)
    # the reference then string-deletes residual dot segments — on the
    # whole URL, query included (UrlHelper.java:217-218)
    return result.replace("../", "").replace("./", "")


_NO_LINK = object()


def make_full_url(page_url: str | None, base_url: str | None,
                  link_url: str | object = _NO_LINK) -> str:
    """UrlHelper.makeFullUrl:191-207 (3-arg; 2-arg via omitted
    link_url, mirroring the Java overloads)."""
    if link_url is _NO_LINK:
        return _resolve(page_url, base_url)  # type: ignore[arg-type]
    if link_url is None:
        raise ValueError("linkUrl must not be null")
    if base_url is not None and not base_url.endswith("/"):
        base_url = base_url + "/"
    if page_url is not None and base_url is not None:
        context = _resolve(page_url, base_url)
    elif page_url is not None:
        context = page_url
    else:
        context = base_url
    return _resolve(context, link_url)  # type: ignore[arg-type]


def get_domain(url: str, include_protocol: bool = True,
               include_subdomain: bool = True) -> str:
    """UrlHelper.getDomain:258-290 (the 1-arg overload defaults to
    includeProtocol=true, :305-307)."""
    try:
        p = urlsplit(url)
    except ValueError:
        return ""
    if p.scheme.lower() not in ("http", "https", "ftp", "file", "jar"):
        return ""  # new URL throws / no host for mailto etc.
    netloc = p.netloc
    if "@" in netloc:
        netloc = netloc.rsplit("@", 1)[1]
    host = netloc.split(":")[0] if not netloc.startswith("[") \
        else netloc[1:netloc.index("]")] if "]" in netloc else ""
    if not host:
        return ""
    result = (p.scheme + "://" if include_protocol else "") + host
    if not include_subdomain:
        suffix = next((s for s in DOMAIN_SUFFIXES if result.endswith(s)),
                      "")
        base = result[:len(result) - len(suffix)] if suffix else result
        parts = base.split(".")
        result = parts[-1] + suffix
    return result


def _base_href(root: Node) -> str | None:
    """//head/base/@href (first match), like XPathHelper.getXhtmlNode."""
    for n in root.iter():
        if n.tag == "head":
            for m in n.iter():
                if m.tag == "base" and "href" in m.attrs:
                    return m.attrs["href"]
    return None


def _link_nodes(root: Node) -> list[Node]:
    """//a[@href] then //area[@href], each in document order
    (HtmlHelper.java:777-778 appends the area list after the a list)."""
    a_nodes, area_nodes = [], []
    for n in root.iter():
        if n.tag == "a" and n.attrs.get("href") is not None:
            a_nodes.append(n)
        elif n.tag == "area" and n.attrs.get("href") is not None:
            area_nodes.append(n)
    return a_nodes + area_nodes


def get_links(root: Node, original_url: str | None,
              in_domain: bool = True, out_domain: bool = True,
              prefix: str = "", respect_nofollow: bool = False,
              include_subdomains: bool = False) -> list[dict]:
    """HtmlHelper.getLinks:749-843 over the shared mini-DOM.

    Returns ordered dicts (url, anchor, in_domain); the set of `url`
    values equals the reference's returned Set<String>. anchor is the
    first-seen anchor text per distinct URL (area: alt attribute) —
    extra metadata the reference discards.
    """
    links: list[dict] = []
    if root is None:
        return links
    if prefix is None:
        prefix = ""
    url = remove_anchors(original_url or "")
    domain = get_domain(url, False, not include_subdomains).lower()
    base_href = _base_href(root)

    seen: set[str] = set()
    for node in _link_nodes(root):
        if respect_nofollow:
            rel = node.attrs.get("rel")
            if rel is not None and rel.lower() == "nofollow":
                continue
        link = _jtrim(node.attrs["href"])
        link = remove_anchors(link)
        if re.match(r"^(tel|mailto):", link):
            continue
        link = make_full_url(url or None, base_href, link)
        if not link:
            continue
        cur = get_domain(link, False).lower()
        in_dom = cur == domain or cur.endswith("." + domain)
        # subdomain-variant links drop from BOTH sets when
        # includeSubdomains is off (HtmlHelper.java:832-834)
        if in_dom and not include_subdomains \
                and len(cur) != len(domain) and domain:
            continue
        if ((in_dom and in_domain) or (not in_dom and out_domain)) \
                and link.startswith(prefix):
            if link not in seen:
                seen.add(link)
                anchor = node.attrs.get("alt", "") if node.tag == "area" \
                    else node.text_content()
                links.append({"url": link, "anchor": anchor,
                              "in_domain": in_dom})
    return links


# ------------------------------------------------------------- stages

LINKS_SCHEMA = ("src_url string, dst_url string, anchor string, "
                "in_domain boolean")


def extract_links_stage(pages: DataFrame,
                        respect_nofollow: bool = True,
                        include_subdomains: bool = True) -> DataFrame:
    """pages(url, html, ...) -> links(src_url, dst_url, anchor,
    in_domain). One column-pruned Arrow pass, no shuffle."""

    def gen(batches):
        for pdf in batches:
            src, dst, anc, ind = [], [], [], []
            for u, h in zip(pdf["url"], pdf["html"]):
                try:
                    root = parse_html(sniff_decode(bytes(h)))
                except Exception:
                    continue
                for lk in get_links(
                        root, u, respect_nofollow=respect_nofollow,
                        include_subdomains=include_subdomains):
                    src.append(u)
                    dst.append(lk["url"])
                    anc.append(lk["anchor"])
                    ind.append(lk["in_domain"])
            if src:
                yield pd.DataFrame({"src_url": src, "dst_url": dst,
                                    "anchor": anc, "in_domain": ind})

    return pages.select("url", "html").mapInPandas(gen, LINKS_SCHEMA)


def host_of(col: Column | str) -> Column:
    """Lowercased host, JVM-side (parse_url — no Python)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.parse_url(c, F.lit("HOST")))


def host_graph(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, weight, n_src_pages): ONE hash aggregation;
    partial aggregation absorbs the hot-host skew map-side."""
    return (links
            .groupBy(host_of("src_url").alias("src_host"),
                     host_of("dst_url").alias("dst_host"))
            .agg(F.count("*").alias("weight"),
                 F.countDistinct("src_url").alias("n_src_pages")))


# fixed-point scale of the PageRank sums: a rank is at most 1, so a sum
# of contributions stays far inside a long, and floor() moves each
# contribution by less than 2**-60
_FIX = 2.0 ** 60
_UNFIX = 2.0 ** -60


def _edge_pairs(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(src, dst) with both endpoints set: an edge with a null endpoint
    is no edge, in either regime — it adds no node and no degree."""
    return (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .where(F.col("src").isNotNull() & F.col("dst").isNotNull()))


def _small_edge_index(e: DataFrame, small_threshold: int):
    """The regime probe: ONE limit(k+1) Arrow collect (one job). None
    when the graph has more than small_threshold edges; otherwise
    (nodes, s, d): the distinct nodes, sorted, as an Arrow array, and
    the distinct edges as node-index arrays sorted by (s, d) — a fixed
    order whatever the input's partitioning."""
    t = e.limit(small_threshold + 1).toArrow()
    if t.num_rows > small_threshold:
        return None
    nodes = pc.unique(pa.chunked_array(t["src"].chunks + t["dst"].chunks,
                                       type=t.schema.field("src").type))
    nodes = nodes.take(pc.sort_indices(nodes))
    n = len(nodes)

    def index(col):
        return pc.index_in(col, value_set=nodes).to_numpy().astype(np.int64)
    s, d = np.divmod(np.unique(index(t["src"]) * n + index(t["dst"])),
                     max(n, 1))
    return nodes, s, d


def _score_schema(e: DataFrame, scores: list[str],
                  nullable: bool) -> T.StructType:
    """(node, *scores) as the distributed regime plans it, so both
    regimes return the same schema."""
    return T.StructType(
        [T.StructField("node", e.schema["src"].dataType)]
        + [T.StructField(c, T.DoubleType(), nullable) for c in scores])


def pagerank(edges: DataFrame, iterations: int = 5,
             damping: float = 0.85, src: str = "src", dst: str = "dst",
             small_threshold: int = SMALL_GRAPH_EDGES) -> DataFrame:
    """(node, rank) after `iterations` power steps with dangling-mass
    redistribution: rank' = (1-d)/N + d*(in-contribs + dangling/N).

    The sums are in fixed point: each contribution rank/deg and each
    dangling rank becomes floor(x * 2**60) as a long, long addition is
    exact in any order, and both regimes turn the sums back into
    doubles by the same operations. The ranks are bit-identical
    whichever regime, partitioning, core count or resume made them.

    Scale shape: one probe picks the regime. A graph of at most
    small_threshold edges is collected once, deduped and iterated in
    numpy on the driver, and the ranks come back as an Arrow local
    relation — the probe is the only Spark job. A larger graph runs
    distributed: edges deduped, src-partitioned and persisted once;
    each iteration is one join on src plus one aggregation shuffle on
    dst, the dangling mass a one-row aggregate cross-joined into the
    update (no driver round trip), and the rank frame is
    localCheckpoint-ed so the plan stays one iteration deep.
    """
    e = _edge_pairs(edges, src, dst)
    small = _small_edge_index(e, small_threshold)
    if small is None:
        return _pagerank_distributed(e, iterations, damping)
    nodes, s, d = small
    return local_relation(
        e.sparkSession, _score_schema(e, ["rank"], True),
        [nodes, _pagerank_local(len(nodes), s, d, iterations, damping)])


def _pagerank_local(n: int, s: np.ndarray, d: np.ndarray,
                    iterations: int, damping: float) -> np.ndarray:
    """The power iteration over index arrays, in the fixed-point
    arithmetic of _pagerank_distributed, operation for operation."""
    if n == 0:
        return np.zeros(0)
    deg = np.bincount(s, minlength=n)
    dangling = deg == 0
    teleport = (1.0 - damping) / n
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        cfx = np.zeros(n, dtype=np.int64)
        np.add.at(cfx, d, np.floor(r[s] / deg[s] * _FIX).astype(np.int64))
        dfx = np.floor(r[dangling] * _FIX).astype(np.int64).sum()
        r = teleport + damping * (cfx * _UNFIX + dfx * _UNFIX / n)
    return r


def _pagerank_distributed(e: DataFrame, iterations: int,
                          damping: float) -> DataFrame:
    e = e.distinct().repartition("src").persist()
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg")).persist()
    dangling = nodes.join(outdeg.withColumnRenamed("src", "node"),
                          "node", "left_anti").persist()
    teleport = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        share = (ranks.withColumnRenamed("node", "src").join(outdeg, "src")
                 .select("src", F.floor(F.col("rank") / F.col("deg")
                                        * _FIX).alias("share")))
        cfx = (e.join(share, "src").groupBy("dst")
               .agg(F.sum("share").alias("cfx")))
        dfx = (dangling.join(ranks, "node")
               .agg(F.coalesce(F.sum(F.floor(F.col("rank") * _FIX)),
                               F.lit(0)).alias("dfx")))
        contrib = F.coalesce(F.col("cfx"), F.lit(0)).cast("double") * _UNFIX
        dmass = F.col("dfx").cast("double") * _UNFIX / n
        ranks = (nodes
                 .join(cfx.withColumnRenamed("dst", "node"), "node", "left")
                 .crossJoin(dfx)
                 .select("node", (F.lit(teleport) + F.lit(damping)
                                  * (contrib + dmass)).alias("rank"))
                 .localCheckpoint(eager=True))
    return ranks


def anchor_stats(links: DataFrame) -> DataFrame:
    """Per link target: in-link counts and the majority anchor text —
    the classic web-scale entity-alias signal (anchor texts pointing at
    a page are surface forms of the entity it describes).

    (dst_url, n_inlinks, n_src_hosts, top_anchor): top_anchor is the
    most frequent anchor, ties broken by lexicographically smallest —
    deterministic on both engines. Two hash aggregations plus a window
    PARTITIONED by dst_url (never a global window); the head-entity
    skew (hub pages with millions of in-links) is absorbed by the
    map-side partial counts before either shuffle.
    """
    per_anchor = (links.groupBy("dst_url", "anchor")
                  .agg(F.count("*").alias("n"),
                       F.countDistinct(host_of("src_url")).alias("_h")))
    from pyspark.sql import Window
    w = (Window.partitionBy("dst_url")
         .orderBy(F.desc("n"), F.asc("anchor")))
    totals = (links.groupBy("dst_url")
              .agg(F.count("*").alias("n_inlinks"),
                   F.countDistinct(host_of("src_url"))
                   .alias("n_src_hosts")))
    top = (per_anchor
           .withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") == 1)
           .select("dst_url", F.col("anchor").alias("top_anchor")))
    return totals.join(top, "dst_url")


def crawl_reachable(links: DataFrame, seeds: DataFrame,
                    max_depth: int = 3,
                    whitelist: list[str] | None = None,
                    blacklist: list[str] | None = None) -> DataFrame:
    """BFS reachability over the extracted link graph — the batch
    analog of the reference's live crawl frontier (Crawler.java:
    398-428): a URL is followed iff it is < 400 chars, matches ANY
    whitelist regex (when a whitelist is set) and NO blacklist regex
    (Java Matcher.find semantics — substring match, like rlike).

    seeds(url) -> (url, depth) with depth = the BFS level the URL was
    first reached at (seeds are depth 0, filters do NOT apply to
    seeds, matching the reference's startCrawl urlStack).

    Scale shape: each level is one join of the (persisted,
    src-partitioned) edge table against the previous FRONTIER only —
    never the whole reached set — plus one left_anti dedup against the
    accumulated result; both frames are localCheckpoint-ed per level
    so the plan depth stays constant. The per-level isEmpty() probe is
    the only driver-side check.
    """
    e = (links.select(F.col("src_url").alias("src"),
                      F.col("dst_url").alias("dst"))
         .distinct().repartition("src").persist())
    follow = F.length("url") < 400
    if whitelist:
        follow = follow & functools_reduce(
            lambda a, b: a | b,
            [F.col("url").rlike(p) for p in whitelist])
    for p in (blacklist or []):
        follow = follow & ~F.col("url").rlike(p)

    reached = (seeds.select("url").distinct()
               .withColumn("depth", F.lit(0)).localCheckpoint())
    frontier = reached.select("url")
    for d in range(1, max_depth + 1):
        nxt = (e.join(frontier.withColumnRenamed("url", "src"), "src")
               .select(F.col("dst").alias("url")).distinct()
               .where(follow)
               .join(reached.select("url"), "url", "left_anti")
               .withColumn("depth", F.lit(d))
               .localCheckpoint())
        if nxt.isEmpty():
            break
        reached = reached.union(nxt).localCheckpoint()
        frontier = nxt.select("url")
    return reached


def hits(edges: DataFrame, iterations: int = 5, src: str = "src",
         dst: str = "dst",
         small_threshold: int = SMALL_GRAPH_EDGES) -> DataFrame:
    """HITS hubs & authorities (Kleinberg), L1-normalized per half-step
    so scores stay comparable across engines: auth' = Σ hub(in-nbrs)
    then /= Σ auth'; hub' = Σ auth(out-nbrs) then /= Σ hub'.

    (node, hub, auth). Same regimes as pagerank, from the same probe
    and edge index: a small graph is iterated in numpy on the driver
    over the fixed edge order (deterministic, no per-iteration job); a
    larger one runs distributed — edges deduped and partitioned once,
    two aggregation shuffles per iteration, scores localCheckpoint-ed,
    and the two normalization sums as scalar jobs.
    """
    e = _edge_pairs(edges, src, dst)
    small = _small_edge_index(e, small_threshold)
    if small is None:
        return _hits_distributed(e, iterations)
    nodes, s, d = small
    hub, auth = np.ones(len(nodes)), np.ones(len(nodes))
    for _ in range(iterations):
        auth = np.bincount(d, weights=hub[s], minlength=len(nodes))
        auth = auth / auth.sum()
        hub = np.bincount(s, weights=auth[d], minlength=len(nodes))
        hub = hub / hub.sum()
    return local_relation(e.sparkSession,
                          _score_schema(e, ["hub", "auth"], False),
                          [nodes, hub, auth])


def _hits_distributed(e: DataFrame, iterations: int) -> DataFrame:
    e = e.distinct().repartition("src").persist()
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    scores = nodes.select("node", F.lit(1.0).alias("hub"),
                          F.lit(1.0).alias("auth"))
    for _ in range(iterations):
        auth_raw = (e.join(scores.select(F.col("node").alias("src"),
                                         "hub"), "src")
                    .groupBy("dst").agg(F.sum("hub").alias("a")))
        a_sum = auth_raw.agg(F.sum("a")).first()[0]
        auth = auth_raw.select(F.col("dst").alias("node"),
                               (F.col("a") / F.lit(a_sum)).alias("auth"))
        hub_raw = (e.join(auth.select(F.col("node").alias("dst"),
                                      "auth"), "dst")
                   .groupBy("src").agg(F.sum("auth").alias("h")))
        h_sum = hub_raw.agg(F.sum("h")).first()[0]
        hub = hub_raw.select(F.col("src").alias("node"),
                             (F.col("h") / F.lit(h_sum)).alias("hub"))
        scores = (nodes
                  .join(hub, "node", "left")
                  .join(auth, "node", "left")
                  .select("node",
                          F.coalesce("hub", F.lit(0.0)).alias("hub"),
                          F.coalesce("auth", F.lit(0.0)).alias("auth"))
                  .localCheckpoint(eager=True))
    return scores


# -------------------------------------------- URL extraction from text

# UrlHelper.URL_PATTERN (UrlHelper.java:105-110, the adapted
# daringfireball URL regex): optional scheme, 1+ dotted host labels, a
# TLD from the alternation (the reference joins its bundled TLD file;
# this port joins _TLDS — same construction), then a path/query part
# that tolerates one parenthesized group and refuses trailing
# punctuation. The Spark column versions hand the IDENTICAL pattern to
# the JVM regex engine — the same engine the reference runs on.
TOP_LEVEL_DOMAINS = "|".join(_TLDS)

URL_PATTERN = (
    r"\b(?:https?://)?([0-9a-zäöü-]{1,63}?\.)+(?:" + TOP_LEVEL_DOMAINS
    + r")(?:[?/](?:\([^\s()<>\[\]\"']{0,255}\)|[^\s()<>\[\]\"']{0,255})+"
    r"(?:\([^\s()<>\[\]\"']{0,255}\)|[^\s.,;!?:()<>\[\]\"'])|/|\b)")

_URL_RE = re.compile(URL_PATTERN, re.IGNORECASE)

# UrlHelper.SESSION_ID_PATTERN (UrlHelper.java:53-54)
SESSION_ID_PATTERN = (r"[&;]?(?<!\w)(jsessionid=|s=|sid=|PHPSESSID=|"
                      r"sessionid=)[A-Za-z_0-9\-]{12,200}(?!\w)")

_SESSION_ID_RE = re.compile(SESSION_ID_PATTERN)


def extract_urls(text: str) -> list[str]:
    """UrlHelper.extractUrls:433-435 — all URL matches in order."""
    if not text:
        return []
    return [m.group(0) for m in _URL_RE.finditer(text)]


def extract_urls_col(col: Column | str) -> Column:
    """Column twin: regexp_extract_all with the reference's own Java
    pattern — JVM-side, codegen-friendly, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit("(?i)" + URL_PATTERN), 0)


def remove_session_id(url: str | None) -> str | None:
    """UrlHelper.removeSessionId:127-130 — strip
    jsessionid/sid/PHPSESSID-style tokens, then dangling '?' and
    '?&'."""
    if url is None:
        return None
    out = _SESSION_ID_RE.sub("", url)
    out = re.sub(r"\?$", "", out)
    return out.replace("?&", "?")


def remove_session_id_col(col: Column | str) -> Column:
    """Column twin of remove_session_id — three chained JVM
    regexp_replace calls, exactly the reference's replaceAll chain."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, SESSION_ID_PATTERN, "")
    c = F.regexp_replace(c, r"\?$", "")
    return F.regexp_replace(c, r"\?&", "?")
