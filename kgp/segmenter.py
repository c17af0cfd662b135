"""Page segmentation — port of the reference's PageSegmenter stack
(palladian-experimental preprocessing/segmentation/PageSegmenter.java,
SimilarityCalculator.java, Segment.java, PageSegmenterHelper.java):
segment a page into DOM regions and rate each region's VARIABILITY by
comparing the page against similar (same-template) pages — the
template/boilerplate-vs-content signal for a web corpus.

Reference semantics kept exactly:

- listTags (PageSegmenterHelper.java:121-208): regex `(?is)(<.*?>)`
  over the serialized page; tags with attributes are truncated at the
  first space (+ ">"); in THAT branch only, tags containing `<!`,
  `<html`, `<head`, `<title`, `<body` are dropped (so a bare `<body>`
  survives but `<body class=x>` does not — kept bug-for-bug).
- createFingerprint (PageSegmenter.java:370-385): Bag of word
  9-grams (Tokenizer.calculateWordNGramsAsList) over the
  space-joined tag list.  The `number` limit parameter is accepted
  and IGNORED by the reference — same here.
- SimilarityCalculator.calculateSimilarity (:37-77) — ASYMMETRIC:
  iterate page1's unique q-grams; shared gram -> 1 - min/max count
  ratio (0 when equal), missing gram -> 1; mean over page1's grams.
- findSimilarFiles (:436-600): candidate pages scored by
  erg = (1 - vari + jaccard)/2, kept when 0.689 <= erg < 1.0 (the
  == 1.0 exclusion drops same-content duplicates), at most 5;
  candidates with IDENTICAL readable text are skipped outright.
  The reference harvests candidates by live-crawling the page's
  links and same-URL-prefix pages; in a corpus setting the candidate
  pool is the other pages of the SAME HOST within a bounded
  doc-ordinal window, and the kept 5 are the top by (erg DESC, url)
  — a deterministic stand-in for its crawl-order iteration budget
  (documented deviation; the similarity math is verbatim).
- compareDocuments (:297-368): child-by-child textContent diff of
  the two body trees, recursing into conflicting children up to
  maxDepth=100; the short-list fallback node carries textContent
  "#####" so extra children always conflict.  The per-child xpath
  segment surgery (strip-own-root, `#` paths collapse to the parent)
  reproduces the reference's string ops exactly.
- startPageSegmentation (:789-868): per similar page, merge the new
  conflict set unless it grows conflicts by >= 50% (then the page is
  dropped as incompatible — and excluded from rating); afterwards
  every non-conflict xpath that is a SUBSTRING of a conflict xpath
  is removed (reference uses String.contains, kept).
- SimilarityCalculator.calculateSimilarityForNode (:86-137): for a
  conflict xpath, readable-text line bags per document (similars +
  original; missing node -> ""), pairwise Jaccard over unique lines
  (NaN -> 0), average-of-averages; variability = 1 - similarity.
  Non-conflict segments have variability 0.
- Segment.getColor (Segment.java:66-92): GREEN at 0 then
  LIGHTGREEN/GREENYELLOW/YELLOW/REDYELLOW/LIGHTRED/RED above
  0.14/0.28/0.42/0.58/0.72/0.86.

Spark shapes (10^12 pages):
- Fingerprints are PURE JVM column ops (regexp_extract_all + tag
  truncation via transform + the verbatim Java token regex +
  positional 9-gram slicing) — no Python touches page bytes.
- Candidate generation is an EQUI-join on (host, ordinal±k), never a
  per-host cross join — pairs are O(N * window), immune to the 40%
  hot-host skew, and each page's pair set is bounded exactly like
  the reference's crawl budget.
- Pair scoring joins exploded fingerprint rows on (url, qgram) —
  high-cardinality keys, map-side combinable aggregation.
- Segmentation runs ONE applyInPandas over (page, <=5 similar
  htmls) groups — bounded fan-in, no shuffle amplification; the DOM
  diff is per-group local work.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp.html_text import (Node, _parent_index_map, document_to_readable_text,
                           parse_html, xpath_nodes)
from kgp.tokenize import tokenize, word_ngrams

Q_GRAM_LENGTH = 9          # PageSegmenter.java:58 DEFAULT_LENGTH_OF_Q_GRAMS
SIMILARITY_NEED = 0.689    # :62 DEFAULT_SIMILARITY_NEED
MAX_DEPTH = 100            # :64 DEFAULT_MAX_DEPTH
NUM_SIMILAR = 5            # :66 DEFAULT_NUM_SIMILAR_DOCUMENTS
CANDIDATE_WINDOW = 30      # corpus stand-in for the crawl iteration budget

# Segment.getColor thresholds (Segment.java:66-92, config defaults)
_COLOR_STEPS = [(0.86, "RED"), (0.72, "LIGHTRED"), (0.58, "REDYELLOW"),
                (0.42, "YELLOW"), (0.28, "GREENYELLOW"),
                (0.14, "LIGHTGREEN")]

_TAG_RE = re.compile(r"(<.*?>)", re.DOTALL | re.IGNORECASE)
_SKIP_MARKS = ("<!", "<html", "<head", "<title", "<body")


def color_of(variability: float) -> str:
    for step, name in _COLOR_STEPS:
        if variability > step:
            return name
    return "GREEN"


# ------------------------------------------------ pure-python twins


def list_tags(html_text: str) -> list[str]:
    """PageSegmenterHelper.listTags port (:121-208)."""
    out: list[str] = []
    for m in _TAG_RE.finditer(html_text):
        tag = m.group(1)
        if " " in tag:
            tag = tag[:tag.index(" ")] + ">"
            if any(mark in tag for mark in _SKIP_MARKS):
                continue
        out.append(tag)
    return out


def fingerprint(html_text: str,
                length: int = Q_GRAM_LENGTH) -> dict[str, int]:
    """createFingerprint port (PageSegmenter.java:370-385): counted
    word `length`-grams of the space-joined tag list."""
    tag_list = "".join(" " + t for t in list_tags(html_text))
    return dict(Counter(word_ngrams(tokenize(tag_list), length, length)))


def fp_similarity(fp1: dict[str, int], fp2: dict[str, int]) -> float:
    """SimilarityCalculator.calculateSimilarity port (:37-77) —
    asymmetric mean difference over fp1's unique q-grams."""
    variance: list[float] = []
    for gram, v1 in fp1.items():
        v2 = fp2.get(gram)
        if v2 is None:
            variance.append(1.0)
        elif v1 == v2:
            variance.append(0.0)
        else:
            variance.append(1.0 - min(v1, v2) / max(v1, v2))
    return sum(variance) / len(variance) if variance else float("nan")


def fp_jaccard(fp1: dict[str, int], fp2: dict[str, int]) -> float:
    a, b = set(fp1), set(fp2)
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


def _child_xpath_seg(parent: Node, idx: int) -> str:
    """The reference's per-child xpath increment: constructXPath on
    the child inside the transformed mini-document, then the string
    surgery of compareDocuments (PageSegmenter.java:316-334) which
    strips the mini-root segment.  Net effect: '/name[i]' for element
    children (index when the child has a next sibling or a previous
    same-name sibling; never for html/th), '' for #text/#comment
    children (they rate the PARENT's path)."""
    child = parent.children[idx]
    name = child.tag
    if name.startswith("#"):
        return ""
    ps_count = 1 + sum(1 for s in parent.children[:idx] if s.tag == name)
    has_next = idx + 1 < len(parent.children)
    seg = name
    if (has_next or ps_count > 1) and name not in ("html", "th"):
        seg = f"{name}[{ps_count}]"
    if "script" in name.lower():
        return ""  # constructXPath yields '' for script paths
    return "/" + seg


_MISSING = Node("#missing")
_MISSING.children.append(Node("#text", data="#####"))


def compare_nodes(n1: Node, n2: Node, conflict: list[str],
                  nonconflict: list[str], level: int,
                  xpath: str) -> None:
    """compareDocuments port (PageSegmenter.java:297-368): diff the
    children of n1 against the children of n2 positionally."""
    def _tc(c: Node) -> str:
        # Java getTextContent: a comment node's content is its data
        # (textContent excludes comments only for ELEMENT nodes)
        return (c.data if c.tag in ("#text", "#comment")
                else c.text_content())

    for i, c1 in enumerate(n1.children):
        t1 = _tc(c1)
        if len(t1) == 0:
            continue
        c2 = n2.children[i] if i < len(n2.children) else _MISSING
        t2 = _tc(c2)
        new_xpath = xpath + _child_xpath_seg(n1, i)
        if t1 == t2:
            if new_xpath not in nonconflict and new_xpath not in conflict:
                nonconflict.append(new_xpath)
        else:
            if new_xpath not in conflict:
                conflict.append(new_xpath)
                if new_xpath in nonconflict:
                    nonconflict.remove(new_xpath)
            if c1.children and c2.children and level >= 0:
                compare_nodes(c1, c2, conflict, nonconflict,
                              level - 1, new_xpath)


def _first_node(root: Node, xpath: str) -> Node | None:
    nodes = xpath_nodes(root, xpath)
    return nodes[0] if nodes else None


def _body(root: Node) -> Node | None:
    for n in root.iter():
        if n.tag == "body":
            return n
    return None


def node_similarity(roots: list[Node], xpath: str) -> float:
    """SimilarityCalculator.calculateSimilarityForNode port (:86-137):
    line-bag pairwise Jaccard, average-of-averages."""
    line_sets: list[set[str]] = []
    for root in roots:
        node = _first_node(root, xpath)
        text = document_to_readable_text(node) if node is not None else ""
        # StringTokenizer(simNode, "\n"): empty lines never surface
        line_sets.append({ln for ln in text.split("\n") if ln != ""})
    per_doc: list[float] = []
    for i, cur in enumerate(line_sets):
        jaccs: list[float] = []
        for j, other in enumerate(line_sets):
            if i == j:
                continue
            union = cur | other
            jacc = len(cur & other) / len(union) if union else 0.0
            if math.isnan(jacc):
                jacc = 0.0
            jaccs.append(jacc)
        per_doc.append(sum(jaccs) / len(jaccs) if jaccs else float("nan"))
    return sum(per_doc) / len(per_doc) if per_doc else float("nan")


def segment_page(html: str | bytes,
                 similar_htmls: list[str | bytes],
                 max_depth: int = MAX_DEPTH) -> list[dict]:
    """startPageSegmentation steps 3-4 (PageSegmenter.java:789-868)
    with `similar_htmls` standing in for findSimilarFiles' output
    (already ranked best-first).  Returns
    [{xpath, depth, variability}] — conflicts rated by
    calculateSimilarityForAllNodes, non-conflicts at 0.0."""
    root = parse_html(html)
    body1 = _body(root)
    if body1 is None:
        return []
    sim_roots = [parse_html(h) for h in similar_htmls]

    conflict: list[str] = []
    nonconflict: list[str] = []
    kept_roots: list[Node] = []
    for sim_root in sim_roots:
        body2 = _body(sim_root)
        if body2 is None:
            continue
        new_c: list[str] = []
        new_nc: list[str] = []
        compare_nodes(body1, body2, new_c, new_nc, max_depth,
                      "/html/body")
        # the 50%-growth incompatibility rule (:816-840); Java's
        # int division on `conflictNodes.size() * 50 / 100` kept
        if (len(new_c) - len(conflict) < len(conflict) * 50 // 100
                or len(conflict) == 0):
            for xp in new_c:
                if xp not in conflict:
                    conflict.append(xp)
            for xp in new_nc:
                if xp not in nonconflict:
                    nonconflict.append(xp)
            kept_roots.append(sim_root)
        # else: incompatible similar page — dropped from rating too

    # substring scrub (:845-855): String.contains, as written
    for c in conflict:
        for nc in list(nonconflict):
            if nc in c:
                nonconflict.remove(nc)

    pmap = _parent_index_map(root)

    def depth_of(node: Node) -> int:
        level = 0
        cur = node
        while id(cur) in pmap:
            cur = pmap[id(cur)][0]
            level += 1
        return level

    rating_roots = kept_roots + [root]
    segments: list[dict] = []
    for xp in nonconflict:
        node = _first_node(root, xp)
        if node is None:
            continue
        segments.append(dict(xpath=xp, depth=depth_of(node),
                             variability=0.0))
    for xp in conflict:
        node = _first_node(root, xp)
        if node is None:
            continue
        sim = node_similarity(rating_roots, xp)
        segments.append(dict(xpath=xp, depth=depth_of(node),
                             variability=1.0 - sim))
    return segments


# ---------------------------------------------------- Spark stages


# Tokenizer.java:27 verbatim (same literal as kgp.informativeness)
_TOKEN_SPLIT_JAVA = (r"(?:[A-Z][a-z]?\.)+|[\p{L}\w+]+(?:[-\.,][\p{L}\w]+)*"
                     r"|\.[\p{L}\w]+|</?[\p{L}\w]+>|\$\d+\.\d+|[^\w\s<]+")


def tag_qgrams_col(html_col: Column,
                   length: int = Q_GRAM_LENGTH) -> Column:
    """createFingerprint as a pure JVM column: html -> array of tag
    q-grams (counted downstream).  Mirrors list_tags + tokenize +
    word_ngrams exactly — truncation at the first space, the
    space-branch skip marks, the verbatim token regex, positional
    `length`-gram windows."""
    raw = F.regexp_extract_all(html_col, F.lit(r"(?is)(<.*?>)"), 1)
    def _trunc(t: Column) -> Column:
        cut = F.concat(F.substring_index(t, " ", 1), F.lit(">"))
        has_space = F.instr(t, " ") > 0
        skip = (cut.contains("<!") | cut.contains("<html")
                | cut.contains("<head") | cut.contains("<title")
                | cut.contains("<body"))
        return (F.when(~has_space, t)
                .when(skip, F.lit(None))
                .otherwise(cut))
    tags = F.filter(F.transform(raw, _trunc), lambda t: t.isNotNull())
    tag_list = F.concat(F.lit(" "),
                        F.array_join(tags, " "))
    toks = F.regexp_extract_all(tag_list, F.lit(_TOKEN_SPLIT_JAVA), 0)
    n = F.size(toks)
    return F.when(
        n >= length,
        F.transform(F.sequence(F.lit(1), n - (length - 1)),
                    lambda i: F.array_join(
                        F.slice(toks, i, length), " "))
    ).otherwise(F.array().cast("array<string>"))


def _host_col(url: Column) -> Column:
    return F.regexp_extract(url, r"^[a-z]+://([^/]+)", 1)


def page_fingerprints(pages: DataFrame,
                      length: int = Q_GRAM_LENGTH) -> DataFrame:
    """(url, qgram, c): exploded counted fingerprint rows."""
    html_str = F.decode(F.col("html"), "UTF-8")
    return (pages
            .select("url",
                    F.explode(tag_qgrams_col(html_str, length))
                    .alias("qgram"))
            .groupBy("url", "qgram").agg(F.count("*").alias("c")))


def template_pairs(pages: DataFrame,
                   similarity_need: float = SIMILARITY_NEED,
                   limit: int = NUM_SIMILAR,
                   window: int = CANDIDATE_WINDOW) -> DataFrame:
    """findSimilarFiles steps 1-2 over a corpus: for every page, the
    top-`limit` same-host pages with 0.689 <= erg < 1.0 where
    erg = (1 - vari + jaccard)/2 over tag-q-gram fingerprints.

    -> (url, sim_url, vari, jacc, erg, rank); vari/jacc/erg rounded
    (9/9/6), the filter and ranking run on the ROUNDED erg so both
    engines cut identically."""
    from pyspark.sql import Window

    fp = page_fingerprints(pages)
    sizes = fp.groupBy("url").agg(F.count("*").alias("n_unique"))

    base = pages.select("url", _host_col(F.col("url")).alias("host"),
                        "text")
    w = Window.partitionBy("host").orderBy("url")
    ordd = base.select("url", "host", "text",
                       F.row_number().over(w).alias("o"))
    offs = [o for o in range(-window, window + 1) if o != 0]
    cand = (ordd
            .select("url", "host", "text",
                    F.explode(F.array([F.col("o") + F.lit(d)
                                       for d in offs])).alias("o2"))
            .alias("a")
            .join(ordd.alias("b"),
                  (F.col("a.host") == F.col("b.host"))
                  & (F.col("a.o2") == F.col("b.o")))
            # findSimilarFiles skips candidates with identical
            # readable text (PageSegmenter.java:553-557)
            .where(F.col("a.text") != F.col("b.text"))
            .select(F.col("a.url").alias("url"),
                    F.col("b.url").alias("sim_url")))

    fa = fp.select(F.col("url").alias("u1"),
                   F.col("qgram").alias("qg"),
                   F.col("c").alias("ca"))
    fb = fp.select(F.col("url").alias("u2"),
                   F.col("qgram").alias("qg"),
                   F.col("c").alias("cb"))
    joined = (cand
              .join(fa, F.col("url") == F.col("u1"))
              .join(fb, (F.col("sim_url") == F.col("u2"))
                    & (fa["qg"] == fb["qg"]), "left"))

    d = (F.when(F.col("cb").isNull(), F.lit(1.0))
         .when(F.col("ca") == F.col("cb"), F.lit(0.0))
         .otherwise(1.0 - F.least("ca", "cb")
                    / F.greatest("ca", "cb").cast("double")))
    agg = (joined
           .groupBy("url", "sim_url")
           .agg(F.count("*").alias("n1"),
                F.sum(F.round(d, 9)).alias("dsum"),
                F.sum(F.when(F.col("cb").isNotNull(), 1)
                      .otherwise(0)).alias("inter")))
    scored = (agg
              .join(sizes.select(F.col("url").alias("sim_url"),
                                 F.col("n_unique").alias("n2")),
                    "sim_url")
              .withColumn("vari", F.col("dsum") / F.col("n1"))
              .withColumn("jacc", F.col("inter")
                          / (F.col("n1") + F.col("n2")
                             - F.col("inter")))
              .withColumn("erg", F.round(
                  (1.0 - F.col("vari") + F.col("jacc")) / 2.0, 6))
              .where((F.col("erg") >= F.lit(similarity_need))
                     & (F.col("erg") < 1.0)))
    rw = Window.partitionBy("url").orderBy(F.col("erg").desc(),
                                           F.col("sim_url").asc())
    return (scored
            .withColumn("rank", F.row_number().over(rw))
            .where(F.col("rank") <= limit)
            .select("url", "sim_url",
                    F.round("vari", 9).alias("vari"),
                    F.round("jacc", 9).alias("jacc"),
                    "erg", F.col("rank").cast("int").alias("rank")))


_SEGMENT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("xpath", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("variability", T.DoubleType()),
    T.StructField("color", T.StringType()),
])


def page_segments_stage(pages: DataFrame, pairs: DataFrame,
                        max_depth: int = MAX_DEPTH) -> DataFrame:
    """startPageSegmentation steps 3-4 distributed: join each page
    with its (<= limit) similar pages' html, ONE applyInPandas per
    url group runs the DOM diff + rating locally.

    -> (url, xpath, depth, variability, color); variability rounded
    to 6."""
    sim_html = (pairs
                .join(pages.select(F.col("url").alias("sim_url"),
                                   F.col("html").alias("sim_html")),
                      "sim_url")
                .select("url", "erg", "sim_url", "sim_html"))
    grouped = (pages.select("url", "html")
               .join(sim_html, "url", "left"))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out: list[tuple] = []
        url = pdf["url"].iloc[0]
        html = pdf["html"].iloc[0]
        sims = pdf[pdf["sim_url"].notna()].sort_values(
            ["erg", "sim_url"], ascending=[False, True])
        sim_htmls = [bytes(h) for h in sims["sim_html"]]
        if sim_htmls:
            for seg in segment_page(bytes(html), sim_htmls,
                                    max_depth=max_depth):
                v = round(seg["variability"], 6)
                out.append((url, seg["xpath"], seg["depth"], v,
                            color_of(seg["variability"])))
        return pd.DataFrame(out, columns=["url", "xpath", "depth",
                                          "variability", "color"])

    return (grouped.groupBy("url")
            .applyInPandas(run, schema=_SEGMENT_SCHEMA))


# ------------------------------------------- makeMutual (xpath side)


def remove_xpath_indices(xpath: str) -> str:
    """PageAnalyzer.removeXPathIndices (:discussed at :569-571):
    strip every [n] index."""
    return re.sub(r"\[(\d)+\]", "", xpath)


def make_mutual_xpath(xpaths: list[str]) -> str:
    """PageAnalyzer.makeMutualXPath port: find the most-common
    index-free path, pick the most-specific member of its group, then
    drop every [n] index that VARIES across the input set.  The
    reference iterates a HashSet (salted order); this twin iterates
    in FIRST-APPEARANCE order so ties resolve deterministically
    (documented deviation — same rule as the other Set-order ports).
    """
    if not xpaths:
        return ""
    seen = list(dict.fromkeys(xpaths))
    counts: dict[str, int] = {}
    for xp in seen:
        counts[remove_xpath_indices(xp)] = \
            counts.get(remove_xpath_indices(xp), 0) + 1
    # stable: first key with the max count (insertion order)
    best_count = max(counts.values())
    highest = ""
    for k, v in counts.items():
        if v == best_count:
            highest = k
            break
    highest_elems = highest.split("/")

    mutual = ""
    max_matches = 0
    max_length = -(2 ** 31)
    for cur in seen:
        elems = remove_xpath_indices(cur).split("/")
        matches = 0
        match = True
        for i in range(min(len(elems), len(highest_elems))):
            if elems[i] != highest_elems[i]:
                match = False
                break
            matches += 1
        if match and matches >= max_matches and len(elems) >= max_length:
            max_matches = matches
            mutual = cur
            max_length = len(elems)

    path = mutual.split("/")
    keep = [True] * len(path)
    for xp2 in seen:
        arr2 = xp2.split("/")
        for i in range(min(len(path), len(arr2))):
            b1 = path[i].find("[")
            if b1 == -1:
                continue
            b2 = arr2[i].find("[")
            if b2 == -1:
                continue
            if path[i][:b1] != arr2[i][:b2]:
                continue
            if int(path[i][b1 + 1:-1]) != int(arr2[i][b2 + 1:-1]):
                keep[i] = False
    out = [p if keep[i] or p.find("[") == -1 else p[:p.find("[")]
           for i, p in enumerate(path)]
    return "/".join(out)
