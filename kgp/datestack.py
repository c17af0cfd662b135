"""Web-page dating technique stack: Head / Structure / URL / HTTP /
Reference date getters and their raters.

Reference semantics:

- ``HeadDateGetter`` (palladian-core extraction/date/getter/
  HeadDateGetter.java:31-71): ``//head/meta`` nodes, name attribute
  from [name, http-equiv, property, itemprop] (first present),
  keyword via ``KeyWords.searchKeyword(value, HEAD_KEYWORDS)``, date
  via ``DateParser.findDate(content, RegExp.HTML_HEAD_DATES)``.
- ``StructureDateGetter`` (StructureDateGetter.java:36-131): pre-order
  walk from ``//body`` (depth 0); per node (skipping script/img for
  the date check and never descending INTO script) scan the
  attributes in document order -- a date-bearing attribute (href
  excluded) wins ``date``/``dateAttribute``, keyword-bearing
  attributes feed ``dateKeyword`` with the as-written
  first-null-then-priority chain; keyword falls back to the
  attribute name.
- ``UrlDateGetter`` (UrlDateGetter.java:24-36): first format of
  ``RegExp.URL_DATES`` that finds a date wins.
- ``HttpDateGetter`` (HttpDateGetter.java:33-66): for each of
  KeyWords.HTTP_KEYWORDS = [date, last-modified], every header value
  is tried against EVERY RegExp.HTTP_DATES format (no break -- one
  MetaDate per matching format, quirk kept).
- Raters (palladian-experimental extraction/date/rater/*.java):
  UrlDateRater (format-keyed constants, range check), the HTTP rater
  and the reference rate. ``getKeywordPriority``'s MODIFIED-class bug
  (kept in kgp.contentdates.keyword_priority) makes the middle keyword
  bucket unreachable -- as in the reference.
- ``ReferenceDateGetter`` (ReferenceDateGetter.java:29-77) downloads
  every linked page; the crawl substitute ``reference_dates_df``
  joins the page-links table to the per-page best content dates of
  the link TARGETS inside the corpus -- a pure DataFrame composition
  (links ⋈ best_content_dates), no fetching.

Spark shape: the getters run inside ONE column-pruned Arrow pass
(``page_dates_stage``); everything downstream (rates are plain
per-row constants + per-page aggregations) stays JVM-side in the
gate. At 100 TB the stage is embarrassingly parallel over pages and
carries no shuffle.
"""

from __future__ import annotations

import functools
from typing import NamedTuple

from kgp.contentdates import keyword_priority, search_keyword
from kgp.dateparse import (HTML_HEAD_DATES, HTTP_DATES, ParsedDate,
                           find_date, get_exactness,
                           get_normalized_date_string)
from kgp.dates import (DATE_URL, DATE_URL_D, DATE_URL_SPLIT,
                       DATE_ISO8601_YMD_NO)
from kgp import dateparse as _dp
from kgp.dates import _df, _g
from kgp.html_text import Node

# KeyWords.java:24-30
HTTP_KEYWORDS = ["date", "last-modified"]
HEAD_KEYWORDS = ["published", "publish", "pubdate", "posted",
                 "released", "release", "displaydate", "create",
                 "update", "updated", "last-modified", "modified",
                 "pdate", "date", "change"]
DATE_BODY_STRUC = [
    "published", "publish", "posted", "create", "created", "released",
    "pubdate", "pdate", "date_first_released", "date_last_published",
    "displaydate", "display_date", "last-modified", "last modified",
    "date-last-modified", "update", "dc:date", "xsd:date",
    "xsd:dateTime", "date", "time", "datetime", "datestamp",
    "date-header", "revised", "revise",
]

# RegExp.DATE_URL_MMMM_D (RegExp.java:148-149)
from kgp.dates import MONTH_NAME_LONG as _MONTH_NAME_LONG

DATE_URL_MMMM_D = _df(
    _g(_dp.YEAR_SHORT_LONG) + "/" + _g(_MONTH_NAME_LONG) + "/"
    + _g(_dp.DAY_OF_MONTH) + "/", "YYYY_MMMM_DD_URL")

# RegExp.URL_DATES order (RegExp.java:326-327)
URL_DATES = [DATE_URL_D, DATE_URL_MMMM_D, DATE_URL_SPLIT,
             DATE_ISO8601_YMD_NO, _dp.DATE_ISO8601_YWD,
             _dp.DATE_ISO8601_YD, DATE_URL, _dp.DATE_ISO8601_YW]


class TechDate(NamedTuple):
    technique: str            # head | structure | url | http
    keyword: str | None
    tag: str | None           # structure only
    depth: int                # structure only, else -1
    date: ParsedDate


# ------------------------------------------------------------ getters
def head_dates(root: Node) -> list[TechDate]:
    """HeadDateGetter.getDates (:31-55)."""
    out: list[TechDate] = []
    head = next((n for n in root.iter() if n.tag == "head"), None)
    if head is None:
        return out
    for node in head.children:
        if node.tag != "meta":
            continue
        name_val = None
        for attr in ("name", "http-equiv", "property", "itemprop"):
            if attr in node.attrs:
                name_val = str(node.attrs[attr])
                break
        content = node.attrs.get("content")
        if name_val is None or content is None:
            continue
        keyword = search_keyword(name_val, HEAD_KEYWORDS)
        if keyword is None:
            continue
        date = find_date(str(content), HTML_HEAD_DATES)
        if date is None:
            continue
        out.append(TechDate("head", keyword, None, -1, date))
    return out


def _structure_date(node: Node) -> TechDate | None:
    """StructureDateGetter.getDate (:92-131), literal branch chain."""
    if not node.attrs:
        return None
    highest_priority = -1
    date: ParsedDate | None = None
    date_keyword: str | None = None
    date_attribute: str | None = None
    # the reference walks the DOM NamedNodeMap, which the
    # validator.nu parser exposes in ALPHABETICAL attribute order
    # (pinned by the zeit3 golden: itemprop=datePublished must be
    # visited AFTER class=date to win the keyword slot)
    for attr_name, attr_val in sorted(node.attrs.items()):
        val = str(attr_val)
        current_keyword = search_keyword(val, DATE_BODY_STRUC)
        current_attr = attr_name.lower()
        if current_attr == "href":
            continue
        current_date = find_date(val)
        if current_date is not None:
            date_attribute = current_attr
            date = current_date
        elif date_keyword is None:
            date_keyword = current_keyword
        else:
            current_priority = keyword_priority(current_keyword)
            if current_priority > highest_priority:
                date_keyword = current_keyword
                highest_priority = current_priority
    if date is None:
        return None
    if date_keyword is None:
        date_keyword = date_attribute
    return TechDate("structure", date_keyword, node.tag, -1, date)


def structure_dates(root: Node) -> list[TechDate]:
    """StructureDateGetter.getDates + getChildrenDates (:36-85):
    pre-order from //body at depth 0; script/img carry no date of
    their own and script subtrees are never entered."""
    body = next((n for n in root.iter() if n.tag == "body"), None)
    if body is None:
        return []
    out: list[TechDate] = []
    stack: list[tuple[Node, int]] = [(body, 0)]
    while stack:
        node, depth = stack.pop()
        name = node.tag.lower()
        if name not in ("script", "img", "#text", "#comment"):
            d = _structure_date(node)
            if d is not None:
                out.append(d._replace(depth=depth))
        if name != "script":
            for child in reversed(node.children):
                stack.append((child, depth + 1))
    return out


def url_date(url: str) -> ParsedDate | None:
    """UrlDateGetter.getDates(String) (:24-36): first URL format
    wins."""
    for fmt in URL_DATES:
        d = find_date(url, [fmt])
        if d is not None:
            return d
    return None


def http_dates(headers: dict[str, list[str]]) -> list[TechDate]:
    """HttpDateGetter.checkHttpTags (:52-66): every header value is
    offered to EVERY RFC format (no break)."""
    out: list[TechDate] = []
    for keyword in HTTP_KEYWORDS:
        for value in headers.get(keyword, []):
            for fmt in HTTP_DATES:
                d = find_date(value, [fmt])
                if d is not None:
                    out.append(TechDate("http", keyword, None, -1, d))
    return out


# ----------------------------------------------------- rater helpers
def _cmp_field(i: int, k: int) -> int:
    """DateComparator.compare(int,int) (:60-68): unset sorts OLDEST
    (-1 vs set -> MAX_VALUE), set fields compare descending."""
    if i == -1 and k != -1:
        return 1
    if k == -1 and i != -1:
        return -1
    return (k > i) - (k < i)


def compare_dates(a: ParsedDate, b: ParsedDate,
                  exactness: int = 6) -> int:
    """DateComparator.compare (:36-57): newest-first sign, stopping at
    the given exactness depth."""
    fields = [(a.year, b.year), (a.month, b.month), (a.day, b.day),
              (a.hour, b.hour), (a.minute, b.minute),
              (a.second, b.second)]
    for depth, (x, y) in enumerate(fields, start=1):
        if depth > exactness:
            break
        r = _cmp_field(x, y)
        if r != 0:
            return r
    return 0


def order_dates(dates: list, reverse: bool = False,
                key=lambda d: d) -> list:
    """DateComparator.orderDates (:72-80): reverse=False -> OLDEST
    first (the Java double negation), stable."""
    cmp = (lambda p, q: compare_dates(key(p), key(q))) if reverse \
        else (lambda p, q: -compare_dates(key(p), key(q)))
    return sorted(dates, key=functools.cmp_to_key(cmp))


def filter_exactest(dates: list[ParsedDate]) -> list[ParsedDate]:
    """DateExtractionHelper.filterExactest (:103-118)."""
    highest = 0
    for d in dates:
        e = get_exactness(d)
        if e >= highest:
            highest = e
    return [d for d in dates if get_exactness(d) == highest]


def cluster_dates(dates: list[ParsedDate],
                  exactness: int) -> list[list[ParsedDate]]:
    """DateExtractionHelper.cluster (:55-76): first-match clustering
    against each cluster's FIRST member."""
    clusters: list[list[ParsedDate]] = []
    for d in dates:
        for c in clusters:
            if compare_dates(c[0], d, exactness) == 0:
                c.append(d)
                break
        else:
            clusters.append([d])
    return clusters


# pinned "now" (isDateInRange upper bound);
# the reference uses the wall clock (DateExtractionHelper.java:134)
CURRENT_DATE = ParsedDate("", "", 2026, 8, 20, 12, 0, 0, None)
_RANGE_BEGIN = ParsedDate("", "", 1990, 11, 13, 0, 0, 0, None)


def is_date_in_range(d: ParsedDate,
                     now: ParsedDate = CURRENT_DATE) -> bool:
    """DateExtractionHelper.isDateInRange (:128-140)."""
    e = get_exactness(d)
    depth = 3 if e == 0 else min(3, e)
    return (compare_dates(_RANGE_BEGIN, d, depth) > -1
            and compare_dates(d, now, depth) > -1)


class RatedTechDate(NamedTuple):
    td: TechDate
    rate: float


def url_date_rates(dates: list[ParsedDate]) -> list[float]:
    """UrlDateRater.evaluateURLDate (:31-60): format-keyed constant
    rates, 0 outside the plausible range."""
    out = []
    for d in dates:
        rate = 0.0
        if d is not None and is_date_in_range(d):
            if d.fmt == "YYYY_MM_DD":
                rate = 0.95
            elif d.fmt == "YYYY.x.MM.DD":
                rate = 0.98
            elif d.fmt == "YYYY_MM":
                rate = 0.99
            elif d.fmt == "YYYY_MMMM_DD_URL":
                rate = 1.0
            else:
                rate = 0.88
        out.append(rate)
    return out


# --------------------------------------------------------- Spark stage
def page_dates_stage(pages, html_col: str = "html",
                     url_col: str = "url"):
    """All static dating techniques over a page table in ONE
    column-pruned Arrow pass: (url, technique, pos, keyword, tag,
    depth, date_string, fmt, normalized, exactness, rate).

    ``rate`` is the UrlDateRater constant for url rows (the head /
    structure raters return the reference's duplicate-entry lists --
    pytest-pinned in tests/test_datestack.py -- and are applied
    downstream when a single winner is wanted). No shuffle; at corpus
    scale this parallelizes per page with nothing to co-locate."""
    import pandas as pd
    from pyspark.sql import types as T

    from kgp.html_text import parse_html

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("technique", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("keyword", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("date_string", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("normalized", T.StringType()),
        T.StructField("exactness", T.IntegerType()),
        T.StructField("rate", T.DoubleType()),
    ])

    def run(batches):
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                if isinstance(html, (bytes, bytearray)):
                    html = html.decode("utf-8", "replace")
                root = parse_html(html)
                found = head_dates(root) + structure_dates(root)
                per_tech: dict[str, int] = {}
                for td in found:
                    pos = per_tech.get(td.technique, 0)
                    per_tech[td.technique] = pos + 1
                    rows.append((url, td.technique, pos, td.keyword,
                                 td.tag, td.depth,
                                 td.date.date_string, td.date.fmt,
                                 get_normalized_date_string(td.date),
                                 get_exactness(td.date), None))
                ud = url_date(url)
                if ud is not None:
                    rate = url_date_rates([ud])[0]
                    rows.append((url, "url", 0, None, None, -1,
                                 ud.date_string, ud.fmt,
                                 get_normalized_date_string(ud),
                                 get_exactness(ud), rate))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return pages.select(url_col, html_col).mapInPandas(run, schema)


def reference_dates_df(links, rated, *, src_col: str = "src",
                       dst_col: str = "dst", url_col: str = "url",
                       rate_col: str = "rate",
                       age_cols: tuple = ("year", "month", "day",
                                          "hour"),
                       pos_col: str = "abs_pos"):
    """ReferenceDateGetter.getDates (ReferenceDateGetter.java:29-77)
    over a pre-crawled corpus: per link target, keep the
    highest-rate rated content dates and take the OLDEST
    (DateComparator's oldest-first order puts unset (-1) fields
    FIRST -- the newest-first comparator sorts unset last, and
    orderDates(false) reverses it); ties fall back to candidate
    position, matching the stable re-sort of the
    RatedDateComparator-ordered list.

    Pure DataFrame composition: ONE window over the rated candidates
    (target-page-partitioned) and ONE equi-join links->winner. At
    corpus scale the winner table is page-count-sized and the join
    shuffles on the url key only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(url_col).orderBy(
        F.col(rate_col).desc(),
        *[F.col(c).asc() for c in age_cols],
        F.col(pos_col).asc())
    winners = (rated.withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1).drop("_rn"))
    return (links.join(
        winners.withColumnRenamed(url_col, dst_col), dst_col)
        .drop("doc_id"))


# --------------------------------------- WebPageDateEvaluator surface
def best_pub_date_html5(root: Node) -> ParsedDate | None:
    """WebPageDateEvaluator.getBestPubDateHtml5 (:48-78): the first
    <time pubdate datetime=...> inside the LONGEST <article> (whole
    document when none), parsed over the full format bank."""
    articles = [n for n in root.iter() if n.tag == "article"]
    node = root
    longest = -1
    for a in articles:
        length = len(a.text_content())
        if length > longest:
            node, longest = a, length
    for t in node.iter():
        if t.tag == "time" and "pubdate" in t.attrs:
            dt = t.attrs.get("datetime")
            if dt is not None:
                return find_date(str(dt))
    return None


def http_date_rates(dates: list[TechDate], *,
                    download_date: ParsedDate = CURRENT_DATE
                    ) -> list[RatedTechDate]:
    """HttpDateRater.evaluateHTTPDate (HttpDateRater.java:33-71):
    0.75 when the header date is more than 12 h older than the
    download date (fresh last-modified = probably a dynamic
    timestamp, rate 0), then the same oldest-anchored age-discount
    append as the head rater -- duplicate entries kept."""
    result = [RatedTechDate(
        td, 0.75 if _dp.get_difference_hours(td.date, download_date)
        > 12 else 0.0) for td in dates]
    exact = filter_exactest([r.td.date for r in result])
    ordered = order_dates(exact, reverse=False)
    oldest = ordered[0] if ordered else None
    snapshot = order_dates(result, reverse=False,
                           key=lambda r: r.td.date)
    for r in snapshot:
        diff = _dp.get_difference_hours(oldest, r.td.date) \
            if oldest is not None else 0.0
        if diff > 24:
            diff = 24.0
        new_rate = r.rate - r.rate * (diff / 24.0)
        result.append(RatedTechDate(
            r.td, round(new_rate * 10000) / 10000.0))
    return result


def reference_date_rate(dates: list[ParsedDate]) \
        -> tuple[ParsedDate, float] | None:
    """ReferenceDateRater.rate (ReferenceDateRater.java:20-31): ONLY
    the youngest reference date survives, always rated 0 (the rater
    was never finished upstream -- quirk kept)."""
    if not dates:
        return None
    youngest = order_dates(dates, reverse=True)[0]
    return (youngest, 0.0)


def count_dates(date: ParsedDate, dates: list[ParsedDate],
                exactness: int = 0) -> int:
    """DateExtractionHelper.countDates (:100-116): same-date count at
    the given exactness, identity excluded; exactness 0 (UNSET) falls
    back to the pair's common exactness."""
    count = 0
    for current in dates:
        if current is date:
            continue
        depth = exactness
        if depth == 0:
            depth = min(get_exactness(date), get_exactness(current))
        if compare_dates(date, current, depth) == 0:
            count += 1
    return count
