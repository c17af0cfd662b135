"""Feed-reading family: RSS/Atom parsing, post statistics, activity
classification, and update-interval strategies.

Reference semantics (all palladian-retrieval unless noted):

- ``FeedPostStatistics`` (feeds/FeedPostStatistics.java:75-165): sort
  item timestamps, intervals between neighbours, median via the
  FatStats percentile rule (helper/math/FatStats.java:183-194 in
  palladian-commons: ``n = p/100*size``; integer ``n`` averages the
  n-th/n+1-th 1-indexed elements, else takes ``ceil(n)``-th), average
  gap = time range / (n-1), SAMPLE standard deviation of the intervals
  (FatStats.java:146-176, ``isSample()==true`` :305), longest gap =
  max interval, ``avgItemsPerDay = n / max(1, (int)(range/1d))``
  (:166,173-176), ``delayToNewestItem = lastPollTime - newest``
  (:140-147).  ``medianPostInterval``/``postIntervalStandardDeviation``
  are ``(long)`` casts (truncation toward zero), fields initialise to
  -1 and ``validStatistics`` turns true only when >= 2 timestamps
  (:149-161).  With exactly one interval the reference's Welford loop
  yields ``sqrt(0/0) = NaN`` and ``(long)NaN == 0`` in Java, so m==1
  maps to 0.
- ``FeedClassifier.classify(Feed)`` (feeds/FeedClassifier.java:96-148):
  the rule cascade EMPTY / SINGLE_ENTRY / ON_THE_FLY / CHUNKED /
  ZOMBIE / SPONTANEOUS / CONSTANT / SLICED with the literal thresholds
  5 s, 8x median & 8*7 days, stddev >= median/10 & median > 1 day,
  longest < 12x median & < 2 h & >= 4 items/day.
- ``MavUpdateStrategy.update`` (feeds/updates/MavUpdateStrategy.java:
  44-85): moving-average check interval; the no-new-item branch
  replaces the OLDEST interval by the delay using Java INTEGER
  division (``intervals.get(0) / size`` on longs), minutes via
  ``(int)(gap / 60000)`` truncation.
- ``FixLearnedUpdateStrategy.update`` (feeds/updates/
  FixLearnedUpdateStrategy.java:60-96): first-window learned fix
  interval, ``intervalLength / ((n-1) * 60000)`` Java long division;
  mode 1 uses the first poll time and divides by ``n``.
- ``AbstractUpdateStrategy.getAllowedInterval`` (feeds/updates/
  AbstractUpdateStrategy.java:26-36): clamp to [lowest, highest] where
  -1 disables a bound; ``UpdateStrategy.DEFAULT_CHECK_TIME == 60``
  minutes (feeds/updates/UpdateStrategy.java:9).
- ``FeedItemHashGenerator.STRATEGY`` (feeds/FeedItemHashGenerator.java):
  sha1 of title + removeSessionId(url) + removeSessionId(identifier)
  where Java's StringBuilder renders null as the string "null"; null
  result only when all three parts are null.

Spark-first design: feed XML is synthesised with pure column
expressions (JVM codegen, zero Python), the RSS/Atom parser is ONE
Arrow-batched ``mapInPandas`` stage (the only Python in the family),
and every statistic / classification / interval rule is a pure column
expression over per-feed sorted-timestamp arrays — at 10^12-document
scale the stats pipeline is one shuffle (groupBy feed) followed by
map-side arithmetic.  Exact integer moments are carried as
DECIMAL(38,0) so the sample variance is computed from exact sums on
both the Spark and the DuckDB oracle side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp.webgraph import remove_session_id_col

# Far-future poll constant for feeds whose poll_kind is 0 (and the
# fallback for empty feeds): ~4 months after the synthetic corpus'
# newest event, which makes those feeds ZOMBIE-eligible (delay > 8
# weeks, FeedClassifier.java:124-126).
FAR_POLL = "2024-06-01 00:00:00"

# 24-char word-char token: matches UrlHelper.SESSIONID_PATTERN's
# 12-200 char class so removeSessionId strips it deterministically.
_SESSION_TOKEN = "f00dbabe24681357acef9753"

DEFAULT_CHECK_TIME = 60  # minutes, UpdateStrategy.java:9

MS_PER_MIN = 60_000
MS_PER_DAY = 86_400_000


def _ldiv(a: Column, b: Column | int) -> Column:
    """Exact Java-style long division for non-negative operands:
    (a - a % b) / b is an exact integer in double space, so the result
    never suffers the float-rounding-across-a-boundary hazard of
    floor(a / b)."""
    bb = F.lit(b) if isinstance(b, int) else b
    return ((a - a % bb) / bb).cast("long")


# --------------------------------------------------------- synthesis
def synth_feeds(spark: SparkSession, sf_dir: str,
                n_feeds: int = 40) -> DataFrame:
    """Deterministic feed corpus derived from the events table.

    Contract mirrored symbolically by the oracle (kgp.oracle.
    _feed_items_cte), so every derivation must stay SQL-expressible:

    - ``fid = event_id % n_feeds``; ``mode = fid % 4``:
      mode 0 -> every event of the residue class, second-truncated ts;
      mode 1 -> same membership, DAY-truncated ts (chunked bursts);
      mode 2 -> sparse: only ``event_id % (10*n_feeds) == fid``;
      mode 3 -> single item: ``event_id == fid``.
      Plus two item-less feeds (fid n_feeds, n_feeds+1) -> EMPTY.
    - ``poll_kind = (fid / 4) % 3`` (integer division): 0 -> constant
      FAR_POLL, 1 -> newest item + 3 days, 2 -> newest item + 3 s.
    - even fid -> RSS 2.0 (RFC-1123 pubDate), odd fid -> Atom
      (ISO-8601 published).
    - title 'Event <id> <type>'; guid 'urn:feed:<fid>:item:<id>';
      link carries a ';jsessionid=' token the hash/clean path strips.

    Returns (feed_url, feed_id, fmt, fetched_ts, xml binary).
    """
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    fid = (F.col("event_id") % n_feeds).alias("fid")
    mode = F.col("fid") % 4
    base = (events.select("event_id", "user_id", "event_type", "ts",
                          fid)
            .where((mode.isin(0, 1))
                   | ((mode == 2)
                      & (F.col("event_id") % (10 * n_feeds) == F.col("fid")))
                   | ((mode == 3) & (F.col("event_id") == F.col("fid")))))
    item_ts = F.when(mode == 1, F.date_trunc("DAY", F.col("ts"))) \
        .otherwise(F.date_trunc("SECOND", F.col("ts")))
    title = F.concat(F.lit("Event "), F.col("event_id"), F.lit(" "),
                     F.col("event_type"))
    link = F.concat(F.lit("https://u"), F.col("user_id"),
                    F.lit(".feeds.example.org/items/"), F.col("event_id"),
                    F.lit(";jsessionid=" + _SESSION_TOKEN + "?ref=rss"))
    guid = F.concat(F.lit("urn:feed:"), F.col("fid"), F.lit(":item:"),
                    F.col("event_id"))
    rss_date = F.date_format(item_ts, "EEE, dd MMM yyyy HH:mm:ss 'GMT'")
    iso_date = F.date_format(item_ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    is_rss = F.col("fid") % 2 == 0
    snippet = F.when(is_rss, F.concat(
        F.lit("<item><title>"), title, F.lit("</title><link>"), link,
        F.lit("</link><guid>"), guid, F.lit("</guid><pubDate>"),
        rss_date, F.lit("</pubDate></item>"))).otherwise(F.concat(
            F.lit("<entry><title>"), title, F.lit('</title><link href="'),
            link, F.lit('"/><id>'), guid, F.lit("</id><published>"),
            iso_date, F.lit("</published></entry>")))
    items = base.select(
        "fid", F.unix_millis(item_ts).alias("pub_ms"),
        "event_id", snippet.alias("snippet"))
    per_feed = items.groupBy("fid").agg(
        F.concat_ws("\n", F.transform(
            F.array_sort(F.collect_list(
                F.struct("pub_ms", "event_id", "snippet"))),
            lambda s: s["snippet"])).alias("body"),
        F.max(F.col("pub_ms")).alias("newest_ms"))
    shell = spark.range(n_feeds + 2).select(F.col("id").alias("fid"))
    f = shell.join(per_feed, "fid", "left")
    poll_kind = (F.col("fid") / F.lit(4)).cast("long") % 3
    far = F.to_timestamp(F.lit(FAR_POLL))
    newest_ts = F.timestamp_millis(F.col("newest_ms"))
    fetched = F.coalesce(
        F.when(poll_kind == 1, newest_ts + F.expr("INTERVAL 3 DAYS"))
        .when(poll_kind == 2, newest_ts + F.expr("INTERVAL 3 SECONDS")),
        far)
    is_rss_f = F.col("fid") % 2 == 0
    fmt = F.when(is_rss_f, F.lit("rss")).otherwise(F.lit("atom"))
    feed_url = F.concat(F.lit("https://feed"), F.col("fid"),
                        F.lit(".example.org/"), fmt, F.lit(".xml"))
    body = F.coalesce(F.col("body"), F.lit(""))
    xml = F.when(is_rss_f, F.concat(
        F.lit('<?xml version="1.0"?>\n<rss version="2.0"><channel>'
              "<title>Feed "), F.col("fid"), F.lit("</title>\n"),
        body, F.lit("\n</channel></rss>"))).otherwise(F.concat(
            F.lit('<?xml version="1.0"?>\n<feed xmlns='
                  '"http://www.w3.org/2005/Atom"><title>Feed '),
            F.col("fid"), F.lit("</title>\n"), body, F.lit("\n</feed>")))
    return f.select(feed_url.alias("feed_url"), F.col("fid").alias("feed_id"),
                    fmt.alias("fmt"), fetched.alias("fetched_ts"),
                    F.encode(xml, "UTF-8").alias("xml"))


# ----------------------------------------------------------- parsing
_ITEM_SCHEMA = T.StructType([
    T.StructField("feed_url", T.StringType()),
    T.StructField("fetched_ts", T.TimestampType()),
    T.StructField("guid", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("link", T.StringType()),
    T.StructField("published_ts", T.TimestampType()),
])

_ATOM_NS = "{http://www.w3.org/2005/Atom}"


def _parse_rfc822(s):
    from email.utils import parsedate_to_datetime
    try:
        dt = parsedate_to_datetime(s)
    except (TypeError, ValueError):
        return None
    if dt.tzinfo is not None:
        import datetime as _dt
        dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return dt


def _parse_iso(s):
    import datetime as _dt
    if not s:
        return None
    try:
        dt = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return dt


_RDF_NS = "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}"
_RSS10_NS = "{http://purl.org/rss/1.0/}"
_DC_NS = "{http://purl.org/dc/elements/1.1/}"

# XML control characters the spec forbids (ROME-tolerated crawl-feed
# damage — e.g. a 0x04 inside CDATA); tab/newline/CR stay
_XML_CTRL = bytes(i for i in range(0x20)
                  if i not in (0x09, 0x0A, 0x0D))


def _parse_feed_root(raw: bytes):
    """Tolerant feed parse, RomeFeedParser-style: strict first, then
    one recovery pass — strip leading junk before the XML
    declaration, drop re-declared '<?xml' PIs mid-document, scrub
    forbidden control bytes (skipped for UTF-16 payloads, whose NULs
    are structure) — for the real-crawl damage the reference's own
    test battery contains."""
    import re
    import xml.etree.ElementTree as ET
    try:
        return ET.fromstring(raw)
    except ET.ParseError:
        pass
    fixed = raw
    if not fixed.lstrip().startswith(b"\xff") \
            and not fixed.lstrip().startswith(b"\xfe") \
            and b"\x00" not in fixed[:64]:
        decl = fixed.find(b"<?xml")
        if decl > 0:
            fixed = fixed[decl:]
        # a second XML/text declaration mid-entity is fatal to expat
        head = fixed.find(b"?>")
        if head != -1:
            body = re.sub(br"<\?xml[^>]*\?>", b"",
                          fixed[head + 2:])
            fixed = fixed[:head + 2] + body
        fixed = fixed.translate(None, _XML_CTRL)
    try:
        return ET.fromstring(fixed)
    except ET.ParseError:
        return None


def _parse_feed_bytes(feed_url, fetched_ts, raw):
    """One feed document -> item tuples. RSS 2.0 <channel><item> with
    RFC-822 pubDate, Atom <feed><entry> with ISO-8601 published, and
    RDF Site Summary 1.0 <rdf:RDF><item> with dc:date — the formats
    RomeFeedParser normalizes (feeds/rome/; the reference's
    RomeFeedParserTest exercises all three)."""
    root = _parse_feed_root(bytes(raw))
    if root is None:
        return
    if root.tag == "rss":
        for item in root.iter("item"):
            yield (feed_url, fetched_ts,
                   item.findtext("guid"), item.findtext("title"),
                   item.findtext("link"),
                   _parse_rfc822(item.findtext("pubDate")))
    elif root.tag == _ATOM_NS + "feed":
        for entry in root.iter(_ATOM_NS + "entry"):
            link_el = entry.find(_ATOM_NS + "link")
            yield (feed_url, fetched_ts,
                   entry.findtext(_ATOM_NS + "id"),
                   entry.findtext(_ATOM_NS + "title"),
                   link_el.get("href") if link_el is not None else None,
                   _parse_iso(entry.findtext(_ATOM_NS + "published")))
    elif root.tag == _RDF_NS + "RDF":
        for item in root.iter(_RSS10_NS + "item"):
            yield (feed_url, fetched_ts,
                   item.get(_RDF_NS + "about"),
                   item.findtext(_RSS10_NS + "title"),
                   item.findtext(_RSS10_NS + "link"),
                   _parse_iso(item.findtext(_DC_NS + "date")))


def parse_feed_stage(feeds: DataFrame) -> DataFrame:
    """RSS/Atom XML -> item rows, one Arrow-batched mapInPandas pass
    (the family's only Python stage). Column-pruned input: url, poll
    time, bytes."""
    src = feeds.select("feed_url", "fetched_ts", "xml")

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for feed_url, fetched_ts, raw in zip(
                    pdf["feed_url"], pdf["fetched_ts"], pdf["xml"]):
                rows.extend(_parse_feed_bytes(feed_url, fetched_ts, raw))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _ITEM_SCHEMA.fields])

    return src.mapInPandas(run, _ITEM_SCHEMA)


def item_hash_col(title: Column | str, link: Column | str,
                  guid: Column | str) -> Column:
    """FeedItemHashGenerator.STRATEGY: sha1 over title +
    removeSessionId(url) + removeSessionId(identifier); Java's
    StringBuilder renders null parts as 'null'; all-null -> null.
    Pure JVM (regexp_replace chain + sha1)."""
    t = F.col(title) if isinstance(title, str) else title
    u = F.col(link) if isinstance(link, str) else link
    g = F.col(guid) if isinstance(guid, str) else guid
    payload = F.concat(
        F.coalesce(t, F.lit("null")),
        F.coalesce(remove_session_id_col(u), F.lit("null")),
        F.coalesce(remove_session_id_col(g), F.lit("null")))
    return F.when(t.isNotNull() | u.isNotNull() | g.isNotNull(),
                  F.sha1(F.encode(payload, "UTF-8")))


# -------------------------------------------------------- statistics
def _median_ms(sg: Column, m: Column) -> Column:
    """FatStats.getPercentile(50) over the sorted gaps array (1-indexed
    element_at), then the reference's (long) truncation."""
    even = (F.when(m % 2 == 0,
                   0.5 * F.element_at(sg, (m / 2).cast("int"))
                   + 0.5 * F.element_at(sg, (m / 2).cast("int") + 1))
            .otherwise(F.element_at(sg, ((m + 1) / 2).cast("int"))
                       .cast("double")))
    return even


def feed_post_statistics(feeds: DataFrame, items: DataFrame) -> DataFrame:
    """FeedPostStatistics as ONE groupBy(feed) + pure column math.

    Output columns (ms units, -1 sentinels per the reference's field
    initialisers): n_items, time_oldest_ms, time_newest_ms,
    median_gap_ms, avg_gap_ms, gap_stddev_ms, longest_gap_ms,
    first_gap_ms (intervals.get(0), needed by MAV), items_per_day,
    delay_ms, valid.
    """
    per = items.groupBy("feed_url").agg(
        F.array_sort(F.collect_list(
            F.unix_millis("published_ts"))).alias("ts_arr"),
        F.count(F.lit(1)).alias("n_raw"))
    f = (feeds.select("feed_url", "fetched_ts")
         .join(per, "feed_url", "left"))
    n = F.coalesce(F.col("n_raw"), F.lit(0)).cast("long")
    ts = F.col("ts_arr")
    m = (n - 1)
    gaps = F.when(n > 1, F.zip_with(
        F.slice(ts, 2, F.greatest(m.cast("int"), F.lit(0))),
        F.slice(ts, 1, F.greatest(m.cast("int"), F.lit(0))),
        lambda a, b: a - b))
    sg = F.array_sort(gaps)
    newest = F.element_at(ts, F.size(ts))
    oldest = F.element_at(ts, 1)
    # exact integer moments as DECIMAL(38,0) -> exact sample variance
    dec = "decimal(38,0)"
    sum_g = F.aggregate(gaps, F.lit(0).cast(dec),
                        lambda acc, x: acc + x.cast(dec))
    sum_sq = F.aggregate(gaps, F.lit(0).cast(dec),
                         lambda acc, x: acc + x.cast(dec) * x.cast(dec))
    var_num = (m.cast(dec) * sum_sq - sum_g * sum_g).cast("double")
    stddev = F.sqrt(var_num / (m * (m - 1)).cast("double"))
    out = f.select(
        "feed_url",
        n.alias("n_items"),
        F.when(n > 0, oldest).otherwise(F.lit(-1)).alias("time_oldest_ms"),
        F.when(n > 0, newest).otherwise(F.lit(-1)).alias("time_newest_ms"),
        F.when(n > 1, _median_ms(sg, m)).otherwise(F.lit(-1.0))
        .cast("long").alias("median_gap_ms"),
        F.when(n > 1, (newest - oldest) / m.cast("double"))
        .otherwise(F.lit(-1.0)).alias("avg_gap_ms"),
        F.when(m > 1, stddev).when(m == 1, F.lit(0.0))
        .otherwise(F.lit(-1.0)).cast("long").alias("gap_stddev_ms"),
        F.when(n > 1, F.element_at(sg, m.cast("int")))
        .otherwise(F.lit(-1)).alias("longest_gap_ms"),
        F.when(n > 1, F.element_at(gaps, 1)).otherwise(F.lit(-1))
        .alias("first_gap_ms"),
        F.when(n > 0, n.cast("double") / F.greatest(
            F.lit(1).cast("long"), _ldiv(newest - oldest, MS_PER_DAY))
            .cast("double")).otherwise(F.lit(0.0)).alias("items_per_day"),
        F.when(n > 0, F.unix_millis("fetched_ts") - newest)
        .otherwise(F.lit(-1)).alias("delay_ms"),
        (n > 1).alias("valid"),
    )
    return out


# ----------------------------------------------------- classification
def classify_feeds(stats: DataFrame) -> DataFrame:
    """FeedClassifier.classify(Feed) rule cascade as one CASE chain
    (FeedClassifier.java:96-148); pattern names are the
    FeedActivityPattern enum constants minus the CLASS_ prefix."""
    med = F.col("median_gap_ms")
    delay = F.col("delay_ms")
    pattern = (
        F.when(F.col("n_items") == 0, "EMPTY")
        .when(F.col("n_items") == 1, "SINGLE_ENTRY")
        .when(~F.col("valid"), "UNKNOWN")
        .when(med < 5000,
              F.when(delay < 5000, F.lit("ON_THE_FLY"))
              .otherwise(F.lit("CHUNKED")))
        .when((delay >= 8 * med) & (delay > F.lit(8 * 7 * MS_PER_DAY)),
              "ZOMBIE")
        .when((F.col("gap_stddev_ms") >= med / 10.0)
              & (med > F.lit(MS_PER_DAY)), "SPONTANEOUS")
        .when((F.col("longest_gap_ms") < 12 * med)
              & (F.col("longest_gap_ms") < F.lit(2 * 60 * MS_PER_MIN))
              & (F.col("items_per_day") >= 4), "CONSTANT")
        .otherwise("SLICED"))
    return stats.withColumn("pattern", pattern)


# ------------------------------------------------- update strategies
def _allowed(interval: Column, lowest: int, highest: int) -> Column:
    """AbstractUpdateStrategy.getAllowedInterval — clamp, -1 disables."""
    c = interval
    if highest != -1:
        c = F.least(c, F.lit(highest))
    if lowest != -1:
        c = F.greatest(c, F.lit(lowest))
    return c


def mav_update_interval(stats: DataFrame, *, has_new_item: bool = False,
                        current_interval: int = DEFAULT_CHECK_TIME,
                        lowest: int = -1,
                        highest: int = -1) -> DataFrame:
    """MavUpdateStrategy.update for one poll snapshot: emits mav_min
    (MIN_DELAY mode) and mav_max (MAX_COVERAGE mode) minute intervals.

    The no-new-item branch replaces the oldest interval's weight with
    the poll delay using Java LONG division (MavUpdateStrategy.java:
    63-71), minutes via (int) truncation; <=1 entries fall back to
    DEFAULT_CHECK_TIME/2 resp. DEFAULT_CHECK_TIME (:80-86)."""
    n = F.col("n_items")
    m = n - 1
    avg = F.col("avg_gap_ms")
    if has_new_item:
        min_c = (avg / MS_PER_MIN).cast("long")
        max_c = (n * avg / MS_PER_MIN).cast("long")
    else:
        # Java computes two separate long divisions; floor() on
        # positive operands is identical, and first_gap/delay are >= 0
        # whenever this branch is reached (delay_ms > 0 guard).
        adj = F.when(F.col("delay_ms") > 0,
                     avg - _ldiv(F.col("first_gap_ms"), m)
                     + _ldiv(F.col("delay_ms"), m)).otherwise(avg)
        min_c = (F.when(m > 0,
                        F.when(avg == 0.0, F.lit(highest).cast("long"))
                        .otherwise((adj / MS_PER_MIN).cast("long")))
                 .otherwise(F.lit(current_interval).cast("long")))
        max_c = (F.when((m > 0) & (avg != 0.0),
                        (n * adj / MS_PER_MIN).cast("long"))
                 .otherwise(F.lit(current_interval).cast("long")))
    min_c = F.when(n <= 1, F.lit(DEFAULT_CHECK_TIME // 2).cast("long")) \
        .otherwise(min_c)
    max_c = F.when(n <= 1, F.lit(DEFAULT_CHECK_TIME).cast("long")) \
        .otherwise(max_c)
    return stats.select(
        "feed_url",
        _allowed(min_c, lowest, highest).alias("mav_min"),
        _allowed(max_c, lowest, highest).alias("mav_max"))


def fix_learned_interval(stats: DataFrame, *, mode: int = 0,
                         lowest: int = -1, highest: int = -1,
                         out_col: str = "fix_learned") -> DataFrame:
    """FixLearnedUpdateStrategy first-poll learned interval. Mode 0
    divides the first window's span by (n-1) minutes, mode 1 divides
    (poll - oldest) by n — both Java long divisions; falls back to
    DEFAULT_CHECK_TIME when not computable."""
    n = F.col("n_items")
    if mode == 0:
        span = F.col("time_newest_ms") - F.col("time_oldest_ms")
        raw = F.when((n >= 2) & (span > 0),
                     _ldiv(span, (n - 1) * MS_PER_MIN)) \
            .otherwise(F.lit(DEFAULT_CHECK_TIME).cast("long"))
    elif mode == 1:
        span = F.col("delay_ms") + (F.col("time_newest_ms")
                                    - F.col("time_oldest_ms"))
        raw = F.when((n >= 1) & (span > 0),
                     _ldiv(span, n * MS_PER_MIN)) \
            .otherwise(F.lit(DEFAULT_CHECK_TIME).cast("long"))
    else:
        raise ValueError(f"unsupported fixLearnedMode {mode}")
    return stats.select(
        "feed_url", _allowed(raw, lowest, highest).alias(out_col))


# ----------------------------------------------------- feed discovery
def discover_feeds(root, page_url: str | None) -> list[dict]:
    """FeedDiscovery.discoverFeeds(Document)
    (palladian-retrieval/.../feeds/discovery/FeedDiscovery.java:
    FEED_XPATH + :discoverFeeds): <link> elements whose rel CONTAINS
    'alternate' (case-folded) and whose type, case-folded, is exactly
    application/atom+xml or application/rss+xml; href required
    non-empty; feed:// -> http:// then a bare 'feed:' prefix stripped;
    absolutized via makeFullUrl against the page url + <base href>;
    feed type by substring ('atom' -> ATOM, 'rss' -> RSS); optional
    title attribute carried through."""
    from kgp.webgraph import _base_href, make_full_url
    out: list[dict] = []
    if root is None:
        return out
    base_url = _base_href(root)
    for node in root.iter():
        if node.tag != "link":
            continue
        rel = node.attrs.get("rel")
        typ = node.attrs.get("type")
        if rel is None or typ is None:
            continue
        typ_lc = typ.lower()
        if "alternate" not in rel.lower() or typ_lc not in (
                "application/atom+xml", "application/rss+xml"):
            continue
        href = node.attrs.get("href")
        if not href:
            continue
        href = href.replace("feed://", "http://").replace("feed:", "")
        feed_url = make_full_url(page_url, base_url, href)
        feed_type = ("ATOM" if "atom" in typ_lc
                     else "RSS" if "rss" in typ_lc else None)
        out.append({"feed_type": feed_type, "feed_url": feed_url,
                    "title": node.attrs.get("title"),
                    "page_url": page_url})
    return out


DISCOVERY_SCHEMA = ("page_url string, feed_url string, "
                    "feed_type string, title string")


def discover_feeds_stage(pages: DataFrame) -> DataFrame:
    """pages(url, html binary) -> discovered feed links. One
    column-pruned Arrow pass over the real HTML parser, no shuffle."""
    from kgp.html_text import parse_html, sniff_decode

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for u, h in zip(pdf["url"], pdf["html"]):
                try:
                    root = parse_html(sniff_decode(bytes(h)))
                except Exception:
                    continue
                rows.extend((d["page_url"], d["feed_url"],
                             d["feed_type"], d["title"])
                            for d in discover_feeds(root, u))
            yield pd.DataFrame(rows, columns=[
                "page_url", "feed_url", "feed_type", "title"])

    return pages.select("url", "html").mapInPandas(
        gen, DISCOVERY_SCHEMA)


def synth_feed_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic discovery corpus from documents (kept separate
    from the byte-identity pages table): variant = doc_id % 6 selects
    the head markup — absolute RSS link, relative Atom href,
    upper-cased attribute values, feed:// scheme, a non-feed link
    (yields nothing), and a two-feed page with a title."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = F.col("doc_id") % 6
    url = F.concat(F.lit("https://site"), (F.col("doc_id") % 7),
                   F.lit(".example.org/p/"), F.col("doc_id"))
    head = (
        F.when(v == 0, F.concat(
            F.lit('<link rel="alternate" type="application/rss+xml" '
                  'href="https://feeds.example.org/r'),
            F.col("doc_id"), F.lit('.xml">')))
        .when(v == 1, F.lit('<link rel="alternate" '
                            'type="application/atom+xml" '
                            'href="/feeds/atom.xml">'))
        .when(v == 2, F.concat(
            F.lit('<LINK REL="ALTERNATE" TYPE="APPLICATION/RSS+XML" '
                  'HREF="https://feeds.example.org/R'),
            F.col("doc_id"), F.lit('.XML">')))
        .when(v == 3, F.concat(
            F.lit('<link rel="alternate" type="application/rss+xml" '
                  'href="feed://feeds.example.org/f'),
            F.col("doc_id"), F.lit('.xml">')))
        .when(v == 4, F.lit('<link rel="stylesheet" type="text/css" '
                            'href="/style.css">'
                            '<link rel="alternate" type="text/html" '
                            'href="/mobile">'))
        .otherwise(F.concat(
            F.lit('<link rel="alternate" type="application/rss+xml" '
                  'title="Site RSS" href="/rss.xml">'
                  '<link rel="alternate" '
                  'type="application/atom+xml" title="Site Atom" '
                  'href="https://feeds.example.org/a'),
            F.col("doc_id"), F.lit('.xml">'))))
    html = F.concat(F.lit("<html><head>"), head,
                    F.lit("</head><body><p>x</p></body></html>"))
    return docs.select(url.alias("url"),
                       F.encode(html, "UTF-8").alias("html"))


# -------------------------------------------- post-rate strategy
MONTH_MINUTES = 31 * 1440            # PostRateUpdateStrategy.java:135
MAX_WALK_MINUTES = 6 * 31 * 1440     # :139


def post_rate_intervals_local(published_ms: list[int],
                              lookup_ts_ms: int) -> tuple[int, int]:
    """PostRateUpdateStrategy.update (:50-168) literal walk for one
    feed at its FIRST check (checks == 0: the distribution starts
    empty, no item is skipped, no DB round-trip — the strategy's
    deterministic, poll-state-free slice). Minute-of-day is UTC
    (DateHelper.getTimeOfDay uses the JVM default Calendar; this port
    fixes UTC — documented deviation, cluster-safe).

    Returns (minCheckInterval, maxCheckInterval) minutes BEFORE the
    getAllowedInterval clamp.
    """
    posts = [0] * 1440
    chances = [0] * 1440
    oldest, newest = min(published_ms), max(published_ms)
    start_minute = (oldest // MS_PER_MIN) % 1440
    counter = 0
    t = oldest
    while t < newest + MS_PER_MIN:          # :88-97
        chances[(start_minute + counter) % 1440] += 1
        t += MS_PER_MIN
        counter += 1
    for ts in published_ms:                  # :100-109
        posts[(ts // MS_PER_MIN) % 1440] += 1

    start = (lookup_ts_ms // MS_PER_MIN) % 1440      # :127-131
    min_check, found = MONTH_MINUTES, False          # :134-136
    max_check = MAX_WALK_MINUTES                     # :139
    n = len(published_ms)
    estimated = 0.0
    current = start
    c = 0
    while c < max_check:                             # :143-163
        if chances[current] > 0:
            estimated += posts[current] / chances[current]
        if estimated >= 1 and not found:
            min_check, found = c, True
        if estimated >= n:
            max_check = c
            break
        current = (current + 1) % 1440
        c += 1
    return min_check, max_check


def post_rate_intervals(items: DataFrame, *, lookup_ts_ms: int,
                        feed_col: str = "feed_id",
                        ts_col: str = "published_ms",
                        lowest: int = -1,
                        highest: int = -1) -> DataFrame:
    """Distributed PostRateUpdateStrategy (first-check slice) over an
    item table: (feed, minCheck, maxCheck, postrate_min, postrate_max)
    where postrate_min/_max are the MIN_DELAY / MAX_COVERAGE update
    intervals after getAllowedInterval (:165-169).

    Spark shape — zero Python, zero per-feed iteration:
      * the chance histogram's minute loop collapses to
        full-day-count + a rotated remainder window (the loop walks
        contiguous minutes), one 1440-row grid per feed;
      * the cyclic probability walk collapses to ONE prefix-sum
        window over the rotated day (1440 rows per feed, partitioned
        by feed) plus the closed form c = k0*1440 + min{{j : pref[j] >=
        T - k0*S}}, k0 = max(0, ceil(T/S) - 1), applied to both
        targets T=1 (min) and T=n_items (max). The closed form equals
        the literal walk exactly whenever the per-minute probabilities
        are binary-exact (e.g. whole-day ranges: chances a power of
        two) and to the last ulp otherwise; the local twin above is
        the byte-exact reference.
    """
    feed = F.col(feed_col)
    stats = (items.groupBy(feed.alias("feed"))
             .agg(F.min(ts_col).alias("oldest"),
                  F.max(ts_col).alias("newest"),
                  F.count("*").alias("n_items")))
    steps = (F.floor((F.col("newest") - F.col("oldest")) / MS_PER_MIN)
             + 1).alias("steps")
    stats = stats.select(
        "*", steps,
        ((F.col("oldest") / MS_PER_MIN).cast("long") % 1440)
        .alias("start_minute"))

    posts = (items.select(
        feed.alias("feed"),
        ((F.col(ts_col) / MS_PER_MIN).cast("long") % 1440)
        .alias("minute"))
        .groupBy("feed", "minute").agg(F.count("*").alias("posts")))

    lookup_minute = (lookup_ts_ms // MS_PER_MIN) % 1440
    grid = (stats.select(
        "feed", "steps", "start_minute",
        F.explode(F.sequence(F.lit(0), F.lit(1439))).alias("minute")))
    chance = (F.floor(F.col("steps") / 1440)
              + F.when(((F.col("minute") - F.col("start_minute")
                         + 1440) % 1440)
                       < F.col("steps") % 1440, 1).otherwise(0))
    grid = (grid.join(posts, ["feed", "minute"], "left")
            .select("feed", "minute", chance.alias("chance"),
                    F.coalesce("posts", F.lit(0)).alias("posts")))
    prob = F.when(F.col("chance") > 0,
                  F.col("posts") / F.col("chance")).otherwise(0.0)
    j = (F.col("minute") - F.lit(lookup_minute) + 1440) % 1440
    w = Window.partitionBy("feed").orderBy("j") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pref = (grid.select("feed", j.alias("j"), prob.alias("prob"))
            .withColumn("pref", F.sum("prob").over(w))
            .select("feed", "j", "pref"))

    totals = pref.groupBy("feed").agg(F.max("pref").alias("s"))
    targets = (stats.join(totals, "feed")
               .select("feed", "n_items", "s", F.explode(F.array(
                   F.struct(F.lit("min").alias("tag"),
                            F.lit(1.0).alias("t")),
                   F.struct(F.lit("max").alias("tag"),
                            F.col("n_items").cast("double")
                            .alias("t")))).alias("tt"))
               .select("feed", "n_items", "s",
                       F.col("tt.tag").alias("tag"),
                       F.col("tt.t").alias("t")))
    targets = targets.withColumn(
        "k0", F.when(F.col("s") > 0,
                     F.greatest(F.lit(0),
                                F.ceil(F.col("t") / F.col("s")) - 1)))
    hits = (pref.join(targets, "feed")
            .where(F.col("k0").isNotNull()
                   & (F.col("pref")
                      >= F.col("t") - F.col("k0") * F.col("s")))
            .groupBy("feed", "tag")
            .agg(F.min(F.col("k0") * 1440 + F.col("j")).alias("c")))
    wide = (stats.select("feed", "n_items")
            .join(hits.where(F.col("tag") == "min")
                  .select("feed", F.col("c").alias("c_min")),
                  "feed", "left")
            .join(hits.where(F.col("tag") == "max")
                  .select("feed", F.col("c").alias("c_max")),
                  "feed", "left"))
    min_check = F.when(F.col("c_min") < MAX_WALK_MINUTES,
                       F.col("c_min")).otherwise(F.lit(MONTH_MINUTES))
    max_check = F.when(F.col("c_max") < MAX_WALK_MINUTES,
                       F.col("c_max")) \
        .otherwise(F.lit(MAX_WALK_MINUTES))
    out = wide.select(
        "feed", "n_items",
        F.coalesce(min_check, F.lit(MONTH_MINUTES)).alias("min_check"),
        F.coalesce(max_check, F.lit(MAX_WALK_MINUTES))
        .alias("max_check"))
    return out.select(
        "feed", "n_items", "min_check", "max_check",
        _allowed(F.col("min_check"), lowest, highest)
        .alias("postrate_min"),
        _allowed(F.col("max_check"), lowest, highest)
        .alias("postrate_max"))


def adaptive_ttl_interval(items: DataFrame, *, poll_ts_ms: int,
                          weight_m: float = 0.2,
                          feed_col: str = "feed_id",
                          ts_col: str = "published_ms",
                          lowest: int = -1,
                          highest: int = -1) -> DataFrame:
    """AdaptiveTTLUpdateStrategy.update (AdaptiveTTLUpdateStrategy.
    java:57-85): interval = (int)(weightM * (pollTime - newestEntry)
    / 1 min), DEFAULT_CHECK_TIME when the gap is not positive — the
    web-caching TTL heuristic. One aggregation per feed."""
    gap = F.lit(poll_ts_ms) - F.max(ts_col)
    raw = F.when(gap > 0,
                 (F.lit(weight_m) * gap / MS_PER_MIN).cast("long")) \
        .otherwise(F.lit(DEFAULT_CHECK_TIME).cast("long"))
    return (items.groupBy(F.col(feed_col).alias("feed"))
            .agg(_allowed(raw, lowest, highest).alias("adaptive_ttl")))


def lru2_interval(items: DataFrame, *,
                  feed_col: str = "feed_id",
                  ts_col: str = "published_ms",
                  lowest: int = -1, highest: int = -1) -> DataFrame:
    """LRU2UpdateStrategy.update (LRU2UpdateStrategy.java:46-77):
    interval = (int)((lastEntry - lastButOneEntry) / 1 min) — the gap
    of the two newest items in the date-sorted list; DEFAULT_CHECK_TIME
    when a bound is missing or the gap is not positive (duplicate
    newest timestamps give the sorted predecessor the SAME time, gap
    0 -> default, which the dup-count term reproduces).

    One aggregation: newest, strictly-older max, and the newest-ts
    multiplicity come from max/max_by/conditional counts — no window
    over raw rows.
    """
    ts = F.col(ts_col)
    agg = (items.groupBy(F.col(feed_col).alias("feed"))
           .agg(F.max(ts).alias("newest"),
                F.count("*").alias("n"))
           )
    j = (items.select(F.col(feed_col).alias("feed"), ts.alias("_ts"))
         .join(F.broadcast(agg), "feed")
         .groupBy("feed")
         .agg(F.first("newest").alias("newest"),
              F.max(F.when(F.col("_ts") < F.col("newest"),
                           F.col("_ts"))).alias("second_newest"),
              F.sum(F.when(F.col("_ts") == F.col("newest"), 1)
                    .otherwise(0)).alias("newest_count")))
    gap = F.col("newest") - F.col("second_newest")
    raw = F.when((F.col("newest_count") == 1)
                 & F.col("second_newest").isNotNull() & (gap > 0),
                 (gap / MS_PER_MIN).cast("long")) \
        .otherwise(F.lit(DEFAULT_CHECK_TIME).cast("long"))
    return j.select("feed",
                    _allowed(raw, lowest, highest).alias("lru2"))


# ------------------------------------------------ IndHist strategy
def ind_hist_model_local(published_ms: list[int]) -> list[float]:
    """The externally-trained IndHist model (FeedDatabase.
    getIndHistModel:412-434: changeRate[h] = newItems(h) /
    observationPeriodDays). This port's training-window convention:
    observationPeriodDays = floor((newest - oldest) / 1 day) + 1 —
    the days the item range touches, >= 1. Hour-of-day is UTC (same
    policy as post_rate)."""
    rates = [0.0] * 24
    if not published_ms:
        return rates
    obs_days = (max(published_ms) - min(published_ms)) \
        // MS_PER_DAY + 1
    for ts in published_ms:
        rates[(ts // 3_600_000) % 24] += 1
    return [r / obs_days for r in rates]


def ind_hist_interval_local(published_ms: list[int],
                            poll_ts_ms: int, theta: float,
                            highest: int = -1) -> int:
    """IndHistUpdateStrategy.updateCheckInterval (IndHistUpdateStrategy
    .java:87-160) literal walk: remaining-hour check, full-day loop,
    full-hour loop, fractional last hour — all int truncations as in
    Java. Returns the interval BEFORE the clamp."""
    rates = ind_hist_model_local(published_ms)
    daily = 0.0
    for r in rates:
        daily += r
    if daily == 0.0:
        return DEFAULT_CHECK_TIME
    poll_hour = (poll_ts_ms // 3_600_000) % 24
    current_seconds = (poll_ts_ms // 1000) % 3600
    remaining_seconds = 3600 - current_seconds
    sim = poll_hour
    pending = 0.0
    ci = 0
    remaining_pending = rates[sim] * remaining_seconds / 3600
    if remaining_pending >= theta:
        ci = int(ci + 60 * theta / rates[sim])
    else:
        pending += remaining_pending
        ci += int(remaining_seconds / 60)
        sim = (sim + 1) % 24
        while pending + daily < theta \
                and (ci + 1440 < highest or highest == -1):
            pending += daily
            ci += 1440
        while pending + rates[sim] < theta \
                and (ci + 60 < highest or highest == -1):
            pending += rates[sim]
            sim = (sim + 1) % 24
            ci += 60
        if rates[sim] > 0:
            ci = int(ci + 60 * (theta - pending) / rates[sim])
        else:  # only reachable with a finite bound; Java (int)inf
            ci = highest
    return ci


def ind_hist_interval(items: DataFrame, *, poll_ts_ms: int,
                      theta: float,
                      feed_col: str = "feed_id",
                      ts_col: str = "published_ms",
                      lowest: int = -1,
                      highest: int = -1) -> DataFrame:
    """Distributed IndHist (hourly-histogram pull policy, [BGR2006]):
    (feed, n_items, indhist) with the getAllowedInterval clamp.

    Zero Python: rates are ONE (feed, hour) aggregation; the day loop
    collapses to k = max(0, ceil((theta - pending0) / dailyRate) - 1)
    and the <= 24-step hour loop to a prefix-sum window over the
    rotated 24-row grid — byte-identical to the literal walk whenever
    the per-hour rates are binary-exact (whole-day observation
    windows), last-ulp otherwise; the local twin above is the exact
    reference. The in-loop ``highest`` bound is poll-loop pacing, not
    batch semantics — only the unbounded walk (-1) is distributed;
    the final clamp still applies."""
    if highest != -1:
        raise NotImplementedError(
            "bounded in-loop highest is poll-loop pacing; "
            "use the local twin")
    feed = F.col(feed_col)
    ts = F.col(ts_col)
    stats = (items.groupBy(feed.alias("feed"))
             .agg(F.min(ts).alias("oldest"), F.max(ts).alias("newest"),
                  F.count("*").alias("n_items")))
    stats = stats.withColumn(
        "obs_days",
        F.floor((F.col("newest") - F.col("oldest")) / MS_PER_DAY) + 1)
    counts = (items.select(feed.alias("feed"),
                           ((ts / 3_600_000).cast("long") % 24)
                           .alias("hour"))
              .groupBy("feed", "hour").agg(F.count("*").alias("c")))
    grid = (stats.select("feed", "obs_days",
                         F.explode(F.sequence(F.lit(0), F.lit(23)))
                         .alias("hour"))
            .join(counts, ["feed", "hour"], "left")
            .select("feed", "hour",
                    (F.coalesce(F.col("c"), F.lit(0))
                     / F.col("obs_days")).alias("rate")))

    poll_hour = (poll_ts_ms // 3_600_000) % 24
    current_seconds = (poll_ts_ms // 1000) % 3600
    remaining_seconds = 3600 - current_seconds

    daily = grid.groupBy("feed").agg(F.sum("rate").alias("daily"))
    at_poll = (grid.where(F.col("hour") == poll_hour)
               .select("feed", F.col("rate").alias("rate_poll")))

    # rotated prefix sums starting at the hour AFTER the poll hour
    j = (F.col("hour") - F.lit((poll_hour + 1) % 24) + 24) % 24
    w = Window.partitionBy("feed").orderBy("j") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pref = (grid.select("feed", j.alias("j"), "rate")
            .withColumn("pref", F.sum("rate").over(w)))

    base = (stats.select("feed", "n_items")
            .join(daily, "feed").join(at_poll, "feed"))
    rem_pending = (F.col("rate_poll") * remaining_seconds / 3600)
    base = base.withColumn("rem_pending", rem_pending)
    # branch B scalars
    pending0 = F.col("rem_pending")
    ci0 = int(remaining_seconds / 60)
    k = F.greatest(F.lit(0),
                   F.ceil((F.lit(theta) - pending0) / F.col("daily"))
                   - 1)
    base = base.withColumn("k", k) \
        .withColumn("pending1", pending0 + F.col("k") * F.col("daily"))

    # first rotated hour j* with pending1 + pref[j] >= theta
    hit = (pref.join(base.select("feed", "pending1"), "feed")
           .where(F.col("pending1") + F.col("pref") >= theta)
           .groupBy("feed")
           .agg(F.min("j").alias("jstar")))
    last = (pref.join(hit, "feed")
            .where(F.col("j") == F.col("jstar"))
            .select("feed", "jstar", F.col("rate").alias("rate_star"),
                    (F.col("pref") - F.col("rate")).alias("pref_excl")))

    out = base.join(last, "feed", "left")
    branch_a = F.floor(60 * theta / F.col("rate_poll")).cast("long")
    pending2 = F.col("pending1") + F.col("pref_excl")
    ci2 = F.lit(ci0) + F.col("k") * 1440 + 60 * F.col("jstar")
    branch_b = F.floor(ci2 + 60 * (F.lit(theta) - pending2)
                       / F.col("rate_star")).cast("long")
    interval = F.when(F.col("daily") == 0.0,
                      F.lit(DEFAULT_CHECK_TIME).cast("long")) \
        .when(F.col("rem_pending") >= theta, branch_a) \
        .otherwise(branch_b)
    return out.select(
        "feed", "n_items",
        _allowed(interval, lowest, highest).alias("indhist"))


def mav_sync_interval(stats: DataFrame, *, rss_ttl_mode: int = 0,
                      lowest: int = -1,
                      highest: int = -1) -> DataFrame:
    """MAVSynchronizationUpdateStrategy.update
    (MAVSynchronizationUpdateStrategy.java:77-160): synchronize the
    next poll to lastEntry + window-average gap; if the resulting
    interval falls outside [lowest, highest], fall back to
    (lastPoll - oldest) / n; RSS ttl modes 0 (ignore) / 1 (lower
    bound) / 2 (override) — all Java (int) truncations (negative
    sync intervals truncate toward zero).

    ``stats``: (feed, oldest, newest, n_items, last_poll_ms
    [, rss_ttl]). Pure column expressions, one projection."""
    if rss_ttl_mode not in (0, 1, 2):
        raise ValueError(f"Wrong usage of rssTTLmode! Value "
                         f"{rss_ttl_mode} not supported.")
    n = F.col("n_items")
    window_len = F.col("newest") - F.col("oldest")
    window_iv = F.when((n >= 2) & (window_len > 0),
                       _ldiv(window_len, (n - 1) * MS_PER_MIN)) \
        .otherwise(F.lit(0).cast("long"))
    sync_poll = F.when(F.col("newest").isNotNull(),
                       F.col("newest") + window_iv * MS_PER_MIN) \
        .otherwise(F.lit(0).cast("long"))
    # toward-zero truncation (the sync interval can be negative)
    ci = ((sync_poll - F.col("last_poll_ms")) / MS_PER_MIN) \
        .cast("long")
    in_bounds = ci == _allowed(ci, lowest, highest)
    fb_len = F.col("last_poll_ms") - F.col("oldest")
    fallback = F.when((n >= 1) & (fb_len > 0),
                      _ldiv(fb_len, n * MS_PER_MIN)) \
        .otherwise(F.lit(DEFAULT_CHECK_TIME).cast("long"))
    ci = F.when(in_bounds, ci).otherwise(fallback)
    if rss_ttl_mode != 0 and "rss_ttl" in stats.columns:
        ttl = F.col("rss_ttl")
        valid = ttl.isNotNull() & (ttl >= 0)
        if rss_ttl_mode == 1:
            ci = F.when(valid & (ci < ttl), ttl).otherwise(ci)
        else:
            ci = F.when(valid, ttl).otherwise(ci)
    return stats.select(
        "feed", _allowed(ci, lowest, highest).alias("mav_sync"))


# --------------------------------------------------------------- LIHZ
def _dow_utc(ts_ms: int) -> int:
    """Calendar.DAY_OF_WEEK in this port's fixed-UTC convention:
    Sunday=1 .. Saturday=7 (epoch day 0 = Thursday = 5)."""
    return (ts_ms // MS_PER_DAY + 4) % 7 + 1


def lihz_interval_local(published_ms: list[int], first_poll_ms: int,
                        n_train_polls: int, theta: float,
                        lowest: int = -1,
                        highest: int = -1) -> tuple[int, bool]:
    """LIHZUpdateStrategy literal port (LIHZUpdateStrategy.java:44-130):
    ``n_train_polls`` daily training polls starting at
    ``first_poll_ms`` followed by ONE prediction poll a day later.
    Returns (clamped interval of the prediction poll, hasNewItem at
    the prediction poll).

    Every as-written quirk is kept:
    - ``dailyRates`` indexes training writes by Calendar.DAY_OF_WEEK
      (1..7) but the walk advances ``(sim + 1) % 7`` (0..6), so
      Saturday's trained cell (7) is never read back and the walk
      NaN-exits (0.9 * 0/0) the first time it crosses the untrained
      index 0 -- bounding every walk to <= 7 days (:96-107, :121-125).
    - index 7 doubles as Saturday AND the sum row, so Saturday polls
      increment the global denominators twice (:62-65, :70-72).
    - the empty-feed branch's hour guard ``hourOfDay < 60/60`` only
      fires at hour 0 and writes ``yesterday`` with 0..6 indexing
      (:84-88) -- state-only, it never changes the emitted interval.
    """
    import math
    daily = [[0, 0] for _ in range(8)]
    last_poll: int | None = None
    ci = DEFAULT_CHECK_TIME
    has_new = False
    for r in range(n_train_polls + 1):
        ts = first_poll_ms + r * MS_PER_DAY
        training = r < n_train_polls
        dow = _dow_utc(ts)
        if last_poll is None:
            has_new = any(p <= ts for p in published_ms)
        else:
            has_new = any(last_poll < p <= ts for p in published_ms)
        if has_new:
            daily[dow][0] += 1
            daily[7][0] += 1
        if training:
            ci = 1440
            daily[dow][1] += 1
            daily[7][1] += 1
        elif daily[7][0] == 0:
            ci = DEFAULT_CHECK_TIME
            if (ts // 3_600_000) % 24 < ci // DEFAULT_CHECK_TIME:
                daily[(dow + 6) % 7][1] += 1
                daily[7][1] += 1
        else:
            sim = dow
            cum = 0.0
            ci = 0
            while cum < theta and (ci + 1440 <= highest
                                   or highest == -1):
                daily[sim][1] += 1
                daily[7][1] += 1
                ci += 1440
                sim = (sim + 1) % 7
                # Java double arithmetic: 0.9*0/0 = NaN, x>0/0 = inf
                if daily[sim][1] == 0:
                    local = math.nan if daily[sim][0] == 0 else math.inf
                else:
                    local = 0.9 * daily[sim][0] / daily[sim][1]
                cum += local + (1 - 0.9) * daily[7][0] / daily[7][1]
        last_poll = ts
    lo, hi = lowest, highest
    if hi != -1 and hi < ci:
        ci = hi
    if lo != -1 and lo > ci:
        ci = lo
    return ci, has_new


def lihz_interval(feeds: DataFrame, items: DataFrame, *,
                  n_train_polls: int, theta: float,
                  lowest: int = -1, highest: int = -1) -> DataFrame:
    """Distributed LIHZ [LIHZ08] (LIHZUpdateStrategy.java:44-130):
    (feed, n_items, has_new, lihz) for one prediction poll after
    ``n_train_polls`` daily training polls.

    ``feeds``: (feed, first_poll_ms); ``items``: (feed,
    published_ms). Items after the prediction poll are out of the
    polled horizon and ignored (and excluded from n_items).

    Zero Python, no explode on the walk: because the walk reads day
    indices 0..6 while training writes 1..7, index 0 is never
    trained, the local numerator term NaNs there, and every walk
    provably stops within 7 iterations -- so the loop UNROLLS to 7
    left-associated cumulative-sum columns (binary-exact double
    order, identical to the literal walk in ``lihz_interval_local``).
    The walk's own check-count writes are provably never read back by
    its probability lookups (the writing iteration for any cell comes
    after every read of that cell within the 7-step horizon), so the
    per-day denominators stay the static trained counts; only the
    global denominator grows by j (+1 extra when the prediction day
    is Saturday, the sum-row collision)."""
    import math
    n = n_train_polls
    feed = F.col("feed")
    first = F.col("first_poll_ms")

    # poll assignment: r=0 takes everything <= first poll
    it = (items.join(feeds, "feed")
          .withColumn("r", F.when(F.col("published_ms") <= first, 0)
                      .otherwise(_ldiv(
                          F.col("published_ms") - first - 1,
                          MS_PER_DAY) + 1))
          .where(F.col("r") <= n))
    n_items = it.groupBy("feed").agg(F.count("*").alias("n_items"))

    dow_of = lambda r_col: (
        _ldiv(first + r_col * MS_PER_DAY, MS_PER_DAY) + 4) % 7 + 1

    # training found-days: distinct polls r < n with new items
    fr = (it.where(F.col("r") < n).select("feed", "r").distinct()
          .join(feeds, "feed")
          .select("feed", dow_of(F.col("r")).alias("dow")))
    found = fr.groupBy("feed").agg(
        *[F.sum(F.when(F.col("dow") == d, 1).otherwise(0))
          .alias(f"found{d}") for d in range(1, 7)],
        (F.count("*")
         + F.sum(F.when(F.col("dow") == 7, 1).otherwise(0)))
        .alias("found7"))

    # static per-dow check counts over the n training polls
    checks = (feeds.select(
        "feed", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        .alias("r"), "first_poll_ms")
        .select("feed", dow_of(F.col("r")).alias("dow"))
        .groupBy("feed").agg(
            *[F.sum(F.when(F.col("dow") == d, 1).otherwise(0))
              .alias(f"checks{d}") for d in range(1, 7)],
            (F.lit(n)
             + F.sum(F.when(F.col("dow") == 7, 1).otherwise(0)))
            .alias("checks7")))

    has_new = (it.where(F.col("r") == n).select("feed").distinct()
               .withColumn("has_new", F.lit(True)))

    base = (feeds.join(n_items, "feed", "left")
            .join(found, "feed", "left")
            .join(checks, "feed")
            .join(has_new, "feed", "left")
            .na.fill({"n_items": 0, "has_new": False,
                      **{f"found{d}": 0 for d in range(1, 7)},
                      "found7": 0}))

    dow_p = dow_of(F.lit(n))
    base = base.withColumn("dow_p", dow_p)
    hn = F.col("has_new")
    dp = F.col("dow_p")
    fcols = {d: F.col(f"found{d}")
             + F.when(hn & (dp == d), 1).otherwise(0)
             for d in range(1, 7)}
    f7 = F.col("found7") + F.when(hn, F.when(dp == 7, 2).otherwise(1)) \
        .otherwise(0)
    base = base.withColumn("f7", f7)

    c09 = F.lit(0.9)
    c01 = F.lit(1 - 0.9)  # Java (1 - LIHZ_ALPHA): one ulp below 0.1
    nan = F.lit(float("nan"))
    jmax = 7 if highest == -1 else min(7, highest // 1440)
    cum = None
    cums = []
    for j in range(1, jmax + 1):
        d_j = (dp + j) % 7
        local = F.when(d_j == 0, nan)
        for d in range(1, 7):
            local = local.when(d_j == d,
                               c09 * fcols[d] / F.col(f"checks{d}"))
        glob = c01 * F.col("f7") / (F.col("checks7") + j
                                    + F.when(dp == 7, 1).otherwise(0))
        prob = local + glob
        cum = prob if cum is None else cum + prob
        base = base.withColumn(f"cum{j}", cum)
        cums.append(F.col(f"cum{j}"))

    raw = None
    if jmax == 0:
        walk = F.lit(0).cast("long")
    else:
        walk = F.lit(1440 * jmax).cast("long")
        for j in range(jmax, 0, -1):
            stop = F.isnan(cums[j - 1]) | (cums[j - 1] >= theta)
            walk = F.when(stop, F.lit(1440 * j).cast("long")) \
                .otherwise(walk)
    raw = F.when(F.col("f7") == 0,
                 F.lit(DEFAULT_CHECK_TIME).cast("long")) \
        .otherwise(walk)
    return base.select(
        "feed", "n_items", F.col("has_new"),
        _allowed(raw, lowest, highest).alias("lihz"))


def mavpr_interval(stats: DataFrame, postrate: DataFrame,
                   state: DataFrame, *, lowest: int = -1,
                   highest: int = -1) -> DataFrame:
    """MavPrUpdateStrategy.update (MavPrUpdateStrategy.java:39-76)
    for ONE poll, with the carried predictor state supplied as
    columns (the cross-poll mutation of that state is the polling
    loop, out of scope like the loop itself).

    ``stats``: feed_post_statistics output keyed ``feed_url``;
    ``postrate``: post_rate_intervals output keyed ``feed``
    (postrate_min = the PR MIN_DELAY interval); ``state``: (feed,
    pr_pred, mav_pred, use_pr_prev, has_new, last_lookup_ms).

    As-written quirks kept: the winner flag needs STRICTLY smaller
    |prediction - newest-post| (ties keep MAV), and the final
    setUpdateInterval branches are SWAPPED -- usePostRate==True emits
    the MAV interval, usePostRate==False the PostRate one (:66-73).
    Both sub-strategies clamp with the same bounds before the outer
    clamp, exactly as the Java ctor wiring does."""
    mav_t = mav_update_interval(stats, has_new_item=True,
                                lowest=lowest, highest=highest) \
        .select(F.col("feed_url").alias("feed"),
                F.col("mav_min").alias("mav_t"))
    mav_f = mav_update_interval(stats, has_new_item=False,
                                lowest=lowest, highest=highest) \
        .select(F.col("feed_url").alias("feed"),
                F.col("mav_min").alias("mav_f"))
    newest = stats.select(F.col("feed_url").alias("feed"),
                          "time_newest_ms")
    j = (state.join(mav_t, "feed").join(mav_f, "feed")
         .join(newest, "feed")
         .join(postrate.select("feed", "n_items", "postrate_min"),
               "feed"))
    mav_iv = F.when(F.col("has_new"), F.col("mav_t")) \
        .otherwise(F.col("mav_f"))
    diff_pr = (F.col("last_lookup_ms")
               + F.col("pr_pred") * MS_PER_MIN
               - F.col("time_newest_ms")).cast("double")
    diff_mav = (F.col("last_lookup_ms")
                + F.col("mav_pred") * MS_PER_MIN
                - F.col("time_newest_ms")).cast("double")
    use_pr = F.when(F.col("has_new"),
                    F.abs(diff_pr) < F.abs(diff_mav)) \
        .otherwise(F.col("use_pr_prev"))
    raw = F.when(use_pr, mav_iv).otherwise(F.col("postrate_min"))
    return j.select("feed", "n_items",
                    use_pr.alias("use_post_rate"),
                    _allowed(raw, lowest, highest).alias("mavpr"))


def ind_hist_ttl_interval(model_items: DataFrame,
                          new_items: DataFrame, *,
                          poll_ts_ms: int, theta: float,
                          t_burst: float = 2.0,
                          window_hours: int = 24,
                          weight_m: float = 0.2,
                          feed_col: str = "feed_id",
                          ts_col: str = "published_ms",
                          lowest: int = -1) -> DataFrame:
    """IndHistTTLUpdateStrategy.update (IndHistTTLUpdateStrategy.java:
    93-246, [BGR2006]): detect a burst by comparing the number of NEW
    items inside the time window before the poll against the number
    the externally-trained IndHist hourly model predicts for that
    window; burst -> AdaptiveTTL, else the IndHist walk.

    ``model_items`` plays the reference's DB-trained model
    (getModelFromDB); ``new_items`` the current poll's items (on the
    first poll the stored window list is null, so the window holds
    exactly the new items, :114-127). AdaptiveTTL sees the newest
    post over ALL items (fps.getTimeNewestPost).

    As-written quirks kept:
    - ``currentMinutes = Calendar.MINUTE * 60`` is SECONDS used as
      minutes (:215), so polls late in the hour overshoot the window
      and the tail term (windowMin - historyMinutes) goes NEGATIVE --
      predicted can be 0 or < 0; real/predicted <= 0 is never > tBurst
      so those feeds take IndHist, while predicted == 0 with real > 0
      bursts (:128-129).
    - the backward walk (:205-240) is evaluated in Java expression
      order; with whole-day observation windows every rate is dyadic
      and the composition is binary-exact (general case: last-ulp,
      the Java walk is the byte-exact reference).

    The window walk's iteration counts depend only on the scalar poll
    time, so they fold to Python constants at plan time; the per-feed
    prediction is ONE conditional aggregation over the 24-row rate
    grid. Returns (feed, n_items, real_in_window, used_ttl,
    indhist_ttl)."""
    feed = F.col(feed_col)
    ts = F.col(ts_col)

    indhist = ind_hist_interval(model_items, poll_ts_ms=poll_ts_ms,
                                theta=theta, feed_col=feed_col,
                                ts_col=ts_col, lowest=lowest)
    all_items = model_items.select(feed.alias("feed_id"),
                                   ts.alias("published_ms")) \
        .unionByName(new_items.select(feed.alias("feed_id"),
                                      ts.alias("published_ms")))
    ttl = adaptive_ttl_interval(all_items, poll_ts_ms=poll_ts_ms,
                                weight_m=weight_m, lowest=lowest)

    # hourly rate grid, identical derivation to ind_hist_interval
    stats = (model_items.groupBy(feed.alias("feed"))
             .agg(F.min(ts).alias("oldest"), F.max(ts).alias("newest")))
    stats = stats.withColumn(
        "obs_days",
        F.floor((F.col("newest") - F.col("oldest")) / MS_PER_DAY) + 1)
    counts = (model_items.select(feed.alias("feed"),
                                 ((ts / 3_600_000).cast("long") % 24)
                                 .alias("hour"))
              .groupBy("feed", "hour").agg(F.count("*").alias("c")))
    grid = (stats.select("feed", "obs_days",
                         F.explode(F.sequence(F.lit(0), F.lit(23)))
                         .alias("hour"))
            .join(counts, ["feed", "hour"], "left")
            .select("feed", "hour",
                    (F.coalesce(F.col("c"), F.lit(0))
                     / F.col("obs_days")).alias("rate")))

    # scalar walk bookkeeping (calculatePredictedNumUpdates)
    poll_hour = (poll_ts_ms // 3_600_000) % 24
    cm = ((poll_ts_ms // MS_PER_MIN) % 60) * 60  # MINUTE * 60 quirk
    w_min = window_hours * 60
    hm = cm
    k_d = 0
    while hm + 1440 < w_min:
        hm += 1440
        k_d += 1
    visited = []
    sim = (24 + poll_hour - 1) % 24
    while hm + 60 < w_min:
        hm += 60
        visited.append(sim)
        sim = (24 + sim - 1) % 24
    tail_hour = sim
    tail_coeff = w_min - hm

    pred_parts = grid.groupBy("feed").agg(
        (F.max(F.when(F.col("hour") == poll_hour, F.col("rate")))
         * cm / 60).alias("t0"),
        F.sum("rate").alias("daily"),
        F.coalesce(F.sum(F.when(
            F.col("hour").isin(visited) if visited else F.lit(False),
            F.col("rate"))), F.lit(0.0)).alias("hsum"),
        (F.lit(tail_coeff)
         * (F.max(F.when(F.col("hour") == tail_hour, F.col("rate")))
            / 60)).alias("tail"))
    predicted = (F.col("t0") + F.lit(k_d) * F.col("daily")
                 + F.col("hsum") + F.col("tail"))
    pred = pred_parts.select("feed", predicted.alias("predicted"))

    window_start = poll_ts_ms - window_hours * 3_600_000
    real = (new_items.where(ts >= window_start)
            .groupBy(feed.alias("feed"))
            .agg(F.count("*").alias("real_in_window")))

    roster = (model_items.select(feed.alias("feed"))
              .unionByName(new_items.select(feed.alias("feed")))
              .distinct())
    out = (roster.join(indhist, "feed", "left")
           .join(ttl, "feed", "left")
           .join(pred, "feed", "left")
           .join(real, "feed", "left")
           .na.fill({"real_in_window": 0, "n_items": 0}))
    r = F.col("real_in_window")
    p = F.coalesce(F.col("predicted"), F.lit(0.0))
    burst = ((r > 0) & (p == 0.0)) \
        | ((p != 0.0) & (r.cast("double") / p > t_burst))
    iv = F.when(burst, F.col("adaptive_ttl")).otherwise(
        F.coalesce(F.col("indhist"),
                   _allowed(F.lit(DEFAULT_CHECK_TIME).cast("long"),
                            lowest, -1)))
    return out.select("feed", "n_items", r.alias("real_in_window"),
                      burst.cast("int").alias("used_ttl"),
                      iv.alias("indhist_ttl"))


def predicted_in_window_local(rates: list[float], poll_ts_ms: int,
                              window_hours: int) -> float:
    """calculatePredictedNumUpdates literal port
    (IndHistTTLUpdateStrategy.java:198-246) -- the byte-exact
    reference for the conditional-aggregation composition above."""
    poll_hour = (poll_ts_ms // 3_600_000) % 24
    sim = poll_hour
    current_minutes = ((poll_ts_ms // MS_PER_MIN) % 60) * 60
    daily = 0.0
    for r in rates:
        daily += r
    predicted = rates[sim] * current_minutes / 60
    history = current_minutes
    sim = (24 + sim - 1) % 24
    while history + 1440 < window_hours * 60:
        history += 1440
        predicted += daily
    while history + 60 < window_hours * 60:
        history += 60
        predicted += rates[sim]
        sim = (24 + sim - 1) % 24
    predicted += (window_hours * 60 - history) * (rates[sim] / 60)
    return predicted


def fix_interval(feeds: DataFrame, check_interval: int, *,
                 lowest: int = -1, highest: int = -1) -> DataFrame:
    """FixUpdateStrategy.update (FixUpdateStrategy.java:57-75): the
    same clamped constant for every feed; ctor rejects
    checkInterval <= 0 (:36-41). Completes the update-strategy
    family -- trivially a single projection."""
    if check_interval <= 0:
        raise ValueError("A fixed check interval smaller or equal "
                         "to zero is not supported.")
    return feeds.select(
        "feed",
        _allowed(F.lit(check_interval).cast("long"), lowest, highest)
        .alias("fix"))


def feed_meta_cols(xml: Column, status: Column | None = None) -> list:
    """MetaInformationExtractor (feeds/meta/MetaInformationExtractor
    .java:60-214) as PURE JVM columns over the raw feed bytes:

    - accessible: status not 403/404 AND content matches one of the
      VALID_FEED_PATTERNS (<rss | <feed | <rdf:RDF) (:102-117);
    - supports_pubsubhubbub: content contains rel="hub" (:124-130);
    - feed_format: ROME's SyndFeed.getFeedType() substituted by a
      declaration sniff (rss_2.0 / atom_1.0 / rdf_1.0, documented);
    - RSS flags from the FIRST item + channel (:169-185): has_item_ids
      (non-empty <guid>), has_pub_date, has_cloud, ttl (int, -1 when
      absent), has_skip_days, has_skip_hours;
    - Atom flags from the FIRST entry (:151-166): has_item_ids
      (non-empty <id>), has_updated, has_published.

    Returns the aliased column list; at corpus scale this is one
    codegen projection over the fetched bytes, no Python, no
    shuffle."""
    s = xml.cast("string")
    ok_status = F.lit(True) if status is None \
        else ~status.isin(403, 404)
    accessible = ok_status & (s.contains("<rss") | s.contains("<feed")
                              | s.contains("<rdf:RDF"))
    fmt = F.when(s.contains("<rss"), F.lit("rss_2.0")) \
        .when(s.contains("<feed"), F.lit("atom_1.0")) \
        .when(s.contains("<rdf:RDF"), F.lit("rdf_1.0"))
    first_item = F.regexp_extract(s, r"(?s)<item[ >](.*?)</item>", 1)
    first_entry = F.regexp_extract(s, r"(?s)<entry[ >](.*?)</entry>", 1)
    is_rss = fmt.contains("rss")
    is_atom = fmt.contains("atom")
    # entry/item PRESENCE is the element, not its content (an empty
    # <entry></entry> still reaches the flag branch in ROME)
    has_item = s.contains("<item")
    has_entry = s.contains("<entry")
    guid_val = F.regexp_extract(first_item,
                                r"(?s)<guid[^>]*>(.*?)</guid>", 1)
    id_val = F.regexp_extract(first_entry, r"(?s)<id[^>]*>(.*?)</id>",
                              1)
    has_item_ids = F.when(is_rss & has_item, guid_val != "") \
        .when(is_atom & has_entry, id_val != "")
    ttl_str = F.regexp_extract(s, r"<ttl>(\d+)</ttl>", 1)
    ttl = F.when(is_rss & has_item,
                 F.coalesce(ttl_str.try_cast("int"), F.lit(-1)))
    return [
        accessible.alias("accessible"),
        s.contains('rel="hub"').alias("supports_pubsubhubbub"),
        fmt.alias("feed_format"),
        has_item_ids.alias("has_item_ids"),
        F.when(is_rss & has_item,
               first_item.contains("<pubDate>")).alias("has_pub_date"),
        F.when(is_rss & has_item,
               s.contains("<cloud")).alias("has_cloud"),
        ttl.alias("ttl"),
        F.when(is_rss & has_item,
               s.contains("<skipDays>")).alias("has_skip_days"),
        F.when(is_rss & has_item,
               s.contains("<skipHours>")).alias("has_skip_hours"),
        F.when(is_atom & has_entry,
               first_entry.contains("<updated>")).alias("has_updated"),
        F.when(is_atom & has_entry,
               first_entry.contains("<published>"))
        .alias("has_published"),
    ]
