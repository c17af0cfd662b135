"""MediaWiki infobox / template extraction → KG triples.

Semantics re-derived from
/root/reference/palladian-core/src/main/java/ws/palladian/retrieval/wiki/MediaWikiUtil.java:430-512,624-655
(brace-balanced named-template scan, top-level | splitting with
bracket balance, key=value with bracket/tag-balanced keys, positional
parameter numbering) and WikiPage.java:223-260 (infobox = templates
named infobox/geobox; redirects). Infoboxes are the
highest-precision triple source a web KG pipeline has — every
(page, key, value) row is an assertion — so this feeds the relation
stage next to the sentence pattern bank.

Pure Python parsing; `wiki_infobox_triples` is the Spark stage (one
Arrow pass, document-local → zero shuffles).
"""

from __future__ import annotations

import re
from typing import NamedTuple

import pandas as pd

_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_OPEN_TAG = re.compile(r"<\w+[^>/]*>")
_CLOSE_TAG = re.compile(r"</\w+[^>]*>")
_REDIRECT = re.compile(r"#REDIRECT\s*\[\[([^\]|]+)", re.IGNORECASE)


class WikiTemplate(NamedTuple):
    name: str | None
    entries: dict[str, str]


def _count(s: str, sub: str) -> int:
    return s.count(sub)


def _bracket_balanced(markup: str) -> bool:
    """MediaWikiUtil.isBracketBalanced (:490-505): {{/}}, [/], </>
    counts must match."""
    return (_count(markup, "{{") == _count(markup, "}}")
            and _count(markup, "[") == _count(markup, "]")
            and _count(markup, "<") == _count(markup, ">"))


def _tag_balanced(markup: str) -> bool:
    return len(_OPEN_TAG.findall(markup)) == \
        len(_CLOSE_TAG.findall(markup))


def get_named_markup(markup: str, *names: str) -> list[str]:
    """Brace-balanced {{name ...}} spans (getNamedMarkup, :624-655);
    HTML comments are stripped first."""
    clean = _COMMENT.sub("", markup)
    pattern = re.compile(
        r"\{\{(?:" + "|".join(re.escape(n) for n in names)
        + r")(?:\s|\|)", re.IGNORECASE)
    out: list[str] = []
    for m in pattern.finditer(clean):
        start = m.start()
        brackets = 0
        end = start
        while end < len(clean):
            ch = clean[end]
            if ch == "{":
                brackets += 1
            elif ch == "}":
                brackets -= 1
            if brackets == 0:
                break
            end += 1
        if end < len(clean):
            out.append(clean[start:end + 1])
    return out


def _template_name(content: str) -> str | None:
    """Template display name (getTemplateName + WikiTemplate.getName,
    WikiTemplate.java:43-48: the infobox/geobox prefix is stripped)."""
    m = re.search(r"(?:geobox\|)?[^|<}]+", content.lower())
    if not m:
        return None
    return re.sub(r"^(?:infobox\s+|geobox\|)", "",
                  m.group().strip()).lower()


def _split_template(content: str) -> list[str]:
    """Top-level | splitting (splitTemplateMarkup, :469-482): a | only
    separates when everything before it is bracket-balanced."""
    out: list[str] = []
    start = content.find("|") + 1
    idx = start
    while idx < len(content):
        if content[idx] == "|" and _bracket_balanced(content[:idx]):
            out.append(content[start:idx])
            start = idx + 1
        idx += 1
    out.append(content[start:])
    return out


def extract_template(markup: str) -> WikiTemplate:
    """extractTemplate port (:430-460): named parameters keep their
    key when it is bracket/tag balanced, positional parameters are
    numbered from 0."""
    content = markup[2:-2]
    name = _template_name(content)
    if markup.lower().startswith("{{geobox"):
        content = markup[markup.index("|") + 1:-2]
    entries: dict[str, str] = {}
    i = 0
    for part in _split_template(content):
        key = str(i)
        i += 1
        eq = part.find("=")
        if eq > 0:
            potential = part[:eq]
            if _bracket_balanced(potential) and _tag_balanced(potential):
                key = potential.strip()
            else:
                eq = -1
        entries[key] = part[eq + 1:].strip()
    return WikiTemplate(name, entries)


def get_infoboxes(markup: str) -> list[WikiTemplate]:
    """WikiPage.getInfoboxes port (:223-245)."""
    return [extract_template(m)
            for m in get_named_markup(markup, "infobox", "geobox")]


_HEADING = re.compile(r"^={1,6}\s*([^=]*)\s*={1,6}", re.MULTILINE)


def get_sections(markup: str) -> list[str]:
    """WikiPage.getSections port (WikiPage.java:72-83): the page split
    at every heading (each section starts with its heading)."""
    out: list[str] = []
    start = 0
    for m in _HEADING.finditer(markup):
        out.append(markup[start:m.start()])
        start = m.start()
    out.append(markup[start:])
    return out


def get_redirect_title(markup: str) -> str | None:
    m = _REDIRECT.search(markup)
    return m.group(1).strip() if m else None


_LINK = re.compile(r"\[\[(?:[^|\]]*\|)?([^|\]]*)\]\]")
_QUOTES = re.compile(r"'''''|'''|''")
_REF = re.compile(r"<ref[^>]*>.*?</ref>|<ref[^>]*/>", re.DOTALL)
_TEMPLATE = re.compile(r"\{\{[^{}]*\}\}")


def clean_value(value: str) -> str:
    """Light value cleanup for triple objects: refs and nested
    templates dropped, [[A|B]] → B, quote markup removed."""
    v = _REF.sub("", value)
    for _ in range(4):
        v2 = _TEMPLATE.sub("", v)
        if v2 == v:
            break
        v = v2
    v = _LINK.sub(r"\1", v)
    v = _QUOTES.sub("", v)
    return " ".join(v.split())


def infobox_triples(title: str, markup: str) -> list[tuple[str, str, str]]:
    """(page title, infobox key, cleaned value) triples from every
    infobox — positional and empty values skipped."""
    out = []
    for box in get_infoboxes(markup):
        for key, raw in box.entries.items():
            if key.isdigit():
                continue
            value = clean_value(raw)
            if value:
                out.append((title, key, value))
    return out


def wiki_infobox_triples(pages, title_col: str = "title",
                         markup_col: str = "wikitext"):
    """Spark stage: (title, wikitext) → exploded (subj, pred, obj)
    rows. Document-local Arrow pass, no shuffle."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.ArrayType(T.StructType([
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
    ]))

    @F.pandas_udf(schema)
    def tri(titles: pd.Series, markups: pd.Series) -> pd.Series:
        return pd.Series([
            [{"subj": s, "pred": p, "obj": o}
             for s, p, o in infobox_triples(t or "", m or "")]
            for t, m in zip(titles, markups)])

    return (pages
            .select(F.explode(tri(F.col(title_col),
                                  F.col(markup_col))).alias("t"))
            .select("t.subj", "t.pred", "t.obj"))


# -------------------------------------------------- full markup strip

_REF_STRIP = re.compile(r"<ref(?:\s[^>]*)?>[^<]*</ref>|<ref[^/>]*/>",
                        re.MULTILINE)
_GALLERY = re.compile(r"<gallery(?:\s[^>]*)?>[^<]*</gallery>")
_STRIP_ALL_TAGS = re.compile(
    r"<!--.*?-->|<script.*?>.*?</script>|<style.*?>.*?</style>|<[^<]*?>",
    re.DOTALL | re.IGNORECASE)
_QUOTES_MARKUP = re.compile(r"'''''|'''|''")
_CONVERT = re.compile(r"\{\{convert\|([\d.]+)\|([\w°]+)(\|[^}]*)?\}\}")
_LANG_TPL = re.compile(r"\{\{(?:lang\|[^|]*|lang-\w{2})\|([^|]*)\}\}")
_INTERNAL_LINK = re.compile(r"\[\[([^|\]]*)(?:\|([^|\]]*))?\]\]")
_EXTERNAL_LINK = re.compile(r"\[http([^\s]+)(?:\s([^\]]+))\]")
_LEFTOVER_LINK = re.compile(r"\[\[[^]]*\]\]")
_SINGLE_BREAK = re.compile(r"(?<!\n)\n(?![*\n])")
_MULTI_WS = re.compile(r"[ ]{2,}")
_MULTI_NL = re.compile(r"\n{2,}")


def _process_links(string: str, pattern: "re.Pattern") -> str:
    """processLinks port (:149-164): keep the label (or target);
    category links vanish entirely."""
    def repl(m):
        target, text = m.group(1), m.group(2)
        if target.lower().startswith("category:"):
            return ""
        return text if text is not None else target
    return pattern.sub(repl, string)


def _remove_between(string: str, b1: str, b2: str,
                    e1: str, e2: str) -> str:
    """removeBetween port (:177-207): drop text between doubled
    opening/closing characters ({{..}}, {|..|}) with a space
    placeholder, nested-aware via a character stack."""
    if len(string) < 2:
        return string
    stack: list[str] = [string[0]]
    idx = 1
    while idx < len(string):
        prev, cur = string[idx - 1], string[idx]
        if cur == e2 and prev == e1:
            while len(stack) > 1:
                if stack.pop() == b2 and stack and stack[-1] == b1:
                    stack.pop()
                    if idx < len(string) - 1 and string[idx + 1] == e1:
                        idx += 1
                    break
            stack.append(" ")
        else:
            stack.append(cur)
        idx += 1
    return "".join(stack)


def strip_markup(markup: str) -> str:
    """stripMediaWikiMarkup port (MediaWikiUtil.java:87-137): refs and
    galleries dropped, entities resolved, HTML tags stripped, headings
    flattened, quote markup and convert/lang templates replaced, links
    reduced to their labels, leftover template/table blocks removed,
    single line breaks joined (lists kept), whitespace normalized."""
    import html as _html
    r = _REF_STRIP.sub("", markup)
    r = _GALLERY.sub("", r)
    r = _html.unescape(r)
    r = _STRIP_ALL_TAGS.sub("", r)
    r = _HEADING.sub(r"\1\n", r)
    r = _QUOTES_MARKUP.sub("", r)
    r = _CONVERT.sub(r"\1 \2", r)
    r = _LANG_TPL.sub(r"\1", r)
    r = _process_links(r, _INTERNAL_LINK)
    r = _process_links(r, _EXTERNAL_LINK)
    r = _remove_between(r, "{", "{", "}", "}")
    r = _remove_between(r, "{", "|", "|", "}")
    r = _LEFTOVER_LINK.sub("", r)
    r = _SINGLE_BREAK.sub(" ", r)
    r = _MULTI_WS.sub(" ", r)
    r = _MULTI_NL.sub("\n\n", r)
    return r.strip()


# ------------------------------------------------- coordinate markup

_COORD_TAG = re.compile(
    r"\{\{Coord"
    r"\|(-?\d+(?:\.\d+)?)(?:\|(\d+(?:\.\d+)?)(?:\|(\d+(?:\.\d+)?))?)?"
    r"(?:\|([NS]))?"
    r"\|(-?\d+(?:\.\d+)?)(?:\|(\d+(?:\.\d+)?)(?:\|(\d+(?:\.\d+)?))?)?"
    r"(?:\|([WE]))?"
    r"((?:\|[^}|<]+(?:<\w+>[^<]*</\w+>)?)*)"
    r"\}\}", re.IGNORECASE)


def parse_components(deg: str, mn: str | None, sec: str | None,
                     nsew: str | None) -> float:
    """MediaWikiUtil.parseComponents port (:606-613)."""
    d = float(deg)
    m = float(mn) if mn and mn.strip() else 0.0
    s = float(sec) if sec and sec.strip() else 0.0
    sgn = -1 if nsew in ("S", "W") else 1
    return sgn * (d + m / 60.0 + s / 3600.0)


def _coord_param(group: str, name: str) -> str | None:
    for part in group.split("|"):
        for sub in part.split("_"):
            kv = sub.split(":")
            if len(kv) == 2 and kv[0] == name:
                return kv[1].strip()
    return None


def _other_param(group: str, name: str) -> str | None:
    for part in group.split("|"):
        kv = part.split("=")
        if len(kv) == 2 and kv[0] == name:
            return kv[1].strip()
    return None


def extract_coordinate_tags(text: str) -> list[dict]:
    """{{Coord|...}} markup → coordinates (extractCoordinateTag,
    :524-558): DMS or decimal components, optional hemisphere, earth
    globes only, type/region/display/name parameters."""
    out: list[dict] = []
    for m in _COORD_TAG.finditer(text):
        data = m.group(9) or ""
        globe = _coord_param(data, "globe")
        if globe is not None and globe.lower() != "earth":
            continue
        lat = parse_components(m.group(1), m.group(2), m.group(3),
                               m.group(4))
        lng = parse_components(m.group(5), m.group(6), m.group(7),
                               m.group(8))
        if not (-90 <= lat <= 90 and -180 <= lng <= 180):
            continue
        type_ = _coord_param(data, "type")
        population = None
        if type_ is not None:
            pm = re.search(r"\(([\d,]+)\)", type_)
            if pm:
                population = int(pm.group(1).replace(",", ""))
            type_ = re.sub(r"\(.*\)", "", type_)
        out.append({"lat": lat, "lng": lng,
                    "display": _other_param(data, "display"),
                    "name": _other_param(data, "name"),
                    "region": _coord_param(data, "region"),
                    "type": type_, "population": population})
    return out


_LAT_DEG_KEYS = ("lat_deg", "latd", "lat_d", "lat_degrees",
                 "source_lat_d", "mouth_lat_d")
_LNG_DEG_KEYS = ("lon_deg", "longd", "long_d", "long_degrees",
                 "source_long_d", "mouth_long_d")
_LAT_MIN_KEYS = ("lat_min", "latm", "lat_m", "lat_minutes",
                 "source_lat_m", "mouth_lat_m")
_LAT_SEC_KEYS = ("lat_sec", "lats", "lat_s", "lat_seconds",
                 "source_lat_s", "mouth_lat_s")
_LNG_MIN_KEYS = ("lon_min", "longm", "long_m", "long_minutes",
                 "source_long_m", "mouth_long_m")
_LNG_SEC_KEYS = ("lon_sec", "longs", "long_s", "long_seconds",
                 "source_long_s", "mouth_long_s")
_LAT_NS_KEYS = ("latNS", "lat_direction", "lat_NS", "source_lat_NS",
                "mouth_lat_NS")
_LNG_EW_KEYS = ("longEW", "long_direction", "long_EW",
                "source_long_EW", "mouth_long_EW")


def _entry(t: WikiTemplate, *keys: str) -> str | None:
    for k in keys:
        if t.entries.get(k):
            return t.entries[k]
    return None


def template_coordinates(t: WikiTemplate) -> list[dict]:
    """Infobox coordinates (WikiTemplate.getCoordinates, :96-145):
    deg/min/sec field families, then all-in-one latitude/longitude in
    decimal or DMS."""
    from kgp.geo import parse_dms
    out: list[dict] = []
    display = t.entries.get("coordinates_display")
    type_ = t.entries.get("coordinates_type")
    lat_deg = _entry(t, *_LAT_DEG_KEYS)
    lng_deg = _entry(t, *_LNG_DEG_KEYS)
    if lat_deg and lng_deg:
        try:
            lat = parse_components(lat_deg, _entry(t, *_LAT_MIN_KEYS),
                                   _entry(t, *_LAT_SEC_KEYS),
                                   _entry(t, *_LAT_NS_KEYS))
            lng = parse_components(lng_deg, _entry(t, *_LNG_MIN_KEYS),
                                   _entry(t, *_LNG_SEC_KEYS),
                                   _entry(t, *_LNG_EW_KEYS))
            out.append({"lat": lat, "lng": lng, "display": display,
                        "type": type_})
        except ValueError:
            pass
    lat_s, lng_s = t.entries.get("latitude"), t.entries.get("longitude")
    if lat_s and lng_s:
        for parser in (float, parse_dms):
            try:
                out.append({"lat": parser(lat_s), "lng": parser(lng_s),
                            "display": display, "type": type_})
                break
            except (ValueError, TypeError):
                continue
    return out


_NON_SENTENCE_LINE = re.compile(r"^(\*.*|.*\w)$", re.MULTILINE)


def extract_sentences(text: str) -> str:
    """MediaWikiUtil.extractSentences port (:209-216): drop bulleted
    items and lines that do not end in a word character, collapse
    blank runs."""
    r = _NON_SENTENCE_LINE.sub("", text)
    r = re.sub(r"\n{2,}", "\n\n", r)
    return r.strip()


def parse_dec_deg(markup: str) -> float:
    """MediaWikiUtil.parseDecDeg (MediaWikiUtil.java:666-693): the
    {{decdeg}} template — named deg/min/sec/hem entries falling back
    to positionals 0..3, W/S hemisphere (else the deg string's sign),
    optional rnd digit count via MathHelper.round (half-up)."""
    from kgp.mathstats import jround
    t = extract_template(markup)

    def entry(*keys: str) -> str | None:
        for k in keys:
            if k in t.entries:
                return t.entries[k]
        return None

    deg_str = entry("deg", "0")
    min_str = entry("min", "1")
    sec_str = entry("sec", "2")
    hem = entry("hem", "3")
    deg = float(deg_str) if deg_str and deg_str.strip() else 0.0
    mn = float(min_str) if min_str and min_str.strip() else 0.0
    sec = float(sec_str) if sec_str and sec_str.strip() else 0.0
    if hem and hem.strip():
        sgn = -1 if hem in ("W", "S") else 1
    else:
        sgn = -1 if (deg_str or "").startswith("-") else 1
    result = sgn * (abs(deg) + mn / 60.0 + sec / 3600.0)
    rnd_str = entry("rnd", "4")
    if rnd_str and rnd_str.strip():
        result = jround(result, int(rnd_str))
    return result
