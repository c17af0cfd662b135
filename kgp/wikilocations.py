"""Wikipedia dump -> gazetteer locations
(extraction/location/sources/importers/WikipediaLocationImporter.java
:121-245 + retrieval/wiki/InfoboxTypeMapper.java:23-59,
WikiPageReference.getCleanTitle:68-72, WikiPage.getAlternativeTitles
:107-128, WikiPage.getCoordinate:300-314).

Per main-namespace, non-redirect page (titles matching the
'(?:Geography|Battle) of .*' blacklist skipped):

1. the FIRST infobox whose name maps to a location type wins;
   unmapped pages are dropped. The default mapping is the FULL
   TUD-Loc column of the reference's WikipediaInfoboxTypeMapping.csv
   (kgp.infobox_types.INFOBOX_TUDLOC, 143 entries, same bank the NER
   dataset creator uses); the compact DEFAULT_INFOBOX_TYPES table
   remains for explicit use, and `load_infobox_type_mapping` parses
   the reference's own 'InfoboxType;CoNLL;TUD-Loc;Notes' format so a
   file can be supplied.
2. coordinate: the page's title-display coordinate (display contains
   'title' or equals 't' across coord tags + infobox coordinates),
   else the first infobox coordinate set.
3. the location row is (location_id = page_id + id_offset,
   name = cleanTitle (parenthetical and ',...' tails removed),
   type, lat, lng, population) — plus the ORIGINAL title.
4. alternative names: PAGE mode takes the bold strings of the first
   section's first bold-carrying line via the SAME apostrophe-state
   formatting parser the reference walks (kgp.wikiformat, driven by
   the getStringsInBold callback).

Spark shape: ONE Arrow pass per dump scan.
"""

from __future__ import annotations

import html as _html
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from kgp.wiki import (extract_coordinate_tags, get_infoboxes,
                      get_redirect_title, get_sections,
                      template_coordinates, _process_links,
                      _remove_between)

IGNORED_PAGES = re.compile(r"(?:Geography|Battle) of .*")

# InfoboxTypeMapper's TUD-Loc column for the unambiguous infobox
# names (documented substitute for the bundled 227-line CSV).
DEFAULT_INFOBOX_TYPES = {
    "settlement": "CITY", "city": "CITY", "town": "CITY",
    "village": "CITY", "commune": "CITY", "municipality": "CITY",
    "country": "COUNTRY", "former country": "COUNTRY",
    "u.s. state": "UNIT", "province": "UNIT",
    "german state": "UNIT", "indian jurisdiction": "CITY",
    "airport": "POI", "amusement park": "POI", "ancient site": "POI",
    "stadium": "POI", "museum": "POI", "university": "POI",
    "river": "LANDMARK", "mountain": "LANDMARK", "lake": "LANDMARK",
    "island": "LANDMARK", "islands": "LANDMARK",
    "body of water": "LANDMARK", "sea": "LANDMARK",
    "protected area": "LANDMARK", "continent": "CONTINENT",
}


def load_infobox_type_mapping(lines) -> dict[str, str]:
    """InfoboxTypeMapper (:23-48): parse the reference's
    'InfoboxType;CoNLL;TUD-Loc;Notes' CSV format; rows with an empty
    TUD-Loc column are skipped."""
    out: dict[str, str] = {}
    for line in lines:
        parts = line.rstrip("\n").split(";")
        if len(parts) < 3 or parts[0] == "InfoboxType":
            continue
        if parts[2]:
            out[parts[0]] = parts[2]
    if not out:
        raise ValueError("Could not read any mappings")
    return out


def clean_title(title: str) -> str:
    """WikiPageReference.getCleanTitle (:68-72): parenthesized parts
    and everything from the first comma removed."""
    clean = re.sub(r"\s\([^)]*\)", "", title or "")
    return re.sub(r",.*", "", clean)


_REF = re.compile(r"<ref(?:\s[^>]*)?>[^<]*</ref>|<ref[^/>]*/>",
                  re.MULTILINE)
_LANG = re.compile(r"\{\{(?:lang\|[^|]*|lang-\w{2})\|([^|]*)\}\}")
_TAGS = re.compile(r"<[^>]+>")
_INTERNAL_LINK = re.compile(r"\[\[([^|\]]*)(?:\|([^|\]]*))?\]\]")
_EXTERNAL_LINK = re.compile(r"\[http([^\s]+)(?:\s([^\]]+))\]")


def _strings_in_bold(line: str) -> list[str]:
    """WikiPage.getStringsInBold (:131-171): the REAL apostrophe-state
    MediaWikiFormattingParser (kgp.wikiformat) drives a callback that
    buffers characters while bold is open (boldItalic toggles bold
    too) and emits the trimmed buffer at each close."""
    from kgp.wikiformat import parse_formatting

    result: list[str] = []
    state = {"bold": False, "buffer": []}

    class _Cb:
        def character(self, ch):
            if state["bold"]:
                state["buffer"].append(ch)

        def italic(self):
            pass

        def bold(self):
            if state["bold"]:
                result.append("".join(state["buffer"]).strip())
                state["buffer"] = []
            state["bold"] = not state["bold"]

        def boldItalic(self):
            self.bold()

    parse_formatting(line, _Cb())
    return result


def alternative_titles(markup: str) -> list[str]:
    """WikiPage.getAlternativeTitles (:107-128): the bold strings of
    the first section's first bold-carrying line, after ref/lang/
    entity/tag/link/template cleanup. Bold runs come from the real
    apostrophe-state formatting parser (_strings_in_bold), so
    bold-italic ('''''X''''') extracts X without quote residue."""
    sections = get_sections(markup or "")
    if not sections:
        return []
    first = _REF.sub("", sections[0])
    first = _LANG.sub(r"\1", first)
    first = _html.unescape(first)
    first = _TAGS.sub("", first)
    first = _process_links(first, _EXTERNAL_LINK)
    first = _process_links(first, _INTERNAL_LINK)
    first = _remove_between(first, "{", "{", "}", "}")
    first = _remove_between(first, "{", "|", "|", "}")
    for line in first.strip().split("\n"):
        titles = _strings_in_bold(line)
        if titles:
            return titles
    return []


def page_coordinate(markup: str) -> dict | None:
    """WikiPage.getCoordinate (:300-314): the first coordinate whose
    display contains 'title' or equals 't', across coord tags then
    infobox coordinates."""
    coords = list(extract_coordinate_tags(markup or ""))
    for box in get_infoboxes(markup or ""):
        coords.extend(template_coordinates(box))
    for c in coords:
        d = c.get("display")
        if d is not None and ("title" in d or d == "t"):
            return c
    return None


def parse_location_page(page_id: int, namespace: int, title: str,
                        markup: str,
                        mapping: dict[str, str] | None = None,
                        id_offset: int = 0,
                        page_names: bool = True) -> dict | None:
    """importLocationPages' per-page logic (:121-196)."""
    if mapping is None:
        from kgp.infobox_types import INFOBOX_TUDLOC
        mapping = INFOBOX_TUDLOC
    if namespace != 0 or title is None or markup is None:
        return None
    if get_redirect_title(markup) is not None:
        return None
    if IGNORED_PAGES.fullmatch(title):
        return None
    infoboxes = get_infoboxes(markup)
    if not infoboxes:
        return None
    loc_type = None
    for box in infoboxes:
        loc_type = mapping.get(box.name)
        if loc_type is not None:
            break
    if loc_type is None:
        return None
    coord = page_coordinate(markup)
    if coord is None:
        for box in infoboxes:
            cs = template_coordinates(box)
            if cs:
                coord = cs[0]
                break
    if coord is None:
        return None
    name = clean_title(title)
    alt = []
    if page_names:
        alt = [a for a in alternative_titles(markup)
               if a.strip() and a != name]
    return {"location_id": page_id + id_offset, "title": title,
            "name": name, "type": loc_type, "lat": coord["lat"],
            "lng": coord["lng"],
            "population": coord.get("population"),
            "alt_names": sorted(set(alt))}


LOC_SCHEMA = ("location_id long, title string, name string, "
              "type string, lat double, lng double, population long, "
              "alt_names array<string>")


def wikipedia_locations_stage(pages: DataFrame,
                              mapping: dict[str, str] | None = None,
                              id_offset: int = 0,
                              page_names: bool = True) -> DataFrame:
    """(location_id, title, name, type, lat, lng, population,
    alt_names) — ONE Arrow pass over (page_id, namespace, title,
    text)."""
    if mapping is None:
        from kgp.infobox_types import INFOBOX_TUDLOC
        m = INFOBOX_TUDLOC
    else:
        m = mapping

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, ns, ti, tx in zip(pdf["page_id"],
                                       pdf["namespace"],
                                       pdf["title"], pdf["text"]):
                rec = parse_location_page(int(pid), int(ns), ti, tx,
                                          m, id_offset, page_names)
                if rec is not None:
                    rows.append(tuple(rec[k] for k in (
                        "location_id", "title", "name", "type", "lat",
                        "lng", "population", "alt_names")))
            yield pd.DataFrame(rows, columns=[
                "location_id", "title", "name", "type", "lat", "lng",
                "population", "alt_names"])

    return pages.select("page_id", "namespace", "title", "text") \
        .mapInPandas(run, LOC_SCHEMA)
