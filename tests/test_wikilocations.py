"""WikipediaLocationImporter port: infobox type mapping, clean title,
alternative titles, title coordinate, per-page filters, and the
Spark pass."""

from __future__ import annotations

import pytest

from kgp.wikilocations import (DEFAULT_INFOBOX_TYPES,
                               alternative_titles, clean_title,
                               load_infobox_type_mapping,
                               page_coordinate, parse_location_page,
                               wikipedia_locations_stage)

DRESDEN = """'''Dresden''' ({{lang|de|Dräsdn}}), also '''Florence of \
the Elbe''', is a city.
{{Infobox settlement
| name = Dresden
| population_total = 555351
| latitude = 51.033
| longitude = 13.733
| coordinates_display = inline,title
}}
== History ==
Some history.
"""

MOUNTAIN = """{{Infobox mountain
| name = Zugspitze
| lat_d = 47
| lat_m = 25
| latNS = N
| long_d = 10
| long_m = 59
| longEW = E
}}
'''Zugspitze''' is the highest peak.
"""


def test_clean_title():
    # WikiPageReference.getCleanTitle quirks
    assert clean_title("Dresden (Germany)") == "Dresden"
    assert clean_title("Springfield, Illinois") == "Springfield"
    assert clean_title("Berlin") == "Berlin"


def test_load_infobox_type_mapping():
    lines = ["InfoboxType;CoNLL;TUD-Loc;Notes",
             "airport;LOC;POI;",
             "album;MISC;;",          # empty TUD-Loc -> skipped
             "settlement;LOC;CITY;"]
    m = load_infobox_type_mapping(lines)
    assert m == {"airport": "POI", "settlement": "CITY"}
    with pytest.raises(ValueError):
        load_infobox_type_mapping(["InfoboxType;CoNLL;TUD-Loc;Notes"])


def test_alternative_titles_bold_first_line():
    alts = alternative_titles(DRESDEN)
    assert alts == ["Dresden", "Florence of the Elbe"]
    assert alternative_titles("no bold here\n== S ==\n") == []


def test_page_coordinate_title_display():
    c = page_coordinate(DRESDEN)
    assert c is not None
    assert c["lat"] == pytest.approx(51.033)
    # no title-display coordinate -> None
    assert page_coordinate(MOUNTAIN) is None


def test_parse_location_page():
    rec = parse_location_page(42, 0, "Dresden (Germany)", DRESDEN)
    assert rec["location_id"] == 42
    assert rec["name"] == "Dresden"
    assert rec["type"] == "CITY"
    assert rec["lat"] == pytest.approx(51.033)
    assert "Florence of the Elbe" in rec["alt_names"]
    # fallback to the first infobox coordinate when no title display
    rec2 = parse_location_page(7, 0, "Zugspitze", MOUNTAIN)
    assert rec2["type"] == "LANDMARK"
    assert rec2["lat"] == pytest.approx(47 + 25 / 60)


def test_parse_location_page_filters():
    assert parse_location_page(1, 14, "Category:X", DRESDEN) is None
    assert parse_location_page(1, 0, "Geography of Japan",
                               DRESDEN) is None
    assert parse_location_page(1, 0, "Battle of Dresden",
                               DRESDEN) is None
    assert parse_location_page(
        1, 0, "R", "#REDIRECT [[Dresden]]") is None
    assert parse_location_page(1, 0, "NoBox", "plain text") is None
    # mapped infobox but no coordinate anywhere -> dropped
    nocoord = "{{Infobox settlement\n| name = X\n}}\ntext"
    assert parse_location_page(1, 0, "X", nocoord) is None


def test_id_offset():
    rec = parse_location_page(42, 0, "Dresden", DRESDEN,
                              id_offset=1000)
    assert rec["location_id"] == 1042


def test_stages_end_to_end(spark):
    pages = spark.createDataFrame(
        [(1, 0, "Dresden", DRESDEN),
         (2, 0, "Zugspitze", MOUNTAIN),
         (3, 0, "Dräsdn", "#REDIRECT [[Dresden]]"),
         (4, 0, "Dresden/History", "#REDIRECT [[Dresden]]"),
         (5, 0, "Anchor", "#REDIRECT [[Dresden#History]]"),
         (6, 0, "Geography of Saxony", DRESDEN),
         (7, 2, "User:Foo", DRESDEN)],
        "page_id long, namespace int, title string, text string")
    locs = wikipedia_locations_stage(pages)
    rows = {r["name"]: r for r in locs.collect()}
    assert set(rows) == {"Dresden", "Zugspitze"}
    assert rows["Dresden"]["type"] == "CITY"


def test_default_mapping_is_sane():
    assert DEFAULT_INFOBOX_TYPES["settlement"] == "CITY"
    assert DEFAULT_INFOBOX_TYPES["country"] == "COUNTRY"
    assert DEFAULT_INFOBOX_TYPES["river"] == "LANDMARK"
