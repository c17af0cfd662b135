"""Shared deterministic corpus constants.

The synthetic Common-Crawl-style `pages` corpus is a pure function of
`documents.parquet` (doc_id, text, lang) and these constants. Both the
Spark generator (kgp.corpus) and the DuckDB oracle SQL (__spark_entry__)
are derived from THIS module, so golden text / mentions / triples are
known by construction on both sides.

Entity inventory mirrors the gazetteer shape of the reference
(/root/reference/palladian-core/.../extraction/location/Location.java:19-80)
and the seed-dictionary format of PalladianNer.setEntityDictionary
(/root/reference/palladian-core/.../tagger/PalladianNer.java:253-296).
"""

from __future__ import annotations

# ---------------------------------------------------------------- entities

PERSONS = [
    "John Smith", "Mary Johnson", "Robert Brown", "Patricia Miller",
    "Michael Davis", "Linda Wilson", "James Moore", "Barbara Taylor",
    "William Anderson", "Elizabeth Thomas", "David Jackson",
    "Jennifer White", "Richard Harris", "Susan Martin",
    "Joseph Thompson", "Karen Garcia", "Charles Robinson",
]  # 17

ORGS = [
    "Acme Corp", "Globex Systems", "Initech Labs", "Umbrella Group",
    "Stark Industries", "Wayne Enterprises", "Cyberdyne Systems",
    "Tyrell Corporation", "Wonka Industries", "Duff Brewing",
    "Sirius Cybernetics", "Hooli Media", "Vandelay Industries",
]  # 13

# alias surfaces for the first three orgs (exercise canonicalization);
# plus a 3-node chain member never used in text.
ORG_ALIASES = ["Acme Corporation", "Globex Systems International",
               "Initech Laboratories"]
ORG_CHAIN_NAME = "Acme Corp Worldwide"  # alt-name -> "Acme Corporation"

CITIES = [
    "Springfield", "Rivertown", "Lakeside", "Porthaven", "Greenfield",
    "Stonebridge", "Fairview", "Maplewood", "Ashford", "Clearwater",
    "Brookdale",
]  # 11

COUNTRIES = [
    "Freedonia", "Sylvania", "Genovia", "Latveria", "Elbonia",
    "Krakozhia", "Arstotzka",
]  # 7

# gazetteer id bases
PER_ID, ORG_ID, ORG_ALIAS_ID, ORG_CHAIN_ID = 1000, 2000, 2100, 2200
CITY_ID, CITY_DUP_ID, COUNTRY_ID = 3000, 3100, 4000

# ------------------------------------------------------------- sentences
#
# Placeholders: per per2 org org_s3 city city2 country doc_id.
# Index arithmetic (all pure integer mod of doc_id — reproducible in SQL):
#   per     = PERSONS[doc_id % 17]
#   per2    = PERSONS[(doc_id + 5) % 17]
#   org     = ORGS[doc_id % 13]
#   city    = CITIES[doc_id % 11]
#   city2   = CITIES[(doc_id + 3) % 11]
#   country = COUNTRIES[doc_id % 7]
#   org_s3  = ORG_ALIASES[doc_id % 13] if (doc_id % 9 == 5 and doc_id % 13 < 3)
#             else org                       (alias exercise for CC/canon)

H1 = "{org} update {doc_id}"
S1 = ("{per}, the chief executive officer of {org}, spoke in {city} on "
      "Monday.")
S2 = "{per} was born in {city2}."
S3 = "{org_s3} is headquartered in {city}."
S4 = "{city} is the capital of {country}."      # when doc_id % 3 == 0
S5 = "{per2} works for {org}."                  # when doc_id % 4 == 1
S6 = "{org} was founded by {per}."              # when doc_id % 5 == 2
# S9 exercises PREDICATE NORMALIZATION (kgp.predicates, the
# WordTransformer role): the "based in" phrasing must merge into the
# canonical headquartered_in predicate.
#   org2  = ORGS[(doc_id + 4) % 13]
#   city3 = CITIES[(doc_id + 5) % 11]
S9 = "{org2} is based in {city3}."              # when doc_id % 7 == 4
D1 = "The quick brown fox jumps over the lazy dog near the river bank."

# S7 exercises CONTEXT typing (PalladianNer.buildContextDictionary /
# applyContextAnalysis): NOVEL_ORG is a person-shaped company name that
# appears ONLY in held-out docs (doc_id % 23 == 11, excluded from NER
# training by corpus.training_docs), is in NO seed dictionary, and must
# be typed ORG purely because its ±40-char context matches the S3
# "is headquartered in" training contexts.
NOVEL_ORG = "Mary Johnson Systems"
S7 = NOVEL_ORG + " is headquartered in {city2}."  # when doc_id % 23 == 11

# S8 exercises the date stack (DateAndTimeTagger port in kgp.dates +
# the DATETIME mention add-back, PalladianNer.java:462-470): the date
# surface must come out as a DATETIME mention, while "March" alone is
# dropped as a date fragment.
DATE_SURFACE = "March 3, 2021"
S8 = "The merger was announced on " + DATE_SURFACE + " in {city}."

S9_MOD, S9_VAL = 7, 4
HOLDOUT_MOD, HOLDOUT_VAL = 23, 11  # NER train/apply split
S8_MOD, S8_VAL = 6, 3
ALIAS_COND = "(doc_id % 9 = 5 AND doc_id % 13 < 3)"

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z

# html structural variants (same golden text for all):
#   doc_id % 10 == 7  -> unclosed <p> tags (implied close)
#   doc_id % 13 == 4  -> main div has no hint class (XPath-density path)
#   doc_id % 17 == 13 -> no content containers (documentToText fallback
#                        path) with space runs at text-node boundaries
#                        (per-recursion space-deletion semantics)
HINT_CLASS = "article-body"
NOHINT_CLASS = "content-zone"

# web-graph link block (normal body only; the adversarial %17==13
# slice carries no links so its full-walk byte-identity stays intact).
# Targets are closed-form over doc_id so the link graph has an exact
# SQL derivation (kgp.oracle.page_links_sql):
#   next  -> relative /articles/{doc_id+1}.html (same host; dangles
#            when doc_id+1 canonically lives on another host — real
#            crawls are full of moved links)
#   dst2  -> absolute url of the NEXT multiple of LINK_REL_STRIDE
#            (head-entity skew: only every 7th article gets in-links)
#   hub   -> the news homepage (hot-node skew for PageRank)
#   about -> ../about.html (exercises dot-segment resolution)
#   ads   -> rel=nofollow (dropped when respect_nofollow)
#   mailto-> dropped by the tel/mailto filter
LINK_REL_STRIDE = 7
LINK_NEXT_ANCHOR = "Next: article {next_id}"
LINK_REL_ANCHOR = "Related coverage {dst2_id}"
LINK_HUB_URL = "https://news.example.com/"
LINK_HUB_ANCHOR = "Example News"
LINK_ABOUT_ANCHOR = "About"
RELATED_HTML = (
    '<div class="related"><h3>Related</h3><ul>'
    '<li><a href="/articles/{next_id}.html">' + LINK_NEXT_ANCHOR
    + '</a></li>'
    '<li><a href="{dst2_url}">' + LINK_REL_ANCHOR + '</a></li>'
    '<li><a href="' + LINK_HUB_URL + '">' + LINK_HUB_ANCHOR + '</a></li>'
    '<li><a href="../about.html">' + LINK_ABOUT_ANCHOR + '</a></li>'
    '<li><a rel="nofollow" href="https://ads.example.biz/click?id='
    '{doc_id}">Sponsored</a></li>'
    '<li><a href="mailto:tips@example.com">Contact</a></li></ul></div>')

CONCEPT_PRIORITY = ["PER", "ORG", "CITY", "COUNTRY"]
