"""TUD-Loc-2013 dataset reader — port of TudLoc2013DatasetIterable
(extraction/location/evaluation/TudLoc2013DatasetIterable.java:47-181),
the reference's own location-extraction evaluation corpus format (and
the target format its converters emit).

Per ``*.text`` file (:70-85):
- rawText = file content with every `` role="main"`` deleted (:73);
- cleanText = HtmlHelper.stripHtmlTags(rawText) (:74);
- annotations = FileFormatParser.getAnnotationsFromXmlText(rawText)
  (:160-174, ported at kgp.conll) — each becomes a Location with
  dummyId = value.hashCode() (Java String.hashCode, twin below),
  type = LocationType.map(tag) (valueOf-or-UNDETERMINED,
  LocationType.java:44-50), population 0, and the coordinate looked
  up from coordinates.csv BY CHARACTER OFFSET;
- the main location = the annotation at the index of the first
  ``role="main"``-marked markup match (MAIN_ROLE_ANNOTATION_PATTERN,
  :40, DOTALL+CI), -1 if absent (:97-110).

coordinates.csv (:122-157): ``docId;idx;offset;latitude;longitude;
sourceId`` with a header line; lat/lng empty -> a null coordinate.

Spark shape: one wholetext scan (a row per document file — the
format's natural split unit), ONE Arrow pass parsing each file into
annotation rows (file-sized state only), then a broadcast equi-join
against the small coordinates table on (doc, offset).  Nothing but
annotation rows ever shuffles.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# TudLoc2013DatasetIterable.java:40
MAIN_ROLE_RE = re.compile(
    r"\<([A-Z]+)(\s+role=\"main\")?\>(.{1,1000}?)\</\1\>",
    re.DOTALL | re.IGNORECASE)

LOCATION_TYPES = frozenset((
    "CONTINENT", "COUNTRY", "CITY", "ZIP", "STREET", "STREETNR",
    "UNIT", "REGION", "POI", "LANDMARK", "UNDETERMINED"))


def map_location_type(value: str | None) -> str:
    """LocationType.map (LocationType.java:44-50): forgiving valueOf,
    UNDETERMINED on anything unknown."""
    if value is None:
        return "UNDETERMINED"
    up = value.upper()
    return up if up in LOCATION_TYPES else "UNDETERMINED"


def java_string_hash(s: str) -> int:
    """Java String.hashCode (s[0]*31^(n-1) + ... + s[n-1], int32
    wraparound) — the reference's dummy location id (:165)."""
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - 0x100000000 if h >= 0x80000000 else h


def main_location_idx(text: str) -> int:
    """getMainLocationIdx (:97-110): ordinal of the first markup match
    carrying role="main", -1 if none."""
    for idx, m in enumerate(MAIN_ROLE_RE.finditer(text)):
        if m.group(2):
            return idx
    return -1


def parse_tudloc_document(file_name: str, content: str
                          ) -> list[dict]:
    """One LocationDocument's annotation rows (:70-85 without the
    coordinate join): (file_name, idx, offset, value, loc_type,
    loc_id, is_main)."""
    from kgp.conll import annotations_from_xml_text
    raw = content.replace(" role=\"main\"", "")
    anns = annotations_from_xml_text(raw)
    main_idx = main_location_idx(content)
    return [dict(file_name=file_name, idx=i, offset=a.start,
                 value=a.value, loc_type=map_location_type(a.tag),
                 loc_id=java_string_hash(a.value),
                 is_main=(i == main_idx))
            for i, a in enumerate(anns)]


_ANN_SCHEMA = T.StructType([
    T.StructField("file_name", T.StringType()),
    T.StructField("idx", T.LongType()),
    T.StructField("offset", T.LongType()),
    T.StructField("value", T.StringType()),
    T.StructField("loc_type", T.StringType()),
    T.StructField("loc_id", T.LongType()),
    T.StructField("is_main", T.BooleanType()),
])


def tudloc_annotations_stage(files: DataFrame,
                             name_col: str = "file_name",
                             text_col: str = "content") -> DataFrame:
    """Distributed annotation parse: files(file_name, content) ->
    one row per annotation.  ONE Arrow pass, file-sized state."""

    def scan(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows: list[dict] = []
            for name, content in zip(pdf[name_col], pdf[text_col]):
                if content is not None:
                    rows.extend(parse_tudloc_document(name, content))
            if rows:
                yield pd.DataFrame(rows)

    return files.select(name_col, text_col).mapInPandas(
        scan, _ANN_SCHEMA)


# Gate template bank (tudloc_annotations gate), keyed by doc_id % 5:
# role="main" main-index (v0 first / v2 second), unknown-tag ->
# UNDETERMINED (v1), annotation-free file (v3 emits nothing), nested
# markup inside an entity (v4 — FileFormatParser's cumulated-length
# arithmetic).  The oracle hand-derives every row incl. the Java
# String.hashCode ids.
GATE_TEMPLATES: tuple[str, ...] = (
    'Trip to <CITY role="main">Dresden</CITY> in '
    '<COUNTRY>Germany</COUNTRY>.',
    "Hello <FOO>Bar</FOO> world",
    '<POI>Eiffel Tower</POI> stands in <CITY role="main">Paris</CITY>',
    "No annotations here at all",
    "See <CITY>New <b>York</b></CITY> now",
)


def read_coordinates(spark: SparkSession, path: str) -> DataFrame:
    """readCoordinates (:122-157): header skipped, ';' split, empty
    lat/lng -> null coordinate (both-or-nothing per the reference's
    isEmpty pair check)."""
    df = (spark.read.option("header", "true").option("sep", ";")
          .option("quote", "").csv(path))
    both = F.col("latitude").isNotNull() & F.col("longitude").isNotNull()
    return df.select(
        F.col("docId").alias("file_name"),
        F.col("offset").cast("long").alias("offset"),
        F.when(both, F.col("latitude").cast("double")).alias("lat"),
        F.when(both, F.col("longitude").cast("double")).alias("lon"))


def read_tudloc2013(spark: SparkSession, dataset_dir: str) -> DataFrame:
    """The full iterable: one row per annotation with its coordinate
    and the per-file clean text available via ``tudloc_documents``.
    Returns (file_name, idx, offset, value, loc_type, loc_id,
    is_main, lat, lon)."""
    files = (spark.read.text(f"{dataset_dir}/*.text", wholetext=True)
             .select(
                 F.element_at(F.split(F.input_file_name(), "/"), -1)
                 .alias("file_name"),
                 F.col("value").alias("content")))
    anns = tudloc_annotations_stage(files)
    coords = read_coordinates(spark, f"{dataset_dir}/coordinates.csv")
    return anns.join(F.broadcast(coords), ["file_name", "offset"],
                     "left")


def tudloc_documents(spark: SparkSession, dataset_dir: str) -> DataFrame:
    """(file_name, clean_text) — the LocationDocument text side
    (:73-74): role="main" deleted, then tags stripped, JVM-side."""
    files = (spark.read.text(f"{dataset_dir}/*.text", wholetext=True)
             .select(
                 F.element_at(F.split(F.input_file_name(), "/"), -1)
                 .alias("file_name"),
                 F.col("value").alias("content")))
    raw = F.regexp_replace("content", re.escape(" role=\"main\""), "")
    # STRIP_ALL_TAGS (HtmlHelper.java:62) as one JVM regexp
    clean = F.regexp_replace(
        raw, r"(?is)<!--.*?-->|<script.*?>.*?</script>"
             r"|<style.*?>.*?</style>|<[^<]*?>", "")
    return files.select("file_name", clean.alias("clean_text"))
