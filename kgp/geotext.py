"""GeoText scope-dataset reader — port of GeoTextDatasetReader
(extraction/location/scope/evaluation/GeoTextDatasetReader.java:
33-227), the reference's reader for the public GeoText corpus
(Eisenstein et al., EMNLP 2010 "A Latent Variable Model for
Geographic Lexical Variation").

Format (full_text.txt): 6 TAB columns —
``USER_<hex> ? ? lat lng text`` (:135-151).  Semantics kept exactly:
- a line with != 6 columns is an IllegalStateException (:137-140) —
  the stage raises too (fail fast, not silent drop);
- userId = Long.parseLong(name minus "USER_", 16) (:142);
- fold = userId % 5, with 0 mapping to 5 (:158-161); subsets
  TRAIN={1,2,3}, DEV={4}, TEST={5} (:39-57);
- SINGLE combination: one document per line, documentName =
  ``<userName>#<sha1(text)>`` (:150) where StringHelper.sha1 digests
  the ISO-8859-1 bytes (StringHelper.java:1302-1310) — JVM-side as
  ``sha1(encode(text, 'ISO-8859-1'))``;
- USER combination (:169-215): consecutive per-user tweets merge into
  one document — newline-joined then trimmed, the FIRST tweet's
  coordinate, documentName = userName.

Deviation, documented: the reference merges consecutive RUNS (a user
reappearing later would yield two documents); the distributed reader
groups by user name (one shuffle on the user key) — identical on the
dataset's by-user ordering, which the reference itself requires.
Line order within a user comes from ``monotonically_increasing_id``
over the file scan (ascending = file order).

Spark shape: every column derives JVM-side (split / conv / sha1 /
casts — zero Python); the fold/subset filter is a pushdown-friendly
predicate; USER mode adds ONE aggregation on the user key.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SUBSETS = {"TRAIN": (1, 2, 3), "DEV": (4,), "TEST": (5,)}


def geotext_docs(lines: DataFrame, subset: str | None = None,
                 combination: str = "SINGLE",
                 line_col: str = "value") -> DataFrame:
    """lines(value) -> (doc_name, user_name, fold, lat, lon, text)."""
    parts = F.split(F.col(line_col), "\t", -1)
    ok = F.size(parts) == 6
    bad = F.raise_error(F.concat(
        F.lit("Illegal format: '"), F.col(line_col), F.lit("'")))
    user = F.when(ok, parts[0]).otherwise(bad)
    uid = F.conv(F.regexp_replace(user, "^USER_", ""), 16, 10) \
        .cast("long")
    fold0 = uid % 5
    fold = F.when(fold0 == 0, F.lit(5)).otherwise(fold0).cast("int")
    df = (lines
          .withColumn("_ord", F.monotonically_increasing_id())
          .select(
              "_ord", user.alias("user_name"), fold.alias("fold"),
              parts[3].cast("double").alias("lat"),
              parts[4].cast("double").alias("lon"),
              parts[5].alias("text")))
    if subset is not None:
        df = df.where(F.col("fold").isin(*SUBSETS[subset]))
    if combination == "SINGLE":
        name = F.concat(
            F.col("user_name"), F.lit("#"),
            F.sha1(F.encode(F.col("text"), "ISO-8859-1")))
        return df.select(name.alias("doc_name"), "user_name", "fold",
                         "lat", "lon", "text")
    # USER: newline-join in line order, first tweet's coordinate
    w = Window.partitionBy("user_name").orderBy("_ord") \
        .rowsBetween(Window.unboundedPreceding,
                     Window.unboundedFollowing)
    first_w = Window.partitionBy("user_name").orderBy("_ord")
    combined = (df
                .withColumn("_txt", F.concat_ws(
                    "\n", F.collect_list("text").over(w)))
                .withColumn("_rn", F.row_number().over(first_w))
                .where(F.col("_rn") == 1))
    return combined.select(
        F.col("user_name").alias("doc_name"), "user_name", "fold",
        "lat", "lon", F.trim(F.col("_txt")).alias("text"))


# ------------------------------------------------------------ twin

def sha1_latin1(text: str) -> str:
    """StringHelper.sha1 (StringHelper.java:1302-1310): SHA-1 over the
    ISO-8859-1 bytes, lowercase hex."""
    return hashlib.sha1(
        text.encode("iso-8859-1", errors="replace")).hexdigest()


def geotext_read_local(lines: list[str], subset: str | None = None,
                       combination: str = "SINGLE"
                       ) -> list[tuple[str, str, int, float, float, str]]:
    """Literal iterator twin (DatasetIterator + CombininingIterator,
    :113-215) incl. the run-based USER merging and the
    IllegalStateException on malformed lines."""
    singles = []
    for line in lines:
        split = line.split("\t")
        if len(split) != 6:
            raise ValueError(f"Illegal format: '{line}', expected 6 "
                             f"columns, got {len(split)}.")
        user = split[0]
        uid = int(user.replace("USER_", ""), 16)
        fold = uid % 5 or 5
        if subset is None or fold in SUBSETS[subset]:
            lat, lon = float(split[3]), float(split[4])
            text = split[5]
            singles.append((user, fold, lat, lon, text))
    if combination == "SINGLE":
        return [(f"{u}#{sha1_latin1(t)}", u, f, lat, lon, t)
                for u, f, lat, lon, t in singles]
    out = []
    buf: list[str] = []
    cur = coord = None
    for u, f, lat, lon, t in singles:
        if cur is not None and u != cur[0]:
            out.append((cur[0], cur[0], cur[1], coord[0], coord[1],
                        "\n".join(buf).strip()))
            buf, coord, cur = [], None, None
        if coord is None:
            coord = (lat, lon)
            cur = (u, f)
        buf.append(t)
    if buf:
        out.append((cur[0], cur[0], cur[1], coord[0], coord[1],
                    "\n".join(buf).strip()))
    return out
