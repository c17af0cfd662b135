"""Sparse dataset format reader — port of
core/dataset/sparse/SparseDatasetReader.java (the format written by
SparseDatasetWriter: one instance per line, ``category idx:value
idx:value ...``, entries split on ' ' and key/value on ':' — both
quote-aware via DelimitedStringHelper with '"' quotes — ``?`` as the
null marker, ``#`` comment lines):

- header mapping (:216-278 determineMetaInformationFromHeader): the
  leading comment block may carry a ``# ---------- categories
  ----------`` section (idx TAB category-name) and a ``# ----------
  values ----------`` section (idx TAB value-name TAB java-type);
  when both are present the idx keys in the data lines map back to
  names and each key's parser comes from the declared type.
- headerless inference (:285-313): each key's parser is the FIRST of
  the default chain (Boolean, Integer, Long, Float, Double,
  LocalDate, String — :160-162) that canParse the key's first-seen
  value; unseen-type fallback is String (:268-271).

Spark shape: the header lives in the leading comment block, so the
driver reads ONLY comment-prefixed head lines; data lines stream
through ONE spark.read.text scan into a LONG-format DataFrame
``(instance_id, category, feature, value_type, value)`` — the sparse
row never widens to 5k+ physical columns (FeatureInformation.count is
metadata, not storage).  Per-line parsing is quote-aware string work
inside one mapInPandas (the honest Arrow-batch case).  instance_id is
(file block start, ordinal-in-block) — file order without a global
sort or zipWithIndex.
"""

from __future__ import annotations

import datetime
import re
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp.datasetops import split_delimited_line

QUOTE = '"'
ENTRY_SPLIT = " "
KEY_VALUE_SPLIT = ":"
HEADER_CATEGORIES = "# ---------- categories ----------"
HEADER_VALUES = "# ---------- values ----------"

# DEFAULT_PARSERS order (SparseDatasetReader.java:160-162)
PARSER_CHAIN = ("boolean", "int", "long", "float", "double",
                "localDate", "string")

_JAVA_TYPE = {
    "ws.palladian.core.value.ImmutableBooleanValue": "boolean",
    "ws.palladian.core.value.ImmutableIntegerValue": "int",
    "ws.palladian.core.value.ImmutableLongValue": "long",
    "ws.palladian.core.value.ImmutableFloatValue": "float",
    "ws.palladian.core.value.ImmutableDoubleValue": "double",
    "ws.palladian.core.value.ImmutableLocalDateValue": "localDate",
    "ws.palladian.core.value.ImmutableStringValue": "string",
}

_INT_RE = re.compile(r"[+-]?\d+$")
# Java Float/Double.parseDouble: optional sign, digits with optional
# fraction and exponent, or leading-dot form; also NaN/Infinity
_FLOAT_RE = re.compile(
    r"[+-]?((\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?[fFdD]?|NaN|Infinity)$")
_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}$")


def can_parse(kind: str, value: str) -> bool:
    """canParse twin for each DEFAULT_PARSERS entry (try-parse)."""
    if kind == "boolean":
        return value.lower() in ("true", "false")
    if kind in ("int", "long"):
        if not _INT_RE.match(value):
            return False
        n = int(value)
        if kind == "int":
            return -2**31 <= n < 2**31
        return -2**63 <= n < 2**63
    if kind in ("float", "double"):
        return bool(_FLOAT_RE.match(value))
    if kind == "localDate":
        if not _DATE_RE.match(value):
            return False
        try:
            datetime.date.fromisoformat(value)
            return True
        except ValueError:
            return False
    return kind == "string"


def infer_parser(value: str) -> str:
    """First chain entry that canParse (:299-304)."""
    for kind in PARSER_CHAIN:
        if can_parse(kind, value):
            return kind
    return "string"


def parse_header(lines: list[str]) -> tuple[dict, dict, dict]:
    """determineMetaInformationFromHeader twin (:216-278): returns
    (idx->category, idx->name, idx->parser-kind); empty maps when the
    header sections are absent."""
    idx_to_category: dict[str, str] = {}
    idx_to_name: dict[str, str] = {}
    parsers: dict[str, str] = {}
    read_categories = read_values = False
    for line in lines:
        if not line or not line.startswith("#"):
            continue
        if line == HEADER_CATEGORIES:
            read_categories, read_values = True, False
            continue
        if line == HEADER_VALUES:
            read_categories, read_values = False, True
            continue
        if not read_categories and not read_values:
            continue
        trimmed = line.replace("#", "").strip()
        split = trimmed.split("\t")
        if len(split) < 2:
            continue
        idx = split[0]
        if read_categories:
            idx_to_category[idx] = split[1]
        else:
            idx_to_name[idx] = split[1]
            java_type = split[2] if len(split) > 2 else ""
            # no matching parser -> warn + fall back to String (:268)
            parsers[idx] = _JAVA_TYPE.get(java_type, "string")
    return idx_to_category, idx_to_name, parsers


def parse_sparse_line(line: str) -> tuple[str, list[tuple[str, str]]] | None:
    """One data line -> (category, [(idx-key, raw-value)...]); comment
    and empty lines -> None (:113-116).  Both splits are quote-aware
    (:117-127)."""
    if not line or line.startswith("#"):
        return None
    split = split_delimited_line(line, ENTRY_SPLIT, QUOTE)
    if split is None or not split:
        return None
    category = split[0]
    entries = []
    for part in split[1:]:
        kv = split_delimited_line(part, KEY_VALUE_SPLIT, QUOTE)
        if kv is None or len(kv) < 2:
            continue
        entries.append((kv[0], kv[1]))
    return category, entries


_LONG_SCHEMA = T.StructType([
    T.StructField("block_start", T.LongType()),
    T.StructField("row_in_block", T.LongType()),
    T.StructField("category", T.StringType()),
    T.StructField("feature", T.StringType()),
    T.StructField("value_type", T.StringType()),
    T.StructField("value", T.StringType()),
])


def parse_sparse_lines(lines: DataFrame,
                       idx_to_category: dict | None = None,
                       idx_to_name: dict | None = None,
                       parsers: dict | None = None) -> DataFrame:
    """Core parser over a ``(line, block_start)`` DataFrame -> long
    format; header maps optional (empty = headerless semantics, type
    inference from each key's first file-order occurrence)."""
    idx_to_category = idx_to_category or {}
    idx_to_name = idx_to_name or {}
    parsers = parsers or {}
    has_header = bool(idx_to_category) and bool(idx_to_name)

    def explode_lines(batches: Iterable[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
        ordinal = 0
        for pdf in batches:
            rows = []
            for line, block in zip(pdf["line"], pdf["block_start"]):
                parsed = parse_sparse_line(line)
                if parsed is None:
                    continue
                category, entries = parsed
                category = idx_to_category.get(category, category)
                for key, value in entries:
                    name = idx_to_name.get(key, key)
                    kind = parsers.get(key)
                    rows.append((int(block), ordinal, category, name,
                                 kind, None if value == "?" else value))
                ordinal += 1
            yield pd.DataFrame(
                rows, columns=[f.name for f in _LONG_SCHEMA.fields])

    long = lines.select("line", "block_start").mapInPandas(
        explode_lines, schema=_LONG_SCHEMA)

    if not has_header:
        # verdict from each key's first file-order occurrence
        w_first = (long.filter(F.col("value").isNotNull())
                   .groupBy("feature")
                   .agg(F.min_by(
                        "value",
                        F.struct("block_start", "row_in_block"))
                        .alias("first_value")))

        @F.pandas_udf(T.StringType())
        def infer(values: pd.Series) -> pd.Series:
            return values.map(infer_parser)

        kinds = w_first.select(
            "feature", infer("first_value").alias("value_type_i"))
        long = (long.drop("value_type")
                    .join(F.broadcast(kinds), "feature", "left")
                    .withColumn("value_type",
                                F.coalesce("value_type_i",
                                           F.lit("string")))
                    .drop("value_type_i"))

    return long.select(
        F.concat_ws("_", F.col("block_start").cast("string"),
                    F.col("row_in_block").cast("string"))
         .alias("instance_id"),
        "block_start", "row_in_block", "category", "feature",
        "value_type", "value")


def read_sparse_dataset(spark: SparkSession, path: str) -> DataFrame:
    """Sparse file -> long-format DataFrame ``(instance_id, category,
    feature, value_type, value)`` with ``?`` -> null value (NullValue,
    :129-131) and names/categories mapped through the header when
    present.  instance_id orders by (block_start, row_in_block) —
    stable file order, no global sort.

    Headerless type inference deviates from the reference's
    first-occurrence-in-file-order scan in exactly one case — a key
    whose first two values would pick DIFFERENT parsers; the format's
    writer emits one type per column, so the chain verdict per key is
    order-independent there.  We take the verdict from the key's
    minimum (block_start, row_in_block) occurrence, which IS file
    order, restoring exact parity anyway.
    """
    head = [r[0] for r in
            spark.read.text(path).limit(10000).collect()
            if r[0].startswith("#") or not r[0]]
    idx_to_category, idx_to_name, parsers = parse_header(head)

    raw = spark.read.text(path).select(
        F.col("value").alias("line"),
        F.input_file_block_start().alias("block_start"))
    return parse_sparse_lines(raw, idx_to_category, idx_to_name,
                              parsers)


# ---------------------------------------------------- libsvm reader


def parse_libsvm_lines(lines: DataFrame,
                       line_col: str = "value") -> DataFrame:
    """LibSvmDatasetReader port (classification/utils/
    LibSvmDatasetReader.java:37-113): each line is ``target idx:value
    idx:value ...`` (no quoting in this format), target parsed as an
    integer and carried as the category string, feature names are the
    1-based indices as strings, every feature value a double.  The
    reader's Collections.shuffle (:63, the author's "XXX remove me")
    is order-destruction, not a semantic — we keep file rows as-is.

    Spark shape: pure-JVM split/transform (no Python at all) -> one
    row per instance with a features map — the sparse vector never
    widens to maxIndex physical columns."""
    raw = lines.filter(F.length(line_col) > 0)
    parts = F.split(F.col(line_col), " ")
    entries = F.filter(F.slice(parts, 2, F.size(parts) - 1),
                       lambda e: e != "")
    return raw.select(
        F.element_at(parts, 1).cast("int").cast("string")
         .alias("category"),
        F.map_from_arrays(
            F.transform(entries,
                        lambda e: F.split(e, ":")[0].cast("int")),
            F.transform(entries,
                        lambda e: F.split(e, ":")[1].cast("double")))
         .alias("features"))


def read_libsvm_dataset(spark: SparkSession, path: str) -> DataFrame:
    """File entry point: ONE spark.read.text scan (splittable) ->
    parse_libsvm_lines."""
    return parse_libsvm_lines(spark.read.text(path))


def libsvm_feature_information(dataset: DataFrame) -> DataFrame:
    """FeatureInformation twin (:66-81): every index 1..maxIndex is a
    declared double feature, including indices absent from the data.
    One aggregation for the max + a range generator."""
    mx = dataset.select(
        F.max(F.array_max(F.map_keys("features"))).alias("mx"))
    return (mx.select(F.explode(F.sequence(F.lit(1), F.col("mx")))
                      .alias("idx"))
              .select(F.col("idx").cast("string").alias("feature"),
                      F.lit("double").alias("value_type")))
