"""Deterministic synthetic `pages` corpus + gazetteer + NER seeds.

`pages` has EXACTLY the north-rule input shape:
    (url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

It is a pure function of `documents.parquet` (doc_id, text, lang) and
kgp.constants — built entirely from Spark column expressions (whole-stage
codegen, zero Python in generation), so the same corpus is reproducible
at any scale factor and by the DuckDB oracle SQL.

The `text` column carries the GOLDEN extracted text, constructed
independently from the same templates (string concatenation of known
pieces) — the extractor in kgp.html_text must reproduce it byte-for-byte
from `html` (the reference's invariant; see
/root/reference/palladian-commons/src/main/java/ws/palladian/helper/html/HtmlHelper.java:694-728
and /root/reference/palladian-core/src/main/java/ws/palladian/extraction/content/PalladianContentExtractor.java:218-370).

Host distribution is skewed (~40% of pages on one host) to exercise
hot-hostname salting (kgp.skew).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp import constants as C

# --------------------------------------------------------------- helpers


def _pick(values: list[str], idx: Column) -> Column:
    """values[idx] as a column expression (idx 0-based int column)."""
    return F.element_at(F.array(*[F.lit(v) for v in values]), idx + 1)


def _tfmt(template: str, cols: dict[str, Column]) -> Column:
    """Instantiate a '{name}' template as a concat() of literals+columns."""
    parts = [p for p in re.split(r"(\{\w+\})", template) if p]
    pieces = [
        cols[p[1:-1]] if p.startswith("{") and p.endswith("}") else F.lit(p)
        for p in parts
    ]
    return F.concat(*pieces) if len(pieces) > 1 else pieces[0]


# ------------------------------------------------------------- generator


def _host_for(idc: Column) -> Column:
    """Host of doc `idc`'s canonical url (skewed: 40% news host)."""
    return (
        F.when(idc % 10 < 4, F.lit("news.example.com"))
        .when(idc % 10 < 6, F.lit("blog.example.org"))
        .otherwise(F.concat(F.lit("site"), (idc % 14).cast("string"),
                            F.lit(".example.net")))
    )


def _page_columns(doc_id: Column, doc_text: Column, lang: Column,
                  heavy: int = 1) -> dict:
    i32 = lambda c: c.cast("int")  # noqa: E731
    per = _pick(C.PERSONS, i32(doc_id % 17))
    per2 = _pick(C.PERSONS, i32((doc_id + 5) % 17))
    org = _pick(C.ORGS, i32(doc_id % 13))
    city = _pick(C.CITIES, i32(doc_id % 11))
    city2 = _pick(C.CITIES, i32((doc_id + 3) % 11))
    country = _pick(C.COUNTRIES, i32(doc_id % 7))

    alias_cond = (doc_id % 9 == 5) & (doc_id % 13 < 3)
    org_s3 = F.when(alias_cond, _pick(C.ORG_ALIASES + C.ORGS[3:],
                                      i32(doc_id % 13))).otherwise(org)

    org2 = _pick(C.ORGS, i32((doc_id + 4) % 13))
    city3 = _pick(C.CITIES, i32((doc_id + 5) % 11))

    slots = {
        "per": per, "per2": per2, "org": org, "org_s3": org_s3,
        "org2": org2, "city": city, "city2": city2, "city3": city3,
        "country": country, "doc_id": doc_id.cast("string"),
    }
    h1 = _tfmt(C.H1, slots)
    s1, s2, s3 = (_tfmt(s, slots) for s in (C.S1, C.S2, C.S3))
    s4, s5, s6 = (_tfmt(s, slots) for s in (C.S4, C.S5, C.S6))
    s9 = _tfmt(C.S9, slots)

    p1 = F.concat_ws(" ", s1, s2, s3)
    p2 = F.concat_ws(
        " ",
        F.when(doc_id % 3 == 0, s4),
        F.when(doc_id % 4 == 1, s5),
        F.when(doc_id % 5 == 2, s6),
        F.when(doc_id % C.S9_MOD == C.S9_VAL, s9),
    )
    p3 = F.concat(doc_text, F.lit("."))
    p4 = F.lit(C.D1)
    s7 = _tfmt(C.S7, slots)
    s7_cond = doc_id % C.HOLDOUT_MOD == C.HOLDOUT_VAL
    s8 = _tfmt(C.S8, slots)
    s8_cond = doc_id % C.S8_MOD == C.S8_VAL

    # golden extracted text (independent construction from templates);
    # `heavy` repeats the body paragraph to fatten pages for benchmarks
    # (real Common-Crawl pages carry far more prose than the test docs)
    p3_text = F.repeat(F.concat(p3, F.lit("\n\n")), heavy)
    s7_text = F.when(s7_cond, F.concat(s7, F.lit("\n\n"))) \
        .otherwise(F.lit(""))
    s8_text = F.when(s8_cond, F.concat(s8, F.lit("\n\n"))) \
        .otherwise(F.lit(""))
    text = F.concat(
        h1, F.lit("\n\n"),
        p1, F.lit("\n\n"),
        F.when(p2 != "", F.concat(p2, F.lit("\n\n"))).otherwise(F.lit("")),
        p3_text,
        s7_text,
        s8_text,
        p4, F.lit("\n\n"),
    )

    # --- html -------------------------------------------------------
    cls = F.when(doc_id % 13 == 4, F.lit(C.NOHINT_CLASS)).otherwise(
        F.lit(C.HINT_CLASS))
    unclosed = doc_id % 10 == 7  # adversarial: implied-close <p> tags

    def para(body: Column) -> Column:
        return F.when(unclosed, F.concat(F.lit("<p>"), body)).otherwise(
            F.concat(F.lit("<p>"), body, F.lit("</p>")))

    p2_html = F.when(p2 != "", para(p2)).otherwise(F.lit(""))

    head = F.concat(
        F.lit('<!DOCTYPE html><html lang="'), lang,
        F.lit('"><head><title>'), h1,
        F.lit(" | Example News</title>"
              '<meta charset="utf-8">'
              "<style>body { font-family: serif; }</style>"
              "<script>var tracker = 1 + 2;</script>"
              "</head>"),
    )
    # related-links block (closed-form web graph; kgp.webgraph extracts
    # it, kgp.oracle.page_links_sql re-derives it symbolically)
    next_id = doc_id + 1
    dst2_id = doc_id - (doc_id % C.LINK_REL_STRIDE) + C.LINK_REL_STRIDE
    dst2_url = F.concat(F.lit("https://"), _host_for(dst2_id),
                        F.lit("/articles/"), dst2_id.cast("string"),
                        F.lit(".html"))
    related = _tfmt(C.RELATED_HTML, {
        "next_id": next_id.cast("string"),
        "dst2_id": dst2_id.cast("string"),
        "dst2_url": dst2_url,
        "doc_id": doc_id.cast("string"),
    })

    body = F.concat(
        F.lit("<body><header><nav><ul>"
              '<li><a href="/">Home</a></li>'
              '<li><a href="/world">World</a></li>'
              "</ul></nav></header>"),
        F.lit('<div class="'), cls, F.lit('">'),
        F.lit("<h1>"), h1, F.lit("</h1>"),
        para(p1), p2_html, F.repeat(para(p3), heavy),
        F.when(s7_cond, para(s7)).otherwise(F.lit("")),
        F.when(s8_cond, para(s8)).otherwise(F.lit("")), para(p4),
        F.lit("</div>"),
        F.lit('<div class="comments"><h3>Comments</h3><p>great read '),
        (doc_id % 7).cast("string"),
        F.lit("</p><p>nice article</p></div>"),
        related,
        F.lit("<footer><p>(c) 2024 Example News. All rights reserved.</p>"
              "</footer></body></html>"),
    )

    # adversarial whitespace layout (doc_id % 17 == 13): no content
    # containers at all, so extraction falls back to the full
    # documentToText walk; double spaces sit exactly at text-node
    # boundaries ("{s1}␣␣<span></span>␣{s2}") where the reference's
    # per-recursion space-run deletion yields "{s1} {s2}" but a single
    # global pass would merge the runs and yield "{s1}{s2}" — this
    # slice keeps the byte-identity gate honest about that semantic
    # (HtmlHelper.java:727). Two empty <p>s emit the "\n\n" separators.
    brk = "<p></p><p></p>"
    adv_cond = doc_id % 17 == 13
    adv_body = F.concat(
        F.lit("<body>"), h1, F.lit(brk),
        s1, F.lit("  <span></span> "), s2, F.lit(" "), s3,
        F.lit("  " + brk),
        F.when(p2 != "", F.concat(p2, F.lit(brk))).otherwise(F.lit("")),
        F.repeat(F.concat(p3, F.lit(brk)), heavy),
        F.when(s7_cond, F.concat(s7, F.lit(brk))).otherwise(F.lit("")),
        F.when(s8_cond, F.concat(s8, F.lit(brk))).otherwise(F.lit("")),
        p4, F.lit(brk),
        F.lit("</body></html>"),
    )
    html = F.concat(head, F.when(adv_cond, adv_body).otherwise(body))

    # --- url: skewed hosts (40% news.example.com) ---------------------
    host = _host_for(doc_id)
    url = F.concat(F.lit("https://"), host, F.lit("/articles/"),
                   doc_id.cast("string"), F.lit(".html"))
    warc_ts = F.timestamp_seconds(F.lit(C.EPOCH_2024) + doc_id)
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": F.encode(html, "UTF-8"),
        "text": text,
        "lang": lang,
    }


REPLICA_OFFSET = 10_000_000  # doc_id stride between corpus replicas


def synth_pages(spark: SparkSession, sf_dir: str,
                with_doc_id: bool = False, replicate: int = 1,
                heavy: int = 1) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) derived from documents.parquet.

    replicate > 1 extends the corpus deterministically: replica r maps
    doc_id → doc_id + r*REPLICA_OFFSET, so every page stays a pure
    function of its doc_id (urls unique, entity arithmetic differs per
    replica) and all goldens keep holding. Used by scaling benchmarks
    to make compute dominate fixed session costs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate > 1:
        parts = [docs.select(
            (F.col("doc_id") + F.lit(r * REPLICA_OFFSET)).alias("doc_id"),
            "text", "lang") for r in range(replicate)]
        base = parts[0]
        for p in parts[1:]:
            base = base.unionByName(p)
        docs = base
    cols = _page_columns(F.col("doc_id"), F.col("text"), F.col("lang"),
                         heavy=heavy)
    out = [v.alias(k) for k, v in cols.items()]
    if with_doc_id:
        out = [F.col("doc_id")] + out
    return docs.select(*out)


def training_docs(docs: DataFrame) -> DataFrame:
    """NER training sample: a stable doc_id-keyed split that EXCLUDES
    the held-out slice (doc_id % HOLDOUT_MOD == HOLDOUT_VAL) where the
    novel S7 entities live. Mirrors the production shape — train on a
    deterministic hash sample, apply to everything; without the split,
    the two-pass negative mining (trainEnglish Complete mode,
    PalladianNer.java:419-437) would mark every non-seed surface in the
    corpus NO_ENTITY and nothing could ever be typed by context."""
    doc_id = F.regexp_extract("url", r"/articles/(\d+)\.html", 1) \
        .cast("long")
    return docs.where(doc_id % C.HOLDOUT_MOD != C.HOLDOUT_VAL)


# ----------------------------------------------------------- gazetteer


def gazetteer_rows() -> list[dict]:
    """Entity-KB rows; shape mirrors the reference's Location record."""
    rows = []
    for i, name in enumerate(C.PERSONS):
        rows.append(dict(id=C.PER_ID + i, name=name, alt_names=[],
                         type="PER", population=None, ancestor_ids=[],
                         lat=None, lon=None))
    for i, name in enumerate(C.ORGS):
        rows.append(dict(id=C.ORG_ID + i, name=name, alt_names=[],
                         type="ORG", population=None, ancestor_ids=[],
                         lat=None, lon=None))
    for i, alias in enumerate(C.ORG_ALIASES):
        # alias rows point at the primary via alt_names -> CC merges them
        rows.append(dict(id=C.ORG_ALIAS_ID + i, name=alias,
                         alt_names=[C.ORGS[i]], type="ORG", population=None,
                         ancestor_ids=[], lat=None, lon=None))
    rows.append(dict(id=C.ORG_CHAIN_ID, name=C.ORG_CHAIN_NAME,
                     alt_names=[C.ORG_ALIASES[0]], type="ORG",
                     population=None, ancestor_ids=[], lat=None, lon=None))
    for i, name in enumerate(C.CITIES):
        rows.append(dict(id=C.CITY_ID + i, name=name, alt_names=[],
                         type="CITY", population=10_000 * (i + 3),
                         ancestor_ids=[C.COUNTRY_ID + i % 7],
                         lat=10.0 + i, lon=-3.0 * i))
    # ambiguous duplicate surface: tiny Springfield (loses on population)
    rows.append(dict(id=C.CITY_DUP_ID, name=C.CITIES[0], alt_names=[],
                     type="CITY", population=900,
                     ancestor_ids=[C.COUNTRY_ID + 1], lat=51.0, lon=7.0))
    for i, name in enumerate(C.COUNTRIES):
        rows.append(dict(id=C.COUNTRY_ID + i, name=name, alt_names=[],
                         type="COUNTRY", population=1_000_000 * (i + 2),
                         ancestor_ids=[], lat=20.0 + i, lon=5.0 * i))
    return rows


GAZETTEER_SCHEMA = (
    "id long, name string, alt_names array<string>, type string, "
    "population long, ancestor_ids array<long>, lat double, lon double"
)

def gazetteer(spark: SparkSession) -> DataFrame:
    """The entity KB as a local relation: built from pandas (Arrow) it
    plans as a LocalTableScan, so reading it runs no job and starts no
    Python worker. `population` is nullable Int64, so no value passes
    through float64."""
    rows = gazetteer_rows()
    pdf = pd.DataFrame(rows)
    pdf["population"] = pd.array([r["population"] for r in rows],
                                 dtype="Int64")
    return spark.createDataFrame(pdf, GAZETTEER_SCHEMA)


def seed_dictionary(spark: SparkSession) -> DataFrame:
    """(concept, entity) seed pairs — format of PalladianNer entity
    seeds; a local relation like `gazetteer`."""
    rows = [(r["type"], r["name"]) for r in gazetteer_rows()]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["concept", "entity"]),
        "concept string, entity string")


def expected_canon() -> dict[int, int]:
    """Golden connected-components mapping (entity_id -> canon_id)."""
    m = {}
    for r in gazetteer_rows():
        m[r["id"]] = r["id"]
    for i in range(len(C.ORG_ALIASES)):
        m[C.ORG_ALIAS_ID + i] = C.ORG_ID + i
    m[C.ORG_CHAIN_ID] = C.ORG_ID  # 3-node chain: 2200 -> 2100 -> 2000
    return m


# Language.getByIso6391 domain (palladian-commons helper/constants/
# Language.java:19-118) — the 98 entries carrying an ISO 639-1 code;
# entries with a null 639-1 code (e.g. SONGE) are unreachable through
# getByIso6391 and therefore absent here.
ISO_639_1_LANGUAGES = frozenset(
    "af sq am ar an hy az eu be bn bs br bg ca zh cv hr cs da nl en eo "
    "et fo fj fi fr ff gl ka de el gu ht ha he hi hu is io id ga it ja "
    "jv ko ku ky la lv lt lb mk ms ml mt mi mr ne nd no nb nn oc oj ps "
    "fa pl pt pa qu ro ru sr sn sk sl so nr es su sw sv tl ta te th bo "
    "tr uk ur vi vo wa cy fy wo xh".split())


def alternate_names_from_lines(lines: DataFrame,
                               col: str = "value") -> DataFrame:
    """(id, name, language) rows of alternateNames.txt LINES
    (GeonamesImporter.java:387-420). Lines split on tabs the Java way:
    line.split("\\t") drops TRAILING empty fields, and a line with fewer
    than 4 fields left is skipped — 'id\\tgeo\\tde\\t' is skipped, while
    'id\\tgeo\\tde\\t\\tfoo' is kept with the empty name ''. An empty or
    'abbr' language column keeps the name with language null; any
    other language must be a known ISO 639-1 code or the line is
    dropped (this also drops geonames' 'post'/'link'/'iata' rows,
    exactly as Language.getByIso6391 == null does upstream).

    Pure JVM expressions — the 639-1 domain is a literal IN list."""
    parts = F.split(F.regexp_replace(F.col(col), "\t+\\z", ""), "\t", -1)
    iso = F.coalesce(parts.getItem(2), F.lit(""))
    return (lines
            .where(F.size(parts) >= 4)
            .where((iso == "") | (iso == "abbr")
                   | iso.isin(sorted(ISO_639_1_LANGUAGES)))
            .select(parts.getItem(1).cast("long").alias("id"),
                    parts.getItem(3).alias("name"),
                    F.when((iso == "") | (iso == "abbr"),
                           F.lit(None).cast("string"))
                    .otherwise(iso).alias("language")))
