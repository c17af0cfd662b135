"""Stage 3 — entity linking & disambiguation.

Spark-first re-expression of the reference's location/linking stack
(/root/reference/palladian-core/src/main/java/ws/palladian/extraction/location/PalladianLocationExtractor.java:59-103):

  * the reference batches ONE gazetteer lookup per document
    (`fetchLocations`, :85-103, via `LocationSource.getLocations`,
    LocationSource.java:51-70) — here that becomes a single
    **broadcast hash join** of the whole mentions table against the
    exploded gazetteer (primary + alternative names), strictly better
    than per-document round trips;
  * name normalization mirrors `LocationExtractorUtils.normalizeName`
    (LocationExtractorUtils.java:24-32): strip trademark glyphs,
    collapse whitespace — expressed as Spark column functions so the
    join key stays JVM-side (whole-stage codegen, no Python);
  * disambiguation ports the anchor/population heuristics of
    `HeuristicDisambiguation.disambiguate`
    (disambiguation/HeuristicDisambiguation.java:114-386, constants
    :47-59) — VECTORIZED into windows + array columns (see
    link_mentions), zero Python;
  * the fuzzy candidate path for web-scale dirty surfaces is
    MinHash/LSH over character 3-gram sets (the reference's analog is
    its `CharacterNGramSimilarity`/`JaccardSimilarity` metrics,
    palladian-commons/.../nlp/CharacterNGramSimilarity.java) — built on
    `pyspark.ml.feature.{HashingTF,MinHashLSH}` so candidate generation
    is a similarity self-join Spark already knows how to distribute.

Scale notes (100 TB / 10^12 docs):
  * gazetteer is the SMALL side (≤ tens of millions of names) →
    broadcast; if it outgrows broadcast, the same code degrades to a
    shuffle hash join on `norm` — AQE picks it when the hint no longer
    fits, nothing else changes;
  * the gazetteer side is a driver pass, as in canon
    (kgp.canonicalize): `expand_gazetteer` collects the exploded names
    once, counts each surface's entities on the driver and returns an
    Arrow local relation, so building it runs one Spark job and no
    shuffle. Like the broadcast, it needs the expanded gazetteer to
    fit in driver memory;
  * head entities ("Freedonia" in 30% of pages) skew the join OUTPUT,
    not the join itself (broadcast = map-side); the one shuffle here is
    groupBy(url), and urls are unique keys → no key skew, only batch
    size variance, which AQE coalescing evens out.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp.canonicalize import local_relation

# HeuristicDisambiguation constants (HeuristicDisambiguation.java:47-59)
ANCHOR_POPULATION_THRESHOLD = 1_000_000
LOWER_POPULATION_THRESHOLD = 5_000
TOKEN_THRESHOLD = 2


def normalize_name(col: Column) -> Column:
    """LocationExtractorUtils.normalizeName port as column expressions
    (strip ©®™, collapse space runs, strip trailing abbreviation dots,
    trim, case-fold for the join key)."""
    c = F.regexp_replace(col, "[©®™]", "")
    c = F.regexp_replace(c, " {2,}", " ")
    c = F.regexp_replace(c, r"\.+$", "")
    return F.lower(F.trim(c))


def expand_gazetteer(gaz: DataFrame) -> DataFrame:
    """gazetteer → one row per (entity, surface): primary + alt names.

    Output: (norm, entity_id, canon_name, surface_form, etype,
    population, ancestor_ids, ambiguous, n_tokens), one row per
    non-null `norm`. `ambiguous` marks surfaces claimed by >1 entity
    — precomputed on the SMALL side so the big mentions table never
    needs a global surface-count aggregation.

    A driver pass, as in canon: one collect of the exploded names,
    with `norm` and `n_tokens` computed by Spark (`normalize_name`,
    `split`, `size`, so the join keys keep Spark's regex, trim and
    lower semantics), `ambiguous` counted here, and the table
    returned as an Arrow local relation.
    """
    names = gaz.select(
        F.col("id").alias("entity_id"),
        F.col("name").alias("canon_name"),
        F.explode(
            F.array_union(F.array(F.col("name")),
                          F.coalesce(F.col("alt_names"),
                                     F.array().cast("array<string>")))
        ).alias("surface_form"),
        F.col("type").alias("etype"),
        F.coalesce(F.col("population"), F.lit(-1)).alias("population"),
        F.coalesce(F.col("ancestor_ids"),
                   F.array().cast("array<long>")).alias("ancestor_ids"),
    ).select(
        normalize_name(F.col("surface_form")).alias("norm"), "*",
        F.size(F.split(F.col("surface_form"), " ")).alias("n_tokens"))
    rows = [r for r in names.collect() if r.norm is not None]
    ids: dict = {}
    for r in rows:
        if r.entity_id is not None:
            ids.setdefault(r.norm, set()).add(r.entity_id)
    *head, n_tokens = names.schema.fields
    schema = T.StructType(
        head + [T.StructField("ambiguous", T.BooleanType(), False),
                n_tokens])
    cols = [[r[f.name] for r in rows] for f in head]
    cols += [[len(ids.get(r.norm, ())) > 1 for r in rows],
             [r.n_tokens for r in rows]]
    return local_relation(gaz.sparkSession, schema, cols)


LINK_COLUMNS = ["url", "sent_idx", "start", "end", "surface", "tag",
                "sent_start", "sent_text", "entity_id", "canon_name",
                "link_score"]


def link_mentions(mentions: DataFrame, gaz: DataFrame) -> DataFrame:
    """mentions ⋈ broadcast(expanded gazetteer) → disambiguated links.

    mentions must carry (url, sent_idx, start, end, surface, tag,
    sent_start, sent_text). Output columns = LINK_COLUMNS.

    The disambiguation is the anchor/population heuristic of
    HeuristicDisambiguation.disambiguate (HeuristicDisambiguation.java:
    114-386) VECTORIZED into relational operators — zero Python in this
    stage, everything whole-stage-codegen:

      1. candidate generation: broadcast hash join on normalized
         surface (map-side, no shuffle);
      2. per-document anchors (population ≥ 1M, or unambiguous
         multi-token surfaces): windowed collect_set over url — the
         document-local state the reference keeps in Java lists becomes
         two array columns;
      3. candidate scoring: type-match + anchor-hierarchy + population
         columns; winner per mention via row_number() over
         (url, sent_idx, start, end) ordered by (score, population,
         -entity_id).

    Cost at scale: one shuffle on url (the window); candidate fan-out
    is bounded by gazetteer ambiguity (head entities inflate rows, but
    AQE splits oversized partitions; url keys are unique so the window
    partitioning itself cannot skew).
    """
    expanded = expand_gazetteer(gaz)
    cand = mentions.withColumn("norm", normalize_name(F.col("surface"))).join(
        F.broadcast(expanded.select(
            "norm", "entity_id", "canon_name", "etype", "population",
            "ancestor_ids", "n_tokens", "ambiguous")),
        "norm", "left")

    anchor_cond = (F.col("entity_id").isNotNull() &
                   ((F.col("population") >= ANCHOR_POPULATION_THRESHOLD) |
                    ((~F.col("ambiguous")) &
                     (F.col("n_tokens") >= TOKEN_THRESHOLD))))
    doc_w = Window.partitionBy("url")
    cand = (cand
            .withColumn("_anchor_ids", F.collect_set(
                F.when(anchor_cond, F.col("entity_id"))).over(doc_w))
            .withColumn("_anchor_anc", F.array_distinct(F.flatten(
                F.collect_list(F.when(anchor_cond, F.col("ancestor_ids")))
                .over(doc_w)))))

    hierarchy = (F.arrays_overlap(
        F.coalesce(F.col("ancestor_ids"),
                   F.array().cast("array<long>")), F.col("_anchor_ids"))
        | F.array_contains(F.col("_anchor_anc"), F.col("entity_id")))
    score = (
        F.when(F.col("etype") == F.col("tag"), F.lit(2.0)).otherwise(0.0)
        + F.when(hierarchy, F.lit(1.0)).otherwise(0.0)
        + F.when(F.col("population") >= LOWER_POPULATION_THRESHOLD,
                 F.lit(0.5)).otherwise(0.0))
    cand = cand.withColumn("_score", score)

    mention_key = ["url", "sent_idx", "start", "end"]
    pick_w = Window.partitionBy(*mention_key).orderBy(
        F.desc("_score"), F.desc("population"), F.asc("entity_id"))
    cnt_w = Window.partitionBy(*mention_key)
    out = (cand
           .withColumn("_rn", F.row_number().over(pick_w))
           .withColumn("_n_cand", F.count("entity_id").over(cnt_w))
           .where(F.col("_rn") == 1))
    return out.select(
        "url", "sent_idx", "start", "end", "surface", "tag",
        "sent_start", "sent_text",
        "entity_id",
        F.coalesce("canon_name", "surface").alias("canon_name"),
        F.when(F.col("entity_id").isNull(), F.lit(0.0))
         .when(F.col("_n_cand") == 1, F.lit(1.0))
         .otherwise(F.col("_score") / (F.col("_score") + F.lit(1.0)))
         .alias("link_score"),
    )


def link_mentions_baseline(mentions: DataFrame,
                           gaz: DataFrame) -> DataFrame:
    """BaselineDisambiguation port (disambiguation/
    BaselineDisambiguation.java:29-47): per mention, the FIRST
    CONTINENT/COUNTRY candidate wins outright (the loop breaks);
    otherwise the max-population candidate with the reference's
    ``population >= max`` update (LAST qualifying candidate wins
    population ties; null populations never qualify — expand_gazetteer
    encodes null as -1 against the reference's starting max of 0);
    mentions whose candidate set yields nothing are dropped (the
    reference adds no annotation).  The reference iterates candidates
    in LocationSource insertion order; the distributed stand-in is
    entity_id order (documented, deterministic).

    Shape: candidate generation = the same broadcast hash join as
    link_mentions; selection = ONE window over the mention key.  Zero
    Python."""
    expanded = expand_gazetteer(gaz)
    cand = (mentions
            .withColumn("norm", normalize_name(F.col("surface")))
            .join(F.broadcast(expanded.select(
                "norm", "entity_id", "canon_name", "etype",
                "population")), "norm"))
    is_cc = F.col("etype").isin("CONTINENT", "COUNTRY")
    mention_key = ["url", "sent_idx", "start", "end"]
    pick_w = Window.partitionBy(*mention_key).orderBy(
        # CC candidates first, lowest entity_id among them (the break
        # on first); else qualifying populations descending with the
        # LAST-wins >= tie (entity_id descending)
        F.desc(is_cc),
        F.when(is_cc, -F.col("entity_id"))
         .otherwise(F.col("population")).desc(),
        F.desc("entity_id"))
    qualifies = is_cc | (F.col("population") >= 0)
    return (cand
            .where(qualifies)
            .withColumn("_rn", F.row_number().over(pick_w))
            .where(F.col("_rn") == 1)
            .select("url", "sent_idx", "start", "end", "surface",
                    "tag", "entity_id", "canon_name", "etype",
                    "population"))


def baseline_gate_rows() -> list[dict]:
    """Gazetteer for the baseline_links gate: the corpus gazetteer
    plus probes for every BaselineDisambiguation branch — a
    continent/country/huge-city surface trio (the break), an exact
    population tie (the >= last-wins update), an all-null-population
    surface (dropped), and a zero-population surface (0 >= 0
    qualifies)."""
    from kgp.corpus import gazetteer_rows
    rows = list(gazetteer_rows())
    rows += [
        dict(id=9101, name="Atlantis", alt_names=[], type="CONTINENT",
             population=None, ancestor_ids=[], lat=None, lon=None),
        dict(id=9102, name="Atlantis", alt_names=[], type="COUNTRY",
             population=900, ancestor_ids=[], lat=None, lon=None),
        dict(id=9103, name="Atlantis", alt_names=[], type="CITY",
             population=9_000_000, ancestor_ids=[], lat=None,
             lon=None),
        dict(id=9110, name="Twinville", alt_names=[], type="CITY",
             population=500, ancestor_ids=[], lat=None, lon=None),
        dict(id=9111, name="Twinville", alt_names=[], type="CITY",
             population=500, ancestor_ids=[], lat=None, lon=None),
        dict(id=9120, name="Ghosttown", alt_names=[], type="POI",
             population=None, ancestor_ids=[], lat=None, lon=None),
        dict(id=9121, name="Ghosttown", alt_names=[], type="POI",
             population=None, ancestor_ids=[], lat=None, lon=None),
        dict(id=9130, name="Zeroville", alt_names=[], type="CITY",
             population=0, ancestor_ids=[], lat=None, lon=None),
    ]
    return rows


# -------------------- faithful per-document heuristic disambiguation
# Port of HeuristicDisambiguation.disambiguate
# (/root/reference/palladian-core/src/main/java/ws/palladian/extraction/location/disambiguation/HeuristicDisambiguation.java:47-120,
#  anchors :228-341, selectLocation :195-226, unlikely :171-188) with
# the geo machinery in kgp.geo. The vectorized link_mentions above is
# the default 100 TB path (anchor/population columns, zero Python);
# this one carries the full coordinate semantics — anchor distance
# (100 km), same-name 50 km clusters, the lasso midpoint trick — and
# runs per document inside applyInPandas over url groups (document-
# local state, url keys unique → no shuffle skew).

ANCHOR_DISTANCE_THRESHOLD = 100
SAME_DISTANCE_THRESHOLD = 50
LASSO_DISTANCE_THRESHOLD = 100
LOWER_UNLIKELY_POPULATION_THRESHOLD = 100_000


def _pop(loc: dict) -> int:
    return int(loc.get("population") or 0)


def _coord(loc: dict):
    if loc.get("lat") is None or loc.get("lon") is None:
        return None
    return float(loc["lat"]), float(loc["lon"])


def _biggest(locs) -> dict | None:
    locs = list(locs)
    return max(locs, key=_pop) if locs else None


def get_unlikely_locations(groups: dict) -> set:
    """Groups with no COUNTRY/CONTINENT candidate, biggest population
    ≤ 100k and a PER-classified annotation are dropped (:171-188)."""
    out = set()
    for key, (tag, cands) in groups.items():
        likely = any(c["type"] in ("COUNTRY", "CONTINENT") for c in cands)
        big = any(_pop(c) > LOWER_UNLIKELY_POPULATION_THRESHOLD
                  for c in cands)
        if not likely and not big and tag == "PER":
            out.add(key)
    return out


def get_lasso_locations(all_locs: list[dict]) -> list[dict]:
    """The 'lasso trick' (:312-341): repeatedly drop the location
    farthest from the midpoint until everything is within 100 km."""
    from kgp.geo import distance_km, midpoint
    lasso = list(all_locs)
    while len(lasso) > 1:
        coords = [c for c in (_coord(x) for x in lasso) if c]
        if not coords:
            break
        mid = midpoint(coords)
        far, far_d = None, -1.0
        for loc in lasso:
            c = _coord(loc)
            if c is None:
                continue
            d = distance_km(c[0], c[1], mid[0], mid[1])
            if d > far_d:
                far, far_d = loc, d
        if far_d < LASSO_DISTANCE_THRESHOLD:
            break
        lasso.remove(far)
    return lasso


def get_anchors(groups: dict) -> list[dict]:
    """Anchor locations (:228-310): prominent (continent/country/pop >
    1M), unambiguous same-name 50 km clusters, lasso fallback, biggest
    fallback."""
    from kgp.geo import largest_distance
    anchors: list[dict] = []

    def add(loc: dict) -> None:
        if all(a["entity_id"] != loc["entity_id"] for a in anchors):
            anchors.append(loc)

    all_locs = [c for _, (_, cands) in groups.items() for c in cands]
    for loc in all_locs:
        if loc["type"] in ("CONTINENT", "COUNTRY") \
                or _pop(loc) > ANCHOR_POPULATION_THRESHOLD:
            add(loc)
    for key, (tag, cands) in groups.items():
        if not cands:
            continue
        with_coord = [c for c in cands if _coord(c)] or cands
        coords = [c for c in (_coord(x) for x in with_coord) if c]
        if largest_distance(coords) < SAME_DISTANCE_THRESHOLD:
            loc = _biggest(with_coord) or with_coord[0]
            surface = key[3]
            if _pop(loc) > LOWER_POPULATION_THRESHOLD \
                    or len(surface.split()) >= TOKEN_THRESHOLD:
                add(loc)
    if not anchors:
        for loc in get_lasso_locations(all_locs):
            add(loc)
    if not anchors:
        loc = _biggest(all_locs)
        if loc is not None:
            add(loc)
    return anchors


def select_location(selection: list[dict]) -> dict:
    """selectLocation port (:195-226): single continent wins; else
    deepest descendant first, then population with the CITY ×2 boost."""
    import functools
    continents = [c for c in selection if c["type"] == "CONTINENT"]
    if len(continents) == 1:
        return continents[0]

    def cmp(l1: dict, l2: dict) -> int:
        if l1["entity_id"] in (l2.get("ancestor_ids") or []):
            return 1      # l2 descendantOf l1 -> deeper l2 sorts first
        if l2["entity_id"] in (l1.get("ancestor_ids") or []):
            return -1     # l1 descendantOf l2 -> l1 first
        p1, p2 = _pop(l1), _pop(l2)
        if l1["type"] == "CITY":
            p1 *= 2
        if l2["type"] == "CITY":
            p2 *= 2
        return (p2 > p1) - (p2 < p1)

    return sorted(selection, key=functools.cmp_to_key(cmp))[0]


def heuristic_disambiguate(groups: dict) -> dict:
    """Full per-document disambiguation (:114-168). groups maps a
    mention key (sent_idx, start, end, surface, tag) to (tag,
    [candidate dicts]); returns {key: selected candidate}."""
    from kgp.geo import distance_km
    groups = {k: v for k, v in groups.items()
              if k not in get_unlikely_locations(groups)}
    anchors = get_anchors(groups)
    anchor_ids = {a["entity_id"] for a in anchors}
    result: dict = {}
    for key, (tag, cands) in groups.items():
        if not cands:
            continue
        cand_ids = {c["entity_id"] for c in cands}
        current_anchors = [a for a in anchors
                           if a["entity_id"] not in cand_ids]
        pre: list[dict] = []
        for cand in cands:
            if cand["entity_id"] in anchor_ids:
                pre.append(cand)
                continue
            for anchor in current_anchors:
                cc, ac = _coord(cand), _coord(anchor)
                if cc and ac and distance_km(*cc, *ac) \
                        < ANCHOR_DISTANCE_THRESHOLD:
                    pre.append(cand)
                    break
                if anchor["type"] in ("CITY", "UNIT", "COUNTRY") \
                        and anchor["entity_id"] in (cand.get("ancestor_ids")
                                                    or []) \
                        and _pop(cand) > LOWER_POPULATION_THRESHOLD:
                    pre.append(cand)
                    break
        if pre:
            result[key] = select_location(pre)
    return result


def link_mentions_reference(mentions: DataFrame,
                            gaz: DataFrame) -> DataFrame:
    """link_mentions with the FAITHFUL coordinate-aware disambiguation:
    broadcast candidate join (same as the fast path), then one
    applyInPandas over document hash buckets running
    heuristic_disambiguate per url. Output columns = LINK_COLUMNS."""
    spark = mentions.sparkSession
    n = spark.sparkContext.defaultParallelism * 4
    expanded = expand_gazetteer(gaz).select(
        "norm", "entity_id", "canon_name", "etype", "population",
        "ancestor_ids")
    gaz_geo = gaz.select(F.col("id").alias("entity_id"), "lat", "lon")
    expanded = expanded.join(F.broadcast(gaz_geo), "entity_id")
    cand = (mentions
            .withColumn("norm", normalize_name(F.col("surface")))
            .join(F.broadcast(expanded), "norm", "left"))

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("surface", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("sent_start", T.IntegerType()),
        T.StructField("sent_text", T.StringType()),
        T.StructField("entity_id", T.LongType()),
        T.StructField("canon_name", T.StringType()),
        T.StructField("link_score", T.DoubleType()),
    ])

    LOCATION_TAGS = {"CITY", "COUNTRY", "CONTINENT", "UNIT", "LOC"}

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for url, doc in pdf.groupby("url", sort=False):
            groups: dict = {}
            extras: dict = {}
            for t in doc.itertuples():
                key = (int(t.sent_idx), int(t.start), int(t.end),
                       t.surface, t.tag)
                extras[key] = (int(t.sent_start), t.sent_text)
                tag_cands = groups.setdefault(key, (t.tag, []))
                if not pd.isna(t.entity_id):
                    tag_cands[1].append({
                        "entity_id": int(t.entity_id),
                        "canon_name": t.canon_name,
                        "type": t.etype,
                        "population": None if pd.isna(t.population)
                        else int(t.population),
                        "ancestor_ids": ([] if t.ancestor_ids is None
                                         else list(t.ancestor_ids)),
                        "lat": None if pd.isna(t.lat) else float(t.lat),
                        "lon": None if pd.isna(t.lon) else float(t.lon),
                    })
            # the geo heuristic is the reference's LOCATION
            # disambiguator — only location-tagged mentions go through
            # it; other entity types link dictionary-style (best
            # type-matching candidate, population then id tiebreak)
            loc_groups = {k: v for k, v in groups.items()
                          if k[4] in LOCATION_TAGS}
            chosen = heuristic_disambiguate(loc_groups)
            for key, (tag, cands) in groups.items():
                if key in loc_groups:
                    sel = chosen.get(key)
                else:
                    typed = [c for c in cands if c["type"] == tag]
                    pool = typed or cands
                    sel = min(pool, key=lambda c: (-_pop(c),
                                                   c["entity_id"])) \
                        if pool else None
                sent_start, sent_text = extras[key]
                rows.append({
                    "url": url, "sent_idx": key[0], "start": key[1],
                    "end": key[2], "surface": key[3], "tag": key[4],
                    "sent_start": sent_start, "sent_text": sent_text,
                    "entity_id": sel["entity_id"] if sel else None,
                    "canon_name": sel["canon_name"] if sel else key[3],
                    "link_score": 1.0 if sel else 0.0,
                })
        return pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    bucketed = cand.withColumn("_bucket",
                               F.pmod(F.xxhash64("url"), F.lit(n)))
    return bucketed.groupBy("_bucket").applyInPandas(run, schema)


# ------------------------------------------------- LSH candidate index


def lsh_candidates(surfaces: DataFrame, gaz: DataFrame,
                   jaccard_max_dist: float = 0.5,
                   num_hash_tables: int = 5) -> DataFrame:
    """Fuzzy (surface → entity) candidates via MinHash over char-3-gram
    sets — the web-scale path for dirty surfaces the exact join misses.

    surfaces: DataFrame with a `surface` column (pre-distinct'd: run this
    on `mentions.select("surface").distinct()`, which is tiny relative to
    the corpus — candidate generation cost scales with VOCABULARY, not
    corpus size).
    Returns (surface, entity_id, canon_name, jaccard_dist).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def grams3(s: pd.Series) -> pd.Series:
        def g(x):
            x = (x or "").lower()
            x = "##" + x + "##"
            return list({x[i:i + 3] for i in range(len(x) - 2)}) or ["###"]
        return s.map(g)

    left = surfaces.select("surface").distinct() \
        .withColumn("grams", grams3("surface"))
    right = expand_gazetteer(gaz).select(
        "entity_id", "canon_name", "surface_form") \
        .withColumn("grams", grams3("surface_form"))

    tf = HashingTF(inputCol="grams", outputCol="features",
                   numFeatures=1 << 18, binary=True)
    lf, rf = tf.transform(left), tf.transform(right)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(rf)
    pairs = model.approxSimilarityJoin(lf, rf, jaccard_max_dist,
                                       distCol="jaccard_dist")
    return pairs.select(
        F.col("datasetA.surface").alias("surface"),
        F.col("datasetB.entity_id").alias("entity_id"),
        F.col("datasetB.canon_name").alias("canon_name"),
        F.col("jaccard_dist"),
    )
