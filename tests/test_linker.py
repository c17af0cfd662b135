from __future__ import annotations

from pyspark.sql import functions as F

from kgp import constants as C
from kgp.corpus import GAZETTEER_SCHEMA, gazetteer
from kgp.linker import (expand_gazetteer, link_mentions, lsh_candidates,
                        normalize_name)

MENTION_COLS = ("url string, sent_idx int, start int, end int, "
                "surface string, tag string, score double, "
                "sent_start int, sent_text string")


def _mentions(spark, rows):
    return spark.createDataFrame(rows, MENTION_COLS)


def test_expand_gazetteer_alt_names_and_ambiguity(spark):
    g = expand_gazetteer(gazetteer(spark))
    acme = {r.entity_id for r in
            g.where(F.col("norm") == "acme corp").collect()}
    # primary of 2000 AND alt name of alias entity 2100 -> ambiguous
    assert acme == {C.ORG_ID, C.ORG_ALIAS_ID}
    assert all(r.ambiguous for r in
               g.where(F.col("norm") == "acme corp").collect())
    spring = g.where(F.col("norm") == "springfield")
    assert {r.entity_id for r in spring.collect()} == {C.CITY_ID,
                                                       C.CITY_DUP_ID}


def _expand_by_join(gaz):
    """expand_gazetteer as an aggregate and a join: distinct entity ids
    counted per norm, broadcast back onto the exploded names."""
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
    ).withColumn("norm", normalize_name(F.col("surface_form")))
    counts = names.groupBy("norm").agg(
        F.countDistinct("entity_id").alias("n_ids"))
    return (
        names.join(F.broadcast(counts), "norm")
        .withColumn("ambiguous", F.col("n_ids") > 1)
        .withColumn("n_tokens", F.size(F.split(F.col("surface_form"), " ")))
        .drop("n_ids")
    )


def _tricky_gaz(spark):
    """Surfaces shared by two entities, surfaces that collide only
    after normalize_name, null alt_names/population/name/id and
    alt-name elements, and one entity listing a surface twice."""
    rows = [
        (1, "Riverton", ["Port Alpha", None], "CITY", 5000, [10],
         None, None),
        (2, "Port Alpha", [], "CITY", None, None, 1.0, 2.0),
        (3, "Acme™ Corp.", ["ACME  corp", "acme corp...", "Acme© Corp"],
         "ORG", None, [], None, None),
        (4, "acme corp", None, "ORG", 7, None, None, None),
        (5, None, ["Nameless  Place."], "POI", None, None, None, None),
        (None, "Idless", ["Riverton", "nameless place"], "CITY", 1, [1],
         None, None),
        (6, "Twice", ["Twice", "twice", "Twice Town"], "CITY", 3, [],
         None, None),
        (7, "Solo®", ["  solo  "], "POI", 0, [6, 1], None, None),
    ]
    return spark.createDataFrame(rows, GAZETTEER_SCHEMA)


def test_expand_gazetteer_matches_join_formulation(spark):
    for gaz in (gazetteer(spark), _tricky_gaz(spark)):
        got, want = expand_gazetteer(gaz), _expand_by_join(gaz)
        assert got.schema == want.schema
        rows = sorted(map(repr, got.collect()))
        assert rows == sorted(map(repr, want.collect()))
        assert len(rows) == got.count()
    got = {(r.entity_id, r.surface_form): r.ambiguous for r in
           expand_gazetteer(_tricky_gaz(spark)).collect()}
    assert got[(1, "Riverton")] is False      # the null id is no entity
    assert got[(1, "Port Alpha")] and got[(2, "Port Alpha")]
    assert all(got[(e, s)] for e, s in [
        (3, "Acme™ Corp."), (3, "ACME  corp"), (3, "acme corp..."),
        (4, "acme corp")])
    assert got[(6, "Twice")] is False and got[(6, "twice")] is False
    assert got[(5, "Nameless  Place.")] is False
    assert (5, None) not in got and (1, None) not in got


def test_expand_gazetteer_plans_as_local_relation(spark):
    for gaz in (gazetteer(spark), _tricky_gaz(spark)):
        plan = (expand_gazetteer(gaz)._jdf.queryExecution()
                .executedPlan().toString())
        assert "LocalTableScan" in plan
        assert "Exchange" not in plan and "HashAggregate" not in plan


def test_link_unambiguous_and_nil(spark):
    rows = [
        ("u1", 0, 0, 10, "John Smith", "PER", 1.0, 0, "John Smith visited."),
        ("u1", 0, 20, 27, "Zzyzzyx", "ORG", 0.7, 0, "John Smith visited."),
    ]
    links = link_mentions(_mentions(spark, rows), gazetteer(spark)).collect()
    by_surface = {r.surface: r for r in links}
    assert by_surface["John Smith"].entity_id == C.PER_ID
    assert by_surface["John Smith"].link_score == 1.0
    assert by_surface["John Smith"].canon_name == "John Smith"
    nil = by_surface["Zzyzzyx"]
    assert nil.entity_id is None and nil.canon_name == "Zzyzzyx"
    assert nil.link_score == 0.0


def test_disambiguation_population_wins(spark):
    # "Springfield" surface is claimed by big (pop 30000) and tiny
    # (pop 900) cities; population heuristic picks the big one
    # (HeuristicDisambiguation population prior).
    rows = [("u1", 0, 5, 16, "Springfield", "CITY", 0.9, 0,
             "[...] Springfield [...]")]
    links = link_mentions(_mentions(spark, rows), gazetteer(spark)).collect()
    assert len(links) == 1
    assert links[0].entity_id == C.CITY_ID
    assert 0.0 < links[0].link_score < 1.0


def test_disambiguation_type_match_beats_population(spark, tmp_path):
    # synthetic gazetteer where one surface is a huge CITY and an ORG;
    # a mention tagged ORG must link to the ORG candidate.
    g = spark.createDataFrame(
        [(1, "Orinoco", [], "CITY", 99_000_000, [], None, None),
         (2, "Orinoco", [], "ORG", None, [], None, None)],
        "id long, name string, alt_names array<string>, type string, "
        "population long, ancestor_ids array<long>, lat double, lon double")
    rows = [("u1", 0, 0, 7, "Orinoco", "ORG", 0.9, 0, "Orinoco ships.")]
    links = link_mentions(_mentions(spark, rows), g).collect()
    assert links[0].entity_id == 2


def test_lsh_candidates_finds_fuzzy_surface(spark):
    surfaces = spark.createDataFrame(
        [("Acme Corpo",), ("Globex Systems",)], "surface string")
    cands = lsh_candidates(surfaces, gazetteer(spark),
                           jaccard_max_dist=0.6).collect()
    got = {(r.surface, r.canon_name) for r in cands}
    assert ("Acme Corpo", "Acme Corp") in got
    assert ("Globex Systems", "Globex Systems") in got


# --------------- faithful coordinate-aware disambiguation (geo port)


def _loc(eid, typ, pop=None, anc=(), lat=None, lon=None, name=None):
    return {"entity_id": eid, "type": typ, "population": pop,
            "ancestor_ids": list(anc), "lat": lat, "lon": lon,
            "canon_name": name or f"loc{eid}"}


def _key(surface, tag="CITY", i=0):
    return (0, i, i + len(surface), surface, tag)


def test_geo_primitives():
    from kgp.geo import distance_km, largest_distance, midpoint
    # Dresden -> Berlin ~165 km
    d = distance_km(51.05, 13.74, 52.52, 13.40)
    assert 160 < d < 172
    assert distance_km(0, 0, 0, 0) == 0.0
    mid = midpoint([(0.0, 0.0), (0.0, 10.0)])
    assert abs(mid[0]) < 1e-6 and abs(mid[1] - 5.0) < 1e-6
    assert largest_distance([(0, 0)]) == 0.0


def test_anchor_distance_beats_population():
    # HeuristicDisambiguation.java:114-150: the candidate within 100 km
    # of an anchor wins over a bigger same-name candidate elsewhere
    from kgp.linker import heuristic_disambiguate
    anchor = _loc(1, "CITY", pop=2_000_000, lat=50.0, lon=8.0)
    near = _loc(2, "CITY", pop=20_000, lat=50.3, lon=8.2)   # ~45 km
    far = _loc(3, "CITY", pop=600_000, lat=10.0, lon=60.0)
    groups = {
        _key("Metropolis"): ("CITY", [anchor]),
        _key("Springfield", i=20): ("CITY", [near, far]),
    }
    got = heuristic_disambiguate(groups)
    assert got[_key("Springfield", i=20)]["entity_id"] == 2


def test_same_distance_cluster_becomes_anchor():
    # :270-295 — two same-name rows 10 km apart form one cluster; its
    # biggest member anchors the document
    from kgp.linker import get_anchors
    a = _loc(1, "CITY", pop=8_000, lat=50.0, lon=8.0)
    b = _loc(2, "CITY", pop=6_000, lat=50.08, lon=8.05)
    groups = {_key("Twinville"): ("CITY", [a, b])}
    anchors = get_anchors(groups)
    assert [x["entity_id"] for x in anchors] == [1]


def test_lasso_removes_outlier():
    # :312-341 — with no prominent/unambiguous anchors the lasso trims
    # locations far from the midpoint
    from kgp.linker import get_lasso_locations
    cluster = [_loc(i, "CITY", pop=1000, lat=50.0 + i * 0.1, lon=8.0)
               for i in range(3)]
    outlier = _loc(9, "CITY", pop=1000, lat=-30.0, lon=140.0)
    got = get_lasso_locations(cluster + [outlier])
    assert {x["entity_id"] for x in got} == {0, 1, 2}


def test_unlikely_person_group_dropped():
    # :171-188 — PER-tagged group, no country, small population
    from kgp.linker import get_unlikely_locations
    groups = {
        _key("John Hiatt", tag="PER"): ("PER", [_loc(1, "CITY", pop=500)]),
        _key("Freedonia", tag="COUNTRY", i=30):
            ("COUNTRY", [_loc(2, "COUNTRY", pop=5_000_000)]),
    }
    assert get_unlikely_locations(groups) == {_key("John Hiatt",
                                                   tag="PER")}


def test_select_location_city_boost_and_depth():
    from kgp.linker import select_location
    city = _loc(1, "CITY", pop=400_000)
    unit = _loc(2, "UNIT", pop=700_000)
    assert select_location([city, unit])["entity_id"] == 1  # 400k*2>700k
    parent = _loc(3, "COUNTRY", pop=80_000_000)
    child = _loc(4, "CITY", pop=1_000, anc=[3])
    assert select_location([parent, child])["entity_id"] == 4  # deeper


def test_link_mentions_reference_spark(spark):
    # the applyInPandas wrapper reproduces the pure-python choice and
    # keeps unmatched mentions unlinked
    from kgp.linker import link_mentions_reference
    from kgp.corpus import gazetteer
    mentions = spark.createDataFrame(
        [("u1", 0, 0, 11, "Springfield", "CITY", 1.0, 0,
          "Springfield is in Freedonia."),
         ("u1", 0, 18, 27, "Freedonia", "COUNTRY", 1.0, 0,
          "Springfield is in Freedonia."),
         ("u1", 0, 30, 38, "Nonsense", "ORG", 1.0, 0,
          "Springfield is in Freedonia.")],
        "url string, sent_idx int, start int, end int, surface string, "
        "tag string, score double, sent_start int, sent_text string")
    out = {r.surface: r for r in
           link_mentions_reference(mentions, gazetteer(spark)).collect()}
    assert out["Springfield"].entity_id is not None
    # the country anchor's descendant (pop 30k Springfield, child of
    # Freedonia) wins over the tiny duplicate in another country
    assert out["Springfield"].entity_id == 3000
    assert out["Freedonia"].entity_id == 4000
    assert out["Nonsense"].entity_id is None
    assert out["Nonsense"].canon_name == "Nonsense"


def _geo_gaz(spark):
    """A Geonames-shaped gazetteer: Oldtown (300) sits under the
    Atland Region (150) in Atlantis (100); its namesake (400) is in
    Borduria (200), 780 km from the Atlantis anchor."""
    from kgp.corpus import GAZETTEER_SCHEMA
    rows = [
        (100, "Atlantis", [], "COUNTRY", 90000000, [], 10.0, 10.0),
        (150, "Atland Region", [], "UNIT", 0, [100], 12.0, 12.0),
        (200, "Borduria", [], "COUNTRY", 50000000, [], -40.0, -40.0),
        (300, "Oldtown", [], "CITY", 6000, [150, 100], 15.0, 15.0),
        (400, "Oldtown", [], "CITY", 5500, [200], -40.5, -40.5),
    ]
    return spark.createDataFrame(rows, GAZETTEER_SCHEMA)


def test_csv_gazetteer_hierarchy_links_fast_path(spark):
    # the hierarchy term in the vectorized disambiguator fires for a
    # Geonames-shaped gazetteer: the in-country Oldtown (descendant of the
    # Atlantis anchor, 780 km away so distance cannot explain it) beats
    # the decoy in Borduria
    rows = [("u1", 0, 0, 8, "Atlantis", "COUNTRY", 1.0, 0,
             "Atlantis taxes Oldtown."),
            ("u1", 0, 15, 22, "Oldtown", "CITY", 1.0, 0,
             "Atlantis taxes Oldtown.")]
    out = {r.surface: r for r in
           link_mentions(_mentions(spark, rows),
                         _geo_gaz(spark)).collect()}
    assert out["Atlantis"].entity_id == 100
    assert out["Oldtown"].entity_id == 300


def test_csv_gazetteer_hierarchy_links_reference_path(spark):
    from kgp.linker import link_mentions_reference
    rows = [("u1", 0, 0, 8, "Atlantis", "COUNTRY", 1.0, 0,
             "Atlantis taxes Oldtown."),
            ("u1", 0, 15, 22, "Oldtown", "CITY", 1.0, 0,
             "Atlantis taxes Oldtown.")]
    out = {r.surface: r for r in
           link_mentions_reference(_mentions(spark, rows),
                                   _geo_gaz(spark)).collect()}
    assert out["Atlantis"].entity_id == 100
    assert out["Oldtown"].entity_id == 300


def _baseline_gaz(spark):
    from kgp.corpus import GAZETTEER_SCHEMA
    rows = [
        # one surface claimed by a continent, a country and a huge city
        (1, "Atlantis", [], "CONTINENT", None, [], None, None),
        (2, "Atlantis", [], "COUNTRY", 900, [], None, None),
        (3, "Atlantis", [], "CITY", 9_000_000, [], None, None),
        # population ties: >= keeps the LAST qualifying candidate
        (10, "Twinville", [], "CITY", 500, [], None, None),
        (11, "Twinville", [], "CITY", 500, [], None, None),
        # all-null populations, no CC -> dropped
        (20, "Ghosttown", [], "POI", None, [], None, None),
        (21, "Ghosttown", [], "POI", None, [], None, None),
        # zero population qualifies (0 >= starting max 0)
        (30, "Zeroville", [], "CITY", 0, [], None, None),
    ]
    return spark.createDataFrame(rows, GAZETTEER_SCHEMA)


def test_baseline_disambiguation(spark):
    """BaselineDisambiguation.java:29-47: first CONTINENT/COUNTRY
    short-circuits; else max population with last-wins >= ties; null
    populations never qualify; no winner -> no annotation."""
    from kgp.linker import link_mentions_baseline
    rows = [
        ("u1", 0, 0, 8, "Atlantis", "LOC", 1.0, 0, "s"),
        ("u1", 1, 0, 9, "Twinville", "LOC", 1.0, 0, "s"),
        ("u1", 2, 0, 9, "Ghosttown", "LOC", 1.0, 0, "s"),
        ("u1", 3, 0, 9, "Zeroville", "LOC", 1.0, 0, "s"),
        ("u1", 4, 0, 7, "Nowhere", "LOC", 1.0, 0, "s"),
    ]
    out = {r.surface: r for r in link_mentions_baseline(
        _mentions(spark, rows), _baseline_gaz(spark)).collect()}
    # continent (entity 1) wins over pop-9M city: the loop breaks
    assert out["Atlantis"].entity_id == 1
    # >= update: the later candidate keeps the tie
    assert out["Twinville"].entity_id == 11
    # all-null populations and no CC -> dropped entirely
    assert "Ghosttown" not in out
    assert out["Zeroville"].entity_id == 30
    assert "Nowhere" not in out
    assert len(out) == 3


def test_baseline_plan_zero_python(spark):
    from kgp.linker import link_mentions_baseline
    rows = [("u1", 0, 0, 8, "Atlantis", "LOC", 1.0, 0, "s")]
    plan = (link_mentions_baseline(_mentions(spark, rows),
                                   _baseline_gaz(spark))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan

