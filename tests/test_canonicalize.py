from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgp import constants as C
from kgp.canonicalize import (_alias_edges, canonical_mapping,
                              connected_components)
from kgp.corpus import expected_canon, gazetteer


def test_same_entity_edges(spark):
    # the alias edges canonical_mapping derives on the driver
    edges = set(_alias_edges(
        gazetteer(spark).select("id", "name", "alt_names").collect()))
    # alias entities point at their primaries; chain member at the alias
    assert (C.ORG_ALIAS_ID, C.ORG_ID) in edges
    assert (C.ORG_CHAIN_ID, C.ORG_ALIAS_ID) in edges
    # no self loops, no surface-coincidence edges (Springfield dup)
    assert all(s != d for s, d in edges)
    assert not any(C.CITY_DUP_ID in e for e in edges)


def test_connected_components_golden_mapping(spark):
    mapping = canonical_mapping(gazetteer(spark))
    got = {r.entity_id: r.canon_id for r in mapping.collect()}
    assert got == expected_canon()
    # canon names resolve through the component minimum
    names = {r.entity_id: r.canon_name for r in mapping.collect()}
    assert names[C.ORG_CHAIN_ID] == "Acme Corp"
    assert names[C.ORG_ALIAS_ID + 1] == "Globex Systems"


def test_cc_long_chain_converges_logarithmically(spark):
    # DISTRIBUTED path (small_threshold=0): a 64-node path needs ~64
    # rounds of plain min-propagation; pointer doubling must finish
    # well inside max_iter=10
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long")
    cc = connected_components(edges, max_iter=10, small_threshold=0)
    labels = {r.canon_id for r in cc.collect()}
    assert labels == {0}


def test_cc_multiple_components_both_paths(spark):
    """Long ids, string ids (synonym surfaces) and an empty edge set:
    the small path gives (entity_id, canon_id) sorted by entity_id with
    non-null columns of the id type, and the distributed path agrees."""
    for ddl, edges, want in [
            ("src long, dst long",
             [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)],
             {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}),
            ("src string, dst string",
             [("b", "a"), ("c", "b"), ("x", "y")],
             {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}),
            ("src long, dst long", [], {})]:
        edges = spark.createDataFrame(edges, ddl)
        id_type = edges.schema["src"].dataType
        small = connected_components(edges)
        assert small.schema == T.StructType([
            T.StructField("entity_id", id_type, False),
            T.StructField("canon_id", id_type, False)])
        assert [tuple(r) for r in small.collect()] == sorted(want.items())
        dist = {r.entity_id: r.canon_id for r in
                connected_components(edges, small_threshold=0).collect()}
        assert dist == want


def _jvm_canonical_mapping(gaz):
    """The JVM formulation of the canon mapping — alias edges by an
    explode/join, distributed min-label propagation, all ids joined to
    their canonical's name — kept as the reference for the driver
    pass."""
    alt = gaz.select(F.col("id").alias("src"),
                     F.explode("alt_names").alias("alt"))
    prim = gaz.select(F.col("id").alias("dst"), F.col("name"))
    edges = (alt.join(prim, alt.alt == prim.name)
             .where(F.col("src") != F.col("dst"))
             .select("src", "dst").distinct())
    cc = connected_components(edges, small_threshold=0)
    mapping = (gaz.select(F.col("id").alias("entity_id"))
               .join(cc, "entity_id", "left")
               .select("entity_id", F.coalesce("canon_id", "entity_id")
                       .alias("canon_id")))
    names = gaz.select(F.col("id").alias("canon_id"),
                       F.col("name").alias("canon_name"))
    return mapping.join(names, "canon_id").select(
        "entity_id", "canon_id", "canon_name")


def test_canonical_mapping_matches_distributed_components(spark):
    gaz = spark.createDataFrame([
        (1, "Alpha", None),               # null alt_names
        (2, "Beta", []),                  # empty alt_names
        (3, "Solo", ["Solo"]),            # self-alias: no edge
        (4, "Twin", ["Twin"]),            # alias of the other Twin only
        (5, "Twin", []),
        (6, "Fan", ["Twin", "Nobody"]),   # alt naming two / no entity
        (7, "Chain A", []),               # 3-chain 9 → 8 → 7
        (8, "Chain B", ["Chain A"]),
        (9, "Chain C", ["Chain B"]),
        (10, "Springfield", []),          # duplicate primary name,
        (11, "Springfield", []),          # no alias: stays two entities
        (12, "Gamma", ["", None]),
    ], "id long, name string, alt_names array<string>")
    got_df, want_df = canonical_mapping(gaz), _jvm_canonical_mapping(gaz)
    got = sorted(map(tuple, got_df.collect()))
    assert got == sorted(map(tuple, want_df.collect()))
    assert got_df.schema == want_df.schema
    assert dict((e, c) for e, c, _ in got) == {
        1: 1, 2: 2, 3: 3, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7, 9: 7,
        10: 10, 11: 11, 12: 12}


def test_canonical_mapping_of_gazetteer_runs_no_job(spark, jobs_in_group):
    got = []
    assert jobs_in_group("canon-no-job", lambda: got.extend(
        canonical_mapping(gazetteer(spark)).collect())) == 0
    assert len(got) == len(expected_canon())
