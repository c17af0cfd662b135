"""SparkER-style blocking + meta-blocking candidate generation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgp.metablocking import (cbs_pairs, er_candidates, js_pairs,
                              prune_wep, token_blocks)


def _entities(spark):
    return spark.createDataFrame(
        [(1, "Acme Rocket Corp"), (2, "Acme Rocket Company"),
         (3, "Rocket Surgery Ltd"), (4, "Banana Stand")],
        "entity_id long, name string")


def test_token_blocks(spark):
    rows = token_blocks(_entities(spark)).collect()
    got = {(r["block"], r["entity_id"]) for r in rows}
    assert ("acme", 1) in got and ("acme", 2) in got
    assert ("rocket", 3) in got
    assert not any(b != b.lower() for b, _ in got)


def test_block_purging(spark):
    df = spark.createDataFrame(
        [(i, f"common unique{i}") for i in range(10)],
        "entity_id long, name string")
    # cap 5 purges the 'common' block entirely
    blocks = token_blocks(df, max_block_size=5)
    assert blocks.where(F.col("block") == "common").count() == 0
    # no pairs survive: every remaining block is a singleton
    assert cbs_pairs(blocks).count() == 0
    # without purging the block yields all 45 pairs
    allb = token_blocks(df, max_block_size=None)
    assert cbs_pairs(allb).count() == 45


def test_cbs_weights(spark):
    pairs = {(r["a"], r["b"]): r["weight"]
             for r in cbs_pairs(token_blocks(_entities(spark)))
             .collect()}
    assert pairs[(1, 2)] == 2     # acme + rocket shared
    assert pairs[(1, 3)] == 1     # rocket only
    assert (1, 4) not in pairs    # nothing shared


def test_js_weights(spark):
    pairs = {(r["a"], r["b"]): r["weight"]
             for r in js_pairs(token_blocks(_entities(spark)))
             .collect()}
    # |blocks(1)|=3, |blocks(2)|=3, shared 2 -> 2/(3+3-2)
    assert pairs[(1, 2)] == pytest.approx(0.5)
    assert pairs[(1, 3)] == pytest.approx(1 / 5)


def test_prune_wep_and_wnp(spark):
    pairs = cbs_pairs(token_blocks(_entities(spark)))
    kept = {(r["a"], r["b"]) for r in prune_wep(pairs, 2).collect()}
    assert kept == {(1, 2)}


def test_er_candidates_end_to_end(spark):
    out = er_candidates(_entities(spark), threshold=2.0).collect()
    assert {(r["a"], r["b"]) for r in out} == {(1, 2)}


def test_er_candidates_duckdb_parity(spark):
    import duckdb

    from kgp.oracle import er_candidates_sql
    sf = "/root/testdata/sf0.001"
    part = spark.read.parquet(f"{sf}/part.parquet") \
        .select(F.col("p_partkey").alias("entity_id"),
                F.col("p_name").alias("name"))
    got = {(r["a"], r["b"]): r["weight"]
           for r in er_candidates(part, threshold=2.0).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW part AS SELECT * FROM "
                f"'{sf}/part.parquet'")
    want = con.execute(er_candidates_sql()).fetchall()
    assert len(want) == len(got) > 0
    for a, b, w in want:
        assert got[(a, b)] == w

