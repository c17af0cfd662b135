"""Schema-agnostic blocking + meta-blocking for entity resolution at
web scale — the SparkER / MinoanER recipe (SparkER: Scaling Entity
Resolution in Spark, EDBT 2019; public), the candidate-generation stage
that feeds the repo's existing verify (kgp.strsim) and
connected-components canonicalization (kgp.canonicalize):

1. TOKEN BLOCKING: every lowercased token of an entity's name is a
   block key; oversized blocks (stop-word-like keys that would explode
   the pair count quadratically) are PURGED before any pairing — the
   block-size cap is the scale knob.
2. META-BLOCKING: the blocking graph's edges are scored instead of
   materializing all pairs per block:
   - CBS (common blocks scheme): weight = number of shared blocks;
   - JS (Jaccard scheme): shared / (|blocks(a)| + |blocks(b)| -
     shared);
   edge pruning by a global weight threshold (WEP).

Spark shape: blocking is one explode + one aggregation (block
purging); pair generation is a self-join ON THE BLOCK KEY ONLY
(quadratic only within a purged block, never across the corpus);
weights are one (a, b) hash aggregation — no windows over raw
pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_blocks(entities: DataFrame, name_col: str = "name",
                 id_col: str = "entity_id",
                 max_block_size: int | None = 1000) -> DataFrame:
    """(block, entity_id): lowercased whitespace tokens as block keys,
    distinct per entity; blocks larger than max_block_size purged
    (None disables purging)."""
    blocks = (entities
              .select(F.col(id_col).alias("entity_id"),
                      F.explode(F.split(F.lower(F.col(name_col)),
                                        r"\s+")).alias("block"))
              .where(F.col("block") != "")
              .distinct())
    if max_block_size is None:
        return blocks
    sizes = blocks.groupBy("block").agg(F.count("*").alias("_n")) \
        .where(F.col("_n") <= max_block_size).select("block")
    return blocks.join(sizes, "block")


def cbs_pairs(blocks: DataFrame) -> DataFrame:
    """(a, b, weight): common-blocks-scheme edge weights — one block
    self-join + one hash aggregation; a < b."""
    le, r = blocks.alias("l"), blocks.alias("r")
    return (le.join(r, (F.col("l.block") == F.col("r.block"))
                    & (F.col("l.entity_id") < F.col("r.entity_id")))
            .groupBy(F.col("l.entity_id").alias("a"),
                     F.col("r.entity_id").alias("b"))
            .agg(F.count("*").alias("weight")))


def js_pairs(blocks: DataFrame) -> DataFrame:
    """(a, b, weight): Jaccard-scheme weights — CBS plus each node's
    block count broadcast back in."""
    counts = blocks.groupBy("entity_id").agg(
        F.count("*").alias("nb"))
    cbs = cbs_pairs(blocks)
    return (cbs
            .join(counts.select(F.col("entity_id").alias("a"),
                                F.col("nb").alias("na")), "a")
            .join(counts.select(F.col("entity_id").alias("b"),
                                F.col("nb").alias("nbb")), "b")
            .select("a", "b",
                    (F.col("weight")
                     / (F.col("na") + F.col("nbb") - F.col("weight")))
                    .alias("weight")))


def prune_wep(pairs: DataFrame, threshold: float) -> DataFrame:
    """Weight-edge pruning: global threshold (weight >= t)."""
    return pairs.where(F.col("weight") >= threshold)


def er_candidates(entities: DataFrame, name_col: str = "name",
                  id_col: str = "entity_id",
                  scheme: str = "CBS", threshold: float = 2.0,
                  max_block_size: int | None = 1000) -> DataFrame:
    """Blocking + meta-blocking end to end: (a, b, weight) candidate
    pairs ready for the similarity verify + connected components."""
    blocks = token_blocks(entities, name_col, id_col, max_block_size)
    pairs = cbs_pairs(blocks) if scheme == "CBS" else js_pairs(blocks)
    return prune_wep(pairs, threshold)
