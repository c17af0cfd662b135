"""Stage 5 — entity canonicalization via connected components.

The reference has no coreference/canonicalization (nearest analog:
exact dictionary surface match + conceptLikelihoodOrder,
/root/reference/palladian-core/src/main/java/ws/palladian/extraction/entity/tagger/PalladianNer.java:522-530).
Our design (SURVEY.md §2.7): build same-entity edges, find connected
components, take `canon_id = min(entity_id)` per component.

Scale notes:
  * canon is a driver pass over the gazetteer: one collect of
    (id, name, alt_names), the alias edges and a union-find in Python,
    the mapping returned as an Arrow local relation. It needs the
    gazetteer to fit in driver memory, as the linker's broadcast of it
    already does; the stage's only Spark work is its write;
  * `connected_components` serves the corpus-sized graphs (dedup,
    synonyms, clustering): small edge sets take the same union-find,
    large ones iterative min-label propagation (GraphFrames-style
    hash-join propagation — no GraphFrames dependency, plain DataFrame
    ops);
  * each propagation iteration = one shuffle (join) + one hash agg;
    labels are `localCheckpoint`-ed every iteration to cut lineage so
    the loop doesn't grow the plan (a 20-iteration plan would otherwise
    OOM the optimizer long before the data hurts);
  * a pointer-doubling contraction (label ← label-of-label) runs after
    every neighbor-min step, so convergence is O(log diameter) joins,
    not O(diameter) — head entities create high-degree stars, which
    hash joins + AQE skew splitting handle (the star center's label is
    a single row on the build side);
  * convergence is an exact changed-row count with an iteration cap.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_relation(spark: SparkSession, schema: T.StructType,
                   columns) -> DataFrame:
    """A driver-built table as an Arrow local relation: `columns` holds
    one sequence (a list, numpy or Arrow array) per schema field. It
    plans as `LocalTableScan` whatever the row count — PySpark sends an
    empty pandas frame down its pickled-RDD path — and keeps the
    schema's non-null fields."""
    arrow = to_arrow_schema(schema)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow), schema)


def _alias_edges(rows) -> list[tuple]:
    """(id, name, alt_names) rows → sorted distinct (src, dst) edges:
    entity A lists an alt name that IS entity B's primary name → same
    real-world entity (how the synthetic gazetteer encodes aliases;
    with a real KB this is the `sameAs`/redirect set). Null ids, names
    and alt names match nothing, and self-aliases are no edge."""
    ids_by_name: dict = {}
    for r in rows:
        if r[0] is not None and r[1] is not None:
            ids_by_name.setdefault(r[1], []).append(r[0])
    return sorted({(r[0], dst)
                   for r in rows if r[0] is not None
                   for alt in r[2] or ()
                   for dst in ids_by_name.get(alt, ())
                   if dst != r[0]})


def _union_find(edges) -> dict:
    """(a, b) pairs → {node: min node of its component}, union by min
    id, for every node that appears in an edge."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in parent}


SMALL_GRAPH_EDGES = 100_000


def connected_components(edges: DataFrame, max_iter: int = 25,
                         small_threshold: int = SMALL_GRAPH_EDGES
                         ) -> DataFrame:
    """edges(src, dst) → mapping(entity_id, canon_id=min id in component).

    Two regimes, picked by a cheap count:
      * small edge sets (≤ small_threshold) — collect + driver-side
        union-find, ONE job instead of ~5 jobs × O(log d) iterations;
        burning 20+ s of serial join latency on 50 edges is wrong on
        any cluster;
      * large edge sets — distributed min-label propagation over the
        undirected edge set with pointer doubling, driver loop with
        exact convergence check, localCheckpoint per round.
    """
    # ids may be integral (entity ids) or strings (e.g. synonym
    # surfaces) — min-label semantics work for any ordered type.
    id_type = edges.schema.fields[0].dataType
    out_schema = T.StructType([
        T.StructField("entity_id", id_type, False),
        T.StructField("canon_id", id_type, False)])
    # ONE evaluation decides the regime AND feeds the small path: a
    # limit(k+1) collect. The input is often an expensive unpersisted
    # DAG (e.g. the minhash near-dup pair pipeline) — a separate
    # count() would re-run all of it just to pick the branch.
    probe = edges.limit(small_threshold + 1).collect()
    if len(probe) <= small_threshold:
        canon = _union_find((r[0], r[1]) for r in probe)
        ids = sorted(canon)
        return local_relation(edges.sparkSession, out_schema,
                              [ids, [canon[x] for x in ids]])
    return (_cc_distributed(edges, max_iter)
            .select(F.col("entity_id").cast(id_type).alias("entity_id"),
                    F.col("canon_id").cast(id_type).alias("canon_id")))


def _cc_distributed(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    sym = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))).distinct()
    sym = sym.localCheckpoint()
    labels = (sym.select(F.col("src").alias("id"))
                 .distinct()
                 .withColumn("label", F.col("id")))
    labels = labels.localCheckpoint()

    for _ in range(max_iter):
        # neighbor-min: label(v) = min(label(v), min over u~v of label(u))
        msgs = (sym.join(labels, sym.src == labels.id)
                   .select(F.col("dst").alias("id"), "label"))
        new = (labels.unionByName(msgs)
                     .groupBy("id").agg(F.min("label").alias("label")))
        # pointer doubling: label(v) = label(label(v))
        l2 = new.select(F.col("id").alias("lid"),
                        F.col("label").alias("llabel"))
        new = (new.join(l2, new.label == l2.lid, "left")
                  .select("id", F.coalesce("llabel", "label").alias("label")))
        new = new.localCheckpoint()
        changed = (new.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        labels = new
        if changed == 0:
            break
    return labels.select(F.col("id").alias("entity_id"),
                         F.col("label").alias("canon_id"))


def canonical_mapping(gaz: DataFrame) -> DataFrame:
    """gazetteer → (entity_id, canon_id, canon_name) covering ALL
    entities (identity for singletons), computed on the driver from
    one collect and returned as an Arrow local relation."""
    rows = gaz.select("id", "name", "alt_names").collect()
    canon = _union_find(_alias_edges(rows))
    names: dict = {}
    for r in rows:
        names.setdefault(r[0], []).append(r[1])
    out = [(r[0], c, name)
           for r in rows if r[0] is not None
           for c in [canon.get(r[0], r[0])]
           for name in names[c]]
    schema = T.StructType([
        T.StructField("entity_id", gaz.schema["id"].dataType),
        T.StructField("canon_id", gaz.schema["id"].dataType),
        T.StructField("canon_name", gaz.schema["name"].dataType)])
    return local_relation(gaz.sparkSession, schema,
                          [[r[i] for r in out] for i in range(3)])


def canonicalize_links(links: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite links' (entity_id, canon_name) to component canonicals.
    mapping is broadcast (it is gazetteer-sized, small side)."""
    m = F.broadcast(mapping.select(
        "entity_id",
        F.col("canon_id").alias("_cid"),
        F.col("canon_name").alias("_cname")))
    return (links.join(m, "entity_id", "left")
            .withColumn("entity_id", F.coalesce("_cid", "entity_id"))
            .withColumn("canon_name", F.coalesce("_cname", "canon_name"))
            .drop("_cid", "_cname"))
