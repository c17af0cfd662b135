"""Seeded benchmark inputs.

The program receives only generated pages. This module writes a
`documents.parquet` of random prose from the seed, turns it into the
`pages` table with the public `kgp.corpus.synth_pages`, and writes that
table as a finished `pages` stage (`kgp.materialize.write_stage`) into
the run directory. The pipeline then resumes `pages`, so page synthesis
stays outside the timed wall. The input is made once per run and
reused by the full run and every resume of that run.

The seed picks two things: the words of every document, and the
replica offset of the doc ids (a `corpus.REPLICA_OFFSET` stride), which
changes every entity on every page. The goldens (`kgp.golden`,
`kgp.oracle`) are pure functions of doc_id, so the output checks hold
for any seed.

curate_dup adds seeded duplicates: clusters of exact copies and near
copies (three words appended to the text, 5-shingle Jaccard about 0.95)
of original pages. Cluster r gets round(largest / r) copies, so the
sizes are heavy-tailed and the largest cluster holds LARGEST_CLUSTER of
the originals. The plan (dup id, source id, kind) is the ground truth.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# the word list and language mix of the sf* test documents
WORDS = ("a agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3

# doc ids of injected duplicates start here, past every original id
DUP_BASE = 5_000_000
LARGEST_CLUSTER = 0.03   # share of the originals in the biggest cluster
DUP_SHARE = 0.15         # injected duplicates / originals


def replica_base(seed: int) -> int:
    """Doc id offset of the seed; 200 replicas keep every id, injected
    duplicates included, inside a 32-bit int."""
    from kgp.corpus import REPLICA_OFFSET
    return (seed % 200) * REPLICA_OFFSET


def write_documents(sf_dir: str, n_docs: int, seed: int) -> None:
    """sf_dir/documents.parquet (doc_id, text, lang, source, n_chars)
    shaped like the sf* test data: 10-100 words drawn from WORDS."""
    rng = random.Random(seed)
    base = replica_base(seed)
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100)))
             for _ in range(n_docs)]
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(base, base + n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))


def doc_ids(sf_dir: str) -> list[int]:
    return pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id"]).column(0).to_pylist()


def dup_plan(ids: list[int], seed: int) -> list[dict]:
    """Ground truth of the injected duplicates: one dict per duplicate
    (dup_id, src_id, kind in {exact, near}, extra text for near).
    Cluster r (1-based) gets round(largest / r) duplicates until the
    total reaches DUP_SHARE of the originals."""
    rng = random.Random(seed * 7919 + 1)
    largest = max(1, round(LARGEST_CLUSTER * len(ids)))
    target = max(1, round(DUP_SHARE * len(ids)))
    plan: list[dict] = []
    for rank, src in enumerate(rng.sample(ids, min(len(ids), target)), 1):
        for _ in range(max(1, round(largest / rank))):
            if len(plan) == target:
                return plan
            kind = rng.choice(("exact", "near"))
            extra = ("" if kind == "exact" else
                     " " + " ".join(rng.choice(WORDS) for _ in range(3)))
            plan.append({"dup_id": replica_base(seed) + DUP_BASE + len(plan),
                         "src_id": src, "kind": kind, "extra": extra})
    return plan


def _inject(spark, pages, plan: list[dict]):
    """pages plus the planned duplicates: a copy of the source row under
    the duplicate's doc id and url, its text extended by `extra`."""
    from pyspark.sql import functions as F
    plan_df = spark.createDataFrame(
        [(p["dup_id"], p["src_id"], p["extra"]) for p in plan],
        "dup_id long, src_id long, extra string")
    dups = (plan_df.join(pages, plan_df.src_id == pages.doc_id)
            .select(
                F.col("dup_id").alias("doc_id"),
                F.regexp_replace(
                    "url", r"/articles/\d+\.html$",
                    F.concat(F.lit("/articles/"),
                             F.col("dup_id").cast("string"),
                             F.lit(".html"))).alias("url"),
                "warc_ts", "html",
                F.concat("text", "extra").alias("text"), "lang"))
    return pages.unionByName(dups)


def write_pages(spark, sf_dir: str, out_dir: str, pipeline: str,
                plan: list[dict]) -> int:
    """Write the finished `pages` stage of `pipeline` ("kg": no doc_id
    column, as kgp.pipeline makes it; "curate": with doc_id and the
    planned duplicates) into out_dir; return its row count. The table
    is spread on url exactly as the pipelines spread it."""
    from kgp import corpus, materialize, skew
    pages = corpus.synth_pages(spark, sf_dir, with_doc_id=True)
    if pipeline == "kg":
        pages = pages.drop("doc_id")
    elif plan:
        pages = _inject(spark, pages, plan)
    nparts = spark.sparkContext.defaultParallelism
    _, rows = materialize.write_stage(
        spark, skew.spread(pages, ["url"], nparts), out_dir, "pages")
    return rows
