from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgp.dedup import (exact_dup_groups, lsh_candidate_pairs,
                       near_dup_groups,
                       minhash_near_dups, minhash_signatures,
                       ngram_jaccard, simhash_near_dups,
                       simhash_signatures)

BASE = ("the quick brown fox jumps over the lazy dog near the river bank "
        "and then rests in the shade of a large oak tree while the sun "
        "sets slowly behind the distant mountains of the old country")
NEAR = BASE.replace("lazy dog", "sleepy dog")          # tiny edit
FAR = ("completely different content about spark dataframes shuffling "
       "partitions and adaptive query execution with broadcast joins "
       "and whole stage code generation for columnar processing speed")


def _docs(spark):
    rows = [(1, BASE), (2, BASE), (3, "  " + BASE.upper() + "  "),
            (4, NEAR), (5, FAR)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(spark):
    got = {r.doc_id: r for r in exact_dup_groups(_docs(spark)).collect()}
    # 1,2,3 normalize identically (case/whitespace-insensitive)
    assert got[1].group_id == got[2].group_id == got[3].group_id == 1
    assert got[1].is_canonical and not got[2].is_canonical
    assert got[1].group_size == 3
    assert got[4].group_id == 4 and got[5].group_id == 5


def test_ngram_jaccard():
    assert ngram_jaccard(BASE, BASE) == 1.0
    assert ngram_jaccard(BASE, NEAR, 5) > 0.8
    assert ngram_jaccard(BASE, FAR, 5) < 0.2
    assert ngram_jaccard("", "") == 1.0


def test_minhash_signature_determinism(spark):
    docs = _docs(spark)
    a = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
    b = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
    assert a == b                     # stable across runs/workers
    assert a[1] == a[2]               # identical docs -> identical sig
    sim = sum(x == y for x, y in zip(a[1], a[4])) / len(a[1])
    assert sim > 0.6                  # near-dup -> most minhashes agree
    dis = sum(x == y for x, y in zip(a[1], a[5])) / len(a[1])
    assert dis < 0.2


def test_minhash_near_dups_end_to_end(spark):
    got = {(r.a, r.b): r.jaccard
           for r in minhash_near_dups(_docs(spark),
                                      threshold=0.5).collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 4) in got and got[(1, 4)] > 0.8
    assert not any(5 in p for p in got)


def test_simhash_near_dups(spark):
    sigs = {r.doc_id: r.simhash
            for r in simhash_signatures(_docs(spark)).collect()}
    assert sigs[1] == sigs[2]
    # the md5-derived hash family puts the planted small edit at
    # Hamming 7 (deterministic); the far document is way off
    ham = lambda a, b: bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
    assert ham(1, 4) == 7
    assert ham(1, 5) > 20
    # pair finding at <=3 where the 4x16-bit pigeonhole is COMPLETE
    got = {(r.a, r.b): r.hamming
           for r in simhash_near_dups(_docs(spark),
                                      max_hamming=3).collect()}
    assert got[(1, 2)] == 0 and got[(1, 3)] == 0 and got[(2, 3)] == 0
    assert not any(5 in p for p in got)


def test_lsh_bucket_cap_drops_megabucket(spark):
    rows = [(i, BASE) for i in range(20)] + [(100, NEAR)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs)
    capped = lsh_candidate_pairs(sigs, max_bucket=10).collect()
    # the 20-identical-doc bucket is dropped; NEAR pairs survive only
    # if bucketed with <=10 members — with all 20 dropped, no pairs
    assert all(not (a < 20 and b < 20) for a, b in
               [(r.a, r.b) for r in capped])


def test_near_dup_groups_transitive(spark):
    # A~B and B~C through small edits; A and C differ more — the
    # cluster still merges transitively via connected components
    a = BASE
    b = BASE.replace("lazy dog", "sleepy dog")
    c = b.replace("brown fox", "red fox")
    rows = [(1, a), (2, b), (3, c), (9, FAR)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           near_dup_groups(docs, threshold=0.8).collect()}
    assert got[1].group_id == got[2].group_id == got[3].group_id == 1
    assert got[1].is_canonical
    assert not got[2].is_canonical and not got[3].is_canonical
    assert got[9].group_id == 9 and got[9].is_canonical


def test_near_dup_groups_leaves_no_cache(spark, jobs_in_group):
    """The edge cache lives for one call: a second call on the same docs
    runs as many jobs as the first, and the session's persisted RDDs
    are the same before and after a call."""
    docs = _docs(spark)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    runs = [jobs_in_group(f"near-dup-groups-{i}", lambda: near_dup_groups(
        docs, threshold=0.8).collect()) for i in range(2)]
    assert runs[0] == runs[1]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_cross_doc_line_dedup(spark):
    from kgp.dedup import cross_doc_line_dedup
    rows = [
        ("a", "Home | About | Contact\nUnique article text A\nCopyright"),
        ("b", "Home | About | Contact\nDifferent body B\nCopyright"),
        ("c", "Home | About | Contact\nThird story C\nCopyright"),
        ("d", "Home | About | Contact\n  \nOnly chrome here\nCopyright"),
        ("e", "Home | About | Contact\nCopyright"),    # all boilerplate
        ("f", "Standalone page with no shared lines at all"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    got = {r.url: r for r in
           cross_doc_line_dedup(docs, max_docs=2).collect()}
    assert len(got) == 6
    # shared lines (5 docs each) struck everywhere; order preserved
    assert got["a"].clean_text == "Unique article text A"
    assert got["a"].n_removed == 2
    assert got["d"].clean_text == "Only chrome here"
    assert got["d"].n_removed == 2          # blank line never counted
    # a document that is ALL boilerplate survives with empty text
    assert got["e"].clean_text == "" and got["e"].n_removed == 2
    # untouched document round-trips byte-identically
    assert got["f"].clean_text == rows[5][1] and got["f"].n_removed == 0


def test_cross_doc_line_dedup_order_preserved(spark):
    from kgp.dedup import cross_doc_line_dedup
    body = "\n".join(f"line {i}" for i in range(50))
    docs = spark.createDataFrame(
        [("x", "SHARED\n" + body), ("y", "SHARED"), ("z", "SHARED"),
         ("w", "SHARED")],
        "url string, text string")
    got = {r.url: r for r in
           cross_doc_line_dedup(docs, max_docs=2).collect()}
    assert got["x"].clean_text == body      # 50 lines, original order
