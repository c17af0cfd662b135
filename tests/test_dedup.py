from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgp import dedup
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


M64 = (1 << 64) - 1
KERNEL_TEXTS = [
    None, "", "   \t\n ",
    "abc",                                   # shorter than k
    "abcde",                                 # exactly k
    "aaaaaaaaaaaaaaaaaaaa",                  # one shingle, repeated
    "ab ab ab ab ab ab ab ab",               # few distinct shingles
    "  The QUICK\tbrown\n\nfox   JUMPS  ",   # case and whitespace
    "東京は日本の首都です。大阪は大きな都市です。",   # CJK
    "party 🎉🎉 time 🎉 again 🎉",            # astral code points
    "🎉",                                    # one astral code point
    "ÄÖÜ Straße İstanbul ǅemal",             # lower() changes length
    BASE, NEAR,
]


def _slow_shingle_hash(shingle: str) -> int:
    """The code-point hash of one shingle, one character at a time in
    Python integers."""
    h = int(dedup._CP_SEED)
    for ch in shingle:
        h = (h * int(dedup._CP_BASE) + ord(ch)) & M64
    for m in dedup._FMIX:
        h ^= h >> 33
        h = (h * int(m)) & M64
    h ^= h >> 33
    return h >> 3


def _slow_signature(text, k=5, num_perm=dedup.MINHASH_PERMS):
    """Each distinct shingle of _shingle_set hashed on its own, then
    min over (a*x + b mod 2^64) mod (2^61 - 1) per permutation."""
    a_par, b_par = dedup._minhash_params(num_perm)
    hv = {_slow_shingle_hash(sh) for sh in dedup._shingle_set(text, k)}
    if not hv:
        return [0] * num_perm
    return [min(((int(a) * x + int(b)) & M64) % dedup._MERSENNE
                for x in hv)
            for a, b in zip(a_par, b_par)]


@pytest.mark.parametrize("k", [3, 5])
def test_vectorized_signature_matches_slow_reference(k):
    a_par, b_par = dedup._minhash_params(dedup.MINHASH_PERMS)
    for text in KERNEL_TEXTS:
        got = dedup._minhash(text, k, a_par, b_par)
        assert [int(x) for x in got] == _slow_signature(text, k), text


def test_signature_is_independent_of_its_arrow_batch(spark):
    """A document signs the same alone and inside a full 256-row Arrow
    batch of other documents."""
    rng = random.Random(7)
    words = [f"w{i}" for i in range(300)]
    filler = [" ".join(rng.choice(words) for _ in range(rng.randint(0, 60)))
              for _ in range(256 - len(KERNEL_TEXTS))]
    texts = KERNEL_TEXTS + filler
    rows = [(i, t) for i, t in enumerate(texts)]
    schema = "doc_id long, text string"
    batch = {r.doc_id: r.sig for r in minhash_signatures(
        spark.createDataFrame(rows, schema).coalesce(1)).collect()}
    assert len(batch) == 256
    for i, t in enumerate(KERNEL_TEXTS):
        alone = minhash_signatures(
            spark.createDataFrame([(i, t)], schema)).collect()
        assert [r.sig for r in alone] == [batch[i]], t
        assert batch[i] == _slow_signature(t), t


def _final_plan_nodes(spark, df):
    """Every node of df's executed plan, the final AQE plan included:
    query stages and reused exchanges are followed into the plans they
    wrap, each node object once."""
    ident = spark._jvm.System.identityHashCode
    todo, seen, out = [df._jdf.queryExecution().executedPlan()], set(), []
    while todo:
        node = todo.pop()
        if ident(node) in seen:
            continue
        seen.add(ident(node))
        out.append(node)
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "ReusedExchangeExec":
            todo.append(node.child())
    return out


def _python_rows(nodes, udf):
    """Rows the Python workers returned for `udf`, summed over every
    ArrowEvalPython node that calls it."""
    total = 0
    for node in nodes:
        if (node.nodeName() == "ArrowEvalPython"
                and f"[{udf}(" in node.toString().splitlines()[0]):
            total += node.metrics().get("pythonNumRowsReceived").get().value()
    return total


def test_minhash_near_dups_signs_each_doc_and_verifies_each_pair_once(spark):
    """One signature per document (banding and both estimate joins read
    one exchange) and one exact Jaccard per candidate pair, with no
    cache and no RDD scan standing in for the reuse. Every candidate
    here is a true pair (clusters of an original, an exact copy and a
    near copy; unrelated originals), so the verify sees exactly the
    pairs returned."""
    rng = random.Random(11)
    words = [f"w{i}" for i in range(500)]
    rows = []
    for c in range(12):
        text = " ".join(rng.choice(words) for _ in range(60))
        rows += [(100 * c, text), (100 * c + 1, text),
                 (100 * c + 2, text + " w1 w2")]
    rows += [(5000 + i, " ".join(rng.choice(words) for _ in range(60)))
             for i in range(20)]
    # an Arrow local relation: a plain row list would plan as an RDD scan
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        "doc_id long, text string")
    df = minhash_near_dups(docs)
    pairs = df.collect()
    assert len(pairs) == 12 * 3
    nodes = _final_plan_nodes(spark, df)
    names = {n.nodeName() for n in nodes}
    assert "InMemoryTableScan" not in names, names
    assert not any("ExistingRDD" in n for n in names), names
    assert _python_rows(nodes, "sig_udf") == len(rows)
    assert _python_rows(nodes, "jac") == len(pairs)


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


def test_near_dup_groups_leaves_no_cache(spark):
    """The edge cache lives for one call: the session's cache-manager
    entries and its persisted RDDs are the same before and after a
    call."""
    docs = _docs(spark)
    cache = spark._jsparkSession.sharedState().cacheManager()
    rdds = spark.sparkContext._jsc.getPersistentRDDs

    def state():
        return cache.numCachedEntries(), rdds().size()

    before = state()
    near_dup_groups(docs, threshold=0.8).collect()
    assert state() == before


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
