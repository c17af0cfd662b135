"""Deduplication operators for training-data pipelines.

Five families, each the Spark-first shape of a published technique:

  * exact           — hash-groupBy on a normalized fingerprint
  * MinHash + LSH   — shingle → minhash sigs → band buckets →
                      per-bucket pairs → exact-Jaccard verify
  * SimHash         — 64-bit sketch, Hamming-band buckets
  * n-gram Jaccard  — exact verifier (also standalone for small sets)
  * embedding cosine near-dup — see kgp.similarity

The reference's similarity metrics are the per-pair analogs
(/root/reference/palladian-commons/src/main/java/ws/palladian/helper/nlp/JaccardSimilarity.java,
 CharacterNGramSimilarity.java, the shingle idea in
 palladian-core/.../token/CharacterNGramTokenizer.java); the banding /
 bucket structure is what makes them corpus-scale: candidates come
 from grouping on the (band, bucket-hash) key — a plain hash shuffle
 Spark distributes — never from an O(n²) cross join.

Python appears only in signature computation and the exact verify.
A MinHash signature is computed once per document (a numpy hash over
the code points of all of a text's shingles at once, inside an Arrow
batch) and read by banding and both estimate joins through one
exchange; the exact Jaccard runs once per surviving candidate pair.
All pairing is JVM aggregation and joins.
"""

from __future__ import annotations

from hashlib import md5

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

# ------------------------------------------------------------ exact


def normalize_text(col: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(doc_id, group_id, is_canonical): docs sharing normalized text
    form a group; the min doc_id is the canonical survivor.

    The shuffle key is the 64-bit xxhash64 fingerprint of the
    normalized text (same key as kgp.textstats.fingerprint), NOT the
    text itself — at 100 TB the window repartitions 8-byte keys, never
    multi-KB document bodies. Within a hash bucket, grouping refines by
    the normalized text so an (astronomically unlikely) xxhash64
    collision of two distinct texts still yields distinct groups —
    the refinement costs nothing extra because colliding rows are
    already co-partitioned by the hash: the explicit repartition on
    _fp alone satisfies the window's clustering requirement (_fp is a
    subset of the window keys), so the one physical Exchange in the
    plan hashes an 8-byte key — asserted in tests/test_plans.py."""
    w = Window.partitionBy("_fp", "_norm")
    return (docs
            .withColumn("_norm", normalize_text(F.col(text_col)))
            .withColumn("_fp", F.xxhash64("_norm"))
            .repartition(F.col("_fp"))
            .withColumn("group_id", F.min(id_col).over(w))
            .withColumn("group_size", F.count("*").over(w))
            .select(F.col(id_col),
                    "group_id",
                    (F.col(id_col) == F.col("group_id"))
                    .alias("is_canonical"),
                    "group_size"))


# ------------------------------------------------- shingles & jaccard


def _stable_hash64(s: str) -> int:
    """Process-independent 64-bit string hash (Python's builtin hash()
    is salted per interpreter — useless across Spark workers). The
    first 8 md5 bytes, big-endian: md5 is computable in DuckDB, which
    is what lets the SimHash oracle recompute the exact sketch in
    SQL."""
    return int.from_bytes(md5(s.encode("utf-8")).digest()[:8], "big")


def _normalize(text: str | None) -> str:
    """Lower-case, whitespace runs collapsed to one space, trimmed."""
    return " ".join((text or "").lower().split())


def _shingle_set(text: str, k: int) -> set[str]:
    t = _normalize(text)
    if len(t) < k:
        return {t} if t else set()
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def ngram_jaccard(a: str, b: str, k: int = 5) -> float:
    """Exact k-shingle Jaccard (JaccardSimilarity.java semantics over
    CharacterNGramTokenizer shingles)."""
    sa, sb = _shingle_set(a, k), _shingle_set(b, k)
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


# ------------------------------------------------------- MinHash LSH

MINHASH_PERMS = 128
_MERSENNE = (1 << 61) - 1

# k-gram polynomial hash over code points, then the murmur3 64-bit
# finalizer (uint64 arithmetic wraps mod 2^64 by design)
_CP_SEED = np.uint64(0x9E3779B97F4A7C15)
_CP_BASE = np.uint64(0x100000001B3)
_FMIX = (np.uint64(0xFF51AFD7ED558CCD), np.uint64(0xC4CEB9FE1A85EC53))


def _minhash_params(num_perm: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def _codepoint_hashes(text: str, k: int) -> np.ndarray:
    """61-bit hashes of every k-shingle of `text` (as is — normalize
    first), all windows at once: a UTF-32 view of the code points and
    one vector multiply-add per shingle position. A text shorter than
    k is its own single shingle (the _shingle_set rule). The hash
    starts from a seed, so a shorter shingle never hashes like a
    longer one that is zero-padded in front."""
    cp = np.frombuffer(text.encode("utf-32-le", "surrogatepass"),
                       dtype="<u4").astype(np.uint64)
    width = min(k, len(cp))
    n = len(cp) - width + 1
    h = np.full(n, _CP_SEED)
    for j in range(width):
        h = h * _CP_BASE + cp[j:j + n]
    for m in _FMIX:
        h ^= h >> np.uint64(33)
        h *= m
    h ^= h >> np.uint64(33)
    return h >> np.uint64(3)


def _minhash(text: str, k: int, a_par: np.ndarray,
             b_par: np.ndarray) -> np.ndarray:
    """The MinHash signature of one text's k-shingle set: per
    permutation, min over the distinct shingle hashes x of
    (a*x + b) mod (2^61 - 1). Products wrap mod 2^64 first —
    deterministic, and the composition stays a uniform enough hash
    family. A text with no shingles signs as all zeros."""
    t = _normalize(text)
    if not t:
        return np.zeros(len(a_par), dtype=np.uint64)
    hv = np.unique(_codepoint_hashes(t, k))
    x = np.outer(a_par, hv)
    x += b_par[:, None]
    # x mod p for the Mersenne prime p = 2^61 - 1 without a division:
    # 2^61 = 1 (mod p), so fold the top 3 bits onto the low 61; the
    # sum is < 2p and one wrapped subtraction finishes it
    p = np.uint64(_MERSENNE)
    x = (x & p) + (x >> np.uint64(61))
    np.minimum(x, x - p, out=x)
    return x.min(axis=1)


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 5,
                       num_perm: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, sig: array<long>) — numpy-vectorized minhash over
    k-shingles, hash-partitioned on doc_id.

    Rows with a null id are dropped BEFORE the signature UDF: they can
    never pair (every pair needs a < b), and the explicit filter keeps
    every consumer's copy of this plan identical. Without it Spark
    infers an isnotnull(doc_id) filter on join sides only, the copies
    differ, and the UDF runs once per copy. With it, the banding and
    both estimate joins of minhash_near_dups read the one
    repartition(doc_id) exchange (AQE reuses the stage), so each
    document is signed once."""
    a_par, b_par = _minhash_params(num_perm)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        return pd.Series([_minhash(t, k, a_par, b_par).astype(np.int64)
                          for t in texts])

    return (docs.where(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"),
                    sig_udf(F.col(text_col)).alias("sig"))
            .repartition("doc_id"))


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 16,
                        max_bucket: int = 1000,
                        num_perm: int = MINHASH_PERMS,
                        min_band_matches: int = 1) -> DataFrame:
    """Band the signatures; docs sharing any (band, band-hash) bucket
    become a candidate pair. Pure DataFrame: explode bands → one
    collect_list of doc ids per bucket → the a < b pairs of each list,
    generated in the JVM. Emits each pair once (a < b).

    max_bucket drops pathological buckets (e.g. thousands of IDENTICAL
    documents — those are exact-dup territory, handled by
    exact_dup_groups at O(n), not O(n²) pairing). This is the standard
    web-scale guard: a bucket's list is sized in the same aggregation
    that builds it, and an oversized list is dropped before any pair
    is generated, so the pairing never sees a quadratic blowup (the
    list itself is built whole first: 8 bytes per member, in one
    task).

    num_perm MUST be the signature length minhash_signatures was called
    with and must divide evenly into bands — otherwise band slices past
    the array end would silently produce identical empty-slice buckets
    (every doc colliding), so both are validated up front.

    min_band_matches > 1 keeps only pairs colliding on at least that
    many bands. The band-match count is FREE — the pair emission
    already shuffles on (a, b) to dedup multi-band collisions, and
    counting is the same aggregation — and it is a binomial similarity
    screen: a pair at jaccard J matches ~Binomial(bands, J^rows)
    bands. At 32 bands of 4 rows, min_band_matches=3 passes a true
    J=0.8 pair with p ≈ 1-1e-5 while letting only ~14% of the J≈0.45
    template-similarity flood through — the first, cheapest tier of
    the near-dup funnel. Default 1 = classic LSH (any collision),
    which entity-linking candidate generation relies on."""
    if num_perm % bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by "
                         f"bands={bands}")
    rows_per_band = num_perm // bands
    band_cols = F.array(*[
        F.xxhash64(F.lit(i), F.slice("sig", i * rows_per_band + 1,
                                     rows_per_band).cast("array<long>")
                   .cast("string"))
        for i in range(bands)])
    # every (x, y) of a bucket's list with x < y: the rows a bucket
    # self-join on l.doc_id < r.doc_id gives, repeated ids included
    in_bucket = F.flatten(F.transform(
        "ids", lambda x: F.transform(
            F.filter("ids", lambda y: x < y),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    pairs = (sigs
             .select("doc_id", F.explode(band_cols).alias("bucket"))
             .groupBy("bucket")
             .agg(F.collect_list("doc_id").alias("ids"))
             .where(F.size("ids").between(2, max_bucket))
             .select(F.explode(in_bucket).alias("p"))
             .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
             .count())
    if min_band_matches > 1:
        pairs = pairs.where(F.col("count") >= min_band_matches)
    return pairs.select("a", "b")


def minhash_near_dups(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 5,
                      threshold: float = 0.8,
                      bands: int = 32,
                      num_perm: int = MINHASH_PERMS,
                      prefilter_margin: float = 0.15,
                      min_band_matches: int = 3) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates →
    JVM-side signature-estimated-Jaccard prefilter → exact k-shingle
    Jaccard verification ≥ threshold. Returns (a, b, jaccard).

    bands=32 (4 rows/band over 128 perms) puts the LSH S-curve
    threshold at (1/32)^(1/4) ≈ 0.42: at jaccard 0.8 the miss
    probability is ~5e-8 (vs ~5% at 16 bands), making
    candidates-then-exact-verify indistinguishable from exact all-pairs
    at τ≥0.8 — that is what lets the driver oracle-check this query
    against a DuckDB exact-Jaccard pair set. The cost of the low
    S-curve knee is a flood of SUB-threshold candidates (every pair of
    template-sharing web pages at jaccard ~0.4 collides on some band),
    which is why the exact verify cannot be the first line: on a
    replicated bench corpus 1000 docs produced 87,720 candidates of
    which TWO were real, and the Python verify over all of them was
    ~95% of the whole composite job's wall.

    The prefilter re-uses the signatures the bands were cut from:
    estimated jaccard = fraction of agreeing minhash positions — a
    pure JVM `zip_with`+`aggregate` over two 128-long arrays, no
    Python, no text movement. Pairs below threshold - prefilter_margin
    are dropped before texts are ever joined. Banding and both
    estimate joins read ONE signature exchange (see
    minhash_signatures): the Python signature pass runs once per
    document, not once per consumer. Before even that,
    min_band_matches=3 screens the pair set inside the banding
    aggregation itself (see lsh_candidate_pairs) — a three-tier
    funnel: band count (free, in-shuffle) → signature estimate (JVM,
    1 KB/doc moves) → exact Jaccard (Python, only near-threshold
    survivors, once per pair). With 128 perms the estimate's std is
    sqrt(J(1-J)/128) ≤ 0.044, so the default margin 0.15 is ≥3.4σ:
    a TRUE pair at exactly jaccard=threshold is lost with p ≤ 3e-4,
    and the miss probability decays to ~1e-15 by jaccard=threshold+0.1
    — far below the banding miss already accepted above. Survivors
    (near-threshold by construction) still get the EXACT verify, so no
    false pair can ever pass."""
    sigs = minhash_signatures(docs, text_col, id_col, k, num_perm)
    cands = lsh_candidate_pairs(sigs, bands, num_perm=num_perm,
                                min_band_matches=min_band_matches)
    est = (cands
           .join(sigs.select(F.col("doc_id").alias("a"),
                             F.col("sig").alias("sig_a")), "a")
           .join(sigs.select(F.col("doc_id").alias("b"),
                             F.col("sig").alias("sig_b")), "b")
           .withColumn(
               "est_jac",
               F.aggregate(
                   F.zip_with("sig_a", "sig_b",
                              lambda x, y: (x == y).cast("int")),
                   F.lit(0),
                   lambda acc, v: acc + v).cast("double") / num_perm)
           .where(F.col("est_jac") >= threshold - prefilter_margin)
           .select("a", "b"))
    texts = docs.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("text"))
    paired = (est
              .join(texts.withColumnRenamed("doc_id", "a")
                         .withColumnRenamed("text", "text_a"), "a")
              .join(texts.withColumnRenamed("doc_id", "b")
                         .withColumnRenamed("text", "text_b"), "b"))

    @F.pandas_udf(T.DoubleType())
    def jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        return pd.Series([ngram_jaccard(x, y, k)
                          for x, y in zip(ta, tb)])

    # marked nondeterministic so the optimizer cannot copy the call
    # into both the Filter below and the final Project (it does for a
    # deterministic UDF, and every pair is verified twice); the value
    # is a pure function of the two texts all the same
    jac = jac.asNondeterministic()
    return (paired.withColumn("jaccard", jac("text_a", "text_b"))
            .where(F.col("jaccard") >= threshold)
            .select("a", "b", F.round("jaccard", 6).alias("jaccard")))


# ----------------------------------------------------------- SimHash


def simhash_udf(k: int = 5):
    """The 64-bit SimHash pandas UDF as a reusable column function
    (so streaming stages can compute the signature inline without a
    rejoin — stream-stream joins need time bounds)."""

    @F.pandas_udf(T.LongType())
    def sh_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            sh = _shingle_set(t or "", k)
            if not sh:
                out.append(0)
                continue
            hv = np.fromiter((_stable_hash64(s) for s in sh),
                             dtype=np.uint64, count=len(sh))
            bits = ((hv[:, None] >> np.arange(64, dtype=np.uint64)) & 1)
            # signed arithmetic — uint64 would wrap negatives positive
            votes = bits.sum(axis=0).astype(np.int64) * 2 - len(hv)
            val = 0
            for i in range(64):
                if votes[i] > 0:
                    val |= (1 << i)
            out.append(val - (1 << 64) if val >= (1 << 63) else val)
        return pd.Series(out)

    return sh_udf


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """(doc_id, simhash: long) — 64-bit SimHash over k-shingles
    (sign-aggregated bitwise votes), numpy-vectorized."""
    return docs.select(F.col(id_col).alias("doc_id"),
                       simhash_udf(k)(F.col(text_col)).alias("simhash"))


def simhash_near_dups(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 5,
                      max_hamming: int = 3) -> DataFrame:
    """Near-dups by SimHash Hamming distance ≤ max_hamming, using the
    4-band pigeonhole trick (any pair within distance 3 shares at least
    one exact 16-bit band) → equality join per band, then exact
    Hamming verify via bit_count(xor). Returns (a, b, hamming)."""
    sigs = simhash_signatures(docs, text_col, id_col, k)
    bands = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned("simhash", i * 16)
                 .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
        for i in range(4)])
    buckets = (sigs.withColumn("bk", F.explode(bands))
               .select("doc_id", "simhash",
                       F.col("bk.band").alias("band"),
                       F.col("bk.chunk").alias("chunk")))
    l, r = buckets.alias("l"), buckets.alias("r")
    pairs = (l.join(r, (F.col("l.band") == F.col("r.band")) &
                    (F.col("l.chunk") == F.col("r.chunk")) &
                    (F.col("l.doc_id") < F.col("r.doc_id")))
             .select(F.col("l.doc_id").alias("a"),
                     F.col("r.doc_id").alias("b"),
                     F.bit_count(F.col("l.simhash")
                                 .bitwiseXOR(F.col("r.simhash")))
                     .alias("hamming"))
             .distinct())
    return pairs.where(F.col("hamming") <= max_hamming)


# ------------------------------------------- near-dup group clustering


def near_dup_groups(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", threshold: float = 0.8,
                    k: int = 5) -> DataFrame:
    """Near-duplicate CLUSTERS: minhash+LSH+verify pairs become edges
    of a similarity graph; connected components (kgp.canonicalize —
    driver union-find for small edge sets, distributed min-label
    propagation above) merge transitive chains (A~B, B~C ⇒ one group
    even when A!~C); the min doc_id is the canonical survivor.
    Returns (doc_id, group_id, is_canonical) for EVERY document —
    singletons form their own group. This is the keep-one-per-cluster
    primitive of training-data dedup at corpus scale."""
    from kgp.canonicalize import connected_components
    pairs = minhash_near_dups(docs, text_col, id_col, k, threshold)
    # the pair pipeline (signatures -> banding -> estimate -> exact
    # verify) is the expensive part; within one evaluation it signs
    # each document once and verifies each pair once. Persist the
    # edges so the CC regime probe and any distributed-CC iteration
    # run that evaluation once, not once per job; the signatures
    # themselves are never cached
    edges = pairs.select(F.col("a").alias("src"),
                         F.col("b").alias("dst")).persist()
    mapping = connected_components(edges)
    # neither regime's mapping reads edges again (a local relation, or
    # eager localCheckpoints): drop the cache now, not at session end
    edges.unpersist()
    out = (docs.select(F.col(id_col).alias("doc_id"))
           .join(mapping.withColumnRenamed("entity_id", "doc_id"),
                 "doc_id", "left")
           .withColumn("group_id", F.coalesce("canon_id", "doc_id"))
           .drop("canon_id"))
    return out.select(
        "doc_id", "group_id",
        (F.col("doc_id") == F.col("group_id")).alias("is_canonical"))


# ------------------------------------------- cross-document line dedup
# RefinedWeb/CCNet-style boilerplate removal: a line (trimmed, exact)
# that occurs in more than `max_docs` DISTINCT documents is navigation/
# chrome/filler, not content, and is struck from every document. This
# is the corpus-frequency complement of the within-document Gopher
# signals (kgp.repetition) — the op every web-scale training pipeline
# runs between extraction and model-side filtering.
#
# Scale shape: posexplode lines → two-phase distinct (line, doc) →
# count per line (partial aggregation absorbs the per-doc repeats;
# the hottest key carries one row per document after the distinct) →
# anti-join the exploded lines against the (small) frequent-line set →
# regroup per document ordered by original line index. Two key
# shuffles (line, then doc id) — both on high-cardinality keys.


def cross_doc_line_dedup(docs: DataFrame, text_col: str = "text",
                         id_col: str = "url",
                         max_docs: int = 4) -> DataFrame:
    """docs → (id, clean_text, n_removed): strike every trimmed
    non-empty line occurring in > max_docs distinct documents, keep
    the rest in original order joined by newlines. Documents whose
    every line is boilerplate stay in the output with empty text."""
    lines = (docs
             .select(id_col,
                     F.posexplode(F.split(text_col, r"\n"))
                     .alias("_idx", "_raw"))
             .withColumn("_line", F.trim("_raw"))
             .where(F.col("_line") != ""))
    n_orig = lines.groupBy(id_col).agg(F.count("*").alias("_n_orig"))
    freq = (lines.select(id_col, "_line").distinct()
            .groupBy("_line").agg(F.count("*").alias("_n_docs"))
            .where(F.col("_n_docs") > max_docs))
    kept = lines.join(freq, "_line", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("_idx", "_line"))),
                            lambda s: s["_line"]),
                        "\n").alias("clean_text"),
                    F.count("*").alias("_n_kept")))
    return (n_orig.join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    (F.col("_n_orig")
                     - F.coalesce("_n_kept", F.lit(0)))
                    .cast("int").alias("n_removed")))
