"""Text vectorization & similarity — the reference's text-vector stack
re-expressed Spark-first.

Ports (semantics, cited per function):
- TermCorpus / MapTermCorpus — document-frequency corpus
  (extraction/feature/TermCorpus.java:1-66, MapTermCorpus.java:60-240,
  AbstractTermCorpus.java:7-14 for the Lucene-style idf).
- TextVectorizer — TF x IDF strategy matrix over a Preprocessor token
  stream (extraction/text/vector/TextVectorizer.java:34-101 strategy
  enums, :160-180 apply()).
- TfIdfSimilarity — pairwise cosine over smoothed-idf tf vectors
  (extraction/text/similarity/TfIdfSimilarity.java:36-76).
- TokenBasedWordMoverSimilarity / WordMoverSimilarity — greedy
  word-mover scores (TokenBasedWordMoverSimilarity.java:26-53,
  WordMoverSimilarity.java:26-58).
- CosineVectorSimilarity + MapWordVectorDictionary.readFromVecFile
  (CosineVectorSimilarity.java:26-48, MapWordVectorDictionary.java:17-60)
  and EmbeddingTextVectorizer (EmbeddingTextVectorizer.java:20-48).

Spark shape / scale notes:
- The corpus fit is ONE aggregation over per-document distinct terms
  (explode -> groupBy(term)) — the canonical word-count shuffle with
  map-side combine; the optional vector_size reduction is a
  deterministic top-N cut (doc_count DESC, term ASC; the reference's
  Bag.createSorted walks a HashMap and has no defined tie order —
  MapTermCorpus.java:210-222 — so the term-ASC tie-break is a
  documented deterministic substitute).
- Vectorization never moves the text twice: tokens explode once,
  counts aggregate on (doc, term), per-doc totals come from a window
  over the already-(doc,term)-sized table, and the corpus counts join
  BROADCAST (vocabulary-sized). With the default `norm_tokens`
  tokenizer the whole stage is pure JVM column expressions; the
  Palladian Preprocessor (char/word n-grams, stemming, stopwords) is
  available as an Arrow-batched token UDF for parity work.
- Pair similarity joins per-document weight tables on (pair, term) —
  candidate pairs are expected to be pre-blocked (LSH/minhash/doc-id
  bands), never all-pairs.
- Cross-engine float determinism: the reference computes in float32;
  this module computes in float64 and gate queries round weights to 7
  and cosines to 6 decimals so a DuckDB oracle lands on identical
  doubles (same ladder as kgp/lmscore.py).
"""

from __future__ import annotations

import math
from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kgp.decontam import norm_tokens
from kgp.strsim import jaro_winkler_similarity, levenshtein_similarity
from kgp.textclassifier import STOPWORDS, FeatureSetting, preprocess
from kgp.tokenize import tokenize


def simple_tokens(text: str) -> list[str]:
    """Pure twin of kgp.decontam.norm_tokens (lowercase,
    non-alphanumeric -> space, split, drop empties) — the tokenizer
    the JVM-pure / SQL-oracle paths share."""
    import re
    return [w for w in re.sub("[^a-z0-9]+", " ", text.lower()).split(" ")
            if w]


# ----------------------------------------------------------- pure twins


class TermCorpusLocal:
    """MapTermCorpus twin (MapTermCorpus.java:60-240): per-term
    containing-document counts + total document count."""

    def __init__(self, counts: dict[str, int] | None = None,
                 num_docs: int = 0):
        self.counts: dict[str, int] = dict(counts or {})
        self.num_docs = num_docs

    def add_doc(self, terms: Iterable[str]) -> None:
        # addTermsFromDocument takes a SET (MapTermCorpus.java:71-74)
        for t in set(terms):
            self.counts[t] = self.counts.get(t, 0) + 1
        self.num_docs += 1

    def get_count(self, term: str) -> int:
        return self.counts.get(term, 0)

    def get_probability(self, term: str) -> float:
        """MapTermCorpus.getProbability: count / numDocs."""
        return self.get_count(term) / self.num_docs

    def num_unique_terms(self) -> int:
        return len(self.counts)

    def num_terms(self) -> int:
        return sum(self.counts.values())

    def get_idf(self, term: str, smoothing: bool = True) -> float:
        """Lucene-style idf: 1 + ln(numDocs / (count + s))
        (AbstractTermCorpus.java:7-14). An unseen term without
        smoothing divides by zero — Java doubles give +Infinity, so
        does this twin."""
        s = 1 if smoothing else 0
        denom = self.get_count(term) + s
        if denom == 0:
            return math.inf
        return 1.0 + math.log(self.num_docs / denom)

    def reduced(self, max_size: int) -> "TermCorpusLocal":
        """getReducedCorpus (MapTermCorpus.java:210-222) with the
        deterministic (count DESC, term ASC) tie-break."""
        top = sorted(self.counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return TermCorpusLocal(dict(top[:max_size]), self.num_docs)


def _tf(strategy: str, count: float, n_words: int, max_count: int) -> float:
    # TextVectorizer.TFStrategy (TextVectorizer.java:34-69)
    if strategy == "binary":
        return 1.0 if count > 0 else 0.0
    if strategy == "raw_count":
        return float(count)
    if strategy == "term_frequency":
        return count / n_words if n_words else float("nan")
    if strategy == "log_normalization":
        return 1.0 + math.log(count)
    if strategy == "double_normalization":
        return 0.5 + 0.5 * count / max_count
    raise ValueError(strategy)


def _idf(strategy: str, corpus_count: int, num_docs: int,
         max_count: int) -> float:
    # TextVectorizer.IDFStrategy (TextVectorizer.java:71-101); note
    # IDF_MAX's maxCount is the DOCUMENT's max token count — the
    # reference passes maxTokenCount at apply() (:173), a quirk kept.
    if strategy == "unary":
        return 1.0
    if strategy == "idf":
        if corpus_count == 0:
            return float("inf")  # Java float div-by-zero -> Infinity
        return math.log(num_docs / corpus_count)
    if strategy == "idf_smooth":
        return math.log(num_docs / (corpus_count + 1))
    if strategy == "idf_max":
        return math.log(max_count * corpus_count / (1 + corpus_count))
    raise ValueError(strategy)


def vectorize_text(text: str, corpus: TermCorpusLocal, fs: FeatureSetting,
                   tf: str = "term_frequency", idf: str = "idf",
                   alpha: int = 0,
                   tokenizer: Callable[[str], list[str]] | None = None
                   ) -> dict[str, float]:
    """TextVectorizer.apply twin (TextVectorizer.java:160-180):
    alpha == 0 iterates the document's own tokens; alpha > 0 smooths
    over the ENTIRE corpus vocabulary. `tokenizer` overrides the
    Preprocessor token stream (for norm_tokens parity checks)."""
    tokens = tokenizer(text) if tokenizer else preprocess(text, fs)
    bag: dict[str, int] = {}
    for t in tokens:
        bag[t] = bag.get(t, 0) + 1
    max_count = max(bag.values()) if bag else 0
    vocab = bag.keys() if alpha == 0 else corpus.counts.keys()
    out: dict[str, float] = {}
    for term in vocab:
        count = bag.get(term, 0) + alpha
        tf_v = _tf(tf, count, len(tokens), max_count)
        idf_v = _idf(idf, corpus.get_count(term), corpus.num_docs,
                     max_count)
        out[term] = tf_v * idf_v
    return out


def tfidf_similarity(s1: str, s2: str, corpus: TermCorpusLocal,
                     fs: FeatureSetting, binarize: bool = False,
                     tokenizer: Callable[[str], list[str]] | None = None
                     ) -> float:
    """TfIdfSimilarity.getSimilarity twin
    (TfIdfSimilarity.java:36-76): tf = count / len(tokens), idf =
    smoothed Lucene idf, cosine over the union vector (zeros drop out
    of both dot and norms)."""
    tok = tokenizer if tokenizer else (lambda s: preprocess(s, fs))
    t1 = tok(s1)
    t2 = tok(s2)

    def vec(tokens: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for term in set(tokens):
            c = 1 if binarize else tokens.count(term)
            tf_v = c / len(tokens)
            out[term] = tf_v * corpus.get_idf(term, True)
        return out

    v1, v2 = vec(t1), vec(t2)
    dot = sum(w * v2.get(t, 0.0) for t, w in v1.items())
    n1 = math.sqrt(sum(w * w for w in v1.values()))
    n2 = math.sqrt(sum(w * w for w in v2.values()))
    if n1 * n2 == 0:
        return float("nan")  # Java float 0/0 -> NaN
    return dot / (n1 * n2)


def token_word_mover(s1: str, s2: str, fs: FeatureSetting,
                     metric: Callable[[str, str], float]
                     = jaro_winkler_similarity) -> float:
    """TokenBasedWordMoverSimilarity twin
    (TokenBasedWordMoverSimilarity.java:26-53). Quirks kept: token
    SETS, and the loop iterates the LARGER set (the swap puts the
    larger collection into tokens1) and divides by its size."""
    t1, t2 = set(preprocess(s1, fs)), set(preprocess(s2, fs))
    if not t1 and not t2:
        return 1.0
    if len(t1) < len(t2):
        t1, t2 = t2, t1
    total = 0.0
    for a in t1:
        total += max((metric(a, b) for b in t2), default=0.0)
    return total / len(t1)


def _wordvec_preprocess(sentence: str) -> list[str]:
    """AbstractWordVectorSimilarity.preprocess
    (AbstractWordVectorSimilarity.java:13-18): lowercase, tokenize,
    English stop-word filter."""
    return [t for t in tokenize(sentence.lower())
            if t.lower() not in STOPWORDS]


def _cosine(v1, v2) -> float:
    dot = sum(a * b for a, b in zip(v1, v2))
    m1 = math.sqrt(sum(a * a for a in v1))
    m2 = math.sqrt(sum(b * b for b in v2))
    if m1 * m2 == 0:
        return float("nan")
    return dot / (m1 * m2)


def word_mover(s1: str, s2: str,
               vectors: dict[str, list[float]]) -> float:
    """WordMoverSimilarity twin (WordMoverSimilarity.java:26-58).
    Quirks kept: token LISTS (duplicates count), and — opposite to the
    token-based variant — the loop iterates the SMALLER list and
    divides by its size; dictionary misses contribute 0."""
    t1, t2 = _wordvec_preprocess(s1), _wordvec_preprocess(s2)
    if len(t1) > len(t2):
        t1, t2 = t2, t1
    total = 0.0
    for a in t1:
        va = vectors.get(a)
        if va is None:
            continue
        best = 0.0
        for b in t2:
            vb = vectors.get(b)
            if vb is not None:
                best = max(best, _cosine(va, vb))
        total += best
    if not t1:
        return float("nan")  # Java 0/0
    return total / len(t1)


def sentence_vector(sentence: str,
                    vectors: dict[str, list[float]],
                    dim: int) -> list[float]:
    """CosineVectorSimilarity.getVectorForSentence
    (CosineVectorSimilarity.java:33-48): sum of token vectors
    (misses skipped), L2-normalized (zero vector -> NaNs, as the Java
    float division does)."""
    acc = [0.0] * dim
    for tok in _wordvec_preprocess(sentence):
        v = vectors.get(tok)
        if v is not None:
            for i, x in enumerate(v):
                acc[i] += x
    mag = math.sqrt(sum(x * x for x in acc))
    return [x / mag if mag else float("nan") for x in acc]


def cosine_vector_similarity(s1: str, s2: str,
                             vectors: dict[str, list[float]],
                             dim: int) -> float:
    """CosineVectorSimilarity.getSimilarity
    (CosineVectorSimilarity.java:26-31)."""
    return _cosine(sentence_vector(s1, vectors, dim),
                   sentence_vector(s2, vectors, dim))


def embedding_vector(text: str, vectors: dict[str, list[float]],
                     dim: int, case_sensitive: bool = False) -> list[float]:
    """EmbeddingTextVectorizer.apply twin
    (EmbeddingTextVectorizer.java:20-48). Quirk kept: the token stream
    is ALWAYS lowercased (`Tokenizer.tokenize(textValue.toLowerCase())`
    regardless of the dictionary's case sensitivity), and the sum is
    scaled by 1/len(ALL tokens), not just the matched ones."""
    del case_sensitive  # lookups happen on lowercased tokens either way
    words = tokenize(text.lower())
    acc = [0.0] * dim
    for w in words:
        v = vectors.get(w)
        if v is not None:
            for i, x in enumerate(v):
                acc[i] += x
    if words:
        acc = [x / len(words) for x in acc]
    return acc


def read_vec_file(path: str, limit: int | None = None
                  ) -> tuple[dict[str, list[float]], int, bool]:
    """MapWordVectorDictionary.readFromVecFile port
    (MapWordVectorDictionary.java:17-60): text `.vec`/GloVe format
    `token v1 v2 ...`; vector size from the first line; the dictionary
    is flagged case-sensitive when any token differs from its
    lowercase form. Returns (vectors, dim, case_sensitive)."""
    entries: dict[str, list[float]] = {}
    dim = -1
    case_sensitive = False
    with open(path, encoding="utf-8") as fh:
        for i, line in enumerate(fh):
            line = line.rstrip("\n")
            sp = line.index(" ")
            token = line[:sp]
            if token != token.lower():
                case_sensitive = True
            vals = [float(x) for x in line[sp + 1:].split(" ")]
            if dim == -1:
                dim = len(vals)
            entries[token] = vals
            if limit is not None and i >= limit:
                break
    return entries, dim, case_sensitive


def save_term_corpus(corpus: TermCorpusLocal, path: str) -> None:
    """MapTermCorpus.save port (MapTermCorpus.java:155-171): gzip text,
    `numDocs#N` header, blank line, `term#count` rows."""
    import gzip
    with gzip.open(path, "wt", encoding="utf-8") as fh:
        fh.write(f"numDocs#{corpus.num_docs}\n\n")
        for term, count in corpus.counts.items():
            fh.write(f"{term}#{count}\n")


def load_term_corpus(path: str) -> TermCorpusLocal:
    """MapTermCorpus.load port (MapTermCorpus.java:124-153): lines
    past the header split on '#'; malformed lines are skipped, exactly
    as the reference does."""
    import gzip
    counts: dict[str, int] = {}
    num_docs = 0
    with gzip.open(path, "rt", encoding="utf-8") as fh:
        for number, line in enumerate(fh):
            line = line.rstrip("\n")
            split = line.split("#")
            if number > 1:
                if len(split) != 2:
                    continue
                counts[split[0]] = counts.get(split[0], 0) \
                    + int(split[1])
            elif line.startswith("numDocs#"):
                num_docs = int(split[1])
    return TermCorpusLocal(counts, num_docs)


def read_word2vec_bin(path: str) -> tuple[dict[str, list[float]],
                                           int, bool]:
    """Word2VecReader.fromBinFile port (Word2VecReader.java:16-90):
    header line `vocab_size vector_size`, then per entry the word up
    to a space (leading newlines skipped) followed by vector_size
    floats. Reference quirks kept: the floats are read BIG-endian
    (the Java reader's explicit ByteOrder, though canonical word2vec
    files are little-endian), and words containing '_' are filtered
    out. Returns (vectors, dim, case_sensitive)."""
    import struct

    with open(path, "rb") as fh:
        header = b""
        while not header.endswith(b"\n"):
            header += fh.read(1)
        vocab_size, vector_size = (int(x) for x in
                                   header.decode("ascii").split(" "))
        entries: dict[str, list[float]] = {}
        case_sensitive = False
        for _ in range(vocab_size):
            wb = b""
            while True:
                c = fh.read(1)
                if c == b" ":
                    break
                if c != b"\n":
                    wb += c
            word = wb.decode("utf-8", errors="replace")
            floats = list(struct.unpack(f">{vector_size}f",
                                        fh.read(4 * vector_size)))
            if "_" not in word:
                entries[word] = floats
            if word != word.lower():
                case_sensitive = True
    return entries, vector_size, case_sensitive


# ------------------------------------------------------- Spark stages


def fit_term_corpus(docs: DataFrame, text_col: str = "text",
                    tokens: Callable[[Column], Column] = norm_tokens,
                    vector_size: int | None = None
                    ) -> tuple[DataFrame, int]:
    """Distributed MapTermCorpus fit: per-document DISTINCT terms
    explode into one (term, doc_count) aggregation — a word-count
    shuffle with map-side combine. Returns (counts df, num_docs).
    vector_size applies the deterministic top-N reduction."""
    counts = (docs
              .select(F.explode(F.array_distinct(tokens(F.col(text_col))))
                      .alias("term"))
              .groupBy("term")
              .agg(F.count("*").cast("int").alias("doc_count")))
    if vector_size is not None:
        counts = (counts
                  .orderBy(F.col("doc_count").desc(), F.col("term").asc())
                  .limit(vector_size))
    return counts, docs.count()


def _tf_expr(strategy: str, c: Column, n: Column, m: Column) -> Column:
    if strategy == "binary":
        return F.when(c > 0, 1.0).otherwise(0.0)
    if strategy == "raw_count":
        return c.cast("double")
    if strategy == "term_frequency":
        return c / n
    if strategy == "log_normalization":
        return F.lit(1.0) + F.log(c)
    if strategy == "double_normalization":
        return F.lit(0.5) + F.lit(0.5) * c / m
    raise ValueError(strategy)


def _idf_expr(strategy: str, df_: Column, num_docs: int,
              m: Column, idf_round: int | None = None) -> Column:
    if strategy == "unary":
        return F.lit(1.0)
    if strategy == "idf":
        out = F.log(F.lit(float(num_docs)) / df_)
    elif strategy == "idf_smooth":
        out = F.log(F.lit(float(num_docs)) / (df_ + 1))
    elif strategy == "idf_max":
        out = F.log((m * df_).cast("double") / (1 + df_))
    else:
        raise ValueError(strategy)
    # ln() can differ in the last ulp across engines; oracle-checked
    # paths round the idf to 7 decimals BEFORE the tf product so both
    # engines multiply identical doubles (the repo ladder)
    return F.round(out, idf_round) if idf_round is not None else out


def vectorize_stage(docs: DataFrame, corpus_counts: DataFrame,
                    num_docs: int, id_col: str = "doc_id",
                    text_col: str = "text",
                    tf: str = "term_frequency", idf: str = "idf",
                    alpha: int = 0,
                    tokens: Callable[[Column], Column] = norm_tokens,
                    round_to: int | None = None,
                    idf_round: int | None = None) -> DataFrame:
    """TextVectorizer as a distributed stage -> (id, term, weight)
    sparse rows. One explode + one (id, term) aggregation; per-doc
    totals via a window over the sparse table; corpus counts join
    BROADCAST. alpha > 0 switches to the full-vocabulary smoothing
    path (doc x vocab cross join — bounded by |docs| * |vocab|, only
    for small vocabularies, like the reference's in-memory loop)."""
    tok = tokens(F.col(text_col))
    exploded = docs.select(F.col(id_col), F.explode(tok).alias("term"))
    counts = (exploded.groupBy(id_col, "term")
              .agg(F.count("*").cast("int").alias("c")))
    w = Window.partitionBy(id_col)
    counts = (counts
              .withColumn("n", F.sum("c").over(w))
              .withColumn("m", F.max("c").over(w)))
    if alpha > 0:
        totals = counts.groupBy(id_col).agg(
            F.first("n").alias("n"), F.first("m").alias("m"))
        grid = totals.crossJoin(F.broadcast(
            corpus_counts.select("term")))
        counts = (grid.join(counts.select(id_col, "term", "c"),
                            [id_col, "term"], "left")
                  .fillna(0, subset=["c"]))
    joined = (counts.join(F.broadcast(corpus_counts), "term", "left")
              .fillna(0, subset=["doc_count"]))
    c = F.col("c") + F.lit(alpha)
    weight = (_tf_expr(tf, c, F.col("n"), F.col("m"))
              * _idf_expr(idf, F.col("doc_count"), num_docs, F.col("m"),
                          idf_round))
    if round_to is not None:
        weight = F.round(weight, round_to)
    return joined.select(F.col(id_col), F.col("term"),
                         weight.alias("weight"))


def doc_weights_tfidfsim(docs: DataFrame, corpus_counts: DataFrame,
                         num_docs: int, id_col: str = "doc_id",
                         text_col: str = "text", binarize: bool = False,
                         tokens: Callable[[Column], Column] = norm_tokens,
                         idf_round: int | None = None) -> DataFrame:
    """Per-document weights under TfIdfSimilarity semantics
    (TfIdfSimilarity.java:53-76): tf = count / total_tokens (dups
    count in the denominator), idf = 1 + ln(numDocs / (df + 1))
    (AbstractTermCorpus.java:7-14, smoothing=true). Returns
    (id, term, weight, norm) — norm is the document's L2 norm, shared
    across every pair the document participates in."""
    tok = tokens(F.col(text_col))
    exploded = docs.select(F.col(id_col), F.explode(tok).alias("term"))
    counts = (exploded.groupBy(id_col, "term")
              .agg(F.count("*").cast("int").alias("c")))
    w = Window.partitionBy(id_col)
    counts = counts.withColumn("n", F.sum("c").over(w))
    c = F.lit(1).cast("int") if binarize else F.col("c")
    joined = (counts.join(F.broadcast(corpus_counts), "term", "left")
              .fillna(0, subset=["doc_count"]))
    idf = F.lit(1.0) + F.log(F.lit(float(num_docs))
                             / (F.col("doc_count") + 1))
    if idf_round is not None:
        idf = F.round(idf, idf_round)
    weight = (c / F.col("n")) * idf
    weighted = joined.select(F.col(id_col), F.col("term"),
                             weight.alias("weight"))
    norm = F.sqrt(F.sum(F.col("weight") * F.col("weight")).over(
        Window.partitionBy(id_col)))
    return weighted.withColumn("norm", norm)


def tfidf_pair_sim_stage(pairs: DataFrame, weights: DataFrame,
                         a_col: str = "a_id", b_col: str = "b_id",
                         id_col: str = "doc_id",
                         round_to: int | None = None) -> DataFrame:
    """Cosine for each candidate pair from per-document weight rows:
    dot = sum over shared terms, norms precomputed per document.
    Pairs are expected pre-blocked (LSH bands / id windows) — the
    joins are equi-joins on (pair id, term), never all-pairs."""
    wa = weights.select(F.col(id_col).alias(a_col),
                        F.col("term"),
                        F.col("weight").alias("wa"),
                        F.col("norm").alias("na"))
    wb = weights.select(F.col(id_col).alias(b_col),
                        F.col("term"),
                        F.col("weight").alias("wb"),
                        F.col("norm").alias("nb"))
    dots = (pairs.join(wa, a_col).join(wb, [b_col, "term"])
            .groupBy(a_col, b_col)
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"),
                 F.first("na").alias("na"), F.first("nb").alias("nb")))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    # pairs with no shared term have dot 0 -> cosine 0, but the join
    # dropped them; restore with a left join. (A pair with an EMPTY
    # token list on either side also lands here as 0.0 — the reference
    # returns float NaN for those; callers filter empty docs first.)
    return (pairs.join(dots, [a_col, b_col], "left")
            .select(F.col(a_col), F.col(b_col),
                    F.coalesce(cos, F.lit(0.0)).alias("cosine")))


def preprocess_tokens_udf(fs: FeatureSetting):
    """Arrow-batched Palladian-Preprocessor tokenizer for the parity
    path (char/word n-grams, stemming, stopwords) — use as the
    `tokens=` argument of the fit/vectorize stages when reference
    Preprocessor semantics are required instead of `norm_tokens`."""
    @F.pandas_udf("array<string>")
    def _tok(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: preprocess(t or "", fs))

    return _tok


def word_mover_pairs_stage(pairs: DataFrame, fs: FeatureSetting,
                           metric: str = "jaro_winkler",
                           a_col: str = "a_text", b_col: str = "b_text",
                           round_to: int | None = None) -> DataFrame:
    """TokenBasedWordMoverSimilarity over candidate pairs carrying
    both texts — ONE Arrow pass, greedy max-similarity per token of
    the larger set (quadratic per pair, bounded by token counts, never
    by corpus size)."""
    m = {"jaro_winkler": jaro_winkler_similarity,
         "levenshtein": levenshtein_similarity}[metric]

    @F.pandas_udf("double")
    def _sim(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([
            token_word_mover(x or "", y or "", fs, m)
            for x, y in zip(a, b)])

    return pairs.withColumn(
        "similarity", _sim(F.col(a_col), F.col(b_col)))


def embedding_vectorize_stage(docs: DataFrame,
                              vectors: dict[str, list[float]],
                              dim: int, id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """EmbeddingTextVectorizer as a stage: mean word vector per
    document (array<double> column). The dictionary broadcasts with
    the Arrow UDF closure — word-vector dictionaries are
    vocabulary-sized, the corpus never shuffles."""
    @F.pandas_udf("array<double>")
    def _vec(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: embedding_vector(t or "", vectors, dim))

    return docs.select(F.col(id_col), _vec(F.col(text_col))
                       .alias("embedding"))
