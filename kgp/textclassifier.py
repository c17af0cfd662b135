"""Generic Palladian text classifier — scorer zoo + preprocessor.

Semantics re-derived from
/root/reference/palladian-core/src/main/java/ws/palladian/classification/text/PalladianTextClassifier.java:196-271
(training collects a per-document term SET capped at maxTerms;
classification scores unique terms with per-document counts, including
non-matching categories when the scorer asks for smoothing),
BayesScorer.java:78-106 (Laplace / priors / tf-idf frequencies /
complement options) and Preprocessor.java:40-70 + FeatureSetting
defaults (:64-94 — min/max term length 3/20, maxTerms 800, stemming
and stopword removal off by default).

The NER pipeline keeps the DefaultScorer char-gram path (its Spark
aggregation lives in kgp.mentions); this module is the standalone
classifier with the full knob set, usable inside any pandas UDF.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from math import log

from kgp.textstats import STOPWORDS_EN
from kgp.tokenize import char_ngrams, tokenize, word_ngrams

# ------------------------------------------------------ feature setting


@dataclass(frozen=True)
class FeatureSetting:
    mode: str = "char"          # char | word
    min_ngram: int = 4
    max_ngram: int = 7
    max_terms: int = 800
    padding: bool = False
    stem: bool = False
    remove_stopwords: bool = False
    min_term_len: int = 3
    max_term_len: int = 20
    case_sensitive: bool = False
    skip_grams: bool = False


STOPWORDS = set(STOPWORDS_EN) | {
    "this", "are", "but", "not", "or", "from", "they", "we", "his",
    "her", "she", "he", "have", "has", "had", "were", "been", "their",
    "which", "you", "all", "can", "will", "would", "there", "what",
}


def porter_stem(word: str) -> str:
    """Compact Porter stemmer (M.F. Porter 1980, public-domain
    algorithm) — steps 1a/1b/1c and the common suffix strips.
    Superseded as the reference-parity stemmer by kgp.stemmer
    (real Snowball English/German); kept as the lightweight
    public-algorithm utility."""
    w = word.lower()
    if len(w) <= 2:
        return w

    def measure(s: str) -> int:
        m, prev_v = 0, False
        for ch in s:
            v = ch in "aeiou" or (prev_v and ch == "y")
            if prev_v and not v:
                m += 1
            prev_v = v
        return m

    def has_vowel(s: str) -> bool:
        prev = False
        for ch in s:
            if ch in "aeiou" or (prev and ch == "y"):
                return True
            prev = ch not in "aeiou"
        return False

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    if w.endswith("eed"):
        if measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and has_vowel(w[:-2]):
        w = w[:-2]
        w = _post_1b(w)
    elif w.endswith("ing") and has_vowel(w[:-3]):
        w = w[:-3]
        w = _post_1b(w)
    # step 1c
    if w.endswith("y") and has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # common step-2/3/4 strips (measure-guarded)
    for suf, rep in (("ational", "ate"), ("tional", "tion"),
                     ("iveness", "ive"), ("fulness", "ful"),
                     ("ousness", "ous"), ("ization", "ize"),
                     ("biliti", "ble"), ("entli", "ent"),
                     ("ation", "ate"), ("alism", "al"), ("aliti", "al"),
                     ("iviti", "ive"), ("ement", ""), ("ment", ""),
                     ("ness", ""), ("able", ""), ("ible", ""),
                     ("ance", ""), ("ence", ""), ("alli", "al"),
                     ("ful", ""), ("ous", ""), ("ive", ""), ("ize", "")):
        if w.endswith(suf) and measure(w[:-len(suf)]) > 0:
            w = w[:-len(suf)] + rep
            break
    return w


def _post_1b(w: str) -> str:
    if w.endswith(("at", "bl", "iz")):
        return w + "e"
    if len(w) >= 2 and w[-1] == w[-2] and w[-1] not in "aeioulsz":
        return w[:-1]
    return w


def preprocess(text: str, fs: FeatureSetting) -> list[str]:
    """Preprocessor.apply port (Preprocessor.java:40-70): char n-grams
    or tokenized words with optional stemming / stopword removal /
    length filter, then word n-grams."""
    if not fs.case_sensitive:
        text = text.lower()
    if fs.mode == "char":
        return char_ngrams(text, fs.min_ngram, fs.max_ngram,
                           padding=fs.padding)
    tokens = tokenize(text)
    if fs.stem:
        # Preprocessor.java:104 stems with the RAW snowball stemmer
        # (no WordTransformer exception maps)
        from kgp.stemmer import snowball_en
        tokens = [snowball_en(t) for t in tokens]
    if fs.remove_stopwords:
        tokens = [t for t in tokens if t.lower() not in STOPWORDS]
    tokens = [t for t in tokens
              if fs.min_term_len <= len(t) <= fs.max_term_len]
    grams = word_ngrams(tokens, fs.min_ngram, fs.max_ngram)
    if fs.skip_grams:
        # SkipGramWrapperIterator (SkipGramWrapperIterator.java:20-44):
        # each n-gram of > 2 words is followed by "first last"
        out = []
        for g in grams:
            out.append(g)
            parts = g.split(" ")
            if len(parts) > 2:
                out.append(parts[0] + " " + parts[-1])
        return out
    return grams


# ------------------------------------------------------ dictionary model


@dataclass
class DictModel:
    """DictionaryModel counterpart: per-term category counts plus the
    aggregate statistics the Bayes scorer needs."""
    entries: dict[str, dict[str, int]] = field(default_factory=dict)
    doc_counts: Counter = field(default_factory=Counter)   # per category

    @property
    def category_sums(self) -> Counter:
        sums: Counter = Counter()
        for cats in self.entries.values():
            for cat, n in cats.items():
                sums[cat] += n
        return sums

    @property
    def num_uniq_terms(self) -> int:
        return len(self.entries)

    @property
    def num_docs(self) -> int:
        return sum(self.doc_counts.values())

    @property
    def num_terms(self) -> int:
        return sum(self.category_sums.values())


def train(instances: list[tuple[str, str]], fs: FeatureSetting) -> DictModel:
    """PalladianTextClassifier.train port (:196-210): each document
    contributes its term SET (capped at maxTerms) once per category."""
    model = DictModel()
    for text, category in instances:
        terms: set[str] = set()
        for t in preprocess(text, fs):
            if len(terms) >= fs.max_terms:
                break
            terms.add(t)
        for t in terms:
            model.entries.setdefault(t, {})[category] = \
                model.entries.get(t, {}).get(category, 0) + 1
        model.doc_counts[category] += 1
    return model


# ------------------------------------------------------------- scorers


class DefaultScorer:
    """Squared term-category probability (PalladianTextClassifier.java:
    101-133)."""

    score_non_matches = False

    def score(self, term, category, term_cat_count, dict_count,
              doc_count, category_sum, num_uniq, num_docs, num_terms):
        if dict_count == 0:
            return 0.0
        p = term_cat_count / dict_count
        return p * p

    def score_category(self, category, summed, probability, matched):
        return summed if matched else probability


class CategoryEqualizationScorer(DefaultScorer):
    """ExperimentalScorers.CategoryEqualizationScorer (:19-25)."""

    def score_category(self, category, summed, probability, matched):
        s = super().score_category(category, summed, probability, matched)
        return s / probability if matched else s


class BayesScorer:
    """Naive Bayes with Laplace / priors / tf-idf / complement options
    (BayesScorer.java:78-106); all options on by default."""

    def __init__(self, laplace=True, priors=True, frequencies=True,
                 complement=True):
        self.laplace, self.priors = laplace, priors
        self.frequencies, self.complement = frequencies, complement

    @property
    def score_non_matches(self):
        return self.laplace or self.complement

    def score(self, term, category, term_cat_count, dict_count,
              doc_count, category_sum, num_uniq, num_docs, num_terms):
        numerator = ((dict_count - term_cat_count if self.complement
                      else term_cat_count)
                     + (1 if self.laplace else 0))
        denominator = ((num_terms - category_sum if self.complement
                        else category_sum)
                       + (num_uniq if self.laplace else 0))
        if numerator == 0 or denominator == 0:
            return 0.0
        if self.frequencies:
            idf = log((num_docs + 1) / (dict_count + 1))
            weight = log(doc_count + 1) * idf
        else:
            weight = doc_count
        return weight * log(numerator / denominator)

    def score_category(self, category, summed, probability, matched):
        if matched:
            return ((-1 if self.complement else 1) * summed
                    + (log(probability) if self.priors else 0.0))
        return probability


def classify(text: str, model: DictModel, fs: FeatureSetting,
             scorer=None, allowed: set | None = None) -> dict[str, float]:
    """classify port (:213-271): unique terms with per-document counts
    (capped at maxTerms unique), non-match scoring when the scorer
    needs smoothing, final scoreCategory over the model's document
    distribution. Returns the raw category scores; argmax is the
    predicted class.

    ``allowed`` reproduces FocusDictionaryDecorator.java:27-160: only
    the given categories are scored and returned, but every AGGREGATE
    statistic (per-term total count, numDocuments, numUniqTerms,
    numTerms) stays unfiltered — the decorator's getTotalCount()
    deliberately returns the wrapped total ("this is not correct; but
    ... calculating this here would take too much time")."""
    scorer = scorer or DefaultScorer()
    term_counts: Counter = Counter()
    for t in preprocess(text, fs):
        if len(term_counts) >= fs.max_terms and t not in term_counts:
            continue
        term_counts[t] += 1
    # the aggregate model statistics are O(|entries|) properties —
    # evaluate them ONCE per model (memoized on the instance; training
    # always finishes before classification starts), not once per
    # (term, category): a 10^5-term scope model otherwise spends
    # seconds per document
    stats = model.__dict__.get("_stats_cache")
    if stats is None:
        sums = model.category_sums
        stats = (sums, model.num_uniq_terms, model.num_docs,
                 sum(sums.values()))
        model.__dict__["_stats_cache"] = stats
    sums, num_uniq, num_docs_stat, num_terms = stats
    builder: dict[str, float] = {}
    for term, doc_count in term_counts.items():
        cats = model.entries.get(term, {})
        dict_count = sum(cats.values())
        matched_cats = set()
        for cat, count in cats.items():
            if allowed is not None and cat not in allowed:
                continue
            s = scorer.score(term, cat, count, dict_count, doc_count,
                             sums[cat], num_uniq, num_docs_stat,
                             num_terms)
            builder[cat] = builder.get(cat, 0.0) + s
            matched_cats.add(cat)
        if scorer.score_non_matches:
            for cat, category_sum in sums.items():
                if allowed is not None and cat not in allowed:
                    continue
                if cat not in matched_cats:
                    s = scorer.score(term, cat, 0, dict_count, doc_count,
                                     category_sum, num_uniq,
                                     num_docs_stat, num_terms)
                    builder[cat] = builder.get(cat, 0.0) + s
    matched = any(v != 0 for v in builder.values())
    num_docs = model.num_docs or 1
    out: dict[str, float] = {}
    for cat, n in model.doc_counts.items():
        if allowed is not None and cat not in allowed:
            continue
        probability = n / num_docs
        out[cat] = scorer.score_category(cat, builder.get(cat, 0.0),
                                         probability, matched)
    return out


def most_likely(scores: dict[str, float]) -> str:
    return max(sorted(scores), key=lambda k: scores[k])


# --------------------------------------------- language identification
# PalladianLangDetect shape (classification/language/
# PalladianLangDetect.java:44-77): a plain text classifier over char
# 4..7-grams, one category per language. The pipeline's hot-path
# lang_id (kgp.textstats) stays the SQL-reproducible marker-word
# heuristic; this is the trainable classifier variant for corpora
# where markers are not enough.

LANG_FEATURE_SETTING = FeatureSetting(mode="char", min_ngram=4,
                                      max_ngram=7)


def detect_language(text: str, model: DictModel,
                    fs: FeatureSetting = LANG_FEATURE_SETTING,
                    scorer=None) -> str:
    return most_likely(classify(text, model, fs, scorer))


# ----------------------------------------------- pruning strategies


def category_entropy(counts: dict[str, int]) -> float:
    """CategoryEntries.getEntropy (AbstractCategoryEntries via
    CountingCategoryEntriesBuilder): Shannon entropy, base 2, over
    the category count distribution."""
    total = sum(counts.values())
    if total == 0:
        return 0.0
    ent = 0.0
    for n in counts.values():
        if n > 0:
            p = n / total
            ent -= p * log(p, 2)
    return ent


def information_gain(model: DictModel, term: str) -> float:
    """InformationGainPruningStrategy.getInformationGain
    (PruningStrategies.java:103-116): starts from the document-count
    entropy and adds the term / not-term conditional contributions,
    guarding each log on a positive count exactly as written."""
    entries = model.entries.get(term, {})
    num_docs = model.num_docs
    ig = category_entropy(model.doc_counts)
    p_term = sum(entries.values()) / num_docs
    p_not_term = 1 - p_term
    for cat, doc_count in model.doc_counts.items():
        count_term = entries.get(cat, 0)
        count_not_term = doc_count - count_term
        p_term_cat = count_term / num_docs
        p_not_term_cat = count_not_term / num_docs
        if count_term > 0:
            ig += p_term_cat * log(p_term_cat / p_term, 2)
        if count_not_term > 0:
            ig += p_not_term_cat * log(p_not_term_cat / p_not_term, 2)
    return ig


def prune_term_count(model: DictModel, min_count: int) -> DictModel:
    """TermCountPruningStrategy (PruningStrategies.java:36-55): keep
    terms whose total count >= minCount; document counts (and so
    numDocuments) survive pruning, as in DictionaryTrieModel."""
    if min_count <= 0:
        raise ValueError("minCount must be greater zero")
    kept = {t: dict(cats) for t, cats in model.entries.items()
            if sum(cats.values()) >= min_count}
    return DictModel(entries=kept,
                     doc_counts=Counter(model.doc_counts))


def prune_information_gain(model: DictModel,
                           threshold: float) -> DictModel:
    """InformationGainPruningStrategy as a model transform: keep
    terms with IG >= threshold (PruningStrategies.java:119-121)."""
    if threshold < 0:
        raise ValueError("threshold must be greater/equal zero")
    kept = {t: dict(cats) for t, cats in model.entries.items()
            if information_gain(model, t) >= threshold}
    return DictModel(entries=kept,
                     doc_counts=Counter(model.doc_counts))


def analyze(text: str, fs: FeatureSetting) -> list[str]:
    """FeatureSettingAnalyzer.analyze twin (experimental scope stack,
    FeatureSettingAnalyzer.java:60-99): the same term extraction as
    preprocess, but run through Lucene's LimitTokenCountFilter — a
    hard cap of maxTerms TOKENS on the stream (:74), unlike the core
    trainers' unique-term cap."""
    return preprocess(text, fs)[:fs.max_terms]
