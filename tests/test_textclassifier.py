"""Classifier zoo parity — Manning IR-book example goldens from
PalladianTextClassifierTest.java:22-64."""

from __future__ import annotations

import pytest

from kgp.textclassifier import (BayesScorer, CategoryEqualizationScorer,
                                DefaultScorer, FeatureSetting, classify,
                                most_likely, porter_stem, preprocess,
                                train)

FS_WORDS = FeatureSetting(mode="word", min_ngram=1, max_ngram=1)

DOCS = [("Chinese Beijing Chinese", "yes"),
        ("Chinese Chinese Shanghai", "yes"),
        ("Chinese Macao", "yes"),
        ("Tokyo Japan Chinese", "no")]
TEST_TEXT = "Chinese Chinese Chinese Tokyo Japan"


def probabilities(scores: dict[str, float]) -> dict[str, float]:
    # CategoryEntriesBuilder.create semantics (:135-149): score/total,
    # inverted when the total is negative (summed log probabilities)
    total = sum(scores.values())
    if total == 0:
        return {k: 0.0 for k in scores}
    out = {k: v / total for k, v in scores.items()}
    if total < 0:
        out = {k: 1 - v for k, v in out.items()}
    return out


def test_default_scorer_manning_example():
    model = train(DOCS, FS_WORDS)
    scores = classify(TEST_TEXT, model, FS_WORDS, DefaultScorer())
    probs = probabilities(scores)
    assert most_likely(scores) == "no"
    assert probs["no"] == pytest.approx(0.79, abs=0.01)


def test_bayes_scorer_priors_manning_example():
    model = train(DOCS, FS_WORDS)
    scores = classify(TEST_TEXT, model, FS_WORDS,
                      BayesScorer(laplace=False, priors=True,
                                  frequencies=False, complement=False))
    probs = probabilities(scores)
    assert most_likely(scores) == "yes"
    assert probs["yes"] == pytest.approx(0.74, abs=0.01)


def test_bayes_scorer_complement_manning_example():
    model = train(DOCS, FS_WORDS)
    scores = classify(TEST_TEXT, model, FS_WORDS,
                      BayesScorer(laplace=False, priors=True,
                                  frequencies=False, complement=True))
    probs = probabilities(scores)
    assert most_likely(scores) == "yes"
    assert probs["yes"] == pytest.approx(0.88, abs=0.01)


def test_equalization_scorer_divides_by_prior():
    model = train(DOCS, FS_WORDS)
    default = classify(TEST_TEXT, model, FS_WORDS, DefaultScorer())
    eq = classify(TEST_TEXT, model, FS_WORDS,
                  CategoryEqualizationScorer())
    # "no" is the rare class (prior 1/4) — equalization boosts it 4x
    # relative to "yes" (3/4)
    assert eq["no"] / default["no"] == pytest.approx(4.0)
    assert eq["yes"] / default["yes"] == pytest.approx(4.0 / 3.0)


def test_max_terms_cap():
    fs = FeatureSetting(mode="word", min_ngram=1, max_ngram=1,
                        max_terms=2)
    model = train([("alpha bravo charlie delta", "x")], fs)
    assert model.num_uniq_terms == 2  # capped at 800-style limit


def test_word_mode_stem_and_stopwords():
    fs = FeatureSetting(mode="word", min_ngram=1, max_ngram=1,
                        stem=True, remove_stopwords=True)
    terms = preprocess("The runners are running quickly", fs)
    assert "the" not in terms and "are" not in terms
    assert porter_stem("running") == "run"
    assert porter_stem("ponies") == "poni"
    assert porter_stem("caresses") == "caress"
    assert porter_stem("hopping") == "hop"
    assert porter_stem("relational") == "relate"


def test_term_length_filter():
    fs = FeatureSetting(mode="word", min_ngram=1, max_ngram=1)
    terms = preprocess("an ox jumped extraordinarily", fs)
    assert "an" not in terms and "ox" not in terms
    assert "jumped" in terms


def test_language_classifier_chars():
    from kgp.textclassifier import (LANG_FEATURE_SETTING, detect_language,
                                    train)
    samples = [
        ("the quick brown fox jumps over the lazy dog", "en"),
        ("she sells sea shells by the sea shore", "en"),
        ("der schnelle braune fuchs springt über den faulen hund", "de"),
        ("die würde des menschen ist unantastbar und wichtig", "de"),
        ("le renard brun rapide saute par dessus le chien", "fr"),
        ("tous les êtres humains naissent libres et égaux", "fr"),
    ]
    model = train(samples, LANG_FEATURE_SETTING)
    assert detect_language("the dog was very lazy that day", model) == "en"
    assert detect_language("der hund springt über den zaun", model) == "de"
    assert detect_language("le chien saute par dessus la barrière",
                           model) == "fr"


def test_skip_grams():
    """SkipGramWrapperIteratorTest: 1- and 2-word grams pass through
    unchanged; a 3-word gram is followed by 'first last'."""
    from kgp.textclassifier import FeatureSetting, preprocess
    fs = FeatureSetting(mode="word", min_ngram=3, max_ngram=3,
                        min_term_len=1, max_term_len=100,
                        skip_grams=True)
    assert preprocess("the quick brown", fs) == \
        ["the quick brown", "the brown"]
    fs2 = FeatureSetting(mode="word", min_ngram=1, max_ngram=2,
                         min_term_len=1, max_term_len=100,
                         skip_grams=True)
    got = preprocess("the quick", fs2)
    assert got == ["the", "quick", "the quick"]
