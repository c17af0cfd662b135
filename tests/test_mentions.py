"""NER stage: StringTagger parity, fix-up passes, corpus golden mentions.

Span expectations re-derived from the reference's unit tests
(/root/reference/palladian-core/src/test/java/ws/palladian/extraction/entity/StringTaggerTest.java:14-80,
 .../tagger/PalladianNerTest.java:19-51).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgp import constants as C
from kgp.corpus import seed_dictionary, synth_pages, training_docs
from kgp.html_text import extract_stage
from kgp.mentions import (NerModel, candidate_annotations, detect_mentions,
                          fix_start_errors, get_character_context,
                          get_left_contexts, get_sub_phrases,
                          is_date_fragment, model_from_rows,
                          ner_model_table, remove_date_fragment,
                          remove_nested, unwrap_entities,
                          unwrap_with_context, Candidate)


def values(text):
    return [c.value for c in candidate_annotations(text)]


# ------------------------------------------- StringTagger parity cases


def test_tagger_abbreviations():
    text = ("the United States of America (USA) are often called the USA, "
            "the U.S.A., or simply the U.S., the U.S.S. Enterprise is a "
            "space ship.")
    assert values(text) == ["United States of America", "USA", "USA",
                            "U.S.A.", "U.S.", "U.S.S. Enterprise"]


def test_tagger_llc():
    text = ("The outfit that stages the festival, Black Rock City LLC, is "
            "now a $23 million-per-year concern with 40 full-time "
            "employees, hundreds of volunteers, and a non-profit arts "
            "foundation that doles out grants.")
    got = values(text)
    assert len(got) == 2
    assert got[1] == "Black Rock City LLC"


def test_tagger_names():
    text = ("Mr. Yakomoto, John J. Smith, and Bill Drody cooperate with "
            "T. Shéff, L.Carding, T.O'Brian, Harry O'Sullivan and O'Brody.")
    got = values(text)
    for want in ["Mr. Yakomoto", "John J. Smith", "Bill Drody", "T. Shéff",
                 "L.Carding", "T.O'Brian", "Harry O'Sullivan", "O'Brody"]:
        assert want in got, (want, got)


def test_tagger_long_names():
    got = values("Mayor Bobby E. Horton called the Special Council Meeting "
                 "of the West Columbia Council to order on Monday.")
    assert got[0] == "Mayor Bobby E. Horton"


def test_tagger_composites():
    assert values("Dolce & Gabana as well as S&P are companies.") == [
        "Dolce & Gabana", "S&P"]


def test_tagger_corpus_sentence():
    got = values("John Smith, the chief executive officer of Acme Corp, "
                 "spoke in Springfield on Monday.")
    assert got == ["John Smith", "Acme Corp", "Springfield", "Monday"]


def test_tagger_offsets():
    anns = candidate_annotations("met Acme Corp today")
    assert anns[0].start == 4
    assert anns[0].value == "Acme Corp"


# Full-span parity with StringTaggerTest.testTagString (:14-235); every
# assertEquals block of the reference test is one case here.

def test_tagger_names_full():
    text = ("Mr. Yakomoto, John J. Smith, and Bill Drody cooperate with "
            "T. Shéff, L.Carding, T.O'Brian, Harry O'Sullivan and "
            "O'Brody. they are partying on Saturday's night special, "
            "Friday's Night special or THURSDAY'S, in St. Petersburg "
            "there is Dr. Mark Litwin")
    assert values(text) == [
        "Mr. Yakomoto", "John J. Smith", "Bill Drody", "T. Shéff",
        "L.Carding", "T.O'Brian", "Harry O'Sullivan", "O'Brody",
        "Saturday", "Friday", "Night", "THURSDAY", "St. Petersburg",
        "Dr. Mark Litwin"]


def test_tagger_long_names_full():
    text = ("Mayor Bobby E. Horton called the Special Council Meeting of "
            "the West Columbia Council to order on Monday, March 16, 2009 "
            "at 6 pm.")
    got = values(text)
    assert len(got) == 5
    assert got[0] == "Mayor Bobby E. Horton"


def test_tagger_fill_words():
    text = ("the Republic of Ireland, and Return of King Arthur, the "
            "National Bank of Scotland, Erin Purcell of Boston-based "
            "Reagan Communications")
    assert values(text) == [
        "Republic of Ireland", "Return of King Arthur",
        "National Bank of Scotland", "Erin Purcell", "Boston-based",
        "Reagan Communications"]


def test_tagger_dashes():
    text = ("Maria-Hillary Johnson lives on Chester-le-Street and "
            "Ontario-based Victor Vool, the All-England Club and Patricia "
            "Djate-Taillard were in the United Nations-sponsored ceasfire "
            "with St. Louis-based NFL coach trains in MG-Gym (MG-GYM), "
            "the Real- Rumble, TOTALLY FREE- Choice, Australia-- Germany")
    assert values(text) == [
        "Maria-Hillary Johnson", "Chester-le-Street", "Ontario-based",
        "Victor Vool", "All-England Club", "Patricia Djate-Taillard",
        "United Nations-sponsored", "St. Louis-based", "NFL", "MG-Gym",
        "MG-GYM", "Real", "Rumble", "TOTALLY FREE", "Choice", "Australia",
        "Germany"]


def test_tagger_apostrophes():
    text = ("Early in 1939, Georgia O’Keeffe, the artist most famous for "
            "depicting the arid Southwest, suddenly decided to paint "
            "America’s diametrically opposite landscape — the lush "
            "tropical valleys of Hawaii.")
    assert values(text) == ["Early", "Georgia O’Keeffe", "Southwest",
                            "America", "Hawaii"]


def test_tagger_gmbh():
    got = values("The Adam Opel GmbH unit is based in Germany.")
    assert got[0] == "The Adam Opel GmbH"


def test_tagger_inc_suffix_dot():
    text = ("In 2009, GM scrapped a plan — favored by Berlin — to sell a "
            "majority stake to a consortium led by Canadian auto parts "
            "maker Magna International Inc. and decided to restructure "
            "the brands itself instead.")
    assert values(text)[4] == "Magna International Inc."


def test_tagger_co_suffix_dot():
    text = ("General Motors Co.'s Opel unit said Monday that it plans to "
            "end car production at one plant in Germany in 2016, but a "
            "slimmed-down factory may continue to make components.")
    assert values(text)[0] == "General Motors Co."


def test_tagger_small_start_and_camel_case():
    text = ("the last ex-England, mid-SCORER player, al-Rama is a person "
            "Rami al-Sadani, the iPhone 4 is a phone. Veronica Swenston "
            "VENICE alternative Frank HERALD which was found at Universal "
            "Orlando® Resort")
    assert values(text) == [
        "ex-England", "mid-SCORER", "al-Rama", "Rami al-Sadani",
        "iPhone 4", "Veronica Swenston", "VENICE", "Frank", "HERALD",
        "Universal Orlando® Resort"]


def test_tagger_ave_suffix_dot():
    got = values("Sterling Cooper is located on Madison Ave. in New York "
                 "City.")
    assert len(got) == 3
    assert got[1] == "Madison Ave."


def test_tagger_accents():
    assert values("the city is called Yaoundé and that's a fact") == \
        ["Yaoundé"]


def test_tagger_non_breaking_space():
    # NBSP between "West Virginia" — RegExTagger normalizes it
    text = ("Up to 300,000 people in West Virginia have been told "
            "not to drink tap water after the spill of a dangerous "
            "chemical sparked a federal emergency.")
    got = values(text)
    assert len(got) == 2
    assert got[1] == "West Virginia"


def test_tagger_l_arc():
    got = values("A Short History of L’Arc de Triomphe.")
    assert len(got) == 2
    assert got[1] == "L’Arc de Triomphe"


# ------------------------------------------------------ fix-up passes


def test_date_fragments():
    assert is_date_fragment("Monday")
    assert is_date_fragment("June")
    assert not is_date_fragment("John Smith")
    assert remove_date_fragment(0, "June John Hiatt") == (5, "John Hiatt")
    assert remove_date_fragment(10, "John Hiatt") is None


def test_remove_nested():
    # (start, end): second is nested in first; third overlaps -> kept
    spans = [(0, 10), (2, 6), (8, 14)]
    assert remove_nested(spans) == [0, 2]


def test_is_date_fragment_case_variants():
    # PalladianNerTest.testContainsDateFragment (:39-52): ALL-CAPS and
    # trailing-space variants are fragments too
    assert is_date_fragment("January")
    assert is_date_fragment("JANUARY")
    assert is_date_fragment("January ")
    assert not is_date_fragment("June John Hiatt")


def test_remove_date_fragment_palladian_cases():
    # PalladianNerTest.testRemoveDateFragment (:19-37)
    assert remove_date_fragment(10, "June John Hiatt") == (15, "John Hiatt")
    assert remove_date_fragment(0, "John Hiatt June") == (0, "John Hiatt")
    assert remove_date_fragment(0, "Apr. John Hiatt") == (5, "John Hiatt")
    assert remove_date_fragment(0, "John Hiatt Apr.") == (0, "John Hiatt")


def test_get_left_contexts_palladian_golden():
    # PalladianNerTest.testGetLeftContexts (:54-64)
    text = ("Blistering heat blanketed much of the eastern United States "
            "for the third straight day on Sunday, after violent storms "
            "that took at least a dozen lives and knocked out power to "
            "more than 3 million customers.")
    got = get_left_contexts(text, text.index("United States"), 3)
    assert got == ["eastern", "the eastern", "of the eastern"]


def test_get_left_contexts_masks_digits():
    assert get_left_contexts("in 1984 Acme", 8, 2) == ["§§§§", "in §§§§"]


def test_get_character_context_window():
    # NerHelper.getCharacterContext (:300-308): trimmed ±40, '__' joined
    text = "x" * 50 + " before ENTITY after " + "y" * 50
    s = text.index("ENTITY")
    ctx = get_character_context(text, s, s + 6)
    left, right = ctx.split("__")
    assert right == "after " + "y" * 33   # 40 raw chars, space trimmed
    assert left == "x" * 32 + " before"   # 40 raw chars, trimmed
    assert len(left) <= 40 and len(right) <= 40


def test_get_sub_phrases():
    assert get_sub_phrases("a b c") == ["a", "a b", "a b c", "b", "b c",
                                        "c"]


def _model(**kw) -> NerModel:
    base = dict(entity_dict={}, annotation_dict={}, priors={})
    base.update(kw)
    return NerModel(**base)


def test_unwrap_entities_uppercase():
    # PalladianNer.unwrapEntities/unwrapAnnotations (:774-790, 917-944):
    # an all-caps annotation splits into known sub-phrases
    model = _model(entity_dict={"new york city": "CITY"})
    cands = [Candidate(0, "NEW YORK CITY AND DRESDEN"),
             Candidate(40, "Dresden")]
    out = unwrap_entities(cands, model)
    vals = {(c.start, c.value) for c in out}
    assert (0, "NEW YORK CITY") in vals          # from entity dict
    assert (18, "DRESDEN") in vals               # from other annotation
    assert (40, "Dresden") in vals
    assert not any(c.value == "NEW YORK CITY AND DRESDEN" for c in out)


def test_unwrap_with_context():
    # PalladianNer.unwrapWithContext (:695-744): learned left context
    # "President" splits the annotation; dictionary surfaces in the
    # prefix are re-added
    model = _model(entity_dict={"russia": "COUNTRY"},
                   left_contexts={"President"})
    out = unwrap_with_context([Candidate(10, "President Barack Obama")],
                              model)
    vals = {(c.start, c.value) for c in out}
    assert (20, "Barack Obama") in vals
    assert not any("President" in c.value for c in out)
    # internal occurrence (" President ") with a known prefix entity
    out2 = unwrap_with_context(
        [Candidate(0, "Russia President Putin")], model)
    vals2 = {(c.start, c.value) for c in out2}
    assert (17, "Putin") in vals2
    assert (0, "Russia") in vals2


def test_fix_start_errors_case_dictionary():
    # PalladianNer.fixStartErrorsWithCaseDictionary (:628-668)
    model = _model(entity_dict={"obama": "PER"},
                   case_dict={"the", "new"})
    out = fix_start_errors([Candidate(5, "The Obama")], model)
    assert [(c.start, c.value) for c in out] == [(9, "Obama")]
    # all tokens case-dict words -> dropped entirely
    out2 = fix_start_errors([Candidate(0, "The New")], model)
    assert out2 == []
    # stops when remainder is a dictionary surface
    out3 = fix_start_errors([Candidate(0, "New Obama")], model)
    assert [(c.start, c.value) for c in out3] == [(4, "Obama")]
    # single tokens untouched
    out4 = fix_start_errors([Candidate(0, "The")], model)
    assert [(c.start, c.value) for c in out4] == [(0, "The")]


# --------------------------------------------------- corpus golden NER


@pytest.fixture(scope="module")
def mention_rows(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    docs = extract_stage(pages).cache()
    seed_rows = seed_dictionary(spark).select("entity", "concept").collect()
    model = model_from_rows(
        ner_model_table(training_docs(docs), seed_rows).collect())
    bc = spark.sparkContext.broadcast(model)
    rows = detect_mentions(docs, bc).collect()
    docs.unpersist()
    return rows


def golden_mentions(doc_id: int) -> set[tuple[str, str]]:
    per = C.PERSONS[doc_id % 17]
    per2 = C.PERSONS[(doc_id + 5) % 17]
    org = C.ORGS[doc_id % 13]
    city = C.CITIES[doc_id % 11]
    city2 = C.CITIES[(doc_id + 3) % 11]
    country = C.COUNTRIES[doc_id % 7]
    alias = (doc_id % 9 == 5) and (doc_id % 13 < 3)
    out = {(per, "PER"), (org, "ORG"), (city, "CITY"), (city2, "CITY")}
    if alias:
        out.add((C.ORG_ALIASES[doc_id % 13], "ORG"))
    if doc_id % 3 == 0:
        out.add((country, "COUNTRY"))
    if doc_id % 4 == 1:
        out.add((per2, "PER"))
        # S5 puts org at sentence end; the StringTagger suffix rule
        # (StringTagger.java:76) keeps the trailing dot after
        # Inc/Corp/Co/Ave, so such orgs yield an extra dotted surface
        if org.endswith(("Inc", "Corp", "Co", "Ave")):
            out.add((org + ".", "ORG"))
    if doc_id % C.HOLDOUT_MOD == C.HOLDOUT_VAL:
        # S7: typed ORG purely by the context classifier — the surface
        # is in no dictionary and held out of training
        out.add((C.NOVEL_ORG, "ORG"))
    if doc_id % C.S8_MOD == C.S8_VAL:
        # S8: the DateAndTimeTagger add-back emits the full date span
        out.add((C.DATE_SURFACE, "DATETIME"))
    if doc_id % C.S9_MOD == C.S9_VAL:
        # S9: the predicate-variant sentence adds its own org/city
        out.add((C.ORGS[(doc_id + 4) % 13], "ORG"))
        out.add((C.CITIES[(doc_id + 5) % 11], "CITY"))
    return out


def test_corpus_mentions_match_golden(mention_rows):
    got: dict[int, set] = {}
    for r in mention_rows:
        doc_id = int(r.url.rsplit("/", 1)[1].split(".")[0])
        got.setdefault(doc_id, set()).add((r.surface, r.tag))
    assert len(got) == 500
    mismatches = []
    for doc_id in range(500):
        want = golden_mentions(doc_id)
        have = got.get(doc_id, set())
        if want != have:
            mismatches.append((doc_id, want - have, have - want))
    assert not mismatches, mismatches[:5]


def test_mention_offsets_slice_text(spark, sf_dir, mention_rows):
    texts = {r.url: r.text for r in
             extract_stage(synth_pages(spark, sf_dir))
             .select("url", "text").collect()}
    for r in mention_rows[:200]:
        assert texts[r.url][r.start:r.end] == r.surface


def test_regex_taggers_url_and_twitter():
    from kgp.mentions import tag_urls
    got = tag_urls("see https://example.com/a?b=1 for details")
    assert len(got) == 1 and got[0]["tag"] == "URI"
    assert got[0]["surface"].startswith("https://example.com/a")


def test_uri_mention_add_back_removes_nested():
    # PalladianNer.getAnnotations:452-459 — an entity-looking fragment
    # inside a URL is dropped by nested removal once the URI is added
    from kgp.mentions import NerModel, tag_sentence
    model = NerModel(entity_dict={"acme corp": "ORG"},
                     annotation_dict={}, priors={})
    s = "Read www.AcmeCorp.com/Acme today."
    with_uris = tag_sentence(s, 0, model, tag_dates=False, tag_uris=True)
    tags = {(m["surface"], m["tag"]) for m in with_uris}
    assert any(t == "URI" for _, t in tags), tags
    # nothing nested inside the URI span survives
    uri = next(m for m in with_uris if m["tag"] == "URI")
    for m in with_uris:
        if m is not uri:
            assert not (m["start"] >= uri["start"]
                        and m["end"] <= uri["end"])


# PalladianNerTest.testBuildCaseDictionary golden
# (palladian-core/.../tagger/PalladianNerTest.java:64-74)
_CASE_DICT_TEXT = (
    "Despite their shared upbringing and involvement in the Spanish "
    "Treason, the conspirators chose not to reveal the plot to him until "
    "14 October 1605, shortly after his father died, and just weeks "
    "before the planned explosion. According to his confession, the "
    "meeting took place at the home of Tresham's brother-in-law, Lord "
    "Stourton, in Clerkenwell."
)


def test_build_case_dictionary_pairs_golden():
    from collections import Counter

    from kgp.mentions import case_dictionary_pairs
    cnt: dict = {}
    for tok, sig in case_dictionary_pairs(_CASE_DICT_TEXT):
        cnt.setdefault(tok, Counter())[sig] += 1
    got = {t for t, c in cnt.items() if c["a"] / (c["a"] + c["A"]) > 0.5}
    assert len(got) == 33
    assert "despite" not in got       # sentence start, skipped
    assert "according" not in got     # sentence start, skipped
    assert "involvement" in got


# ----------------------------------- LanguageIndependent mode (r3)


def test_combine_annotations_intended_semantics():
    """combineAnnotations (PalladianNer.java:585-612): adjacent
    same-tag spans merge into one growing span; the reference's
    as-written remove-order bug is documented in the port."""
    from kgp.mentions import combine_annotations
    anns = [
        {"start": 0, "end": 4, "surface": "Phil", "tag": "PER",
         "score": 0.9},
        {"start": 5, "end": 12, "surface": "Simmons", "tag": "PER",
         "score": 0.8},
        {"start": 13, "end": 18, "surface": "plays", "tag": "o",
         "score": 0.1},
        {"start": 19, "end": 24, "surface": "Paris", "tag": "LOC",
         "score": 0.7},
    ]
    got = combine_annotations(anns)
    assert len(got) == 2
    assert got[0]["surface"] == "Phil Simmons"
    assert got[0]["start"] == 0 and got[0]["end"] == 12
    assert got[1]["surface"] == "Paris"
    # three-token chain collapses to one span
    chain = [{"start": i * 2, "end": i * 2 + 1, "surface": c,
              "tag": "PER", "score": 1.0}
             for i, c in enumerate("abc")]
    got = combine_annotations(chain)
    assert len(got) == 1 and got[0]["surface"] == "a b c"
    # non-adjacent (gap > 1) stays separate
    apart = [{"start": 0, "end": 1, "surface": "a", "tag": "PER",
              "score": 1.0},
             {"start": 5, "end": 6, "surface": "b", "tag": "PER",
              "score": 1.0}]
    assert len(combine_annotations(apart)) == 2


def test_token_candidates():
    from kgp.mentions import token_candidates
    got = token_candidates("Phil Simmons plays.")
    assert [c.value for c in got][:3] == ["Phil", "Simmons", "plays"]
    assert got[0].start == 0 and got[1].start == 5


def test_language_independent_tagging():
    """End-to-end independent mode: per-token classification +
    adjacent combine recovers a multi-token seed entity."""
    from collections import Counter

    from kgp.mentions import GRAM_N, assemble_model, tag_sentence
    from kgp.tokenize import char_ngrams, tokenize
    seeds = [("Jim Carter", "PER"), ("Mexico City", "CITY")]
    # token-based annotation dictionary (trainLanguageIndependent,
    # PalladianNer.java:354-372): each seed TOKEN's padded char grams,
    # labelled with the seed's concept
    grams = Counter((g, concept) for entity, concept in seeds
                    for tok in tokenize(entity)
                    for g in char_ngrams(tok.lower(), GRAM_N, GRAM_N,
                                         padding=True))
    ann = [(g, tag, n) for (g, tag), n in sorted(grams.items())]
    ent = [(entity.lower(), concept, 1) for entity, concept in seeds]
    model = assemble_model(ent, ann, [])
    got = tag_sentence("Jim Carter visited Mexico City", 0, model,
                       tag_dates=False, language_mode="independent")
    surfaces = {m["surface"]: m["tag"] for m in got}
    assert "Jim Carter" in surfaces or "Jim" in surfaces
    # the combine step must produce at least one multi-token span
    assert any(" " in s for s in surfaces)


# ------------------------------------------------- ner_model_table golden

_GOLDEN_SEEDS = [  # (entity, concept), duplicates and case variants kept
    ("Acme Corp", "ORG"), ("ACME Corp", "ORG"), ("Jordan Lee", "PER"),
    ("Jordan", "PER"), ("Jordan", "LOC"), ("Jürgen Müller", "PER"),
    ("X", "LOC"),
]
_GOLDEN_DOCS = [
    # "Acme Corp." keeps its dot (StringTagger suffix rule) and must
    # still count as the seed "Acme Corp", not as a NO_ENTITY negative
    ["President Jordan Lee met Acme Corp. officials in Berlin.",
     # repeated grams inside one ±40-char context
     "ha ha ha ha Acme Corp ha ha ha ha"],
    ["Yesterday President Jürgen Müller visited Acme Corp.",
     # non-ASCII capitalised non-seed candidate
     "Zoë Novák praised the Plan, and the plan was fair."],
    # "Lee"/"Corp" occur only inside entities; "Acme" is left of an
    # entity twice but inside more often; "of" is a lowercase left
    ["After the vote President Jordan Lee left.",
     "Rivals of Acme Corp and of Jordan met near Acme Jordan Lee."],
    ["Visit Acme Corp today, said the Vote for Acme Jordan Lee.",
     "Visit Jordan soon, said Zoë Novák."],
]


def _golden_training_docs(spark):
    rows = []
    for sents in _GOLDEN_DOCS:
        starts = [sum(len(s) + 1 for s in sents[:i])
                  for i in range(len(sents))]
        rows.append((" ".join(sents), list(zip(starts, sents))))
    return spark.createDataFrame(
        rows, "text string, sentences array<struct<start:int,text:string>>"
    ).repartition(2)


def test_ner_model_table_golden(spark):
    """Every model dictionary of ner_model_table on a hand-made corpus,
    pinned to the rows of the earlier per-kind Spark implementation
    (gram UDFs, a JVM anti-join for the negatives, a six-way union)."""
    import hashlib
    import json
    from collections import Counter

    from kgp.mentions import ner_model_table
    rows = sorted((tuple(r) for r in ner_model_table(
        _golden_training_docs(spark), _GOLDEN_SEEDS).collect()), key=repr)
    by_kind = Counter(r[0] for r in rows)
    assert by_kind == {"agram": 200, "case": 16, "ctxgram": 353,
                       "entity": 6, "left": 2, "prior": 3}
    small = [r for r in rows if r[0] in ("entity", "case", "prior", "left")]
    assert small == [
        ("case", t, None, None) for t in (
            "and", "fair", "for", "ha", "in", "left", "met", "near", "of",
            "praised", "said", "soon", "the", "today", "visited", "was")
    ] + [
        ("entity", "acme corp", "ORG", 2), ("entity", "jordan lee", "PER", 1),
        ("entity", "jordan", "LOC", 1), ("entity", "jordan", "PER", 1),
        ("entity", "jürgen müller", "PER", 1), ("entity", "x", "LOC", 1),
        ("left", "President", None, None), ("left", "Visit", None, None),
        ("prior", "LOC", None, 2), ("prior", "ORG", None, 5),
        ("prior", "PER", None, 5),
    ]
    sums = Counter()
    for kind, _key, tag, count in rows:
        if kind in ("agram", "ctxgram"):
            sums[kind, tag] += count
    assert sums == {("agram", "NO_ENTITY"): 242, ("agram", "ORG"): 26,
                    ("agram", "PER"): 41, ("agram", "LOC"): 15,
                    ("ctxgram", "LOC"): 73, ("ctxgram", "ORG"): 190,
                    ("ctxgram", "PER"): 180}
    negatives = {r[1] for r in rows if r[2] == "NO_ENTITY"}
    assert {"zoë n", "novák"} <= negatives
    assert not any("." in g for g in negatives)   # "Acme Corp." is a seed
    assert ("ctxgram", "ha ha", "ORG", 6) in rows
    assert hashlib.sha256(json.dumps(rows, ensure_ascii=False).encode()) \
        .hexdigest() == ("cd86fea64ae2dddba41c92e6844b08cd"
                         "ac4f305a11f849759f4430b90789642a")


def test_ner_model_table_case_top_k(spark, monkeypatch):
    """The case dictionary keeps the CASE_DICT_MAX_SIZE most frequent
    qualifying tokens, ties by token."""
    from collections import Counter

    from kgp import mentions
    n, lower = Counter(), Counter()
    for sents in _GOLDEN_DOCS:
        for tok, sig in mentions.case_dictionary_pairs(" ".join(sents)):
            n[tok] += 1
            lower[tok] += sig == "a"
    ranked = sorted((t for t in n if lower[t] / n[t] > 0.5),
                    key=lambda t: (-n[t], t))
    monkeypatch.setattr(mentions, "CASE_DICT_MAX_SIZE", 3)
    got = {r.key for r in mentions.ner_model_table(
        _golden_training_docs(spark), _GOLDEN_SEEDS)
        .where("kind = 'case'").collect()}
    assert len(ranked) > 3 and got == set(ranked[:3])

