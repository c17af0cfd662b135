"""Predicate normalization (kgp.predicates, the WordTransformer role)."""

from kgp.predicates import (normalize_predicate_name, normalize_predicates,
                            verb_simple_present, word_to_singular)


def test_word_to_singular_reference_rules():
    # wordToSingularEnglish suffix rules (WordTransformer.java:215-276)
    assert word_to_singular("matrices") == "matrix"
    # the irregular bank beats the -ices rule ("indices index" is a
    # bank entry; the rule alone would say "indix")
    assert word_to_singular("indices") == "index"
    assert word_to_singular("companies") == "company"
    assert word_to_singular("cities") == "city"
    assert word_to_singular("wolves") == "wolf"
    assert word_to_singular("knives") == "knife"
    assert word_to_singular("boxes") == "box"
    assert word_to_singular("churches") == "church"
    assert word_to_singular("cars") == "car"
    assert word_to_singular("bus") == "bus"      # len < 4 passthrough
    assert word_to_singular("people") == "person"  # irregular


def test_verb_simple_present():
    # reference quirk: getSimplePresent stems FIRST, so "founded"
    # stems to "found" and hits the find/found/found bank entry
    assert verb_simple_present("founded") == "find"
    assert verb_simple_present("was") == "be"
    assert verb_simple_present("held") == "hold"
    assert verb_simple_present("works") == "works"  # 3rd person kept


def test_normalize_predicate_name():
    assert normalize_predicate_name("based_in") == "headquartered_in"
    assert normalize_predicate_name("established_by") == "founded"
    assert normalize_predicate_name("works_at") == "works_for"
    # unmapped names pass through verb normalization only (faithful to
    # getSimplePresent's bare "ed$" strip: merged -> merg)
    assert normalize_predicate_name("merged_with") == "merg_with"
    assert normalize_predicate_name("serves_as_chairman_of") == \
        "serves_as_chairman_of"


def test_normalize_predicates_column(spark):
    df = spark.createDataFrame(
        [("A", "based_in", "B"), ("C", "ceo_of", "D"),
         ("E", "novel_pred", "F")], "subj string, pred string, obj string")
    got = {(r.subj, r.pred) for r in normalize_predicates(df).collect()}
    assert got == {("A", "headquartered_in"), ("C", "ceo_of"),
                   ("E", "novel_pred")}


def test_based_in_sentence_merges_into_canonical(spark):
    # end-to-end on a links slice: the variant phrasing emits the
    # CANONICAL predicate from extract_relations
    from kgp.relations import extract_relations
    sent = "Duff Brewing is based in Maplewood."
    links = spark.createDataFrame(
        [("u1", 0, 0, 12, "Duff Brewing", "ORG", 0, sent, 2009,
          "Duff Brewing", 1.0),
         ("u1", 0, 25, 34, "Maplewood", "CITY", 0, sent, 3007,
          "Maplewood", 1.0)],
        "url string, sent_idx int, start int, end int, surface string, "
        "tag string, sent_start int, sent_text string, entity_id long, "
        "canon_name string, link_score double")
    got = {(r.subj, r.pred, r.obj) for r in
           extract_relations(links).collect()}
    assert got == {("Duff Brewing", "headquartered_in", "Maplewood")}
