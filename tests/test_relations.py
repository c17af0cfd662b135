from __future__ import annotations

from kgp.relations import DEFAULT_PATTERNS, extract_relations, match_sentence

LINK_COLS = ("url string, sent_idx int, start int, end int, "
             "surface string, tag string, sent_start int, sent_text string, "
             "entity_id long, canon_name string, link_score double")


def _m(start, surface, tag, canon=None, eid=None, score=1.0):
    return {"start": start, "end": start + len(surface), "surface": surface,
            "tag": tag, "canon_name": canon or surface, "entity_id": eid,
            "link_score": score}


def test_match_ceo_of():
    s = "John Smith, the chief executive officer of Acme Corp, spoke."
    ms = [_m(0, "John Smith", "PER"), _m(43, "Acme Corp", "ORG")]
    got = match_sentence(s, 0, ms, DEFAULT_PATTERNS)
    assert [(t["subj"], t["pred"], t["obj"]) for t in got] == [
        ("John Smith", "ceo_of", "Acme Corp")]


def test_match_founded_swaps_direction():
    s = "Acme Corp was founded by John Smith."
    ms = [_m(0, "Acme Corp", "ORG"), _m(25, "John Smith", "PER")]
    got = match_sentence(s, 0, ms, DEFAULT_PATTERNS)
    assert [(t["subj"], t["pred"], t["obj"]) for t in got] == [
        ("John Smith", "founded", "Acme Corp")]


def test_match_respects_tags():
    # same infix, wrong types -> no triple
    s = "Acme Corp was born in Springfield."
    ms = [_m(0, "Acme Corp", "ORG"), _m(22, "Springfield", "CITY")]
    assert match_sentence(s, 0, ms, DEFAULT_PATTERNS) == []


def test_match_uses_sentence_offsets():
    # doc-level offsets: sentence starts at 100
    s = "Mary Johnson works for Globex Systems."
    ms = [_m(100, "Mary Johnson", "PER"), _m(123, "Globex Systems", "ORG")]
    got = match_sentence(s, 100, ms, DEFAULT_PATTERNS)
    assert [(t["subj"], t["pred"], t["obj"]) for t in got] == [
        ("Mary Johnson", "works_for", "Globex Systems")]


def test_extract_relations_dataframe(spark):
    s = "Springfield is the capital of Freedonia."
    rows = [
        ("u1", 0, 0, 11, "Springfield", "CITY", 0, s, 3000,
         "Springfield", 1.0),
        ("u1", 0, 30, 39, "Freedonia", "COUNTRY", 0, s, 4000,
         "Freedonia", 1.0),
        # a second sentence with only one mention -> nothing
        ("u1", 1, 50, 59, "Freedonia", "COUNTRY", 50, "Freedonia is.",
         4000, "Freedonia", 1.0),
    ]
    links = spark.createDataFrame(rows, LINK_COLS)
    got = extract_relations(links).collect()
    assert len(got) == 1
    t = got[0]
    assert (t.subj, t.pred, t.obj) == ("Springfield", "capital_of",
                                       "Freedonia")
    assert (t.subj_id, t.obj_id) == (3000, 4000)
    assert t.url == "u1" and t.sent_idx == 0


def test_induced_pattern_recovers_held_out_predicate(spark):
    # pattern induction (SURVEY §2.8, Apriori-style support counting
    # over inter-mention infixes): a predicate phrasing absent from
    # DEFAULT_PATTERNS is learned on a training slice and recovers the
    # golden triples on a held-out slice with P/R = 1.0
    from kgp.relations import (DEFAULT_PATTERNS, extract_relations,
                               induce_patterns)

    def links_rows(doc_ids):
        rows = []
        for i in doc_ids:
            per, org = f"Alice Num{i}", f"Contoso {i} Labs"
            sent = f"{per} serves as chairman of {org}."
            rows.append((f"u{i}", 0, 0, len(per), per, "PER", 0, sent,
                         1000 + i, per, 1.0))
            rows.append((f"u{i}", 0, len(sent) - len(org) - 1,
                         len(sent) - 1, org, "ORG", 0, sent,
                         2000 + i, org, 1.0))
        return spark.createDataFrame(
            rows, "url string, sent_idx int, start int, end int, "
                  "surface string, tag string, sent_start int, "
                  "sent_text string, entity_id long, canon_name string, "
                  "link_score double")

    train, held_out = links_rows(range(40)), links_rows(range(100, 110))
    induced = induce_patterns(train, min_support=0.05, min_count=3)
    by_pred = {p.pred: p for p in induced}
    assert "serves_as_chairman_of" in by_pred
    p = by_pred["serves_as_chairman_of"]
    assert (p.subj_tag, p.obj_tag) == ("PER", "ORG")

    got = {(r.subj, r.pred, r.obj) for r in extract_relations(
        held_out, patterns=DEFAULT_PATTERNS + induced).collect()}
    want = {(f"Alice Num{i}", "serves_as_chairman_of",
             f"Contoso {i} Labs") for i in range(100, 110)}
    # precision: nothing else fires on these sentences; recall: all 10
    assert got == want


def test_co_occurrence_modes(spark):
    from kgp.relations import co_occurrence_pairs
    LNK = ("url string, sent_idx int, sent_start int, start int, "
           "surface string, tag string")
    links = spark.createDataFrame(
        [("u", 0, 0, 0, "Alice", "PER"),
         ("u", 0, 0, 30, "Acme", "ORG"),
         ("u", 5, 5000, 10, "Paris", "CITY"),   # far away in u
         ("v", 0, 0, 0, "Alice", "PER"),
         ("v", 1, 90, 5, "Acme", "ORG")],       # different sentence
        LNK)

    doc = {(r.surface_a, r.surface_b): r.n_contexts for r in
           co_occurrence_pairs(links, "document").collect()}
    assert doc[("Acme", "Alice")] == 2          # both docs
    assert doc[("Alice", "Paris")] == 1

    sent = {(r.surface_a, r.surface_b): r.n_contexts for r in
            co_occurrence_pairs(links, "sentence").collect()}
    assert sent == {("Acme", "Alice"): 1}       # same sentence only in u

    chars = {(r.surface_a, r.surface_b): r.n_contexts for r in
             co_occurrence_pairs(links, "chars", max_chars=200).collect()}
    # Alice@0/Acme@30 in u, Alice@0/Acme@95 in v (cross-sentence but
    # within 200 chars); Paris@5010 is out of range of everything
    assert chars == {("Acme", "Alice"): 2}


def test_co_occurrence_chars_bucket_boundary(spark):
    from kgp.relations import co_occurrence_pairs
    LNK = ("url string, sent_idx int, sent_start int, start int, "
           "surface string, tag string")
    # positions 190 and 210 are in ADJACENT 200-buckets, distance 20
    links = spark.createDataFrame(
        [("u", 0, 0, 190, "A", "PER"), ("u", 0, 0, 210, "B", "ORG"),
         ("u", 0, 0, 411, "C", "ORG")],      # 201 chars past B
        LNK)
    got = {(r.surface_a, r.surface_b) for r in
           co_occurrence_pairs(links, "chars", max_chars=200).collect()}
    assert ("A", "B") in got
    assert ("B", "C") not in got                # 201 chars apart
    assert ("A", "C") not in got

