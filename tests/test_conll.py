"""CoNLL loader + evaluation parity, including an end-to-end train/
evaluate run against the reference's own ner corpus."""

from __future__ import annotations

import os

import pytest

from kgp.conll import (Ann, evaluate_annotations, parse_column)

NER_DIR = "/root/reference/palladian-core/src/test/resources/ner"


def test_parse_column_basic():
    lines = ["John\tPER", "Smith\tPER", "visited\tO", "Berlin\tLOC",
             ".\tO"]
    text, anns = parse_column(lines)
    assert text == "John Smith visited Berlin."
    assert anns == [Ann(0, "John Smith", "PER"),
                    Ann(19, "Berlin", "LOC")]
    # punctuation gets no preceding space; spans slice the text
    for a in anns:
        assert text[a.start:a.end] == a.value


def test_parse_column_token_based():
    lines = ["John\tPER", "Smith\tPER"]
    text, anns = parse_column(lines, token_based=True)
    assert text == "John Smith"
    assert [a.value for a in anns] == ["John", "Smith"]


def test_parse_column_docstart_and_breaks():
    lines = ["=-DOCSTART-\tO", "", "EU\tORG", "rejects\tO", "", "Peter\tPER",
             "Blackburn\tPER"]
    text, anns = parse_column(lines)
    # the break after =-DOCSTART- emits a newline (faithful to the
    # reference writer, which only swallows empty lines BEFORE any
    # 2-column line was seen)
    assert text == "\nEU rejects\nPeter Blackburn"
    assert anns == [Ann(1, "EU", "ORG"), Ann(12, "Peter Blackburn", "PER")]


def test_parse_reference_conll_files_align():
    path = os.path.join(NER_DIR, "test.txt")
    if not os.path.exists(path):
        pytest.skip("reference ner corpus not available")
    with open(path, encoding="utf-8") as f:
        text, anns = parse_column(f)
    assert len(anns) > 100
    for a in anns[:500]:
        assert text[a.start:a.end] == a.value


def test_evaluation_error_types_and_scores():
    # NamedEntityRecognizer.evaluate semantics: CORRECT, wrong tag
    # (ERROR3), boundary overlap (ERROR4), spurious (ERROR1),
    # missed (ERROR2); MUC weights correct=2, error3/4=1
    gold = [Ann(0, "John Smith", "PER"), Ann(20, "Berlin", "LOC"),
            Ann(40, "Acme Corp", "ORG"), Ann(60, "Paris", "LOC")]
    pred = [Ann(0, "John Smith", "PER"),      # CORRECT
            Ann(20, "Berlin", "ORG"),         # ERROR3 (wrong tag)
            Ann(40, "Acme", "ORG"),           # ERROR4 (overlap, tag ok)
            Ann(75, "Nowhere", "MISC")]       # ERROR1 (spurious)
    r = evaluate_annotations(gold, pred)
    # exact: 1 correct of 4 predicted, 4 possible
    assert r.precision("EXACT_MATCH") == pytest.approx(0.25)
    assert r.recall("EXACT_MATCH") == pytest.approx(0.25)
    # MUC: (2*1 + 1 + 1) / (2*4) on both sides
    assert r.precision("MUC") == pytest.approx(0.5)
    assert r.recall("MUC") == pytest.approx(0.5)
    assert r.assignments["LOC"]["ERROR3"] == 1
    assert r.assignments["ORG"]["ERROR4"] == 1
    assert r.assignments["MISC"]["ERROR1"] == 1
    assert r.assignments["LOC"]["ERROR2"] == 1  # Paris missed


def test_end_to_end_conll_evaluation(spark):
    """Train the NER on the reference's training.txt gold annotations
    and evaluate on test.txt — the reference's own evaluation protocol
    (seed dictionary + annotation/context dictionaries from gold spans,
    MUC scoring)."""
    train_path = os.path.join(NER_DIR, "training.txt")
    test_path = os.path.join(NER_DIR, "test.txt")
    if not (os.path.exists(train_path) and os.path.exists(test_path)):
        pytest.skip("reference ner corpus not available")
    from kgp.conll import parse_column
    from kgp.mentions import (detect_mentions, model_from_rows,
                              ner_model_table)
    from kgp.tokenize import get_sentences
    from pyspark.sql import functions as F

    with open(train_path, encoding="utf-8") as f:
        train_text, train_gold = parse_column(f)
    with open(test_path, encoding="utf-8") as f:
        test_text, test_gold = parse_column(f)

    def doc_row(url, text):
        sents = [{"start": s.start, "text": s.value}
                 for s in get_sentences(text, only_real=False)]
        return (url, text, sents)

    schema = ("url string, text string, sentences "
              "array<struct<start:int, text:string>>")
    train_docs = spark.createDataFrame([doc_row("t", train_text)], schema)
    seed_rows = [(entity, concept) for concept, entity in
                 sorted({(a.tag, a.value) for a in train_gold})]
    model = model_from_rows(ner_model_table(train_docs, seed_rows).collect())

    test_docs = spark.createDataFrame([doc_row("e", test_text)], schema)
    bc = spark.sparkContext.broadcast(model)
    pred = [Ann(int(r.start), r.surface, r.tag) for r in
            detect_mentions(test_docs, bc, tag_dates=False).collect()]
    r = evaluate_annotations(test_gold, pred)
    f1 = r.f1("MUC")
    # quality floor on the reference's own corpus — guards against the
    # NER stack silently degenerating (measured 0.80 MUC F1 for the
    # dictionary-seeded English mode on this split)
    assert f1 > 0.7, (f1, r.precision("MUC"), r.recall("MUC"))


def test_tag_text_writers():
    from kgp.conll import tag_text
    text = "John Smith visited Berlin."
    anns = [Ann(0, "John Smith", "PER"), Ann(19, "Berlin", "LOC")]
    assert tag_text(text, anns, "XML") == \
        "<PER>John Smith</PER> visited <LOC>Berlin</LOC>."
    assert tag_text(text, anns, "BRACKETS") == \
        "[PER John Smith ] visited [LOC Berlin ]."
    slashes = tag_text(text, anns, "SLASHES")
    assert "John/PER Smith/PER" in slashes and "Berlin/LOC" in slashes
    # misaligned annotation raises
    with pytest.raises(ValueError):
        tag_text(text, [Ann(0, "Jane Doe", "PER")], "XML")
    # nested annotations skipped
    nested = [Ann(0, "John Smith", "PER"), Ann(5, "Smith", "PER")]
    assert tag_text(text, nested, "XML").count("<PER>") == 1


def test_annotations_from_xml_text():
    """FileFormatParser.getAnnotationsFromXmlText: plain-text offsets
    via cumulative tag arithmetic; nested markup stripped from the
    value (reference javadoc + XXX examples)."""
    from kgp.conll import Ann, annotations_from_xml_text
    got = annotations_from_xml_text(
        "The <PHONE>iphone 4</PHONE> is a phone.")
    assert got == [Ann(4, "iphone 4", "PHONE")]
    nested = annotations_from_xml_text(
        "text <PERSON><PHONE>John J</PHONE>. Smith</PERSON> lives")
    assert nested == [Ann(5, "John J. Smith", "PERSON")]
    multi = annotations_from_xml_text("<A>x</A> and <B>y</B>")
    assert [a.start for a in multi] == [0, 6]


def test_xml_writer_reader_roundtrip():
    from kgp.conll import Ann, annotations_from_xml_text, tag_text
    text = "Jim Carter visited Paris in May."
    anns = [Ann(0, "Jim Carter", "PER"), Ann(19, "Paris", "LOC")]
    tagged = tag_text(text, anns, fmt="XML")
    assert annotations_from_xml_text(tagged) == anns

