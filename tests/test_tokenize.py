"""Tokenizer / sentence splitter golden tests.

Cases re-derived from the reference's unit tests
(/root/reference/palladian-core/src/test/java/ws/palladian/extraction/token/TokenizerTest.java,
 .../sentence/SentenceDetectorTest.java) — behavioral parity, not copies.
"""

from __future__ import annotations

from kgp.tokenize import (char_ngrams, get_sentences, iterate_tokens,
                          split_sentences, tokenize, word_ngrams)


def test_tokenize_basic():
    assert tokenize("Making the world a better place.") == [
        "Making", "the", "world", "a", "better", "place", "."]


def test_tokenize_abbreviations_and_money():
    toks = tokenize("Mr. Smith paid $3.55 for the U.S. flag.")
    assert "Mr." in toks
    assert "$3.55" in toks
    assert "U.S." in toks


def test_tokenize_compounds():
    assert "domain-specific" in tokenize("It is domain-specific text.")


def test_token_offsets():
    toks = iterate_tokens("Hello world!")
    assert toks[0] == (0, "Hello")
    assert toks[1] == (6, "world")
    assert toks[2] == (11, "!")


def test_sentence_split_simple():
    s = split_sentences("This is one. This is two. And three!")
    assert [t.value for t in s] == [
        "This is one.", "This is two.", "And three!"]
    assert s[1].start == 13


def test_sentence_split_no_break_on_abbrev():
    s = split_sentences("Dr. Smith arrived early. He left late.")
    assert [t.value for t in s] == [
        "Dr. Smith arrived early.", "He left late."]


def test_sentence_split_masks_urls():
    s = split_sentences(
        "See http://www.example.com/page.html for details. Next sentence.")
    assert len(s) == 2
    assert s[0].value.endswith("for details.")


def test_sentence_split_masks_dates():
    s = split_sentences("It happened on 24.12.2024 in town. All good.")
    assert [t.value for t in s] == [
        "It happened on 24.12.2024 in town.", "All good."]


def test_real_sentence_filter_headline_absorption():
    text = "A Headline\n\nThe real sentence is here today."
    real = get_sentences(text, only_real=True)
    assert [t.value for t in real] == ["The real sentence is here today."]
    assert real[0].start == text.index("The real")


def test_real_sentence_filter_drops_short():
    assert get_sentences("Go now!", only_real=True) == []  # <=8 chars/words
    assert [t.value for t in get_sentences("No trailing punctuation here",
                                           only_real=True)] == []


def test_char_ngrams_padding():
    grams = char_ngrams("ab", 2, 3, padding=True)
    # "##ab##": no pure-padding grams
    assert "#a" in grams and "ab" in grams and "b#" in grams
    assert "##" not in grams


def test_word_ngrams():
    assert word_ngrams(["a", "b", "c"], 2, 2) == ["a b", "b c"]


def test_offsets_reproject_onto_original():
    text = "Visit http://foo.example.com now. Then rest."
    s = split_sentences(text)
    assert s[0].value == "Visit http://foo.example.com now."
    assert text[s[0].start:s[0].start + len(s[0].value)] == s[0].value


def test_reference_tokenizer_sentence_battery():
    """The German one-sentence battery of TokenizerTest.testGetSentences
    (:146-200) + the testTokenize counts (:86-112), transcribed from
    the reference's own test."""
    for t, n in [
        ("That poster costs $22.40. twenty-one.", 7),
        ("Mr. <MUSICIAN>John Hiatt</MUSICIAN> is awesome.", 8),
        ("Mr. '<MUSICIAN>John Hiatt</MUSICIAN>' is awesome.", 10),
        ("Mr. ^<MUSICIAN>John Hiatt</MUSICIAN>) is awesome!!!", 10),
        ("asp.net is very web 2.0. isn't it? web2.0, .net", 14),
        ("40,000 residents", 2),
        ("The United States of America are often called the USA, the "
         "U.S.A., or simply the U.S. The U.N. has its headquarter in "
         "N.Y.C. on the east coast.", 30),
    ]:
        assert len(tokenize(t)) == n, t
    german_single = [
        "Inkl. Wettervorhersage (Thermometer, Hygrometer) und "
        "Wetterindikator.",
        "Die originale Druckpatrone Nr. 920XL (CD975AE) von HP "
        "liefert professionelle Texte und Grafiken in Laserqualität.",
        "Die SFX Power 2 Serie bietet die perfekte Kombination aus "
        "Qualität, Funktionalität, Effizienz und dem für be quiet! "
        "bekannten zuverlässigen, leisen Betrieb für kompakte "
        "Systeme mit überdurchschnittlicher Leistung.",
        "Kräftige Kontraste und das große ----spektrum sorgen für "
        "eine natürliche Lebendigkeit v.a. bei Fotos und Videos.",
        "Die integrierte GPU läuft mit 350 Mhz (max. 1100 mit Turbo) "
        "und teilt sich den gemeinsamen, 3 MB großen L3-Cache mit "
        "der CPU.",
        "Schlüsselfunktionen des E2500 sind u. a. einen "
        "passwortgeschützten Gastzugang mit separatem Netzwerk zu "
        "erstellen, die Zugangszeit zu begrenzen und Webseiten zu "
        "sperren (Kinderschutz durch die Eltern).",
        "Außerdem bietet die HyperX SSD "
        "Hochgeschwindigkeitsübertragung mit SATA Rev. 3.0 "
        "(6 Gbit/s) für eine größere Band-----e, die Anwender für "
        "leistungshungrige Spiele, Multitasking und schnelle "
        "Multimedia-Nutzung benötigen.",
    ]
    for t in german_single:
        assert len(get_sentences(t, language="de")) == 1, t
    two = get_sentences(
        "Das Leben ist wie eine Schachtel Pralinen - man weiß nie "
        "was man kriegt. Bei uns ist jedoch der Satz am B "
        "abgeschnitten.", language="de")
    assert two[1].value == \
        "Bei uns ist jedoch der Satz am B abgeschnitten."

