"""StringHelper scalar twins (pure python — no Spark session)."""

from __future__ import annotations

from kgp.stringhelpers import (lower_case_first_letter, replace_word,
                               upper_case_first_letter)


def test_case_helpers():
    assert upper_case_first_letter("word") == "Word"
    assert upper_case_first_letter("") == ""
    assert lower_case_first_letter("Word") == "word"


def test_replace_word():
    assert replace_word("cat", "dog", "the cat sat") == "the dog sat"
    # boundary rules: inside a word or across a dash never replaced
    assert replace_word("cat", "dog", "concatenate") == "concatenate"
    assert replace_word("cat", "dog", "cat-like") == "cat-like"
    # case-insensitive find, replacement verbatim
    assert replace_word("CAT", "dog", "The Cat.") == "The dog."
    # multiple occurrences
    assert replace_word("a", "X", "a b a") == "X b X"
    assert replace_word("", "X", "abc") == "abc"

