"""The reference's OWN WordTransformerTest English vectors
(WordTransformerTest.java:54-265) harvested MECHANICALLY from the
Java source — the English plural→singular transform the predicate
normalizer uses. (testSplitGermanCompounds and the German noun methods
need the reference's unshipped word DB.)"""

from __future__ import annotations

import re

import pytest

from kgp.predicates import word_to_singular

_JAVA = ("/root/reference/palladian-core/src/test/java/ws/palladian/"
         "semantics/WordTransformerTest.java")


def _harvest(method: str, java_call: str):
    src = open(_JAVA, encoding="utf-8").read()
    body = src.split(f"public void {method}()")[1].split("@Test")[0]
    pat = re.compile(
        r'assertEquals\("([^"]*)",\s*WordTransformer\.' + java_call
        + r'\("([^"]*)"(?:,\s*Language\.(\w+))?\)\);')
    return [(m.group(2), m.group(1)) for m in pat.finditer(body)
            if m.group(3) in (None, "ENGLISH")]


@pytest.mark.parametrize("method,call,fn,min_n", [
    ("testWordToSingularEnglish", "wordToSingular",
     word_to_singular, 25),
])
def test_word_transformer_vectors(method, call, fn, min_n):
    vecs = _harvest(method, call)
    assert len(vecs) >= min_n
    bad = [(i, e, fn(i)) for i, e in vecs if fn(i) != e]
    assert not bad, bad
