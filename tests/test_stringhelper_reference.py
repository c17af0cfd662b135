"""StringHelperTest vectors (StringHelperTest.java) harvested
MECHANICALLY for the ported members — replaceWord, normalizeQuotes,
isCompletelyUppercase, isNumericExpression."""

from __future__ import annotations

import re

import pytest

import kgp.stringhelpers as sh
from kgp.entity_preprocess import normalize_quotes
from kgp.mentions import is_completely_uppercase
from kgp.wikpostag import is_numeric_expression

_JAVA = ("/root/reference/palladian-commons/src/test/java/ws/"
         "palladian/helper/nlp/StringHelperTest.java")


def _body(name: str) -> str:
    src = open(_JAVA, encoding="utf-8").read()
    return src.split(f"public void {name}()")[1].split("public void")[0]


def _unesc(s: str) -> str:
    return s.replace('\\"', '"').replace("\\\\", "\\") \
        .replace("\\n", "\n")


@pytest.mark.parametrize("method,call,fn,nargs,min_n", [
    ("testReplaceWord", "replaceWord", sh.replace_word, 3, 4),
    ("testNormalizeQuotes", "normalizeQuotes", normalize_quotes, 1, 2),
])
def test_string_vectors(method, call, fn, nargs, min_n):
    body = _body(method)
    pat = re.compile(
        r'assertEquals\("((?:[^"\\]|\\.)*)",\s*StringHelper\.' + call
        + r'\(\s*' + r",\s*".join([r'"((?:[^"\\]|\\.)*)"'] * nargs)
        + r"\)\);")
    vecs = [( [_unesc(m.group(i + 2)) for i in range(nargs)],
              _unesc(m.group(1))) for m in pat.finditer(body)]
    assert len(vecs) >= min_n
    bad = [(a, e, fn(*a)) for a, e in vecs if fn(*a) != e]
    assert not bad, bad


@pytest.mark.parametrize("method,call,fn,min_n", [
    ("testIsCompletelyUppercase", "isCompletelyUppercase",
     is_completely_uppercase, 3),
    ("testIsNumericExpression", "isNumericExpression",
     is_numeric_expression, 7),
])
def test_bool_vectors(method, call, fn, min_n):
    body = _body(method)
    pat = re.compile(
        r'assert(True|False)\(StringHelper\.' + call
        + r'\("((?:[^"\\]|\\.)*)"\)\);')
    vecs = [(_unesc(m.group(2)), m.group(1) == "True")
            for m in pat.finditer(body)]
    assert len(vecs) >= min_n
    bad = [(a, e, bool(fn(a))) for a, e in vecs if bool(fn(a)) != e]
    assert not bad, bad
