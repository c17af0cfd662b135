"""The reference's OWN UrlHelperTest vectors (UrlHelperTest.java)
harvested MECHANICALLY — getDomain (all arities incl. the
public-suffix subdomain stripping), removeSessionId and makeFullUrl."""

from __future__ import annotations

import re

import pytest

import kgp.webgraph as wg

_JAVA = ("/root/reference/palladian-commons/src/test/java/ws/"
         "palladian/helper/UrlHelperTest.java")


def _body(name: str) -> str:
    src = open(_JAVA, encoding="utf-8").read()
    return src.split(f"public void {name}()")[1].split("public void")[0]


def _vectors(name: str, call: str):
    body = _body(name)
    pat = re.compile(
        r'(?:assertEquals\("([^"]*)",\s*UrlHelper\.' + call
        + r'\(\s*("(?:[^"\\]|\\.)*"|null)((?:,\s*(?:true|false))*)\)\)'
        r'|checkThat\(UrlHelper\.' + call
        + r'\(\s*("(?:[^"\\]|\\.)*")((?:,\s*(?:true|false))*)\),'
        r'\s*is\("([^"]*)"\)\))')
    out = []
    for m in pat.finditer(body):
        if m.group(1) is not None:
            exp, inp, flags = m.group(1), m.group(2), m.group(3)
        else:
            inp, flags, exp = m.group(4), m.group(5), m.group(6)
        inp = None if inp == "null" else inp.strip('"')
        fl = [f.strip() == "true" for f in flags.split(",")
              if f.strip() in ("true", "false")]
        out.append((inp, fl, exp))
    return out


@pytest.mark.parametrize("method,call,fn,min_n", [
    ("testGetDomain", "getDomain", wg.get_domain, 18),
    ("testRemoveSessionId", "removeSessionId", wg.remove_session_id, 7),
])
def test_url_helper_vectors(method, call, fn, min_n):
    vecs = _vectors(method, call)
    assert len(vecs) >= min_n
    bad = [(i, fl, e, fn(i, *fl)) for i, fl, e in vecs
           if fn(i, *fl) != e]
    assert not bad, bad


def test_make_full_url_vectors():
    body = _body("testMakeFullUrl")
    # exclude the try/fail NPE block (its asserts are unreachable
    # upstream — the first line throws)
    body = body.split("try {")[0]
    pat = re.compile(
        r'assertEquals\("([^"]*)",\s*UrlHelper\.makeFullUrl\('
        r'([^;]*)\)\);')
    checked = 0
    bad = []
    for m in pat.finditer(body):
        exp, raw = m.group(1), m.group(2)
        parts = [p.strip() for p in re.split(
            r',(?=(?:[^"]*"[^"]*")*[^"]*$)', raw)]
        vals = [None if p == "null" else p.strip('"') for p in parts]
        got = wg.make_full_url(*vals)
        checked += 1
        if got != exp:
            bad.append((vals, exp, got))
    assert checked >= 18
    assert not bad, bad
    # the NPE contract (upstream try/fail block)
    with pytest.raises(ValueError):
        wg.make_full_url(None, "http://www.example.com", None)

