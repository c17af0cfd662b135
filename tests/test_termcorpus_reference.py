"""Upstream MapTermCorpusTest vectors, transcribed mechanically.

Source (assertions copied 1:1): MapTermCorpusTest.java:16-60
"""

import math
import re

import pytest

from kgp.textvector import TermCorpusLocal

DELTA = 0.00001


@pytest.fixture()
def corpus():
    c = TermCorpusLocal()
    for text in ["the sky is blue.",
                 "the sun is bright today.",
                 "the sun in the sky is bright.",
                 "we can see the shining sun, the bright sun."]:
        c.add_doc({t for t in re.split(r"[ ,.]+", text) if t})
    return c


def test_get_count(corpus):
    assert corpus.get_count("the") == 4
    assert corpus.get_count("sky") == 2
    assert corpus.get_count("moon") == 0


def test_get_num_docs(corpus):
    assert corpus.num_docs == 4


def test_get_probability(corpus):
    assert abs(corpus.get_probability("sky") - 2. / 4) < DELTA


def test_get_num_unique_terms(corpus):
    assert corpus.num_unique_terms() == 12


def test_get_num_terms(corpus):
    assert corpus.num_terms() == 22


def test_get_idf(corpus):
    assert abs(corpus.get_idf("sky", False)
               - (1 + math.log(4. / 2))) < DELTA
    assert abs(corpus.get_idf("sky", True)
               - (1 + math.log(4. / 3))) < DELTA
    assert corpus.get_idf("moon", False) == math.inf
    assert abs(corpus.get_idf("moon", True)
               - (1 + math.log(4. / 1))) < DELTA
