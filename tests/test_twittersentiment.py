"""Twitter sentiment reader (kgp.twittersentiment) — Go et al. 2009
normalization goldens, quote-aware split, option subsets, stage
parity."""

from __future__ import annotations

import pytest

from kgp.twittersentiment import parse_tweet_line, twitter_sentiment_stage

L0 = ('"0","1","Mon Apr 06","myterm","bob","@alice check '
      'http://t.co/xyz I am soooooo huuuuuungry for MyTerm now"')
L1 = '"4","2","date","NO_QUERY","ann","I love it, really cool stuff"'
L2 = '"2","9","d","cat","joe","my cat concatenates cat-like things"'
L3 = '"0","3","d","NO_QUERY","u","wow!!!! yes____no aaaab"'
L4 = '"4","5","d","NO_QUERY","u","see https://ex.com/a?b=1 and @bob_x now"'
ALL = [L0, L1, L2, L3, L4]


def test_normalization_goldens():
    # all four options, applied in reference order
    assert parse_tweet_line(L0) == (
        "0", "USERNAME check URL I am soo huungry for QUERY_TERM now")
    # quoted comma survives the split
    assert parse_tweet_line(L1) == ("4", "I love it, really cool stuff")
    # replaceWord boundaries: dash-punctuation blocks, case-insensitive
    assert parse_tweet_line(L2) == (
        "2", "my QUERY_TERM concatenates cat-like things")
    # Java \w is ASCII letters/digits/_ ; punctuation runs untouched
    assert parse_tweet_line(L3) == ("0", "wow!!!! yes__no aab")
    assert parse_tweet_line(L4) == ("4", "see URL and USERNAME now")


def test_option_subsets():
    assert parse_tweet_line(L0, options=())[1].startswith("@alice")
    assert parse_tweet_line(L0, options=("LINKS",))[1] \
        == "@alice check URL I am soooooo huuuuuungry for MyTerm now"


def test_malformed_raises():
    with pytest.raises(ValueError, match="six columns"):
        parse_tweet_line("a,b,c")
    with pytest.raises(ValueError, match="unclosed-quote"):
        parse_tweet_line('"a,b,c,d,e,f')


def test_stage_and_file_surface(spark):
    df = spark.createDataFrame([(l,) for l in ALL], "value string")
    got2 = sorted(map(tuple, twitter_sentiment_stage(
        df, ("USER_NAMES",)).collect()))
    want2 = sorted(parse_tweet_line(l, ("USER_NAMES",)) for l in ALL)
    assert got2 == want2
