"""Math/statistics helpers (kgp/mathstats.py) — MathHelperTest +
SetSimilarities goldens and Spark parity."""

from __future__ import annotations

import pytest

from kgp.mathstats import (average_precision, average_precision_curve,
                           corr_regression, pearson,
                           set_similarity, set_similarity_expr)


def test_average_precision_golden():
    """MathHelperTest.testComputeAveragePrecision."""
    ap = average_precision([True, False, True, True, True, True,
                            False], 5)
    assert ap[-1][0] == pytest.approx(5 / 7)
    assert ap[-1][1] == pytest.approx(
        (1 + 2 / 3 + 3 / 4 + 4 / 5 + 5 / 6) / 5)


def test_pearson_and_regression_goldens():
    """MathHelperTest Pearson golden."""
    x = [56., 56., 65., 65., 50., 25., 87., 44., 35.]
    y = [87., 91., 85., 91., 75., 28., 122., 66., 58.]
    assert pearson(x, y) == pytest.approx(0.9661943464912911, abs=0.01)


def test_set_similarity_rules():
    assert set_similarity("dice", set(), set()) == 1.0
    assert set_similarity("overlap", {1}, set()) == 0.0
    assert set_similarity("dice", {1, 2, 3}, {2, 3, 4}) == \
        pytest.approx(4 / 6)
    assert set_similarity("jaccard", {1, 2, 3}, {2, 3, 4}) == \
        pytest.approx(2 / 4)
    assert set_similarity("overlap", {1, 2}, {2, 3, 4}) == \
        pytest.approx(1 / 2)


def test_ap_curve_stage_matches_twin(spark):
    ranked = [("q", k, rel) for k, rel in
              enumerate([True, False, True, True, True, True, False])]
    df = spark.createDataFrame(ranked,
                               "query string, rank int, relevant boolean")
    got = sorted(average_precision_curve(df).collect(),
                 key=lambda r: r.rank)
    want = average_precision([r[2] for r in ranked], 5)
    for g, (pr, ap) in zip(got, want):
        assert g.pr_at_k == pytest.approx(pr)
        assert g.ap == pytest.approx(ap)


def test_corr_regression_stage(spark):
    w = [1.47, 1.5, 1.52, 1.55, 1.57, 1.6, 1.63, 1.65, 1.68, 1.70,
         1.73, 1.75, 1.78, 1.80, 1.83]
    h = [52.21, 53.12, 54.48, 55.84, 57.20, 58.57, 59.93, 61.29,
         63.11, 64.47, 66.28, 68.10, 69.92, 72.19, 74.46]
    df = spark.createDataFrame(list(zip(w, h)), "x double, y double")
    [r] = corr_regression(df, "x", "y").collect()
    assert round(r.alpha, 3) == pytest.approx(-39.062)
    assert round(r.beta, 3) == pytest.approx(61.272)
    assert r.pearson_r == pytest.approx(pearson(w, h), abs=1e-9)


def test_set_similarity_expr_pure_jvm(spark):
    from pyspark.sql import functions as F
    from tests.test_plans import plan_of
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"]), ([], []), (["x"], [])],
        "a array<string>, b array<string>")
    out = df.select(
        set_similarity_expr("dice", F.col("a"), F.col("b"))
        .alias("dice"),
        set_similarity_expr("jaccard", F.col("a"), F.col("b"))
        .alias("jaccard"))
    rows = sorted(out.collect(), key=lambda r: (r.dice is None, r.dice))
    plan = plan_of(out)
    assert "Python" not in plan and "Exchange" not in plan
    vals = {(round(r.dice, 4), round(r.jaccard, 4)) for r in rows}
    assert (round(4 / 6, 4), 0.5) in vals
    assert (1.0, 1.0) in vals and (0.0, 0.0) in vals


def test_token_similarity_goldens(spark):
    """TokenSimilarityTest: jaccard over whitespace token sets."""
    from pyspark.sql import functions as F
    from kgp.mathstats import token_similarity, token_similarity_expr
    s1 = "Earthquake Shakes Mexico City"
    s2 = "Panic as earthquake hits Mexico City"
    s3 = "Powerful Quake Rattles Mexico"
    assert token_similarity(s1, s2) == pytest.approx(0.4286, abs=1e-3)
    assert token_similarity(s2, s3) == pytest.approx(0.1111, abs=1e-3)
    assert token_similarity(s1, s3) == pytest.approx(0.1429, abs=1e-3)
    assert token_similarity("Same  Text", "same  text") == 1.0
    df = spark.createDataFrame([(s1, s2), (s2, s3), (s1, s3)],
                               "a string, b string")
    got = sorted(r.sim for r in df.select(
        token_similarity_expr(F.col("a"), F.col("b")).alias("sim"))
        .collect())
    assert got == pytest.approx([0.1111, 0.1429, 0.4286], abs=1e-3)


def test_list_similarity_goldens():
    """MathHelperTest.testCalculateListSimilarity (incl. the reference
    list.csv resource when available)."""
    import os
    from kgp.mathstats import list_similarity
    assert list_similarity(["a", "b", "c"], ["c", "b", "a"])[
        "shift_similarity"] == pytest.approx(0.0)
    assert list_similarity(["a", "b", "c"], ["a", "b", "c"])[
        "shift_similarity"] == pytest.approx(1.0)
    path = ("/root/reference/palladian-commons/src/test/resources/"
            "list.csv")
    if os.path.exists(path):
        l1, l2 = [], []
        for line in open(path):
            a, b = line.strip().split("#")
            l1.append(a)
            l2.append(b)
        r = list_similarity(l1, l2)
        assert r["shift_similarity"] == pytest.approx(0.37, abs=0.01)
        assert r["squared_shift_similarity"] == \
            pytest.approx(0.57, abs=0.01)


def test_fat_percentiles_golden(spark):
    """FatStatsTest.testPercentile: [1,1,1,3,4,7,9,11,13,13] ->
    p30 = 2 (integer rank: average of ranks 3 and 4), p75 = 11
    (ceil rank 8)."""
    from kgp.mathstats import fat_percentiles
    df = spark.createDataFrame(
        [(float(v),) for v in [1, 1, 1, 3, 4, 7, 9, 11, 13, 13]],
        "v double")
    got = fat_percentiles(df, "v", [30, 75, 50])
    assert got[30] == pytest.approx(2.0)
    assert got[75] == pytest.approx(11.0)
    assert got[50] == pytest.approx(0.5 * 4 + 0.5 * 7)   # ranks 5+6


def test_exact_ranks_partition_independent(spark):
    from kgp.mathstats import exact_ranks
    import random
    vals = list(range(1, 1001))
    rnd = random.Random(7)
    rnd.shuffle(vals)
    df = spark.createDataFrame([(float(v),) for v in vals],
                               "v double").repartition(13)
    got = exact_ranks(df, "v", [1, 250, 500, 999, 1000])
    assert got == {1: 1.0, 250: 250.0, 500: 500.0, 999: 999.0,
                   1000: 1000.0}


# -------------------------- MathHelper number twins (pure python)

def test_parse_string_number():
    from kgp.mathstats import parse_string_number as p
    assert p("1 1/2 cups") == pytest.approx(1.5)
    assert p("about 3.5kg") == pytest.approx(3.5)
    assert p("¾ liter") == pytest.approx(0.75)
    assert p("½") == pytest.approx(0.5)
    assert p("4.4353e3") == pytest.approx(4435.3)
    assert p("1,234.5 things") == pytest.approx(1234.5)
    assert p("1,25 m") == pytest.approx(1.25)   # decimal comma
    assert p("no numbers") is None
    assert p("no numbers", 7.0) == 7.0


def test_number_to_fraction():
    from kgp.mathstats import number_to_fraction as f
    assert f(0.5) == "1/2"
    assert f(0.33) == "1/3"
    assert f(1.25) == "1 1/4"
    assert f(-0.33) == "-1/3"
    assert f(0.02) == "0"
    # the reference's >0.95 branch yields 'full 1', kept bug-for-bug
    assert f(2.97) == "2 1"
    assert f(3.0) == "3"


def test_confidence_interval():
    from kgp.mathstats import confidence_interval as ci
    import math
    assert ci(100, 0.95, 0.5) == pytest.approx(
        1.96 * math.sqrt(0.25 / 100))
    # the reference's odd 0.85 z (1.139 < 0.75's 1.151) transcribed
    assert ci(100, 0.85, 0.5) < ci(100, 0.75, 0.5)
    with pytest.raises(ValueError):
        ci(100, 0.8, 0.5)
    with pytest.raises(ValueError):
        ci(0, 0.95, 0.5)


def test_misc_number_helpers():
    from kgp.mathstats import (cantorize, cross_total, faculty,
                               intervals_overlap, ip_to_number,
                               is_within_correctness_margin, jround,
                               number_to_ip, order_of_magnitude)
    assert jround(2.5, 0) == 3.0            # half-UP like Math.round
    assert jround(2.345, 2) == pytest.approx(2.35)
    assert cantorize(65535, 65535) == 8589803520  # the javadoc value
    assert cantorize(0, 0) == 0 and cantorize(1, 0) != cantorize(0, 1)
    assert cross_total(987) == 24 and cross_total(7) == 7
    assert order_of_magnitude(100) == 2
    assert order_of_magnitude(0) == 0
    assert order_of_magnitude(0.01) == -2
    assert faculty(5) == 120
    assert faculty(13) != 6227020800        # 32-bit overflow wrap kept
    assert ip_to_number("192.168.0.1") == 3232235521
    assert number_to_ip(3232235521) == "192.168.0.1"
    assert is_within_correctness_margin(105, 100, 0.1)
    assert not is_within_correctness_margin(100, 100, 0.0)  # strict
    assert intervals_overlap(0, 5, 4, 9)
    assert not intervals_overlap(0, 5, 5, 9)  # strict half-open
