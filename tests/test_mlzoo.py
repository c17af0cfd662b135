"""Classifier-zoo goldens ported from the reference test suite:
NaiveBayesClassifierTest.java (play data / numeric / accuracy floors),
KnnClassifierTest.java, MinMaxNormalizerTest.java,
ZScoreNormalizerTest.java."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from kgp.mlzoo import (DEFAULT_LAPLACE, knn_classify, knn_predict,
                       knn_train, nb_classify, nb_predict, nb_train)

CLASSIFIER_DIR = ("/root/reference/palladian-core/src/test/resources/"
                  "classifier")

# NaiveBayesClassifierTest.testNaiveBayesWithPlayData rows
PLAY = [
    ("sunny", "hot", "high", "false", "no"),
    ("sunny", "hot", "high", "true", "no"),
    ("overcast", "hot", "high", "false", "yes"),
    ("rainy", "mild", "high", "false", "yes"),
    ("rainy", "cool", "normal", "false", "yes"),
    ("rainy", "cool", "normal", "true", "no"),
    ("overcast", "cool", "normal", "true", "yes"),
    ("sunny", "mild", "high", "false", "no"),
    ("sunny", "cool", "normal", "false", "yes"),
    ("rainy", "mild", "normal", "false", "yes"),
    ("sunny", "mild", "normal", "true", "yes"),
    ("overcast", "mild", "high", "true", "yes"),
    ("overcast", "hot", "normal", "false", "yes"),
    ("rainy", "mild", "high", "true", "no"),
]
PLAY_COLS = ["outlook", "temp", "humidity", "windy", "label"]


def _load_semicolon_csv(spark, path, header=False):
    """The shape CsvDatasetReader produces (CsvDatasetReaderConfig:
    ';' separator, last column = category), with per-column numeric
    inference instead of the reference's per-cell value typing."""
    pdf = pd.read_csv(path, sep=";", header=0 if header else None,
                      dtype=str)
    pdf.columns = [f"c{i}" for i in range(len(pdf.columns) - 1)] + ["label"]
    for c in pdf.columns[:-1]:
        try:
            pdf[c] = pdf[c].astype(float)
        except ValueError:
            pass
    pdf["_id"] = [str(i) for i in range(len(pdf))]
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def play_model(spark):
    df = spark.createDataFrame(PLAY, PLAY_COLS)
    return nb_train(df, "label")


def _predict_one(spark, model, row: dict) -> str:
    cols = {**{c: None for c in model.nominal_cols}, **row, "_id": "0"}
    df = spark.createDataFrame(pd.DataFrame([cols]))
    got = nb_predict(df, model, "_id").collect()
    return got[0]["predicted"]


def test_nb_play_model_shape(play_model):
    cats = {r["category"]: r["cat_n"]
            for r in play_model.categories.collect()}
    assert cats == {"yes": 9, "no": 5}
    feats = {r["feature"] for r in play_model.nominal.collect()}
    assert feats == {"outlook", "temp", "humidity", "windy"}


def test_nb_play_goldens(spark, play_model):
    # NaiveBayesClassifierTest.java:64-80 (the (1) constructor routes
    # to the DEFAULT_LAPLACE_CORRECTOR, NaiveBayesClassifier.java:52-54)
    assert _predict_one(spark, play_model, {
        "outlook": "sunny", "temp": "cool", "humidity": "high",
        "windy": "true"}) == "no"
    assert _predict_one(spark, play_model, {
        "outlook": "overcast", "temp": "cool", "humidity": "high",
        "windy": "true"}) == "yes"
    # missing outlook -> feature skipped
    assert _predict_one(spark, play_model, {
        "temp": "cool", "humidity": "high", "windy": "true"}) == "no"


def test_nb_untrained_features_ignored(spark, play_model):
    # NaiveBayesClassifierTest.java:77-80: classify iterates LEARNED
    # features only; extra columns never join the model
    df = spark.createDataFrame(pd.DataFrame([{
        "outlook": "overcast", "temp": "cool", "humidity": "high",
        "windy": "true", "a": "a", "b": "b", "c": "c", "_id": "0"}]))
    got = nb_predict(df, play_model, "_id").collect()
    assert got[0]["predicted"] == "yes"


def test_nb_play_probability_exact(spark, play_model):
    """Pin the full scoring math against an independent pure-Python
    mirror of NaiveBayesClassifier.classify."""
    fv = {"outlook": "sunny", "temp": "cool", "humidity": "high",
          "windy": "true"}
    counts: dict = {}
    cat_n = {"yes": 9, "no": 5}
    for *feats, label in PLAY:
        for name, value in zip(PLAY_COLS[:-1], feats):
            counts[(name, value, label)] = counts.get(
                (name, value, label), 0) + 1
    lp = DEFAULT_LAPLACE
    scores = {}
    for cat in ("yes", "no"):
        s = np.log(cat_n[cat] / 14)
        for name, value in fv.items():
            c = counts.get((name, value, cat), 0)
            s += np.log((c + lp) / (cat_n[cat] + lp * 2))
        scores[cat] = s
    total = sum(scores.values())
    expected = {c: 1 - s / total for c, s in scores.items()}

    df = spark.createDataFrame(pd.DataFrame([{**fv, "_id": "0"}]))
    got = {r["category"]: r["probability"]
           for r in nb_classify(df, play_model, "_id").collect()}
    for cat in ("yes", "no"):
        assert got[cat] == pytest.approx(expected[cat], abs=1e-12)


def test_nb_numeric_golden(spark):
    # NaiveBayesClassifierTest.testNaiveBayesNumeric
    rows = [(3.0, "Case"), (6.0, "Case"), (20.0, "Case"),
            (18.0, "Phone"), (66.0, "Phone"), (290.0, "Phone")]
    df = spark.createDataFrame(rows, ["f", "label"])
    model = nb_train(df, "label")
    stats = {(r["feature"], r["category"]): (r["mean"], r["std"])
             for r in model.numeric.collect()}
    # sample stddev (SlimStats.java:117): Case mean 29/3
    assert stats[("f", "Case")][0] == pytest.approx(29 / 3)
    assert stats[("f", "Case")][1] == pytest.approx(
        np.std([3.0, 6.0, 20.0], ddof=1))
    q = spark.createDataFrame(pd.DataFrame([{"f": 16.0, "_id": "0"}]))
    got = nb_predict(q, model, "_id").collect()
    assert got[0]["predicted"] == "Case"


def test_nb_single_instance_category_sigma_zero(spark):
    # count==1 -> stddev 0 -> density 0 -> skipped, prior decides
    rows = [(1.0, "A"), (2.0, "A"), (5.0, "B")]
    df = spark.createDataFrame(rows, ["f", "label"])
    model = nb_train(df, "label")
    stats = {r["category"]: r["std"] for r in model.numeric.collect()}
    assert stats["B"] == 0.0
    q = spark.createDataFrame(pd.DataFrame([{"f": 5.0, "_id": "0"}]))
    res = nb_predict(q, model, "_id").collect()
    assert len(res) == 1  # scoring still total and well-defined


def test_nb_adult_income_accuracy(spark):
    # NaiveBayesClassifierTest.testNaiveBayesWithAdultIncomeData floor
    df = _load_semicolon_csv(spark, f"{CLASSIFIER_DIR}/adultData.txt")
    model = nb_train(df, "label")
    pred = nb_predict(df.drop("label"), model, "_id")
    joined = pred.join(df.select("_id", "label"), "_id")
    acc = joined.where("predicted = label").count() / joined.count()
    assert acc > 0.77


def test_nb_diabetes_accuracy(spark):
    df = _load_semicolon_csv(spark, f"{CLASSIFIER_DIR}/diabetesData.txt")
    model = nb_train(df, "label")
    pred = nb_predict(df.drop("label"), model, "_id")
    joined = pred.join(df.select("_id", "label"), "_id")
    acc = joined.where("predicted = label").count() / joined.count()
    assert acc > 0.77


# ------------------------------------------------------------------ KNN


def test_knn_golden(spark):
    # KnnClassifierTest.testKnnClassifier (NoNormalizer, k=3)
    rows = [(3.0, 4.0, 5.0, "A"), (3.0, 6.0, 6.0, "A"),
            (4.0, 4.0, 4.0, "B")]
    df = spark.createDataFrame(rows, ["f1", "f2", "f3", "label"])
    model = knn_train(df, "label", normalizer="none")
    assert set(model.categories) == {"A", "B"}
    q = spark.createDataFrame(
        pd.DataFrame([{"f1": 1.0, "f2": 2.0, "f3": 3.0, "_id": "0"}]))
    got = {r["category"]: r["probability"]
           for r in knn_classify(q, model, "_id", k=3).collect()}
    # squared distances 12, 29, 14 -> wA=1/12+1/29, wB=1/14
    wa, wb = 1 / (12 + 1e-9) + 1 / (29 + 1e-9), 1 / (14 + 1e-9)
    assert got["A"] == pytest.approx(wa / (wa + wb), abs=1e-9)
    pred = knn_predict(q, model, "_id", k=3).collect()
    assert pred[0]["predicted"] == "A"


def test_knn_k_larger_than_train(spark):
    rows = [(0.0, "A"), (1.0, "B")]
    df = spark.createDataFrame(rows, ["f", "label"])
    model = knn_train(df, "label", normalizer="none")
    q = spark.createDataFrame(pd.DataFrame([{"f": 0.1, "_id": "0"}]))
    pred = knn_predict(q, model, "_id", k=5).collect()
    assert pred[0]["predicted"] == "A"


def test_knn_tie_prefers_earlier_training_row(spark):
    # FixedSizePriorityQueue.add replaces only on strictly smaller
    # distance -> with k=1 the FIRST equidistant row votes
    rows = [(0.0, "A"), (2.0, "B")]
    df = spark.createDataFrame(rows, ["f", "label"])
    model = knn_train(df, "label", normalizer="none")
    q = spark.createDataFrame(pd.DataFrame([{"f": 1.0, "_id": "0"}]))
    pred = knn_predict(q, model, "_id", k=1).collect()
    assert pred[0]["predicted"] == "A"


def test_minmax_normalization_goldens(spark):
    # MinMaxNormalizerTest.testMinMaxNormalization
    rows = [(50.0, 1000.0, "x"), (10.0, 10000.0, "x"), (5.0, 10.0, "x")]
    df = spark.createDataFrame(rows, ["v1", "v2", "label"])
    model = knn_train(df, "label", normalizer="minmax")
    x = model.train_x
    assert x[0, 0] == pytest.approx(1.0)
    assert x[1, 0] == pytest.approx(0.1111, abs=1e-3)
    assert x[2, 0] == pytest.approx(0.0)
    assert x[0, 1] == pytest.approx(0.0999, abs=1e-3)
    assert x[1, 1] == pytest.approx(1.0, abs=1e-3)
    assert x[2, 1] == pytest.approx(0.0, abs=1e-3)


def test_minmax_equal_min_max(spark):
    # MinMaxNormalizer.java:57-58: diff == 0 -> value - min
    rows = [(0.9, "x"), (0.9, "x")]
    df = spark.createDataFrame(rows, ["v", "label"])
    model = knn_train(df, "label", normalizer="minmax")
    assert model.train_x[0, 0] == pytest.approx(0.0)


def test_zscore_normalization_goldens(spark):
    # ZScoreNormalizerTest.testZScoreNormalization (sample stddev = 17)
    vals = [35.0, 36.0, 46.0, 68.0, 70.0]
    df = spark.createDataFrame([(v, "x") for v in vals], ["v1", "label"])
    model = knn_train(df, "label", normalizer="zscore")
    expect = [-0.9412, -0.8824, -0.2941, 1.0, 1.1176]
    for got, exp in zip(model.train_x[:, 0], expect):
        assert got == pytest.approx(exp, abs=1e-3)


def test_knn_wine_accuracy(spark):
    # KnnClassifierTest.testKnnClassifierSerialization data (wineData,
    # MinMaxNormalizer, k=3); train==test so nearest is itself
    pdf = pd.read_csv(f"{CLASSIFIER_DIR}/wineData.csv", sep=";")
    pdf.columns = [f"c{i}" for i in range(len(pdf.columns) - 1)] + ["label"]
    pdf["label"] = pdf["label"].astype(str)
    pdf["_id"] = [str(i) for i in range(len(pdf))]
    df = spark.createDataFrame(pdf)
    model = knn_train(df, "label", normalizer="minmax")
    pred = knn_predict(df.drop("label"), model, "_id", k=3)
    joined = pred.join(df.select("_id", "label"), "_id")
    acc = joined.where("predicted = label").count() / joined.count()
    assert acc > 0.9


def test_nb_classify_plan_is_broadcast_only(spark):
    """Scale shape: classification is broadcast joins + one hash agg —
    no SortMergeJoin (no row-scale shuffle join), no Python eval."""
    rows = [("sunny", "hot", 85.0, "no"), ("rainy", "cool", 60.0, "yes")]
    df = spark.createDataFrame(rows * 10,
                               ["outlook", "temp", "humid", "label"])
    model = nb_train(df, "label")
    from pyspark.sql import functions as F
    q = df.drop("label").withColumn(
        "_id", F.monotonically_increasing_id().cast("string"))
    plan = (nb_classify(q, model, "_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


# --------------------------------------------------------------- ZeroR

def test_zeror_majority_baseline(spark):
    from kgp.mlzoo import zeror_train
    df = spark.createDataFrame(
        [(i, "a" if i < 6 else "b") for i in range(10)],
        "doc_id long, category string")
    model = zeror_train(df)
    assert model == [("a", 0.6), ("b", 0.4)]
    # tie -> ascending category name
    tie = spark.createDataFrame([(1, "z"), (2, "y")],
                                "doc_id long, category string")
    assert zeror_train(tie)[0][0] == "y"


# ------------------------------------------- class-distribution resample

def test_resample_class_distribution_balances(spark):
    from kgp.mlzoo import resample_class_distribution
    rows = [(i, "big" if i % 10 else "small") for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, category string")
    out = resample_class_distribution(df, "id").groupBy("category") \
        .count().collect()
    counts = {r["category"]: r["count"] for r in out}
    # small class (500) kept fully-ish; big class (4500) cut to ~500
    assert counts["small"] > 400
    assert abs(counts["big"] - counts["small"]) < 0.35 * counts["small"]


def test_resample_class_distribution_weights_and_determinism(spark):
    from kgp.mlzoo import resample_class_distribution
    rows = [(i, "a" if i % 2 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, category string")
    first = set(r["id"] for r in
                resample_class_distribution(df, "id").collect())
    second = set(r["id"] for r in
                 resample_class_distribution(df, "id").collect())
    assert first == second  # md5 key, not Random
    # weight 0.5 on 'a' halves its kept share
    weighted = resample_class_distribution(
        df, "id", weights={"a": 0.5}).groupBy("category") \
        .count().collect()
    counts = {r["category"]: r["count"] for r in weighted}
    assert counts["a"] < 0.7 * counts["b"]


def test_class_resample_gate_shape(spark):
    import __spark_entry__ as entry
    out = entry.queries()["class_resample"](
        spark, "/root/testdata/sf0.001")
    rows = out.groupBy("category").count().collect()
    assert len(rows) > 1  # several classes survive proportionally
