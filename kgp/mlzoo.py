"""Classifier zoo: Naive Bayes and KNN as Spark-first operators.

Re-expresses the reference's general-purpose classifiers
(/root/reference/palladian-core/src/main/java/ws/palladian/classification/)
over DataFrames of typed feature columns (string columns = nominal
features, numeric columns = numeric features; one label column):

  * Naive Bayes — NaiveBayesLearner.java:30-77 (nominal counts,
    per-(feature, category) Gaussian stats), NaiveBayesModel.java:66-199
    (priors, Laplace-smoothed nominal probabilities, density normalized
    by the per-feature sum of per-category PDF maxima, SAMPLE standard
    deviation per SlimStats.java:109-118), NaiveBayesClassifier.java:75-115
    (log-space scoring; zero/absent-sigma densities are skipped, not
    multiplied). Training is a wide-to-long melt followed by ONE hash
    aggregation per feature kind — fully distributed, no Python row
    loop. Classification is broadcast joins of the (tiny,
    vocabulary-sized) model tables against melted feature rows plus a
    log-sum aggregation — pure column expressions end to end.

  * KNN — KnnLearner.java:48-52 (min-max normalization default),
    KnnModel.java:100-156 (squared Euclidean distance — the reference
    never takes the root), KnnClassifier.java:50-75 (k nearest
    neighbours, earlier training row wins distance ties per
    FixedSizePriorityQueue.java:56-66's strict-greater replacement,
    vote weight 1/(distance + 1e-9)). The model is instance-based by
    definition — the normalized training matrix is collected once
    (bounded by `max_train`) and broadcast; classification is a
    vectorized numpy distance computation inside mapInPandas, chunked
    so memory stays bounded per batch.

Probabilities follow CategoryEntriesBuilder.java:135-160: scores are
normalized by their total; a negative total (log-space sums) inverts
the ratio (p = 1 - s/total). One documented determinism deviation: the
reference's most-likely pick iterates a HashMap (order undefined on
exact ties); `nb_predict`/`knn_predict` break score ties by ascending
category name.

The QuickDt decision-tree/random-forest wrappers (dt/QuickDtClassifier
.java) wrap a third-party library rather than reference semantics; the
pyspark.ml RandomForestClassifier path in kgp.disambig_ml is the
Spark-native counterpart.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# NaiveBayesClassifier.DEFAULT_LAPLACE_CORRECTOR (NaiveBayesClassifier.java:27)
DEFAULT_LAPLACE = 0.00001

_NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.FloatType, T.DoubleType, T.DecimalType)


def split_feature_columns(df: DataFrame, label_col: str,
                          id_col: str | None = None
                          ) -> tuple[list[str], list[str]]:
    """Infer (nominal, numeric) feature columns from the schema: string
    columns are nominal features, numeric columns are numeric features
    (CsvDatasetReader's value typing, per-column rather than per-cell)."""
    nominal, numeric = [], []
    for field in df.schema.fields:
        if field.name in (label_col, id_col):
            continue
        if isinstance(field.dataType, T.StringType):
            nominal.append(field.name)
        elif isinstance(field.dataType, _NUMERIC_TYPES):
            numeric.append(field.name)
    return nominal, numeric


def melt(df: DataFrame, id_cols: list[str], value_cols: list[str],
         cast: str, var_name: str = "feature",
         value_name: str = "value") -> DataFrame:
    """Wide → long: one (feature, value) row per non-null feature cell.
    A single generator expression — no shuffle, no Python."""
    pairs = F.array(*[
        F.struct(F.lit(c).alias(var_name),
                 F.col(c).cast(cast).alias(value_name))
        for c in value_cols])
    return (df.select(*id_cols, F.explode(pairs).alias("_kv"))
            .select(*id_cols, f"_kv.{var_name}", f"_kv.{value_name}")
            .where(F.col(value_name).isNotNull()))


# ----------------------------------------------------------- Naive Bayes


@dataclass
class NbModel:
    """The three aggregate tables of NaiveBayesModel.java:29-35, kept
    as DataFrames (each is vocabulary-sized, broadcast at classify)."""
    categories: DataFrame          # (category, cat_n)
    nominal: DataFrame             # (feature, value, category, n)
    numeric: DataFrame             # (feature, category, mean, std)
    nominal_cols: list[str]
    numeric_cols: list[str]


def nb_train(instances: DataFrame, label_col: str = "category",
             nominal_cols: list[str] | None = None,
             numeric_cols: list[str] | None = None) -> NbModel:
    """NaiveBayesLearner.train (NaiveBayesLearner.java:30-72) as three
    hash aggregations: category counts, (feature, value, category)
    nominal counts, (feature, category) mean/sample-stddev."""
    if nominal_cols is None and numeric_cols is None:
        nominal_cols, numeric_cols = split_feature_columns(
            instances, label_col)
    nominal_cols = nominal_cols or []
    numeric_cols = numeric_cols or []

    lab = F.col(label_col).alias("category")
    categories = (instances.groupBy(lab)
                  .agg(F.count("*").alias("cat_n")))

    if nominal_cols:
        nominal = (melt(instances.select(label_col, *nominal_cols),
                        [label_col], nominal_cols, "string")
                   .groupBy(lab, "feature", "value")
                   .agg(F.count("*").alias("n")))
    else:
        nominal = instances.sparkSession.createDataFrame(
            [], "category string, feature string, value string, n long")

    if numeric_cols:
        # SlimStats: count==1 -> stddev 0 (SlimStats.java:113-117);
        # Spark's stddev_samp yields NULL/NaN there, so coalesce.
        numeric = (melt(instances.select(label_col, *numeric_cols),
                        [label_col], numeric_cols, "double")
                   .groupBy(lab, "feature")
                   .agg(F.avg("value").alias("mean"),
                        F.coalesce(F.nanvl(F.stddev_samp("value"),
                                           F.lit(None)),
                                   F.lit(0.0)).alias("std")))
    else:
        numeric = instances.sparkSession.createDataFrame(
            [], "category string, feature string, mean double, std double")

    return NbModel(categories, nominal, numeric,
                   list(nominal_cols), list(numeric_cols))


def nb_classify(df: DataFrame, model: NbModel, id_col: str,
                laplace: float = DEFAULT_LAPLACE) -> DataFrame:
    """NaiveBayesClassifier.classify (NaiveBayesClassifier.java:75-115)
    for every row at once: melted feature cells broadcast-join the
    model tables, per-(row, category) log contributions sum in one
    aggregation, priors seed the score. Returns (id, category, score,
    probability) with CategoryEntriesBuilder.java:135-160 probability
    semantics (negative log-space totals invert the ratio)."""
    spark = df.sparkSession
    # (category, cat_n, prior, k) — k = number of distinct categories
    k_tot = model.categories.agg(
        F.count("*").alias("k"), F.sum("cat_n").alias("total_n"))
    cats = (model.categories.crossJoin(F.broadcast(k_tot))
            .withColumn("prior", F.col("cat_n") / F.col("total_n")))

    contribs = []

    nom_cols = [c for c in model.nominal_cols if c in df.columns]
    if nom_cols:
        cells = melt(df.select(id_col, *nom_cols), [id_col],
                     nom_cols, "string")
        # every learned (feature) × present value × category scores,
        # unseen combinations at count 0 (NaiveBayesModel.java:85-100)
        nom = (cells.crossJoin(F.broadcast(cats))
               .join(F.broadcast(model.nominal),
                     ["feature", "value", "category"], "left")
               .select(id_col, "category",
                       F.log((F.coalesce(F.col("n"), F.lit(0)) + laplace)
                             / (F.col("cat_n") + laplace * F.col("k"))
                             ).alias("logp")))
        contribs.append(nom)

    num_cols = [c for c in model.numeric_cols if c in df.columns]
    if num_cols:
        # per-feature density normalization: sum over categories of the
        # PDF maximum 1/(std*sqrt(2*pi)) (NaiveBayesModel.java:179-198)
        norm = (model.numeric.groupBy("feature")
                .agg(F.sum(F.when(F.col("std") > 0,
                                  1.0 / (F.col("std")
                                         * math.sqrt(2 * math.pi))))
                     .alias("norm")))
        stats = model.numeric.join(F.broadcast(norm), "feature")
        cells = melt(df.select(id_col, *num_cols), [id_col],
                     num_cols, "double")
        var = F.col("std") * F.col("std")
        pdf = (F.lit(1.0) / F.sqrt(2 * math.pi * var)
               * F.exp(-F.pow(F.col("value") - F.col("mean"), 2)
                       / (2 * var)))
        density = F.when(F.col("std") > 0, pdf / F.col("norm")
                         ).otherwise(F.lit(0.0))
        # density <= 0 contributes nothing (NaiveBayesClassifier.java:103)
        num = (cells.join(F.broadcast(stats), "feature")
               .withColumn("density", density)
               .where(F.col("density") > 0)
               .select(id_col, "category",
                       F.log("density").alias("logp")))
        contribs.append(num)

    # the log-prior seeds every (row, category) as one more contribution
    # row, so the whole score is ONE hash aggregation — no row-scale
    # join between the base grid and the summed contributions
    base = (df.select(id_col).crossJoin(F.broadcast(cats))
            .select(id_col, "category", F.log("prior").alias("logp")))
    scored = base
    for c in contribs:
        scored = scored.unionByName(c)
    scored = (scored.groupBy(id_col, "category")
              .agg(F.sum("logp").alias("score")))

    w = Window.partitionBy(id_col)
    total = F.sum("score").over(w)
    raw = F.when(total == 0, F.lit(0.0)).otherwise(F.col("score") / total)
    prob = F.when(total < 0, 1 - raw).otherwise(raw)
    return scored.select(id_col, "category", "score",
                         prob.alias("probability"))


def nb_predict(df: DataFrame, model: NbModel, id_col: str,
               laplace: float = DEFAULT_LAPLACE) -> DataFrame:
    """(id, predicted, probability): the most-likely category per row;
    exact-tie order deviates from the reference's HashMap iteration —
    ties break by ascending category name, deterministically."""
    scored = nb_classify(df, model, id_col, laplace)
    w = Window.partitionBy(id_col).orderBy(
        F.desc("probability"), F.asc("category"))
    return (scored.withColumn("_rank", F.row_number().over(w))
            .where(F.col("_rank") == 1)
            .select(id_col, F.col("category").alias("predicted"),
                    "probability"))


# ------------------------------------------------------------------ KNN


@dataclass
class KnnModel:
    """KnnModel.java:29-63: the normalized training matrix plus the
    normalization parameters for classify-time scaling."""
    feature_cols: list[str]
    categories: list[str]
    train_x: np.ndarray            # (n_train, d) normalized
    train_y: np.ndarray            # (n_train,) category strings
    norm_kind: str                 # "minmax" | "zscore" | "none"
    norm_a: np.ndarray             # min (minmax) / mean (zscore)
    norm_b: np.ndarray             # max-min    / sample stddev


def _normalize(kind: str, x: np.ndarray, a: np.ndarray,
               b: np.ndarray) -> np.ndarray:
    if kind == "none":
        return x
    if kind == "minmax":
        # diff == 0 -> value - min (MinMaxNormalizer.java:57-58)
        return np.where(b != 0, (x - a) / np.where(b == 0, 1, b), x - a)
    if kind == "zscore":
        # std == 0 -> value - mean (ZScoreNormalizer.java:52-56)
        return np.where(b != 0, (x - a) / np.where(b == 0, 1, b), x - a)
    raise ValueError(f"unknown normalizer {kind!r}")


def knn_train(instances: DataFrame, label_col: str = "category",
              feature_cols: list[str] | None = None,
              normalizer: str = "minmax",
              max_train: int = 1_000_000) -> KnnModel:
    """KnnLearner.train (KnnLearner.java:48-52): compute normalization
    stats with one distributed aggregation, then materialize the
    normalized training matrix. KNN is instance-based — the model IS
    the training set (KnnModel.java:37-38), so the collect here is the
    model build, bounded by `max_train` (the reference holds the same
    list in heap memory with no bound at all)."""
    if feature_cols is None:
        _, feature_cols = split_feature_columns(instances, label_col)
    if not feature_cols:
        raise ValueError("KNN needs at least one numeric feature column")
    n = instances.count()
    if n > max_train:
        raise ValueError(
            f"training set has {n} rows > max_train={max_train}; "
            "sample it down — a KNN model is broadcast whole")

    if normalizer == "minmax":
        aggs = [F.min(c).cast("double") for c in feature_cols] + \
               [F.max(c).cast("double") for c in feature_cols]
        row = instances.agg(*aggs).collect()[0]
        a = np.array(row[:len(feature_cols)], dtype=float)
        b = np.array(row[len(feature_cols):], dtype=float) - a
    elif normalizer == "zscore":
        aggs = [F.avg(c) for c in feature_cols] + \
               [F.coalesce(F.nanvl(F.stddev_samp(c), F.lit(None)),
                           F.lit(0.0)) for c in feature_cols]
        row = instances.agg(*aggs).collect()[0]
        a = np.array(row[:len(feature_cols)], dtype=float)
        b = np.array(row[len(feature_cols):], dtype=float)
    elif normalizer == "none":
        a = np.zeros(len(feature_cols))
        b = np.ones(len(feature_cols))
    else:
        raise ValueError(f"unknown normalizer {normalizer!r}")

    pdf = instances.select(
        F.col(label_col).cast("string").alias("_y"),
        *[F.col(c).cast("double") for c in feature_cols]).toPandas()
    if pdf[feature_cols].isna().any().any():
        raise ValueError("null feature values are not supported "
                         "(KnnModel.java:73-75)")
    x = _normalize(normalizer, pdf[feature_cols].to_numpy(float),
                   a, b)
    y = pdf["_y"].to_numpy(object)
    return KnnModel(list(feature_cols), sorted(set(y.tolist())),
                    x, y, normalizer, a, b)


def knn_classify(df: DataFrame, model: KnnModel, id_col: str,
                 k: int = 3, batch_rows: int = 1024) -> DataFrame:
    """KnnClassifier.classify (KnnClassifier.java:50-75) vectorized:
    squared Euclidean distances to the broadcast training matrix, the
    k nearest vote with weight 1/(d + 1e-9) (earlier training rows win
    exact distance ties, matching FixedSizePriorityQueue.java:56-66's
    strict-greater replacement), scores normalized to probabilities.
    Returns (id, category, probability) — all trained categories per
    row, zero-score ones included (CategoryEntriesBuilder seeded with
    every category at 0, KnnClassifier.java:54)."""
    if k <= 0:
        raise ValueError("k must be greater zero")
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        (model.train_x, model.train_y, model.categories,
         model.norm_kind, model.norm_a, model.norm_b))
    feature_cols = model.feature_cols
    kk = k

    out_schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("probability", T.DoubleType()),
    ])

    def score(batches):
        tx, ty, cats, kind, na, nb = bc.value
        cat_idx = {c: i for i, c in enumerate(cats)}
        y_idx = np.array([cat_idx[c] for c in ty])
        for pdf in batches:
            ids = pdf[id_col].astype(str).to_numpy()
            q = pdf[feature_cols].to_numpy(float)
            if np.isnan(q).any():
                raise ValueError("null feature values are not "
                                 "supported (KnnModel.java:112-114)")
            q = _normalize(kind, q, na, nb)
            for lo in range(0, len(q), batch_rows):
                chunk = q[lo:lo + batch_rows]
                d = ((chunk[:, None, :] - tx[None, :, :]) ** 2).sum(-1)
                take = min(kk, d.shape[1])
                nearest = np.argsort(d, axis=1, kind="stable")[:, :take]
                w = 1.0 / (np.take_along_axis(d, nearest, 1) + 1e-9)
                scores = np.zeros((len(chunk), len(cats)))
                for j in range(take):
                    np.add.at(scores, (np.arange(len(chunk)),
                                       y_idx[nearest[:, j]]), w[:, j])
                probs = scores / scores.sum(1, keepdims=True)
                n_c = len(cats)
                yield pd.DataFrame({
                    "id": np.repeat(ids[lo:lo + batch_rows], n_c),
                    "category": np.tile(np.array(cats, object),
                                        len(chunk)),
                    "probability": probs.ravel(),
                })

    res = df.select(F.col(id_col).cast("string").alias(id_col),
                    *feature_cols).mapInPandas(score, out_schema)
    return res.withColumnRenamed("id", id_col)


def knn_predict(df: DataFrame, model: KnnModel, id_col: str,
                k: int = 3) -> DataFrame:
    """(id, predicted, probability); ties by ascending category name."""
    scored = knn_classify(df, model, id_col, k)
    w = Window.partitionBy(id_col).orderBy(
        F.desc("probability"), F.asc("category"))
    return (scored.withColumn("_rank", F.row_number().over(w))
            .where(F.col("_rank") == 1)
            .select(id_col, F.col("category").alias("predicted"),
                    "probability"))


# --------------------------------------------------------------- ZeroR
# The majority-class baseline (classification/zeror/ZeroRLearner.java
# :20-27, ZeroRModel.java:25-32): train = one category count, classify
# = the prior distribution for every instance. The reference sorts the
# probability map descending with HashMap-order ties
# (CollectionHelper.sortByValue); probability ties sort by ascending
# category name here — the repo's standard deterministic substitute.

def zeror_train(instances: DataFrame,
                label_col: str = "category") -> list[tuple[str, float]]:
    """[(category, probability)] sorted by probability desc, name asc."""
    counts = instances.groupBy(F.col(label_col).alias("category")) \
        .agg(F.count("*").alias("n")).collect()
    total = sum(r.n for r in counts)
    return sorted(((r.category, r.n / total) for r in counts),
                  key=lambda cp: (-cp[1], cp[0]))


# ------------------------------------------- class-distribution resample
# palladian-experimental classification/utils/
# ClassDistributionResampler.java:31-117: keep each instance with
# probability minClassProbability / P(class) * weight(class) so class
# counts come out roughly equal (or follow the given weights). The
# reference draws java.util.Random doubles (nondeterministic); the
# repo's standard md5 sample key substitutes — same expected counts,
# reproducible under re-partitioning and re-runs.

def resample_class_distribution(df: DataFrame, id_col: str,
                                label_col: str = "category",
                                weights: dict[str, float] | None = None,
                                ) -> DataFrame:
    """One groupBy fits the ZeroR class distribution; the keep rule is
    a broadcast map-literal filter over the scan (no second shuffle).
    Unknown weights default to 1.0 like the reference's LazyMap."""
    weights = weights or {}
    probs = dict((c, p) for c, p in zeror_train(df, label_col))
    min_p = min(probs.values())
    keep = {c: min_p / p * weights.get(c, 1.0)
            for c, p in probs.items()}
    keep_col = F.coalesce(*(
        [F.when(F.col(label_col) == c, F.lit(v)) for c, v in
         sorted(keep.items())] + [F.lit(0.0)]))
    from kgp.curation import sample_key
    return df.where(sample_key(F.col(id_col)) / 10000.0 <= keep_col)
