"""Math/statistics helpers — ports of the reference's tested
helper-math members (palladian-commons helper/math/), distributed
where a table-shaped form exists.

- SetSimilarities DICE / JACCARD / OVERLAP (SetSimilarities.java:
  24-79) with the shared empty-set rules (both empty -> 1, one
  empty -> 0, AbstractSetSimilarity:9-19).
- MathHelper.computeAveragePrecision (MathHelper.java:699-729):
  precision@k and running average precision over a ranked relevance
  list, divided by the given total-relevant count.
- MathHelper.computePearsonCorrelationCoefficient (:751-787).

Spark shapes:
- set similarities are pure JVM column expressions over array
  columns (array_distinct + array_intersect) — zero Python;
- the AP curve is a window partitioned BY QUERY (per-query ranked
  lists are result-page-sized; the corpus never single-partitions);
- pearson/regression are one aggregation (corr, regr_slope,
  regr_intercept — Catalyst's built-in second-order aggregates).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ------------------------------------------------------------ pure twins


def set_similarity(kind: str, s1: set, s2: set) -> float:
    """DICE / JACCARD / OVERLAP with the reference's empty rules."""
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    inter = len(s1 & s2)
    if kind == "dice":
        return 2.0 * inter / (len(s1) + len(s2))
    if kind == "jaccard":
        return inter / (len(s1) + len(s2) - inter)
    if kind == "overlap":
        return inter / min(len(s1), len(s2))
    raise ValueError(kind)


def average_precision(ranked: list[bool],
                      total_relevant: int) -> list[tuple[float, float]]:
    """computeAveragePrecision twin: [(pr@k, ap@k)] per position."""
    num_rel = 0
    rel_pr_sum = 0.0
    out = []
    for k, relevant in enumerate(ranked):
        if relevant:
            num_rel += 1
        pr_at_k = num_rel / (k + 1)
        if relevant:
            rel_pr_sum += pr_at_k
        out.append((pr_at_k, rel_pr_sum / total_relevant))
    return out


def pearson(x: list[float], y: list[float]) -> float:
    """computePearsonCorrelationCoefficient twin (exact formula)."""
    import math
    n = len(x)
    sx, sy = sum(x), sum(y)
    sxy = sum(a * b for a, b in zip(x, y))
    sxx = sum(a * a for a in x)
    syy = sum(b * b for b in y)
    num = sxy - sx * sy / n
    den = math.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
    return num / den


def token_similarity(s1: str, s2: str, kind: str = "jaccard") -> float:
    """TokenSimilarity port (helper/nlp/TokenSimilarity.java:15-30):
    lowercase + trim, equal strings short-circuit to 1, else the set
    similarity over whitespace-split token sets."""
    a, b = s1.lower().strip(), s2.lower().strip()
    if a == b:
        return 1.0
    import re
    return set_similarity(kind, set(re.split(r"\s", a)),
                          set(re.split(r"\s", b)))


def token_similarity_expr(a: Column, b: Column,
                          kind: str = "jaccard") -> Column:
    """TokenSimilarity as a pure JVM expression over string columns."""
    la, lb = F.trim(F.lower(a)), F.trim(F.lower(b))
    sa = F.array_distinct(F.split(la, r"\s"))
    sb = F.array_distinct(F.split(lb, r"\s"))
    return F.when(la == lb, 1.0) \
        .otherwise(set_similarity_expr(kind, sa, sb))


# ------------------------------------------------------- column forms


def set_similarity_expr(kind: str, a: Column, b: Column) -> Column:
    """Set similarity over two array columns as pure JVM expressions
    (arrays are treated as sets via array_distinct)."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    na, nb = F.size(da), F.size(db)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    if kind == "dice":
        sim = 2 * inter / (na + nb)
    elif kind == "jaccard":
        sim = inter / (na + nb - inter)
    elif kind == "overlap":
        sim = inter / F.least(na, nb)
    else:
        raise ValueError(kind)
    return (F.when((na == 0) & (nb == 0), 1.0)
            .when((na == 0) | (nb == 0), 0.0)
            .otherwise(sim))


def average_precision_curve(ranked: DataFrame, query_col: str = "query",
                            rank_col: str = "rank",
                            relevant_col: str = "relevant",
                            round_to: int | None = None) -> DataFrame:
    """Per-query AP curve: (query, rank, pr_at_k, ap). total-relevant
    is the query's own relevant count (a window aggregate). Windows
    partition by query — ranked lists are result-page-sized."""
    w_cum = Window.partitionBy(query_col).orderBy(rank_col) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(query_col)
    rel = F.col(relevant_col).cast("int")
    num_rel = F.sum(rel).over(w_cum)
    k1 = F.row_number().over(
        Window.partitionBy(query_col).orderBy(rank_col))
    pr = num_rel.cast("double") / k1
    rel_pr_sum = F.sum(F.when(rel == 1, pr)).over(w_cum)
    total = F.sum(rel).over(w_all)
    ap = F.coalesce(rel_pr_sum, F.lit(0.0)) / total
    pr_o, ap_o = pr, ap
    if round_to is not None:
        pr_o, ap_o = F.round(pr, round_to), F.round(ap, round_to)
    return ranked.select(F.col(query_col), F.col(rank_col),
                         pr_o.alias("pr_at_k"), ap_o.alias("ap"))


def corr_regression(df: DataFrame, x_col: str, y_col: str,
                    round_to: int | None = None) -> DataFrame:
    """One row: (pearson_r, alpha, beta) — built-in second-order
    aggregates, one pass, map-side partials."""
    r = F.corr(x_col, y_col)
    beta = F.regr_slope(F.col(y_col), F.col(x_col))
    alpha = F.regr_intercept(F.col(y_col), F.col(x_col))
    if round_to is not None:
        r, alpha, beta = (F.round(c, round_to) for c in (r, alpha, beta))
    return df.agg(r.alias("pearson_r"), alpha.alias("alpha"),
                  beta.alias("beta"))


def list_similarity(list1: list[str], list2: list[str]) -> dict:
    """MathHelper.computeListSimilarity port (MathHelper.java:377-420):
    rank-shift similarity between two orderings. The maximum possible
    summed (squared) displacement pairs positions from the ends
    inward; each list1 entry found in list2 contributes its absolute
    (squared) position shift; entries missing from list2 contribute
    nothing (the reference's break-only loop). rmse = sqrt(mean of
    squared shifts over the FOUND entries only)."""
    import math
    summed_max = 0
    summed_max_sq = 0
    distance = len(list1) - 1
    i = len(list1)
    while i > 0:
        summed_max += 2 * distance
        summed_max_sq += 2 * distance ** 2
        distance -= 2
        i -= 2
    real = 0
    real_sq = 0
    sq_shifts: list[float] = []
    for p1, e1 in enumerate(list1):
        for p2, e2 in enumerate(list2):
            if e1 == e2:
                real += abs(p1 - p2)
                real_sq += (p1 - p2) ** 2
                sq_shifts.append(float(abs(p1 - p2)) ** 2)
                break
    shift = 1 - real / summed_max
    squared_shift = 1 - real_sq / summed_max_sq
    rmse = (math.sqrt(sum(sq_shifts) / len(sq_shifts))
            if sq_shifts else float("nan"))
    return {"shift_similarity": shift,
            "squared_shift_similarity": squared_shift, "rmse": rmse}


def exact_ranks(df: DataFrame, col: str,
                ranks: list[int]) -> dict[int, float]:
    """Distributed EXACT order statistics: the 1-based `ranks` of
    `col` without ever sorting on one node. Two-phase shape (the same
    pattern as kgp.packing's offset scan): range-repartition + local
    sort, ONE pass counts rows per partition (a #partitions-sized
    collect), the driver turns counts into global offsets, and a
    second pass emits only the requested rank values from whichever
    partition holds them. Nothing but (rank, value) pairs leave the
    executors."""
    import pandas as pd

    spark = df.sparkSession
    ranked = df.select(F.col(col).alias("_v")).where(
        F.col("_v").isNotNull())
    parts = max(2, spark.sparkContext.defaultParallelism)
    # PERSIST between the two passes: repartitionByRange samples its
    # boundaries per execution, so without pinning the physical layout
    # the offsets from pass 1 would describe a different partitioning
    # than pass 2 reads
    arranged = ranked.repartitionByRange(parts, "_v") \
        .sortWithinPartitions("_v")

    def count_parts(batches):
        n = 0
        pid = -1
        for pdf in batches:
            n += len(pdf)
            if len(pdf):
                pid = int(pdf["_pid"].iloc[0])
        yield pd.DataFrame([(pid, n)], columns=["pid", "n"])

    with_pid = arranged.withColumn("_pid", F.spark_partition_id()) \
        .persist()
    counts = {int(r["pid"]): int(r["n"])
              for r in with_pid.mapInPandas(
                  count_parts, "pid int, n long").collect()
              if r["pid"] >= 0}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    bc = spark.sparkContext.broadcast((offsets, sorted(ranks)))

    def pick(batches):
        offs, targets = bc.value
        rows = []
        buf = []
        pid = -1
        for pdf in batches:
            if len(pdf):
                pid = int(pdf["_pid"].iloc[0])
                buf.append(pdf["_v"])
        if pid >= 0 and buf:
            vals = pd.concat(buf).reset_index(drop=True)
            base = offs.get(pid, 0)
            for t in targets:
                local = t - 1 - base
                if 0 <= local < len(vals):
                    rows.append((t, float(vals.iloc[local])))
        yield pd.DataFrame(rows, columns=["rank", "value"])

    got = with_pid.mapInPandas(pick, "rank long, value double").collect()
    with_pid.unpersist()
    return {int(r["rank"]): r["value"] for r in got}


def fat_percentiles(df: DataFrame, col: str,
                    ps: list[int]) -> dict[int, float]:
    """FatStats.getPercentile (FatStats.java:getPercentile): with
    n = p/100 * count, an INTEGER n averages the values at 1-based
    ranks n and n+1; otherwise the value at rank ceil(n). Exact, via
    the distributed rank selection above."""
    import math
    n_total = df.where(F.col(col).isNotNull()).count()
    if n_total == 0:
        return {p: float("nan") for p in ps}
    needed: set[int] = set()
    plan: dict[int, tuple] = {}
    for p in ps:
        n = p / 100.0 * n_total
        if n == int(n) and int(n) >= 1:
            plan[p] = ("avg", int(n), min(int(n) + 1, n_total))
            needed.update(plan[p][1:])
        else:
            r = max(1, math.ceil(n))
            plan[p] = ("one", r)
            needed.add(r)
    vals = exact_ranks(df, col, sorted(needed))
    out = {}
    for p, spec in plan.items():
        if spec[0] == "avg":
            out[p] = 0.5 * vals[spec[1]] + 0.5 * vals[spec[2]]
        else:
            out[p] = vals[spec[1]]
    return out


# -------------------------- MathHelper scalar twins (the number side)
# palladian-commons helper/math/MathHelper.java; pure driver-side
# utilities rounding out the number-parsing/formatting family.

_FRACTION_MAP = [
    (0.5, "1/2"), (0.3333, "1/3"), (0.6667, "2/3"), (0.25, "1/4"),
    (0.75, "3/4"), (0.2, "1/5"), (0.4, "2/5"), (0.6, "3/5"),
    (0.8, "4/5"), (0.1667, "1/6"), (0.8333, "5/6"), (0.1429, "1/7"),
    (0.2857, "2/7"), (0.4286, "3/7"), (0.5714, "4/7"),
    (0.7143, "5/7"), (0.8571, "6/7"), (0.125, "1/8"), (0.375, "3/8"),
    (0.625, "5/8"), (0.875, "7/8"), (0.1111, "1/9"), (0.2222, "2/9"),
    (0.4444, "4/9"), (0.5556, "5/9"), (0.7778, "7/9"),
    (0.8889, "8/9"), (0.1, "1/10"), (0.3, "3/10"), (0.7, "7/10"),
    (0.9, "9/10"),
]

# MathHelper.java:101-110 (LOC_Z_MAPPING) — incl. the reference's odd
# 0.85 -> 1.139 (SMALLER than 0.75's 1.151); transcribed verbatim.
Z_MAPPING = {0.75: 1.151, 0.85: 1.139, 0.90: 1.645, 0.95: 1.96,
             0.975: 2.243, 0.985: 2.43, 0.99: 2.577, 0.999: 3.3}

_UNI_FRACTIONS = [
    ("¼", 1 / 4), ("½", 1 / 2), ("¾", 3 / 4), ("⅓", 1 / 3),
    ("⅔", 2 / 3), ("⅕", 1 / 5), ("⅖", 2 / 5), ("⅗", 3 / 5),
    ("⅘", 4 / 5), ("⅙", 1 / 6), ("⅚", 5 / 6), ("⅛", 1 / 8),
    ("⅜", 3 / 8), ("⅝", 5 / 8), ("⅞", 7 / 8),
]

_FRACTION_PAT = re.compile(r"(\d+)/(\d+)")
_EX_PAT = re.compile(r"\d+\.\d+e\d+")
_CLEAN1 = re.compile(r"^[^0-9]+?(?=-?\d|$)")
_CLEAN1_AFTER = re.compile(r"(?<=\d)[^0-9., ]*( .*)?")
_CLEAN2 = re.compile(r"\.(?!\d)")
_CLEAN3 = re.compile(r"(?<!\d)\.")
_CLEAN4 = re.compile(r"(?<=\d),(?=\d\d?($|\s))")


def parse_string_number(s: str, default: float | None = None
                        ) -> float | None:
    """MathHelper.parseStringNumber (:912-1085): unicode fraction
    chars summed in, 'n/m' fractions resolved, '4.4353e3'
    scientific shortcut, then the CLEAN_PATTERN ladder (leading
    non-digits dropped, unit tails cut, decimal commas normalized,
    stray dots removed) feeding Double.parseDouble."""
    s = s.lower()
    value = default
    for ch, v in _UNI_FRACTIONS:
        if ch in s:
            value = (value or 0.0) + v
            s = s.replace(ch, "")
    m = _FRACTION_PAT.search(s)
    if m:
        value = (value or 0.0) + int(m.group(1)) / int(m.group(2))
        s = s.replace(m.group(), "")
    ex = _EX_PAT.search(s)
    if ex:
        try:
            return (value or 0.0) + float(ex.group(0))
        except ValueError:
            pass
    s = " " + s
    s = _CLEAN1.sub("", s)
    s = _CLEAN1_AFTER.sub("", s)
    s = _CLEAN4.sub(".", s)
    s = s.replace(",", "")
    s = _CLEAN2.sub("", s)
    s = _CLEAN3.sub("", s)
    s = s.strip()
    if s:
        try:
            value = (value or 0.0) + float(s)
        except ValueError:
            pass
    return value


def number_to_fraction(number: float) -> str:
    """MathHelper.numberToFraction (:789-827): nearest fraction from
    the 31-entry table over the fractional part (<0.05 -> '0',
    >0.95 -> '1'), whole part prefixed; out-of-range fractional parts
    fall back to str(). Ties between equal margins break by table
    order (deterministic substitute for the HashMap walk)."""
    sign = "" if number >= 0 else "-"
    number = abs(number)
    full = int(math.floor(number))
    number = number - full
    fraction = ""
    min_margin = 1.0
    for key, name in _FRACTION_MAP:
        margin = abs(key - number)
        if margin < min_margin:
            fraction, min_margin = name, margin
    if 0 <= number < 0.05:
        fraction = "0"
    elif 0.95 < number <= 1:
        fraction = "1"
    if not fraction or number > 1 or number < 0:
        fraction = str(number)
    elif full > 0:
        fraction = f"{full} {fraction}" if fraction != "0" \
            else str(full)
    return sign + fraction


def confidence_interval(samples: int, confidence_level: float,
                        mean: float) -> float:
    """MathHelper.computeConfidenceInterval (:229-238): z *
    sqrt(mean(1-mean)/n) over the fixed z table; unknown levels
    raise."""
    if samples <= 0:
        raise ValueError("samples must be greater zero")
    if not 0 <= mean <= 1:
        raise ValueError("mean must be in range [0,1]")
    z = Z_MAPPING.get(confidence_level)
    if z is None:
        raise ValueError(
            f"confidence level must be one of "
            f"{sorted(Z_MAPPING)}, but was {confidence_level}")
    return z * math.sqrt(mean * (1 - mean) / samples)


def jround(number: float, digits: int) -> float:
    """MathHelper.round (:240-246): Math.round(f*x)/f — half-UP
    (floor(x+0.5)), NaN passthrough."""
    if math.isnan(number):
        return float("nan")
    f = 10.0 ** digits
    return math.floor(f * number + 0.5) / f


def cantorize(a: int, b: int) -> int:
    """MathHelper.cantorize (:1099-1101): the Cantor pairing."""
    return (a + b) * (a + b + 1) // 2 + b


def cross_total(s: int) -> int:
    """MathHelper.crossTotal (:735-740): recursive digit sum."""
    if s < 10:
        return s
    return cross_total(s // 10) + s % 10


def order_of_magnitude(number: float) -> int:
    """MathHelper.getOrderOfMagnitude (:1112-1119); 0 -> 0."""
    if number == 0:
        return 0
    return int(math.floor(math.log10(number)))


def faculty(number: int) -> int:
    """MathHelper.faculty (:311-318) with Java's silent 32-bit
    overflow wrap kept."""
    out = number
    while number > 1:
        number -= 1
        out = (out * number) & 0xFFFFFFFF
        if out >= 0x80000000:
            out -= 0x100000000
    return out


def ip_to_number(ip: str) -> int:
    """MathHelper.ipToNumber (:450-459) — octets taken % 256."""
    num = 0
    parts = ip.split(".")
    for i, part in enumerate(parts):
        num += int(part) % 256 * 256 ** (3 - i)
    return num


def number_to_ip(number: int) -> str:
    """MathHelper.numberToIp (:469-471)."""
    return (f"{(number >> 24) & 0xFF}.{(number >> 16) & 0xFF}."
            f"{(number >> 8) & 0xFF}.{number & 0xFF}")


def is_within_correctness_margin(questioned: float, correct: float,
                                 margin: float) -> bool:
    """MathHelper.isWithinCorrectnessMargin (:303-309): STRICT
    inequalities (the exact value's own bounds exclude it when
    margin is 0)."""
    num_min = correct - margin * correct
    num_max = correct + margin * correct
    return num_min < questioned < num_max


def intervals_overlap(start1: int, end1: int, start2: int,
                      end2: int) -> bool:
    """MathHelper.overlap (:331-333): strict half-open overlap."""
    return max(start1, start2) < min(end1, end2)


# ---------------------------------------------- running stats / vectors


class SlimStats:
    """Running stats twin (SlimStats.java:31-117 + AbstractStats.java:
    18-95): Welford m/s pair, incremental mean and mse, sample
    (n-1) standard deviation with count==1 -> 0 and empty -> NaN.
    The as-written Java seeds are kept: ``max`` starts at
    Double.MIN_VALUE (the smallest POSITIVE double, 4.9e-324 — an
    all-negative series therefore reports that artifact max), ``min``
    at Double.MAX_VALUE.  kgp.encode / kgp.mlzoo / kgp.datasetstats pin
    the same stddev convention on the distributed paths; this class is
    the complete scalar surface for the harvested SlimStatsTest."""

    _DOUBLE_MAX = 1.7976931348623157e308
    _DOUBLE_MIN_POSITIVE = 4.9e-324

    def __init__(self, values=None):
        self.count = 0
        self._mean = 0.0
        self._min = self._DOUBLE_MAX
        self._max = self._DOUBLE_MIN_POSITIVE
        self._sum = 0.0
        self._m = 0.0
        self._s = 0.0
        self._mse = 0.0
        for v in values or ():
            self.add(v)

    def add(self, *values) -> "SlimStats":
        for value in values:
            v = float(value)
            self.count += 1
            self._mean += (v - self._mean) / self.count
            self._min = min(self._min, v)
            self._max = max(self._max, v)
            self._sum += v
            tmp_m = self._m
            self._m += (v - tmp_m) / self.count
            self._s += (v - tmp_m) * (v - self._m)
            self._mse += (v * v - self._mse) / self.count
        return self

    def get_mean(self) -> float:
        return float("nan") if self.count == 0 else self._mean

    def get_standard_deviation(self) -> float:
        if self.count == 0:
            return float("nan")
        if self.count == 1:
            return 0.0
        return math.sqrt(self._s / (self.count - 1))  # isSample() -> n-1

    def get_count(self) -> int:
        return self.count

    def get_min(self) -> float:
        return float("nan") if self.count == 0 else self._min

    def get_max(self) -> float:
        return float("nan") if self.count == 0 else self._max

    def get_sum(self) -> float:
        return self._sum

    def get_mse(self) -> float:
        return float("nan") if self.count == 0 else self._mse

    def get_rmse(self) -> float:
        return math.sqrt(self.get_mse())

    def get_range(self) -> float:
        if self.count == 0:
            return float("nan")
        return self.get_max() - self.get_min()

    def get_relative_standard_deviation(self) -> float:
        if self.count == 0:
            return float("nan")
        mean = self.get_mean()
        return self.get_standard_deviation() / mean if mean != 0 else 0.0

    def get_variance(self) -> float:
        if self.count == 0:
            return float("nan")
        sd = self.get_standard_deviation()
        return sd * sd


class NumericVector:
    """Sparse map vector twin (ImmutableNumericVector.java:21-130 +
    AbstractNumericVector.java:11-86): get() defaults missing keys to
    0; dot runs over the KEY INTERSECTION, euclidean and add over the
    union; cosine returns 0 whenever the dot product is 0 (which also
    covers empty operands without dividing by zero)."""

    def __init__(self, value_map: dict | None = None):
        self.values = dict(value_map or {})

    def get(self, key) -> float:
        return float(self.values.get(key, 0.0))

    def keys(self):
        return set(self.values.keys())

    def size(self) -> int:
        return len(self.values)

    def sum(self) -> float:
        return sum(self.values.values())

    def norm(self) -> float:
        return math.sqrt(sum(v * v for v in self.values.values()))

    def dot(self, other: "NumericVector") -> float:
        return sum(self.get(k) * other.get(k)
                   for k in self.keys() & other.keys())

    def cosine(self, other: "NumericVector") -> float:
        dot = self.dot(other)
        return dot / (self.norm() * other.norm()) if dot != 0 else 0.0

    def euclidean(self, other: "NumericVector") -> float:
        return math.sqrt(sum((self.get(k) - other.get(k)) ** 2
                             for k in self.keys() | other.keys()))

    def add(self, other: "NumericVector") -> "NumericVector":
        return NumericVector({k: self.get(k) + other.get(k)
                              for k in self.keys() | other.keys()})


class NumericMatrix:
    """Sparse map matrix twin (NumericMatrix.java:17-140 +
    AbstractMatrix.java:74-156): ``set(x, y, v)`` keys by (column x,
    row y); get() defaults to 0; ``size`` = columnCount * rowCount;
    ``add`` requires identical row/column key sets and materializes
    every (row x column) cell; ``scalar`` multiplies only the PRESENT
    cells (missing cells read 0 either way)."""

    def __init__(self):
        self._rows: dict = {}          # y -> {x: value}

    def set(self, x, y, value: float) -> None:
        self._rows.setdefault(y, {})[x] = float(value)

    def get(self, x, y) -> float:
        return float(self._rows.get(y, {}).get(x, 0.0))

    def row_keys(self) -> set:
        return set(self._rows.keys())

    def column_keys(self) -> set:
        cols = set()
        for row in self._rows.values():
            cols.update(row.keys())
        return cols

    def size(self) -> int:
        return len(self.row_keys()) * len(self.column_keys())

    def get_row(self, y) -> NumericVector:
        return NumericVector(self._rows.get(y, {}))

    def get_column(self, x) -> NumericVector:
        return NumericVector({y: row[x] for y, row in self._rows.items()
                              if x in row})

    def is_compatible(self, other: "NumericMatrix") -> bool:
        return (self.row_keys() == other.row_keys()
                and self.column_keys() == other.column_keys())

    def add(self, other: "NumericMatrix") -> "NumericMatrix":
        if not self.is_compatible(other):
            raise ValueError("matrices must be compatible")
        result = NumericMatrix()
        for y in self.row_keys():
            for x in self.column_keys():
                result.set(x, y, self.get(x, y) + other.get(x, y))
        return result

    def scalar(self, lam: float) -> "NumericMatrix":
        result = NumericMatrix()
        for y, row in self._rows.items():
            for x, value in row.items():
                result.set(x, y, value * lam)
        return result
