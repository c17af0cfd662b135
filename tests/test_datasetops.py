"""Dataset combinators + sparse reader + Protected Planet importer —
reference goldens from DelimitedStringHelperTest.java,
DatasetJoinerTest.java, ConcatenatedDatasetTest.java,
ProtectedPlanetImporterTest.java, SparseDatasetReaderTest.java."""

import re

import pytest

from kgp.datasetops import (concat_datasets, join_datasets,
                            join_gate_stage, split_delimited_line)
from kgp.protectedplanet import (extract_single_coordinate,
                                 import_protected_planet,
                                 parse_wdpa_line,
                                 protected_areas_stage,
                                 read_protected_planet,
                                 synthesize_wdpa_lines)
from kgp.sparsedataset import (can_parse, infer_parser, parse_header,
                               parse_sparse_line, read_sparse_dataset)

RES = "/root/reference/palladian-core/src/test/resources"
PP_TEST = ("/root/reference/palladian-core/src/test/java/ws/palladian/"
           "extraction/location/sources/importers/"
           "ProtectedPlanetImporterTest.java")


# ------------------------------------------- DelimitedStringHelperTest


def test_split_plain():
    assert split_delimited_line("'a','b','c'", ",", "'") == ["a", "b", "c"]


def test_split_with_quotes():
    assert split_delimited_line("'a','b,c','d'", ",", "'") == \
        ["a", "b,c", "d"]


def test_split_unbalanced():
    assert split_delimited_line("'a','b','c", ",", "'") is None


def test_split_double_escaped():
    assert split_delimited_line("'test ''in quotes''','test'", ",", "'",
                                True) == ["test 'in quotes'", "test"]


# ------------------------------------------------- DatasetJoinerTest


def test_joiner(spark):
    d1 = spark.createDataFrame(
        [("a", "1", "true"), ("b", "2", "true"),
         ("b", "3", "true"), ("c", "4", "true")],
        ["join", "value1", "category"])
    d2 = spark.createDataFrame(
        [("a", "q", "true"), ("a", "r", "true"),
         ("b", "s", "true"), ("b", "t", "true")],
        ["join", "value2", "category"])
    joined = join_datasets(d1, d2, "join")
    rows = joined.collect()
    # 6 instances, 3 features (join, value1, value2) + category
    assert len(rows) == 6
    assert set(joined.columns) == {"join", "value1", "value2", "category"}
    # d2's category survives
    assert all(r["category"] == "true" for r in rows)
    # multi-match multiplies: key 'a' 1x2, key 'b' 2x2, key 'c' none
    keys = sorted(r["join"] for r in rows)
    assert keys == ["a", "a", "b", "b", "b", "b"]


def test_joiner_collision_raises(spark):
    d1 = spark.createDataFrame([("a", "1")], ["join", "dup"])
    d2 = spark.createDataFrame([("a", "2")], ["join", "dup"])
    with pytest.raises(ValueError):
        join_datasets(d1, d2, "join")


# -------------------------------------------- ConcatenatedDatasetTest


def test_concatenated(spark):
    def make(n, prefix):
        return spark.createDataFrame(
            [(f"{prefix}_item_{i}",) for i in range(n)], ["item"])
    d = concat_datasets(make(10, "dataset_1"), make(5, "dataset_2"),
                        make(15, "dataset_3"))
    assert d.count() == 30


def test_concatenated_union_feature_space(spark):
    d1 = spark.createDataFrame([(1, "x")], ["a", "b"])
    d2 = spark.createDataFrame([(2, "y")], ["a", "c"])
    d = concat_datasets(d1, d2)
    assert set(d.columns) == {"a", "b", "c"}
    rows = {r["a"]: r for r in d.collect()}
    assert rows[1]["c"] is None and rows[2]["b"] is None


# --------------------------------------- ProtectedPlanetImporterTest


@pytest.fixture(scope="module")
def kml_goldens():
    src = open(PP_TEST).read()
    return re.findall(r'kmlString = "(.*?)";', src, re.S)


def test_extract_single_coordinate(kml_goldens):
    lat, lng = extract_single_coordinate(kml_goldens[0])
    assert abs(lng - -61.746) < 0.001 and abs(lat - 17.521) < 0.001
    lat, lng = extract_single_coordinate(kml_goldens[1])
    assert abs(lng - -61.825) < 0.001 and abs(lat - -24.314) < 0.001
    # Fiji-style area with out-of-range longitudes -> null
    assert extract_single_coordinate(kml_goldens[2]) is None


def test_extract_single_coordinate_dedup():
    # closing vertex repeats the first: HashSet dedup -> midpoint of 2
    kml = "<coordinates>10,20 30,40 10,20</coordinates>"
    one = extract_single_coordinate(kml)
    two = extract_single_coordinate("<coordinates>10,20 30,40</coordinates>")
    assert one == two


def test_extract_single_coordinate_garbage():
    assert extract_single_coordinate("<coordinates>abc</coordinates>") is None
    assert extract_single_coordinate("<coordinates></coordinates>") is None


def test_parse_wdpa_line():
    coords = "1,2 3,4"
    parts = (["7", "f1", "f2", "f3", "f4", '"Park, One"', "Parque Uno"]
             + [f"f{i}" for i in range(7, 25)]
             + [f'"<coordinates>{coords}</coordinates>"'])
    line = ",".join(parts)
    rec = parse_wdpa_line(line, 1)
    assert rec["id"] == 7
    assert rec["primary_name"] == "Park, One"
    assert rec["alt_names"] == ["Parque Uno"]
    assert rec["type"] == "LANDMARK"
    # header + wrong column count skipped
    assert parse_wdpa_line(line, 0) is None
    assert parse_wdpa_line("a,b,c", 3) is None


def test_wdpa_same_name_no_alt():
    parts = (["9", "f1", "f2", "f3", "f4", "Same", "Same"]
             + [f"f{i}" for i in range(7, 25)]
             + ['"<coordinates>1,2</coordinates>"'])
    rec = parse_wdpa_line(",".join(parts), 2)
    assert rec["alt_names"] == []
    assert rec["lat"] == 2.0 and rec["lng"] == 1.0


def test_import_protected_planet_file(spark, tmp_path):
    rows = ["hdr" + "," * 25]
    for k in (3, 6):
        parts = ([str(k), "f1", "f2", "f3", "f4",
                  f'"Area {k}, X"', f"Orig {k}"]
                 + [f"f{i}" for i in range(7, 25)]
                 + [f'"<coordinates>{k},2 {k+1},4</coordinates>"'])
        rows.append(",".join(parts))
    p = tmp_path / "wdpa.csv"
    p.write_text("\n".join(rows) + "\n")
    out = read_protected_planet(spark, str(p)).orderBy("id").collect()
    assert [r["id"] for r in out] == [3, 6]
    assert out[0]["primary_name"] == "Area 3, X"
    assert out[0]["alt_names"] == ["Orig 3"]
    assert out[0]["lat"] == pytest.approx(
        extract_single_coordinate("<coordinates>3,2 4,4</coordinates>")[0])


def test_protected_areas_stage_matches_pure(spark):
    orders = spark.createDataFrame(
        [(k,) for k in range(12)], ["o_orderkey"])
    lines = synthesize_wdpa_lines(orders, areas=12, points=4).collect()
    stage = {r["id"]: r for r in
             protected_areas_stage(orders, areas=12, points=4).collect()}
    assert len(stage) == 12
    for row in lines:
        rec = parse_wdpa_line(row["line"], row["line_number"])
        got = stage[rec["id"]]
        assert got["lat"] == pytest.approx(rec["lat"], abs=1e-6)
        assert got["lng"] == pytest.approx(rec["lng"], abs=1e-6)
        assert got["primary_name"] == rec["primary_name"]
        assert got["alt_names"] == "|".join(rec["alt_names"])


# --------------------------------------------- SparseDatasetReaderTest


def test_can_parse_chain():
    assert infer_parser("true") == "boolean"
    assert infer_parser("1") == "int"
    assert infer_parser(str(2**40)) == "long"
    assert infer_parser("36.0") == "float"
    assert infer_parser("2021-06-29") == "localDate"
    assert infer_parser("ppl_100") == "string"
    assert can_parse("double", "1e10") and can_parse("float", "2.0d")
    assert not can_parse("localDate", "2021-13-29")


def test_parse_sparse_line_quotes():
    cat, entries = parse_sparse_line(
        '0 0:string 1:"string" 2:"string with spaces" '
        '3:"string with spaces: and colon"')
    assert cat == "0"
    assert entries == [("0", "string"), ("1", "string"),
                       ("2", "string with spaces"),
                       ("3", "string with spaces: and colon")]
    assert parse_sparse_line("# comment") is None
    assert parse_sparse_line("") is None


def test_parse_header():
    lines = open(f"{RES}/sample-dataset.sparse").read().splitlines()
    head = [ln for ln in lines if ln.startswith("#") or not ln]
    cats, names, parsers = parse_header(head)
    assert cats == {"0": "0", "1": "1"}
    assert names["0"] == "people_id"
    assert parsers["0"] == "string"
    assert parsers["1"] == "int"


def test_read_sparse_with_header(spark):
    path = f"{RES}/sample-dataset.sparse"
    long = read_sparse_dataset(spark, path)
    first = (long.filter("feature = 'people_id'")
                 .orderBy("block_start", "row_in_block")
                 .first())
    assert first["value"] == "ppl_100"


def test_read_sparse_without_header(spark):
    path = f"{RES}/sample-dataset-without-header.sparse"
    long = read_sparse_dataset(spark, path)
    first = (long.filter("feature = '0'")
                 .orderBy("block_start", "row_in_block")
                 .first())
    assert first["value"] == "ppl_100"


def test_read_sparse_string_values(spark):
    path = f"{RES}/sample-dataset-string-values.sparse"
    long = read_sparse_dataset(spark, path).orderBy("feature").collect()
    assert len(long) == 4
    assert [r["value"] for r in long] == [
        "string", "string", "string with spaces",
        "string with spaces: and colon"]


def test_sparse_null_marker(spark, tmp_path):
    p = tmp_path / "t.sparse"
    p.write_text("cat 0:? 1:5\n")
    long = read_sparse_dataset(spark, str(p)).orderBy("feature").collect()
    assert long[0]["value"] is None
    assert long[1]["value"] == "5" and long[1]["value_type"] == "int"


# -------------------------------------- libsvm / splits / retarget


def test_libsvm_reader(spark, tmp_path):
    from kgp.sparsedataset import (libsvm_feature_information,
                                   read_libsvm_dataset)
    p = tmp_path / "data.libsvm"
    p.write_text("1 1:0.5 3:2.0\n-1 2:1.25\n\n1 5:3.0\n")
    ds = read_libsvm_dataset(spark, str(p))
    rows = sorted(ds.collect(), key=lambda r: sorted(r["features"]))
    assert ds.count() == 3  # empty line skipped
    cats = sorted(r["category"] for r in ds.collect())
    assert cats == ["-1", "1", "1"]
    m = {frozenset(r["features"].items()) for r in ds.collect()}
    assert frozenset({1: 0.5, 3: 2.0}.items()) in m
    info = libsvm_feature_information(ds)
    # every index 1..maxIndex declared, present or not
    assert info.count() == 5
    assert (info.filter("feature = '4'").first()["value_type"]
            == "double")


def test_with_feature_as_category(spark):
    from kgp.datasetops import with_feature_as_category
    df = spark.createDataFrame([(1, "x", "old")],
                               ["a", "b", "category"])
    out = with_feature_as_category(df, "b")
    assert set(out.columns) == {"a", "category"}
    assert out.first()["category"] == "x"


def test_train_test_split(spark):
    from kgp.evaluate import train_test_split
    df = spark.range(1000).withColumnRenamed("id", "k")
    train, test = train_test_split(df, 0.8, "k")
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 1000
    # md5 keys are uniform; 80/20 within a generous tolerance
    assert 700 <= n_train <= 900
    # deterministic: same split on recompute
    assert train.count() == n_train
    with pytest.raises(ValueError):
        train_test_split(df, 0.0, "k")
