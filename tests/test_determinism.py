"""Output depends only on the input: both pipelines' stage DAGs, run
lazily on sf0.001 at 2 shuffle partitions over a 1-split input and at
16 shuffle partitions over a 7-split input, give equal stage tables —
every row, with floats compared by their bits."""

from __future__ import annotations

from pyspark.sql import Row

from kgp.corpus import synth_pages
from kgp.datapipeline import curation_stages
from kgp.materialize import lazy_stage
from kgp.pipeline import kg_stages

# every input file is a split of its own
CONF = {"spark.sql.files.openCostInBytes": str(1 << 30)}


def _bits(v):
    """A comparable value in which a float is its exact bit pattern."""
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, Row):
        return tuple((k, _bits(x)) for k, x in zip(v.__fields__, v))
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((repr(k), _bits(x)) for k, x in v.items()))
    return v


def _table(df):
    return sorted(repr(_bits(r)) for r in df.collect())


def _recording(runner, into):
    def stage(name, build, partition_by=None):
        into[name] = runner(name, build, partition_by)
        return into[name]
    return stage


def _tables(spark, sf_dir):
    tables, persisted = {}, []
    kg = lazy_stage(persist=("docs", "mentions"))
    curate = lazy_stage(persist=("pages", "dedup", "links"))
    try:
        for prefix, runner, run in [
                ("kg", kg, lambda stage: kg_stages(
                    spark, stage, lambda: synth_pages(spark, sf_dir))),
                ("curate", curate, lambda stage: curation_stages(
                    spark, stage, sf_dir))]:
            dfs = {}
            run(_recording(runner, dfs))
            persisted += dfs.values()
            tables.update({f"{prefix}.{name}": _table(df)
                           for name, df in dfs.items()})
    finally:
        for df in persisted:
            df.unpersist()
    return tables


def _run(spark, tmp_path, source, shuffle_partitions, splits):
    sf_dir = tmp_path / f"sf-{splits}"
    docs = spark.read.parquet(f"{source}/documents.parquet")
    docs.repartition(splits).write.parquet(f"{sf_dir}/documents.parquet")
    conf = {**CONF, "spark.sql.shuffle.partitions": str(shuffle_partitions)}
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        read = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert read.rdd.getNumPartitions() == splits
        return _tables(spark, str(sf_dir))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stage_tables_independent_of_partitioning(spark, sf_dir, tmp_path):
    one = _run(spark, tmp_path, sf_dir, 2, 1)
    seven = _run(spark, tmp_path, sf_dir, 16, 7)
    assert sorted(one) == sorted(seven)
    assert len(one) == 15
    differ = [name for name in sorted(one) if one[name] != seven[name]]
    assert not differ, differ
