"""Stage 6 — materialization, lineage manifests, checkpoint-resume.

Each pipeline stage writes its output as a table under the run
directory; a stage that already has a `_SUCCESS` marker and its
`_stage.json` is NOT recomputed on re-run (checkpoint-resume at stage
boundaries — the north-rule requirement; on a cluster these are
Iceberg tables and the existence check is a catalog lookup + snapshot
validation, here it is parquet + `_SUCCESS`, same semantics).
`_stage.json` holds the table's schema, so a resumed stage is read
without a schema-inference job; Spark's reader skips `_` files.

Lineage: after each stage lands, its parquet footers are read on the
driver with pyarrow (no Spark job) and one row per written file is
appended to the `lineage` table:

    lineage(stage, partition_id, input_rows, output_rows, checksum,
            wall_ms, run_ts)

The checksum digests each file's footer (row-group sizes and column
min/max/null statistics), so a re-run can be told apart file by file
without re-reading any data.

Stage runners: a pipeline's stage DAG is one straight-line function
that calls `stage(name, build, partition_by=None)` for each stage in
order. `run_stages` runs it materialized (`_stage`: resume, write,
lineage, metrics.json); `lazy_stage` runs it as one DataFrame chain
with no tables (gates, tests, stream micro-batches).
"""

from __future__ import annotations

import json
import os
import time
from hashlib import blake2b

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = ("stage string, partition_id int, input_rows long, "
                  "output_rows long, checksum long, wall_ms long, "
                  "run_ts double")


def stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


STAGE_META = "_stage.json"


def stage_done(out_dir: str, stage: str) -> bool:
    """The table was written to the end and its schema stored: a table
    without `_stage.json` (cut off, or written before the file
    existed) is recomputed."""
    path = stage_path(out_dir, stage)
    return all(os.path.exists(os.path.join(path, f))
               for f in ("_SUCCESS", STAGE_META))


def _write_meta(path: str, schema: T.StructType) -> None:
    """Store the table's schema in `<path>/_stage.json`, written under
    a dot-prefixed temporary name and renamed into place."""
    tmp = os.path.join(path, f".{STAGE_META}.tmp")
    with open(tmp, "w") as f:
        json.dump({"schema": schema.jsonValue()}, f)
    os.replace(tmp, os.path.join(path, STAGE_META))


def _parquet_files(path: str) -> list[str]:
    """The table's data files, sorted; walks partitioned layouts
    (pred=X/ subdirs)."""
    return sorted(os.path.join(root, n)
                  for root, _dirs, names in os.walk(path)
                  for n in names if n.endswith(".parquet"))


def stage_rows(out_dir: str, stage: str) -> int:
    """Rows of a finished stage, summed from its parquet footers (no
    Spark job)."""
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f).num_rows
               for f in _parquet_files(stage_path(out_dir, stage)))


def footer_manifest(path: str, stage: str) -> list[tuple]:
    """Per-file (≈ per-partition) lineage rows read from parquet
    FOOTERS only — exact row counts and a footer-derived checksum with
    zero data scanned and zero Spark jobs. On object storage this is
    one ranged GET per file; Iceberg gives the same numbers from its
    manifest files."""
    import pyarrow.parquet as pq

    rows = []
    ts = time.time()
    for i, f in enumerate(_parquet_files(path)):
        md = pq.read_metadata(f)
        digest = blake2b(md.serialized_size.to_bytes(8, "big"),
                         digest_size=8)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            digest.update(str(rg.num_rows).encode())
            digest.update(str(rg.total_byte_size).encode())
            for c in range(rg.num_columns):
                st = rg.column(c).statistics
                if st is not None:
                    digest.update(repr((st.min, st.max,
                                        st.null_count)).encode())
        checksum = int.from_bytes(digest.digest(), "big", signed=True)
        rows.append((stage, i, None, md.num_rows, checksum, None, ts))
    return rows


def _append_lineage_rows(spark: SparkSession, out_dir: str,
                         rows: list[tuple], wall_ms: int,
                         input_rows: int | None) -> None:
    """Append footer-manifest rows to the lineage table as ONE
    pyarrow-written parquet file — the lineage append is pure driver
    metadata (a handful of rows per stage), and routing it through a
    Spark write job cost ~0.5-1 s of job-scheduling latency per
    stage, which is real money at bench scale (7 stages) and pure
    waste at cluster scale where the driver should be scheduling the
    NEXT corpus stage instead.  Schema matches LINEAGE_SCHEMA so
    spark.read.parquet sees one homogeneous table.

    The append is atomic: the file is written under a dot-prefixed
    temporary name, which Spark's reader skips, and renamed into place,
    so a crash mid-write leaves no torn part file in the table."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = [(s, p, input_rows, n, c, wall_ms, ts)
            for (s, p, _ir, n, c, _w, ts) in rows]
    schema = pa.schema([
        pa.field("stage", pa.string()),
        pa.field("partition_id", pa.int32()),
        pa.field("input_rows", pa.int64()),
        pa.field("output_rows", pa.int64()),
        pa.field("checksum", pa.int64()),
        pa.field("wall_ms", pa.int64()),
        pa.field("run_ts", pa.float64()),
    ])
    cols = list(zip(*rows)) if rows else [[] for _ in range(7)]
    table = pa.table(
        {f.name: pa.array(list(c), type=f.type)
         for f, c in zip(schema, cols)}, schema=schema)
    path = os.path.join(out_dir, "lineage")
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(path, name))


def write_stage(spark: SparkSession, df: DataFrame, out_dir: str,
                stage: str, partition_by: list[str] | None = None,
                input_rows: int | None = None) -> tuple[DataFrame, int]:
    """Write df as the stage table + lineage manifest; return the
    re-read DataFrame (so downstream stages consume the materialized
    table, cutting lineage and letting AQE re-plan per stage) plus the
    exact row count (summed from the manifest — no extra count job).
    The re-read is given df's schema: no schema-inference job runs.
    The re-read's schema is stored for read_stage."""
    path = stage_path(out_dir, stage)
    t0 = time.time()
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    wall_ms = int((time.time() - t0) * 1000)
    out = spark.read.schema(df.schema).parquet(path)
    _write_meta(path, out.schema)
    frows = footer_manifest(path, stage)
    _append_lineage_rows(spark, out_dir, frows, wall_ms, input_rows)
    return out, sum(r[3] for r in frows)


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """A finished stage's table, read with its stored schema (no
    inference job)."""
    path = stage_path(out_dir, stage)
    with open(os.path.join(path, STAGE_META)) as f:
        schema = T.StructType.fromJson(json.load(f)["schema"])
    return spark.read.schema(schema).parquet(path)


def _stage(spark: SparkSession, out_dir: str, name: str, fn,
           partition_by: list[str] | None = None,
           force: bool = False, metrics: dict | None = None) -> DataFrame:
    """The materialized stage runner: reuse the stage table if it is
    done, else build it with fn(), write it (repartitioned by its
    partition columns, so each partition directory gets one file set)
    with its lineage rows, and return the re-read table. Records
    rows / resumed / wall_s under metrics[name]."""
    if not force and stage_done(out_dir, name):
        if metrics is not None:
            metrics[name] = {"resumed": True,
                             "rows": stage_rows(out_dir, name)}
        return read_stage(spark, out_dir, name)
    t0 = time.time()
    df = fn()
    if partition_by:
        df = df.repartition(*partition_by)
    out, rows = write_stage(spark, df, out_dir, name,
                            partition_by=partition_by)
    if metrics is not None:
        metrics[name] = {"resumed": False,
                         "rows": rows,
                         "wall_s": round(time.time() - t0, 3)}
    return out


def run_stages(spark: SparkSession, out_dir: str, runner, dag,
               force: bool = False) -> dict:
    """Run a stage DAG materialized: dag(stage) calls
    stage(name, build, partition_by=None) for each stage in order, and
    each call goes through runner — the pipeline module's `_stage`
    global as it is at call time, so a wrapper installed on that
    global (perfbench's tracer) sees every stage. Writes
    {out_dir}/metrics.json (per stage: rows, resumed, wall_s) and
    returns the same dict."""
    os.makedirs(out_dir, exist_ok=True)
    metrics: dict = {}

    def stage(name: str, build, partition_by: list[str] | None = None):
        return runner(spark, out_dir, name, build,
                      partition_by=partition_by, force=force,
                      metrics=metrics)
    dag(stage)
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, default=str)
    return metrics


def lazy_stage(persist: tuple[str, ...] = (),
               given: dict[str, DataFrame] | None = None):
    """The lazy stage runner: each stage is its built DataFrame — no
    table, no lineage, no resume. Stages named in `persist` are
    cached (their Python UDFs run once however many consumers read
    them); a stage named in `given` is that DataFrame, and its build
    never runs."""
    given = given or {}

    def stage(name: str, build, partition_by: list[str] | None = None):
        if name in given:
            return given[name]
        df = build()
        return df.persist() if name in persist else df
    return stage


def lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "lineage"))


def finalize_triples(triples: DataFrame) -> DataFrame:
    """Canonical triple set: dedup on (subj, pred, obj) keeping max
    confidence; deterministic tie-breaks on (url, sent_idx) so repeated
    runs produce byte-identical tables."""
    return (triples.groupBy("subj", "pred", "obj")
            .agg(F.max("conf").alias("conf"),
                 F.min("url").alias("url"),
                 F.min("sent_idx").alias("sent_idx"),
                 F.count("*").alias("support")))
