"""Stage 6 — materialization, lineage manifests, checkpoint-resume.

Each pipeline stage writes its output as a table under the run
directory; a stage that already has a `_SUCCESS` marker is NOT
recomputed on re-run (checkpoint-resume at stage boundaries — the
north-rule requirement; on a cluster these are Iceberg tables and the
existence check is a catalog lookup + snapshot validation, here it is
parquet + `_SUCCESS`, same semantics).

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

LINEAGE_SCHEMA = ("stage string, partition_id int, input_rows long, "
                  "output_rows long, checksum long, wall_ms long, "
                  "run_ts double")


def stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


def stage_done(out_dir: str, stage: str) -> bool:
    return os.path.exists(os.path.join(stage_path(out_dir, stage),
                                       "_SUCCESS"))


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
    exact row count (summed from the manifest — no extra count job)."""
    path = stage_path(out_dir, stage)
    t0 = time.time()
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    wall_ms = int((time.time() - t0) * 1000)
    out = spark.read.parquet(path)
    frows = footer_manifest(path, stage)
    _append_lineage_rows(spark, out_dir, frows, wall_ms, input_rows)
    return out, sum(r[3] for r in frows)


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(stage_path(out_dir, stage))


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


# ------------------------------------------------------- bucketed tables


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   num_buckets: int = 64,
                   sort_cols: list[str] | None = None) -> None:
    """Materialize as a BUCKETED table (saveAsTable — bucket metadata
    lives in the session catalog; on a cluster this is the Iceberg
    bucket-partition transform). Joins/aggregations between tables
    bucketed the same way on the same keys run WITHOUT a shuffle —
    the pre-partitioning that turns the pipeline's repeated
    entity/url joins into map-side work at 100 TB."""
    w = (df.write.mode("overwrite")
         .bucketBy(num_buckets, *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


# ---------------------------------------------------------- compaction


def _global_checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive 64-bit checksum) over the WHOLE table:
    bit_xor of xxhash64 across all columns — partitioning- and
    file-layout-independent, so it is preserved by any rewrite that
    keeps the data identical."""
    cols = ", ".join(f"`{c}`" for c in df.columns)
    row = df.select(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({cols}))").alias("ck")
    ).collect()[0]
    return int(row["n"]), int(row["ck"] or 0)


def compact_stage(spark: SparkSession, out_dir: str, stage: str,
                  target_bytes: int = 128 << 20,
                  partition_by: list[str] | None = None) -> dict:
    """Small-file compaction for a materialized stage — the classic
    100 TB operational task (per-micro-batch appends and high shuffle
    parallelism leave thousands of KB-sized parquet files; scans then
    pay one open/footer-read per file). Rewrites the stage into
    ceil(bytes / target_bytes) files (per partition directory when the
    stage is hive-partitioned), VERIFIES the rewrite with the
    order-insensitive global checksum before swapping, swaps
    atomically (old data parks at <stage>.gc until the swap succeeds),
    and appends a `<stage>:compact` lineage row carrying the verified
    checksum. On a cluster this is Iceberg's rewrite_data_files; the
    semantics here are the same: same rows, fewer files, lineage entry
    proving it.

    Returns {files_before, files_after, rows, checksum}.
    """
    path = stage_path(out_dir, stage)
    files = _parquet_files(path)
    total = sum(os.path.getsize(f) for f in files)
    before = spark.read.parquet(path)
    n_rows, checksum = _global_checksum(before)
    n_out = max(1, -(-total // target_bytes))

    tmp = path + ".compact"
    w = before.repartition(n_out).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)

    after = spark.read.parquet(tmp)
    n_rows2, checksum2 = _global_checksum(after)
    if (n_rows, checksum) != (n_rows2, checksum2):
        raise RuntimeError(
            f"compaction checksum mismatch for {stage}: "
            f"{(n_rows, checksum)} != {(n_rows2, checksum2)}")

    gc = path + ".gc"
    os.rename(path, gc)
    os.rename(tmp, path)
    import shutil
    shutil.rmtree(gc)

    files_after = len(_parquet_files(path))
    _append_lineage_rows(
        spark, out_dir,
        [(f"{stage}:compact", 0, n_rows, n_rows, checksum, None,
          time.time())], wall_ms=None, input_rows=n_rows)
    return {"files_before": len(files), "files_after": files_after,
            "rows": n_rows, "checksum": checksum}
