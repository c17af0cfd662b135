"""SparkSession factory with scale-oriented defaults.

Tuned for the sandbox (single-JVM local[N]) but every knob is the one you
would set on a 1000-executor cluster: AQE on (runtime re-planning +
skew-join splitting), Arrow-vectorized Python UDF transport with large
batches, shuffle partitions sized to cores (overridden upward on a real
cluster), UTC session timezone for deterministic timestamps.

Where the session's cold start lands: the first job that runs Python
in a session pays for starting the Python workers and importing
pandas, pyarrow and kgp in them, about 1.1-2 s on a 4-core VM. That
cost is booked to the first stage that runs Python — `dedup` in the
curation pipeline, `docs` in the KG pipeline — and stays there on
purpose. On the 1,150 curate_dup seed-1 documents (4-core VM, local[4])
`kgp.dedup.minhash_near_dups` takes 2.9-3.0 s as a fresh process's
first Python job and 1.0 s when run again in the same session. A
Python warm-up job in `get_spark` would only move those seconds into
session set-up, not remove them, and a preloading worker daemon
(`spark.python.daemon.module`) measured no change. Only the collation
warm-up below runs at set-up, because it removes a stall rather than
moving one.

Generated-code cache: Spark keeps the Janino classes of whole-stage
codegen in one JVM-wide cache keyed by the generated source, 100
entries by default. A full KG pipeline run compiles 107-116 classes
and the curation pipeline about 95, so with the default cache a KG
resume found the early stages' code evicted: on 1,000 pages (4-core
VM) every resume recompiled 56 classes, while curation resumes
compiled none. `get_spark` sizes the cache at 1000 entries, room for
both working sets in one session (a traced benchmark run, a test
session); 150 already stop the KG recompiles. A KG resume then
compiles nothing. The cache size changes nothing a cold full run
compiles, and the JVM's metaspace after a curation run read 160 MB
at 100 and at 1000 entries.

Measured and not used: `spark.sql.icu.caseMappings.enabled=false`
skips the ICU case-mapping init, about 0.85 s of the 2.2 s collation
warm-up. It cut session set-up from 4.88 to 4.00 s, but the kg_light
full run went from 5.52 to 5.73 s and its CPU time rose 4.5 % (3
pairs; without the warm-up as well, 5.50 -> 5.79 s): JIT work that
overlapped the init moves into the run. It would also swap the
case-mapping engine under `lower()`/`upper()`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch into pandas UDFs. Small on purpose: with real
# web pages (tens of KB of html each) a 2048-row batch is ~150 MB that
# the Python worker must materialize at once — measured 6.8x slower
# than 256-row batches on the heavy corpus (memory pressure + no
# pipelining). 256 rows ≈ 5-20 MB keeps workers streaming; for tiny
# rows the per-batch overhead is noise.
ARROW_BATCH = "256"


def get_spark(
    app_name: str = "kgp",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH)
        # static: sized for both pipelines' generated code (docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("KGP_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _warm_collation(spark)
    return spark


def _warm_collation(spark: SparkSession) -> None:
    """Force the one-time ICU/collation class init (Spark 4's
    CollationAwareUTF8String static initializer) in a single task
    BEFORE any wide stage runs. Without this, the first stage that
    calls lower()/upper() with 32 concurrent tasks serializes them all
    on the class-init monitor — measured 20-70 s of stall; warmed, the
    init costs <1 s once per JVM."""
    from pyspark.sql import functions as F
    try:
        spark.range(1).select(
            F.lower(F.concat(F.lit("Ä"), F.col("id").cast("string")))
        ).collect()
    except Exception:
        pass  # never let warmup break session creation
