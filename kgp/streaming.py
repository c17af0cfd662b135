"""Structured Streaming front-end for the KG pipeline.

A crawl is naturally a stream of pages; every per-document stage of
this pipeline (html → text, mention tagging) is STATELESS, so the same
column expressions and Arrow UDFs run unchanged under `readStream` —
the declarative-plan payoff: batch and streaming share one code path.

  * `stream_pages`   — file-source stream over the pages table
    (parquet dropped into a directory, the micro-batch stand-in for a
    Kafka/Iceberg CDC feed);
  * `stream_docs` / `stream_mentions` — the batch stages applied to
    the stream (extract_stage / detect_mentions verbatim);
  * `mention_rates`  — watermarked sliding-window aggregation (late
    pages beyond the watermark are dropped, state is bounded — the
    100 TB/day concern is state size, not throughput);
  * `run_stream`     — writeStream with checkpointLocation; the
    default availableNow trigger drains what exists and stops, which
    doubles as incremental batch (reprocessing only new files on every
    invocation — checkpoint-resume at the ingest edge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgp.html_text import extract_stage
from kgp.mentions import detect_mentions
from kgp.skew import host_of

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def stream_pages(spark: SparkSession, path: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(path)


def stream_docs(pages: DataFrame) -> DataFrame:
    """Stateless — identical plan to the batch stage."""
    return extract_stage(pages)


def stream_mentions(docs: DataFrame, model_bc,
                    tag_dates: bool = True) -> DataFrame:
    """Stateless — the broadcast NER model is read-only on executors.
    warc_ts rides along so downstream windowed aggregations need no
    stream-stream join back to the pages."""
    return detect_mentions(docs, model_bc, tag_dates=tag_dates,
                           carry_cols=("warc_ts",))


def mention_rates(mentions: DataFrame, window: str = "1 hour",
                  watermark: str = "2 hours") -> DataFrame:
    """Mentions per (host, tag, event-time window) with a watermark:
    the stateful-aggregation shape — state is pruned once event time
    passes the watermark, so it stays bounded on an unbounded crawl.
    mentions must carry warc_ts (stream_mentions does)."""
    timed = mentions.withColumn("host", host_of(F.col("url")))
    return (timed.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window), "host", "tag")
            .agg(F.count("*").alias("n_mentions")))


def stream_dedup_exact(docs: DataFrame, watermark: str = "1 hour",
                       ts_col: str = "warc_ts",
                       text_col: str = "text") -> DataFrame:
    """Streaming exact dedup: the batch fingerprint key
    (kgp.textstats.fingerprint — xxhash64 of whitespace-normalized,
    case-folded text) with ``dropDuplicatesWithinWatermark``, so a
    re-crawled page arriving within the watermark of its first copy is
    dropped and the dedup state is PRUNED once event time passes the
    watermark — bounded state on an unbounded crawl, the streaming
    complement of kgp.dedup.exact_dup_groups (same key, same
    normalization, so batch backfill and streaming ingest agree on
    what is a duplicate)."""
    from kgp.textstats import fingerprint
    keyed = docs.withColumn("_fp", fingerprint(F.col(text_col)))
    return (keyed.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_fp"])
            .drop("_fp"))


def run_stream(df: DataFrame, out_path: str, checkpoint: str,
               output_mode: str = "append",
               fmt: str = "parquet"):
    """Start the sink with exactly-once file semantics and drain all
    currently-available input (availableNow). Returns the finished
    StreamingQuery."""
    q = (df.writeStream.format(fmt)
         .option("path", out_path)
         .option("checkpointLocation", checkpoint)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stream_near_dups(docs: DataFrame, watermark: str = "1 hour",
                     ts_col: str = "warc_ts", id_col: str = "url",
                     text_col: str = "text", k: int = 5,
                     max_hamming: int = 3,
                     state_ttl_ms: int = 3_600_000) -> DataFrame:
    """Streaming near-duplicate detection — the custom stateful
    operator Spark has no built-in for (dropDuplicatesWithinWatermark
    is exact-key only): SimHash 4x16-bit pigeonhole bands
    (kgp.dedup.simhash_near_dups' exact blocking), with per-bucket
    state carried across micro-batches via applyInPandasWithState.

    Each (band, chunk) bucket keeps the signatures seen inside the
    watermark horizon; a new document emits one row per prior
    in-bucket document within Hamming distance max_hamming — so a
    re-crawl arriving in a LATER micro-batch is still caught (the
    batch/stream agreement test pins this against
    kgp.dedup.simhash_near_dups on the union). State is dropped by an
    event-time timeout one TTL past the watermark — bounded state on
    an unbounded crawl.

    Within a micro-batch, rows process in (ts, id) order so output is
    partition- and arrival-order-independent. Output: (id, dup_of,
    hamming) — a pair sharing multiple bands emits once per band;
    downstream distinct() if pair-unique rows are needed.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kgp.dedup import simhash_udf

    # signature computed INLINE so ts rides along — a rejoin would be
    # a stream-stream join, which needs time bounds
    signed = docs.select(F.col(id_col).alias("_id"), F.col(ts_col),
                         simhash_udf(k)(F.col(text_col))
                         .alias("simhash"))
    bands = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned("simhash", i * 16)
                 .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
        for i in range(4)])
    buckets = (signed.withColumn("bk", F.explode(bands))
               .select("_id", ts_col, "simhash",
                       F.col("bk.band").alias("band"),
                       F.col("bk.chunk").alias("chunk")))

    mask = (1 << 64) - 1
    out_schema = ("id string, dup_of string, hamming int, band int")
    state_schema = "ids array<string>, fps array<long>"

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        ids, fps = ([], [])
        if state.exists:
            ids, fps = state.get
            ids, fps = list(ids), list(fps)
        rows = []
        frames = list(pdf_iter)
        group_max_ms = 0
        if frames:
            pdf = pd.concat(frames).sort_values([ts_col, "_id"])
            group_max_ms = int(pdf[ts_col].max().timestamp() * 1000)
            for _id, fp in zip(pdf["_id"], pdf["simhash"]):
                fpu = int(fp) & mask
                for pid, pfp in zip(ids, fps):
                    h = bin(fpu ^ (int(pfp) & mask)).count("1")
                    if h <= max_hamming:
                        rows.append((_id, pid, h, int(key[0])))
                ids.append(_id)
                fps.append(int(fp))
        state.update((ids, fps))
        # TTL anchors to EVENT time (group max or the watermark,
        # whichever is later) — the first batch's watermark is 0, so a
        # watermark-only anchor would expire fresh state at epoch+ttl
        state.setTimeoutTimestamp(
            max(group_max_ms, state.getCurrentWatermarkMs() + 1)
            + state_ttl_ms)
        yield pd.DataFrame(rows, columns=["id", "dup_of", "hamming",
                                          "band"])

    return (buckets.withWatermark(ts_col, watermark)
            .groupBy("band", "chunk")
            .applyInPandasWithState(
                fn, out_schema, state_schema, "append",
                GroupStateTimeout.EventTimeTimeout))


def stream_triples(pages_stream: DataFrame, model_bc, gaz: DataFrame,
                   mapping: DataFrame, out_dir: str, checkpoint: str,
                   linker_mode: str = "fast"):
    """The WHOLE KG pipeline on a stream — pages in, triples out
    incrementally. Per-document stages (extract, mentions) and
    broadcast-join stages (linking, canonicalization, relation
    extraction) are all stateless w.r.t. the stream, but the relation
    stage's bucketed applyInPandas is not directly streamable, so the
    batch stages run inside foreachBatch — the idiomatic Spark pattern
    for reusing a batch DAG per micro-batch.

    Exactly-once: foreachBatch is at-least-once on retry, so each
    epoch OVERWRITES its own `epoch=<id>` directory — a replayed batch
    rewrites the same path and the result is idempotent. An epoch holds
    raw triples; `kgp.materialize.finalize_triples` over all epoch
    directories gives the canonical set. The NER model is trained ONCE
    on a bootstrap corpus and broadcast (a production crawl retrains
    periodically and swaps the broadcast).

    Batch/stream agreement is exact: every stage is per-document or a
    broadcast join against static tables, so draining N file drops
    yields byte-identical triple rows to one batch run over their
    union (pinned in tests). Each micro-batch runs the batch DAG's own
    stage builders (kgp.pipeline.triple_stages) lazily, with the
    supplied canon mapping in place of the canon stage."""
    from kgp.materialize import lazy_stage
    from kgp.pipeline import triple_stages

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        triples = triple_stages(
            lazy_stage(given={"canon": mapping}), extract_stage(batch_df),
            model_bc, gaz, linker_mode)["triples_raw"]
        triples.write.mode("overwrite").parquet(
            f"{out_dir}/epoch={epoch_id}")

    q = (pages_stream.writeStream
         .foreachBatch(process)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
