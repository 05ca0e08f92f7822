"""Continuous-operation facade: run the crawl as a Structured Streaming job.

The engine's core is the deterministic batch wave loop (plans/crawler.py) —
that is what the ordering-equivalence and exact-resume requirements demand
(SURVEY.md §1.2). This facade wraps it for deployments that want a
continuously running crawler: a rate-limited streaming source of seed URLs
feeds `foreachBatch`, and each micro-batch appends seeds and advances the
wave loop by a bounded number of waves. Checkpointing composes: Structured
Streaming checkpoints the source offsets; the StateStore snapshots the
crawl state — both resume independently and idempotently (new seeds that
are already in the URL-seen set are dropped by the same bloom/anti-join
path as any rediscovered URL).

Also provides ``events_windowed_stream`` — a watermarked windowed aggregation
over the testdata ``events`` table replayed as a stream, demonstrating the
late-data semantics (C8) the batch engine does not otherwise need.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_continuous(
    spark: SparkSession,
    engine_factory,
    seed_stream: DataFrame,
    checkpoint_dir: str,
    waves_per_batch: int = 4,
):
    """Drive the crawl from a streaming seed source.

    ``engine_factory(seeds_df) -> CrawlEngine`` builds an engine whose
    store lives under ``checkpoint_dir`` (shared across batches → resume).
    Returns the StreamingQuery.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        eng = engine_factory(batch_df)
        eng.cfg.max_waves = waves_per_batch
        eng.run(resume=batch_id > 0)

    return (
        seed_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", f"{checkpoint_dir}/_stream_offsets")
        .outputMode("update")
        .start()
    )


def urls_seen_stream(spark: SparkSession, sf_dir: str, out_dir: str):
    """Streaming URL-seen filter — the Structured Streaming twin of the
    batch engine's bloom/anti-join dedup (P15/J6): canonicalize a stream of
    discovered raw URLs (P14, the same ``canonicalize_url`` operator the
    wave loop uses) and emit each canonical URL exactly once.
    ``dropDuplicates`` keyed on the URL holds the seen-set in state; the
    event-time watermark bounds that state exactly like the batch side's
    compaction cadence bounds the delta chain. Replays the ``events`` table
    as the discovery stream (URL synthesized per row: url-safe, tracking-
    params-laden — P14 fodder)."""
    from amazonwebcrawler_spark.functions.urls import canonicalize_url

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(f"{sf_dir}")
    )
    raw = F.concat(
        F.lit("https://WWW.Amazon.com/dp/B"),
        F.lpad((F.col("user_id") % 5000).cast("string"), 6, "0"),
        F.lit("/ref=sr_1_1?qid="),
        (F.col("event_id") % 97).cast("string"),
        F.lit("&keywords=x"),
    )
    firsts = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("canonical_url", canonicalize_url(raw))
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["canonical_url"])
        .select("canonical_url")
    )
    return (
        firsts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/urls_seen")
        .option("checkpointLocation", f"{out_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )


def events_windowed_stream(spark: SparkSession, sf_dir: str, out_dir: str):
    """Watermark + tumbling-window aggregation demo (C8): replay the events
    parquet as a rate-limited file stream, count per (1h window, type) with
    a 2h watermark for late rows. Returns the StreamingQuery."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")  # sf_dir holds other tables too
        .parquet(f"{sf_dir}")
    )
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → event-time type
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/events_windowed")
        .option("checkpointLocation", f"{out_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )


#: input_hint image-table schema, for starting the ingest stream BEFORE the
#: first file lands (schema inference over an empty directory fails)
IMAGE_TABLE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def images_ingest_stream(spark: SparkSession, src_dir: str, out_dir: str, schema=None):
    """Streaming multimodal ingest: image+caption rows (input_hint schema)
    arriving as files are validated with the SAME Arrow kernel the batch
    side uses — ``operators/images_io.validate_images`` is applied to the
    streaming DataFrame unchanged (``mapInPandas`` is stream-capable), so
    every typed field is re-derived from the opaque ``bytes`` column and
    metadata disagreements are flagged per micro-batch, exactly-once into
    an append parquet sink. One operator, one contract, batch or stream:
    a continuously crawling deployment validates screenshots as they land
    instead of in a nightly sweep, with no second implementation to drift.
    """
    from amazonwebcrawler_spark.operators.images_io import validate_images

    # pass schema (e.g. IMAGE_TABLE_SCHEMA) to start the stream over a
    # still-empty source directory — batch inference needs ≥1 file
    if schema is None:
        schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches per drain
        .parquet(src_dir)
    )
    validated = validate_images(stream)
    return (
        validated.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/images_validated")
        .option("checkpointLocation", f"{out_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )


def clean_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    min_words: int = 3,
    min_lines: int = 2,
    schema=None,
):
    """Streaming C4 cleaning: documents arriving as files are line-cleaned
    with the SAME operator the batch side uses
    (``functions/text.c4_line_clean`` inside ``foreachBatch`` — documents
    arrive whole, so the per-doc aggregate is micro-batch-local by
    construction and needs no streaming state). The crawl-time shape:
    pages are cleaned as they land, keep/drop decided per wave, one
    implementation for batch backfills and the live stream."""
    from amazonwebcrawler_spark.functions.text import c4_line_clean

    if schema is None:
        schema = spark.read.parquet(src_dir).schema

    def process_batch(batch_df, _batch_id):
        c4_line_clean(
            batch_df, "text", "doc_id", min_words=min_words, min_lines=min_lines
        ).write.mode("append").parquet(f"{out_dir}/docs_cleaned")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", f"{out_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )


def neardup_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    corpus_dir: str,
    out_dir: str,
    max_hamming: int = 2,
    max_bucket: int | None = None,
    schema=None,
    corpus_table: str | None = None,
):
    """Streaming incremental near-dup ingest: fingerprinted rows
    ``(id, fp)`` arriving as files are paired against the ACCUMULATED
    corpus with the same cross-table pigeonhole join the batch side uses
    (``dedup.hamming_neardup_join`` inside ``foreachBatch``) — the
    crawl-time dedup shape: each micro-batch shuffles only
    ``(t+1) × |batch|`` chunk rows against the persisted corpus, never
    corpus×corpus. Matches append exactly-once to
    ``{out_dir}/neardup_matches``; rows with no match are the novel set a
    deployment would then append to the corpus (kept a caller decision
    here so the corpus snapshot stays under the state store's commit
    protocol, not the stream's).

    ``corpus_table`` switches the corpus side to a pre-built bucketed
    chunk table (``dedup.write_chunk_table``): each micro-batch then
    exchanges ONLY its own chunk rows — the accumulated corpus is read
    pre-partitioned on the blocking key, never re-shuffled per batch
    (``corpus_dir`` is ignored in that mode).
    """
    from amazonwebcrawler_spark.operators.dedup import hamming_neardup_join

    if schema is None:
        schema = spark.read.parquet(src_dir).schema
    if corpus_table is not None:
        corpus, chunked = spark.table(corpus_table), True
    else:
        corpus, chunked = spark.read.parquet(corpus_dir), False

    def process_batch(batch_df, _batch_id):
        hamming_neardup_join(
            batch_df, corpus, "id", "fp",
            max_hamming=max_hamming, max_bucket=max_bucket,
            corpus_chunked=chunked,
        ).write.mode("append").parquet(f"{out_dir}/neardup_matches")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", f"{out_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )


def rate_control_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    initial_rate: int = 4,
    max_rate: int = 64,
    schema=None,
):
    """Streaming AIMD politeness control: wave-log rows ``(host, wave,
    had_error)`` arriving as files fold incrementally into the per-host
    rate state (``politeness.aimd_rate_resume`` inside ``foreachBatch``)
    — the crawl-time form of the batch ``aimd_rate``: each micro-batch
    touches only its own hosts' rows plus a host-cardinality state join,
    never the full history.

    State versions write to ``{out_dir}/state_v{batch_id}`` with a
    ``_latest`` pointer updated LAST (the state store's manifest-last
    commit discipline, so a crashed batch leaves the previous state
    intact and Structured Streaming's checkpoint replays the batch).
    Append-order contract: a batch containing a wave ≤ a host's stored
    ``last_wave`` raises — AIMD is a left fold and out-of-order ingestion
    would silently corrupt it.
    """
    import json

    from amazonwebcrawler_spark.operators.politeness import aimd_rate_resume

    if schema is None:
        schema = spark.read.parquet(src_dir).schema
    ptr = os.path.join(out_dir, "_latest")

    def process_batch(batch_df, batch_id):
        state = None
        if os.path.exists(ptr):
            with open(ptr) as f:
                state = spark.read.parquet(json.load(f)["path"])
        if state is not None:
            bad = (
                batch_df.join(state.select("host", "last_wave"), "host")
                .filter(F.col("wave") <= F.col("last_wave"))
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    "rate_control_stream: batch contains waves at or before "
                    "a host's folded last_wave — ingestion must be append-ordered"
                )
        resumed = aimd_rate_resume(
            batch_df, state, initial_rate=initial_rate, max_rate=max_rate
        )
        if state is not None:
            untouched = state.join(
                batch_df.select("host").distinct(), "host", "left_anti"
            )
            resumed = resumed.unionByName(untouched)
        path = os.path.join(out_dir, f"state_v{batch_id}")
        resumed.write.mode("overwrite").parquet(path)
        with open(ptr + ".tmp", "w") as f:
            json.dump({"path": path, "batch_id": batch_id}, f)
        os.replace(ptr + ".tmp", ptr)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
