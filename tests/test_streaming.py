"""Structured Streaming facade: watermark + tumbling-window agg over the
events table replayed as a file stream (C8), cross-checked against the
equivalent batch aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazonwebcrawler_spark.streaming.facade import events_windowed_stream


def test_events_windowed_stream_matches_batch(spark, sf_dir, tmp_path):
    out = str(tmp_path / "stream_out")
    q = events_windowed_stream(spark, sf_dir, out)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{out}/events_windowed")
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    g = {(r.window_start, r.event_type): (r.n, round(r.total_value, 6)) for r in got.collect()}
    b = {(r.window_start, r.event_type): (r.n, round(r.total_value, 6)) for r in batch.collect()}
    # append mode emits a window only once the watermark passes its end —
    # windows inside the final 2h+1h horizon stay in state when the stream
    # drains (correct late-data semantics, not loss)
    import datetime

    max_ts = max(k[0] for k in b)
    finalized = {k: v for k, v in b.items() if k[0] < max_ts - datetime.timedelta(hours=3)}
    assert len(g) > 0
    assert g.items() >= finalized.items()  # every finalized window emitted, exact values
    assert all(k in b and b[k] == v for k, v in g.items())  # nothing fabricated


def test_urls_seen_stream_matches_batch_distinct(spark, sf_dir, tmp_path):
    """Streaming URL-seen (dropDuplicates + watermark) must emit exactly
    the batch engine's first-sighting set: same canonicalization, same
    dedup key, each URL exactly once."""
    from amazonwebcrawler_spark.functions.urls import canonicalize_url
    from amazonwebcrawler_spark.streaming.facade import urls_seen_stream

    out = str(tmp_path / "stream_urls")
    q = urls_seen_stream(spark, sf_dir, out)
    q.awaitTermination(120)

    got = [r.canonical_url for r in spark.read.parquet(f"{out}/urls_seen").collect()]
    assert len(got) == len(set(got))  # exactly-once per URL

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = F.concat(
        F.lit("https://WWW.Amazon.com/dp/B"),
        F.lpad((F.col("user_id") % 5000).cast("string"), 6, "0"),
        F.lit("/ref=sr_1_1?qid="),
        (F.col("event_id") % 97).cast("string"),
        F.lit("&keywords=x"),
    )
    want = {
        r.canonical_url
        for r in e.select(canonicalize_url(raw).alias("canonical_url")).distinct().collect()
    }
    assert len(want) > 1  # non-vacuous: real duplicate pressure in the stream
    assert set(got) == want


def test_sessionize_stream_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization (custom stateful operator) must
    emit exactly the batch sessionization minus each user's final session
    (still open in state when the stream drains)."""
    from pyspark.sql import Window
    from amazonwebcrawler_spark.operators.sessions import sessionize, sessionize_stream

    out = str(tmp_path / "stream_sessions")
    q = sessionize_stream(spark, sf_dir, out, gap_minutes=30)
    q.awaitTermination(180)

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(f"{out}/sessions").collect()
    }

    e = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = sessionize(e, gap_minutes=30)
    w = Window.partitionBy("user_id").orderBy(F.col("session_start").desc())
    closed_batch = (
        batch.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") > 1).drop("_rn")
    )
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 6))
        for r in closed_batch.collect()
    }
    assert len(got) > 0
    assert got == want


def test_images_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming image ingest runs the batch validation kernel unchanged:
    the drained stream's output must equal validate_images over the same
    rows as one batch — including the corrupt row's all-false flags and a
    planted metadata lie (wrong stored phash) being caught mid-stream."""
    from amazonwebcrawler_spark.operators.images_io import validate_images
    from amazonwebcrawler_spark.sources.synthetic_world import image_record
    from amazonwebcrawler_spark.streaming.facade import images_ingest_stream

    src = str(tmp_path / "img_src")
    out = str(tmp_path / "img_out")
    schema = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    # three files → three micro-batches (maxFilesPerTrigger=1)
    for part in range(3):
        rows = []
        for i in range(4):
            rec = image_record(f"STRM{part}{i}")
            ph = rec["phash"] + (1 if (part, i) == (1, 2) else 0)  # planted lie
            rows.append(
                (f"{rec['image_id']}-{part}", bytearray(rec["bytes"]), rec["w"],
                 rec["h"], rec["fmt"], rec["caption"], ph)
            )
        if part == 2:
            rows.append(("corrupt", bytearray(b"NOTANIMAGE"), 32, 32, "png", "x", 0))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    q = images_ingest_stream(spark, src, out)
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(f"{out}/images_validated").collect()))
    want = sorted(map(tuple, validate_images(spark.read.parquet(src)).collect()))
    assert got == want and len(got) == 13
    by_id = {r[0]: r for r in got}
    assert by_id["corrupt"][1] is False          # decode_ok
    assert by_id["img-STRM12-1"][4] is False     # phash_ok — the planted lie
    assert sum(1 for r in got if r[4]) == 11     # every honest row validates


def test_neardup_ingest_stream_matches_batch(spark, tmp_path):
    """Incremental near-dup ingest over a stream of fingerprint batches
    equals the one-shot batch join of all new rows against the same static
    corpus — micro-batches are independent against fixed state, so the
    drained union must be exact (including a batch with zero matches)."""
    from amazonwebcrawler_spark.operators.dedup import hamming_neardup_join
    from amazonwebcrawler_spark.streaming.facade import neardup_ingest_stream

    corpus_dir = str(tmp_path / "corpus")
    src = str(tmp_path / "new_src")
    out = str(tmp_path / "dedup_out")
    corpus_rows = [(f"c{k}", (0x5A5A5A5A5A5A5A00 | k)) for k in range(8)]
    spark.createDataFrame(corpus_rows, "id string, fp long").write.parquet(corpus_dir)
    # three files → three micro-batches; batch 1 has no matches at all
    batches = [
        [("n0", 0x5A5A5A5A5A5A5A00), ("n1", 0x5A5A5A5A5A5A5A03)],
        [("far", 0x0123456789ABCDEF)],
        [("n2", (0x5A5A5A5A5A5A5A00 | 7) ^ 0b11)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "id string, fp long").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    q = neardup_ingest_stream(spark, src, corpus_dir, out, max_hamming=2)
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(f"{out}/neardup_matches").collect()))
    want = sorted(
        map(
            tuple,
            hamming_neardup_join(
                spark.read.parquet(src),
                spark.read.parquet(corpus_dir),
                "id", "fp", max_hamming=2,
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    assert not any(a == "far" for a, _, _ in got)


def test_neardup_ingest_stream_bucketed_corpus(spark, tmp_path):
    """The bucketed-corpus mode (corpus_table= pointing at a
    dedup.write_chunk_table state table) must drain to the identical match
    set as the parquet-corpus mode — the zero-corpus-shuffle plan is a
    physical change only."""
    from amazonwebcrawler_spark.operators.dedup import hamming_neardup_join, write_chunk_table
    from amazonwebcrawler_spark.streaming.facade import neardup_ingest_stream

    corpus_dir = str(tmp_path / "corpus")
    src = str(tmp_path / "new_src")
    out = str(tmp_path / "dedup_out_b")
    corpus_rows = [(f"c{k}", (0x5A5A5A5A5A5A5A00 | k)) for k in range(8)]
    corpus = spark.createDataFrame(corpus_rows, "id string, fp long")
    corpus.write.parquet(corpus_dir)
    batches = [
        [("n0", 0x5A5A5A5A5A5A5A00), ("n1", 0x5A5A5A5A5A5A5A03)],
        [("far", 0x0123456789ABCDEF)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "id string, fp long").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    spark.sql(f"CREATE DATABASE IF NOT EXISTS awc_stream LOCATION '{tmp_path}/db'")
    spark.sql("DROP TABLE IF EXISTS awc_stream.chunks")
    write_chunk_table(
        corpus, "id", "fp", "awc_stream.chunks",
        max_hamming=2, n_buckets=4, path=f"{tmp_path}/chunks",
    )
    q = neardup_ingest_stream(
        spark, src, corpus_dir="IGNORED", out_dir=out,
        max_hamming=2, corpus_table="awc_stream.chunks",
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(f"{out}/neardup_matches").collect()))
    want = sorted(
        map(
            tuple,
            hamming_neardup_join(
                spark.read.parquet(src), corpus, "id", "fp", max_hamming=2
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_clean_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming C4 cleaning runs the batch operator unchanged inside
    foreachBatch: the drained stream's union must equal c4_line_clean over
    all rows as one batch — documents arrive whole, so per-doc results are
    micro-batch-local and batch≡stream holds exactly."""
    from amazonwebcrawler_spark.functions.text import c4_line_clean
    from amazonwebcrawler_spark.streaming.facade import clean_ingest_stream

    src = str(tmp_path / "doc_src")
    out = str(tmp_path / "doc_out")
    texts = [
        "good first line stays here.\njunk\nsecond good line stays too!",
        "no terminal punctuation anywhere at all",
        "please enable javascript to view.\nreal content line is here.",
        "short.\nvar x = {1};\nlorem ipsum dolor sit.\nactual sentence survives fine.",
    ]
    did = 0
    for part in range(3):  # three files → three micro-batches
        rows = []
        for t in texts:
            rows.append((did, t))
            did += 1
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    q = clean_ingest_stream(spark, src, out)
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(f"{out}/docs_cleaned").collect()))
    want = sorted(
        map(tuple, c4_line_clean(spark.read.parquet(src), "text", "doc_id").collect())
    )
    assert got == want and len(got) == 12
    by_id = {r[0]: r for r in got}
    # column order: doc_id, n_lines, n_kept, kept_chars, clean_md5, keep
    assert by_id[0][2] == 2 and by_id[0][5] is True
    assert by_id[1][2] == 0 and by_id[1][5] is False


def test_rate_control_stream_matches_batch(spark, tmp_path):
    """Streaming AIMD (rate_control_stream) must equal the batch fold
    (aimd_rate) over the same wave log — counts AND rates — and the
    resumable fold must equal the one-shot fold per construction."""
    import random

    from amazonwebcrawler_spark.operators.politeness import aimd_rate
    from amazonwebcrawler_spark.streaming.facade import rate_control_stream

    rng = random.Random(17)
    hosts = [f"h{i}" for i in range(12)]
    src = str(tmp_path / "waves_src")
    out = str(tmp_path / "rate_out")
    all_rows = []
    wave = 0
    for part in range(3):  # three files -> three ordered micro-batches
        rows = []
        for _ in range(5):
            for h in hosts:
                if rng.random() < 0.8:
                    rows.append((h, wave, rng.random() < 0.3))
            wave += 1
        all_rows += rows
        spark.createDataFrame(
            rows, "host string, wave long, had_error boolean"
        ).coalesce(1).write.mode("append").parquet(src)

    q = rate_control_stream(spark, src, out, initial_rate=4, max_rate=32)
    q.awaitTermination(120)

    import json

    with open(f"{out}/_latest") as f:
        final = spark.read.parquet(json.load(f)["path"])
    got = {
        r["host"]: (r["n_waves"], r["n_error_waves"], r["rate"])
        for r in final.collect()
    }
    batch = aimd_rate(
        spark.createDataFrame(all_rows, "host string, wave long, had_error boolean"),
        initial_rate=4,
        max_rate=32,
    )
    want = {
        r["host"]: (r["n_waves"], r["n_error_waves"], r["rate"])
        for r in batch.collect()
    }
    assert got == want and len(got) == len(hosts)


def test_rate_control_stream_rejects_out_of_order(spark, tmp_path):
    from amazonwebcrawler_spark.streaming.facade import rate_control_stream

    src = str(tmp_path / "ooo_src")
    out = str(tmp_path / "ooo_out")
    spark.createDataFrame(
        [("h", 5, False)], "host string, wave long, had_error boolean"
    ).coalesce(1).write.mode("append").parquet(src)
    q = rate_control_stream(spark, src, out)
    q.awaitTermination(120)
    # second run: a wave at/below last_wave must raise through the stream
    spark.createDataFrame(
        [("h", 5, True)], "host string, wave long, had_error boolean"
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = rate_control_stream(spark, src, out)
    import pytest as _pytest

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="append-ordered"):
        q2.awaitTermination(120)
