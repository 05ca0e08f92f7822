"""Image+caption table consumption + per-row validation (input_hint).

The engine both PRODUCES the image table (crawler waves write the
``(image_id, bytes, w, h, fmt, caption, phash)`` schema) and can CONSUME an
existing Iceberg-layout table of that shape, re-deriving every typed field
from the opaque ``bytes`` column and flagging rows whose stored metadata
disagrees — the input_hint's per-row invariant (decoded-pixel fidelity,
caption equality, phash stability) as a vectorized Arrow kernel.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

VALIDATE_SCHEMA = (
    "image_id string, decode_ok boolean, dims_ok boolean, fmt_ok boolean, "
    "phash_ok boolean, phash_recomputed long, caption_len int, n_bytes int"
)


def _validate_batches(batches):
    from amazonwebcrawler_spark.functions.images import (
        FJPG_MAGIC,
        PNG_SIG,
        decode_image,
        phash64,
    )

    for pdf in batches:
        rows = []
        for image_id, data, w, h, fmt, caption, ph in zip(
            pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"], pdf["caption"], pdf["phash"]
        ):
            rec = {
                "image_id": image_id, "decode_ok": False, "dims_ok": False,
                "fmt_ok": False, "phash_ok": False, "phash_recomputed": None,
                "caption_len": len(caption) if caption is not None else 0,
                "n_bytes": len(data) if data is not None else 0,
            }
            try:
                px = decode_image(bytes(data))
                rec["decode_ok"] = True
                rec["dims_ok"] = (px.shape[1], px.shape[0]) == (int(w), int(h))
                head = bytes(data)[:8]
                actual_fmt = "png" if head == PNG_SIG else ("jpeg" if head[:4] == FJPG_MAGIC else "unknown")
                rec["fmt_ok"] = actual_fmt == fmt
                rec["phash_recomputed"] = phash64(px)
                rec["phash_ok"] = rec["phash_recomputed"] == int(ph)
            except Exception:  # noqa: BLE001  # corrupt / unknown container
                pass
            rows.append(rec)
        pdf_out = pd.DataFrame(
            rows,
            columns=[
                "image_id", "decode_ok", "dims_ok", "fmt_ok", "phash_ok",
                "phash_recomputed", "caption_len", "n_bytes",
            ],
        )
        # a None (undecodable row) coerces the column to float64, silently
        # truncating int64 hashes past 2^53 — rebuild as nullable Int64
        pdf_out["phash_recomputed"] = pd.array(
            [r["phash_recomputed"] for r in rows], dtype="Int64"
        )
        yield pdf_out


def validate_images(images: DataFrame) -> DataFrame:
    """Per-row invariant check over an input_hint-schema image table."""
    return images.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    ).mapInPandas(_validate_batches, VALIDATE_SCHEMA)


#: default training buckets (w, h) — a small SDXL-style ladder around one
#: megapixel scaled down to this repo's synthetic sizes; square first so the
#: index tiebreak prefers it at equal aspect distance
DEFAULT_ASPECT_BUCKETS = (
    (64, 64), (80, 48), (48, 80), (96, 40), (40, 96), (72, 56), (56, 72),
)


def aspect_buckets(
    images: DataFrame,
    buckets: tuple[tuple[int, int], ...] = DEFAULT_ASPECT_BUCKETS,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Aspect-ratio bucketing for multimodal training batches (the
    NovelAI/SDXL move): assign every image to the fixed bucket whose aspect
    ratio is nearest in log space, and derive the cover-resize + center-crop
    that maps the image onto the bucket — so a training loader can batch
    same-bucket rows without padding or distortion.

    Pure JVM column math over the table's typed metadata ``(w, h)`` — no
    decode, no join, no shuffle: the argmin over the (constant) bucket
    ladder is ``array_min`` of a literal struct array ordered by
    (distance, bucket index), so ties go to the earlier bucket and the
    whole assignment stays inside whole-stage codegen. Distance is rounded
    to 6 dp to keep the argmin engine-portable (the DuckDB twin re-derives
    it with a windowed rank over the same ladder).

    Resize is integer-exact: ``resize = max(bucket_dim, ceil(cover))`` in
    each axis, ``crop = (resize - bucket) // 2``; resized dims always cover
    the bucket so the crop is non-negative.

    Returns ``(id, w, h, bucket_id, bucket_w, bucket_h, resize_w, resize_h,
    crop_x, crop_y)``. Rows with non-positive dims are dropped — their
    log-aspect is undefined, and an image without valid dimensions cannot
    have decoded (``validate_images`` flags such rows upstream).
    """
    from pyspark.sql import functions as F

    images = images.filter((F.col(w_col) > 0) & (F.col(h_col) > 0))
    out = with_aspect_buckets(images, w_col=w_col, h_col=h_col, buckets=buckets)
    return out.select(
        id_col,
        F.col(w_col).cast("int").alias("w"),
        F.col(h_col).cast("int").alias("h"),
        "bucket_id", "bucket_w", "bucket_h",
        "resize_w", "resize_h", "crop_x", "crop_y",
    )


def with_aspect_buckets(
    df: DataFrame,
    w_col: str = "w",
    h_col: str = "h",
    buckets: tuple[tuple[int, int], ...] = DEFAULT_ASPECT_BUCKETS,
) -> DataFrame:
    """The composable form of :func:`aspect_buckets`: ADD the bucket /
    resize / crop columns to ``df`` (all other columns pass through).
    Caller guarantees positive dims — non-positive dims yield null
    ``bucket_id`` (undefined log-aspect), which :func:`aspect_buckets`
    avoids by filtering first."""
    from pyspark.sql import functions as F

    w = F.col(w_col).cast("long")
    h = F.col(h_col).cast("long")
    cands = [
        F.struct(
            F.round(F.abs(F.log(w / h) - F.log(F.lit(bw / bh))), 6).alias("dist"),
            F.lit(i).alias("bucket_id"),
            F.lit(bw).alias("bucket_w"),
            F.lit(bh).alias("bucket_h"),
        )
        for i, (bw, bh) in enumerate(buckets)
    ]
    best = F.array_min(F.array(*cands))
    bw = F.col("_b.bucket_w").cast("long")
    bh = F.col("_b.bucket_h").cast("long")
    rw = F.greatest(bw, F.floor((w * bh + h - 1) / h))
    rh = F.greatest(bh, F.floor((h * bw + w - 1) / w))
    return (
        df.withColumn("_b", best)
        .withColumn("bucket_id", F.col("_b.bucket_id"))
        .withColumn("bucket_w", F.col("_b.bucket_w"))
        .withColumn("bucket_h", F.col("_b.bucket_h"))
        .withColumn("resize_w", rw.cast("int"))
        .withColumn("resize_h", rh.cast("int"))
        .withColumn("crop_x", F.floor((rw - bw) / 2).cast("int"))
        .withColumn("crop_y", F.floor((rh - bh) / 2).cast("int"))
        .drop("_b")
    )


def image_pipeline(
    images: DataFrame,
    max_hamming: int = 2,
    buckets: tuple[tuple[int, int], ...] = DEFAULT_ASPECT_BUCKETS,
) -> DataFrame:
    """The whole image-curation cascade as ONE composed plan — the image
    twin of the ``corpus_pipeline`` driver query — labelling every image
    with the FIRST stage that dropped it:

    - ``invalid``      bytes do not decode (the curate kernel's quarantine)
    - ``low_quality``  Gopher-style image gate (``images.quality_stats``)
    - ``dup_drop``     pHash near-dup, non-canonical member — dedup only
                       ever runs over quality survivors
    - ``kept``         survivor; carries its aspect bucket + resize plan
                       (bucket columns are null off the kept path)

    Scale shape: ONE Python crossing for everything — the fused
    ``curate_stats_kernel`` decodes each image once and emits quality
    stats + pHash + byte size; the stats table (a row of scalars per
    image, no pixels) is eagerly localCheckpoint'ed so its three
    downstream consumers (labels, pair finding, election) never re-decode.
    Near-dup pairing is the pure-JVM pigeonhole hamming join on the phash
    column; the keep election joins the corpus only against pair-member
    slivers; bucketing is inline column math nulled off the kept path —
    no corpus-wide join anywhere past the kernel.

    Returns ``(image_id, stage, bucket_id, bucket_w, bucket_h, resize_w,
    resize_h, crop_x, crop_y)``.
    """
    from pyspark.sql import functions as F

    from amazonwebcrawler_spark.functions.images import CURATE_SCHEMA, curate_stats_kernel
    from amazonwebcrawler_spark.operators import dedup

    stats = images.mapInPandas(curate_stats_kernel(), CURATE_SCHEMA)
    # scalars-only table, reused by 3 sub-DAGs — checkpoint so the decode
    # kernel runs once (same eager-release pattern as minhash_lsh_pairs)
    stats = stats.localCheckpoint(eager=True)

    survivors = stats.filter(F.col("brightness_micro").isNotNull() & ~F.col("is_low_quality"))
    pairs = dedup.phash_neardup_pairs(
        survivors, id_col="image_id", bytes_col=None, phash_col="phash",
        max_hamming=max_hamming,
    )
    decision = dedup.keep_canonical(
        survivors.select("image_id", "n_bytes"), pairs,
        id_col="image_id", quality_col="n_bytes",
    )
    dup_drop = (
        decision.filter(F.col("keep") == 0)  # keep_canonical returns doc_id
        .select(F.col("doc_id").alias("image_id"))
        .withColumn("_dup", F.lit(True))
    )
    labelled = stats.join(dup_drop, "image_id", "left").withColumn(
        "stage",
        F.when(F.col("brightness_micro").isNull(), F.lit("invalid"))
        .when(F.col("is_low_quality"), F.lit("low_quality"))
        .when(F.coalesce(F.col("_dup"), F.lit(False)), F.lit("dup_drop"))
        .otherwise(F.lit("kept")),
    )
    kept = F.col("stage") == "kept"
    bucketed = with_aspect_buckets(
        # dims guaranteed positive on decodable rows; placeholder 1s keep
        # the log math null-free on rows whose bucket we null out anyway
        labelled.withColumn("_bw", F.when(kept, F.col("w")).otherwise(F.lit(1)))
        .withColumn("_bh", F.when(kept, F.col("h")).otherwise(F.lit(1))),
        w_col="_bw", h_col="_bh", buckets=buckets,
    )
    null_unless_kept = lambda c: F.when(kept, F.col(c)).otherwise(F.lit(None)).alias(c)  # noqa: E731
    return bucketed.select(
        "image_id", "stage",
        *[null_unless_kept(c) for c in (
            "bucket_id", "bucket_w", "bucket_h",
            "resize_w", "resize_h", "crop_x", "crop_y",
        )],
    )


def channel_norm_stats(images: DataFrame) -> DataFrame:
    """Corpus-wide per-channel normalization constants — the classic
    "compute the dataset mean/std once, bake it into the training
    transform" pass (torchvision's ImageNet ``[0.485, 0.456, 0.406]``
    numbers are exactly this statistic):

    - map side: ONE Arrow decode per image emitting exact integer
      ``(Σc, Σc²)`` per channel (functions/images.channel_sums_kernel);
      undecodable rows contribute nothing.
    - reduce side: a 3-group hash aggregate (map-side combinable; the
      shuffle carries ≤ 3 rows per task) totalling in DECIMAL(38,0) —
      int64 would overflow ``Σc²`` past ~1.4e14 corpus pixels, i.e. well
      inside 100 TB.

    Returns 3 rows ``(channel, n_px, mean_milli, var_micro)`` — mean in
    milli-units of the 0-255 scale and variance in micro-units², both
    EXACT floor divisions of decimal integers (no float ever exists, so
    the committed golden is environment-proof)."""
    from pyspark.sql import functions as F

    from amazonwebcrawler_spark.functions.images import (
        CHANNEL_SUMS_SCHEMA,
        channel_sums_kernel,
    )

    per = images.select("image_id", "bytes").mapInPandas(
        channel_sums_kernel(), CHANNEL_SUMS_SCHEMA
    )
    agg = per.groupBy("channel").agg(
        F.sum(F.col("n_px").cast("decimal(38,0)")).alias("_n"),
        F.sum(F.col("sum_c").cast("decimal(38,0)")).alias("_s1"),
        F.sum(F.col("sumsq_c").cast("decimal(38,0)")).alias("_s2"),
    )
    return agg.select(
        "channel",
        F.col("_n").cast("long").alias("n_px"),
        F.expr("CAST((_s1 * 1000) DIV _n AS BIGINT)").alias("mean_milli"),
        F.expr(
            "CAST(((_n * _s2 - _s1 * _s1) * 1000000) DIV (_n * _n) AS BIGINT)"
        ).alias("var_micro"),
    )


def tiled_image_stats(patches: DataFrame, min_repeat: int = 4) -> DataFrame:
    """Collage / tiled-placeholder detection over the ViT patch table
    (``functions/images.patch_stats_kernel`` output): an image whose
    patch-level signatures repeat is a TILING — a placeholder pattern, a
    sprite sheet, a product-grid collage, or a solid mock-up — not a
    photograph, and a handful of them repeated at 10^9 scale skews every
    pixel statistic the curation stack computes downstream.

    The signature is the patch's full exact-integer stat tuple (channel
    means, luma, contrast, flat flag) — two patches collide only when
    they are statistically identical at milli/micro precision, which
    organic photographs essentially never are across 4×4 cells while
    tilings are BY CONSTRUCTION. Per image: distinct signature count,
    the dominant signature's repeat count, and the verdict
    ``max_repeat ≥ min_repeat``.

    Pure JVM after the one Arrow patch pass (shared with image_patches /
    the MAE masking stage — nothing re-decodes): one (image, sig) hash
    aggregate + one per-image rollup, both map-side combinable; no
    window, no Python, no collect. Returns (image_id, n_patches, n_sigs,
    max_repeat, is_tiled).
    """
    from pyspark.sql import functions as F

    sig = F.concat_ws(
        "#",
        F.col("mean_r_milli"),
        F.col("mean_g_milli"),
        F.col("mean_b_milli"),
        F.col("luma_micro"),
        F.col("contrast_micro"),
        F.col("is_flat").cast("int"),
    )
    per_sig = patches.groupBy("image_id", sig.alias("_sig")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return per_sig.groupBy("image_id").agg(
        F.sum("_n").cast("long").alias("n_patches"),
        F.count(F.lit(1)).cast("long").alias("n_sigs"),
        F.max("_n").cast("long").alias("max_repeat"),
    ).select(
        "image_id",
        "n_patches",
        "n_sigs",
        "max_repeat",
        (F.col("max_repeat") >= min_repeat).alias("is_tiled"),
    )


def upscale_detect(stats: DataFrame, min_const_milli: int = 950) -> DataFrame:
    """Re-inflated-thumbnail verdict over ``functions/images.
    upscale_stats_kernel`` output: ``upscale_k`` is the LARGEST factor
    k ∈ {4,3,2} whose constant-block fraction clears ``min_const_milli``
    (a true k× NN upscale also clears every divisor of k, so the largest
    verified factor is the informative one; a 6× upscale reports k=3 —
    the largest verified block factor ≤ 4, the true factor being a
    multiple). Solid placeholders (``is_flat``) are trivially
    block-constant at every k and are excluded from the verdict — they
    are a different pollution class with their own gates (quality/tile).

    Map-only pure column math behind the one Arrow stats pass: no
    shuffle, no Python, no collect — pipelines into the curation cascade
    like the other per-image verdicts. NULL const columns (image smaller
    than k) never qualify. Returns (image_id, w, h, is_flat,
    const2_milli, const3_milli, const4_milli, upscale_k, is_upscaled).
    """
    from pyspark.sql import functions as F

    def ok(k: int):
        c = F.col(f"const{k}_milli")
        return c.isNotNull() & (c >= min_const_milli)

    upk = F.when(ok(4), F.lit(4)).when(ok(3), F.lit(3)).when(ok(2), F.lit(2))
    return stats.select(
        "image_id",
        "w",
        "h",
        "is_flat",
        "const2_milli",
        "const3_milli",
        "const4_milli",
        upk.cast("int").alias("upscale_k"),
        (upk.isNotNull() & ~F.col("is_flat")).alias("is_upscaled"),
    )


def caption_conflicts(pairs: DataFrame, min_stock_images: int = 3) -> DataFrame:
    """Cross-modal label-noise audit over an (image_id, phash, caption)
    pair table — the two conflict classes that poison contrastive
    image-text training and that DEDUP deliberately ignores (pair-level
    dedup collapses duplicates; this flags rows that are NOT duplicates
    but disagree):

    - ``stock_caption``  — one caption attached to ≥ ``min_stock_images``
      VISUALLY DISTINCT images (distinct pHash): template/boilerplate
      captions ("official product image") that teach a text encoder
      nothing and act as false positives for every image they label.
    - ``conflicting_caption`` — one pHash carrying ≥ 2 distinct
      captions: the same pixels relabeled across listings — direct
      label noise for (image, text) alignment objectives.

    A true exact duplicate pair (same caption AND same pHash) triggers
    neither: the caption's distinct-pHash count and the image's
    distinct-caption count both stay 1 — dedup's job, not this audit's.

    Scale shape: caption identity is md5 over the UTF-8 bytes (never a
    raw string shuffle key; the reference scraper's caption column is
    free text — reference: crawler/crawler.py:100-118 getTitle), then
    two hash aggregates (count-distinct per caption_fp, per phash) and
    two equi joins back on the SAME keys the aggregates shuffled on —
    AQE coalesces; no window over an unpartitioned frame, no Python.
    Exact-pHash grouping is the contract; the hamming near-dup blocker
    (dedup.hamming_neardup_pairs) generalizes the image side when
    near-identical re-encodes should conflate.

    Returns one row per input pair: (image_id, phash, caption_fp,
    n_caption_images, n_caption_phashes, n_phash_captions,
    stock_caption, conflicting_caption)."""
    from pyspark.sql import functions as F

    fp = pairs.select(
        "image_id",
        "phash",
        F.md5(F.col("caption").cast("binary")).alias("caption_fp"),
    )
    bycap = fp.groupBy("caption_fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_caption_images"),
        F.countDistinct("phash").cast("long").alias("n_caption_phashes"),
    )
    byph = fp.groupBy("phash").agg(
        F.countDistinct("caption_fp").cast("long").alias("n_phash_captions")
    )
    return (
        fp.join(bycap, "caption_fp")
        .join(byph, "phash")
        .select(
            "image_id",
            "phash",
            "caption_fp",
            "n_caption_images",
            "n_caption_phashes",
            "n_phash_captions",
            (F.col("n_caption_phashes") >= min_stock_images).alias("stock_caption"),
            (F.col("n_phash_captions") >= 2).alias("conflicting_caption"),
        )
    )


def byte_shard_manifest(
    records: DataFrame,
    shard_bytes: int,
    id_col: str = "image_id",
    bytes_col: str = "n_bytes",
    n_parts: int = 32,
) -> DataFrame:
    """WebDataset-style shard manifest over sized records: training loaders
    stream tar-like shards of ~``shard_bytes``, so the curation pipeline
    must emit a DETERMINISTIC (record → shard, offset) assignment the writer
    and every re-run reproduce bit-for-bit (the reference saves one file per
    product with no layout plan, crawler/crawler.py:64-76; at 10^10 images
    the layout IS the product).

    Semantics: records form one virtual byte stream in corpus order
    (md5-bucket, id — engine-portable);
    ``shard_id = stream_offset DIV shard_bytes`` — nominal-position
    sharding, so records never split, every shard's nominal span is
    exactly ``shard_bytes``, and actual shard size deviates by at most
    one record (next-fit semantics, documented bound — the WebDataset
    "write until target then cut" discipline).

    Scale shape: the stream offset is a prefix sum over a WINDOW
    PARTITIONED BY md5 BUCKET plus cumulative bucket totals from a
    ≤``n_parts``-row collect broadcast back — no global sort, no
    single-task window (the politeness.assign_discovery_seq discipline).
    Zero-byte records are dropped (nothing to store). Returns the input
    id + (n_bytes, stream_offset, shard_id, offset_in_shard)."""
    if shard_bytes <= 0:
        raise ValueError(f"shard_bytes must be positive, got {shard_bytes}")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from amazonwebcrawler_spark.operators.corpus import hash_bucket

    sh = records.filter(F.col(bytes_col) > 0).withColumn(
        "_b", hash_bucket(F.col(id_col), n_parts, salt="wds")
    )
    w = (
        Window.partitionBy("_b")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sh.withColumn("_end", F.sum(F.col(bytes_col)).over(w).cast("long"))
    totals = {
        r["_b"]: r["t"]
        for r in sh.groupBy("_b").agg(F.sum(bytes_col).alias("t")).collect()
    }
    acc = 0
    offs = []
    for b in sorted(totals):
        offs.append((int(b), acc))
        acc += int(totals[b])
    off_df = records.sparkSession.createDataFrame(offs or [(0, 0)], "_b int, _off long")
    out = (
        cum.join(F.broadcast(off_df), "_b")
        .withColumn("stream_offset", (F.col("_off") + F.col("_end") - F.col(bytes_col)).cast("long"))
        .withColumn("shard_id", F.expr(f"stream_offset DIV {int(shard_bytes)}").cast("long"))
        .withColumn("offset_in_shard", (F.col("stream_offset") - F.col("shard_id") * shard_bytes).cast("long"))
        .drop("_b", "_end", "_off")
    )
    return out.select(id_col, F.col(bytes_col).cast("long").alias(bytes_col),
                      "stream_offset", "shard_id", "offset_in_shard")
