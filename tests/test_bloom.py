"""Bloom URL-seen filter properties (SURVEY.md §5.2): zero false negatives
vs the exact left_anti oracle; false-positive rate within sizing bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazonwebcrawler_spark.operators import bloom


def test_no_false_negatives_and_bounded_fp(spark):
    cfg = bloom.BloomConfig(n_buckets=8, m_bits=1 << 16, k=5)
    seen_urls = spark.createDataFrame(
        [(f"https://www.amazon.com/dp/B{i:07d}",) for i in range(2000)], "canonical_url string"
    )
    keyed = bloom.with_bloom_keys(seen_urls, "canonical_url", cfg)
    shards = bloom.merge_into_shards(keyed, bloom.empty_shards(spark, cfg), cfg)

    # every inserted URL must probe positive (no false negatives — the
    # property that makes maybe_seen=False a safe fast path)
    probed_seen = bloom.probe_shards(keyed, shards, cfg)
    assert probed_seen.filter(~F.col("maybe_seen")).count() == 0

    # unseen URLs: false positives allowed but must be rare at this sizing
    # (2000 items / 8 shards / 65536 bits → fp ~ 1e-5)
    unseen = spark.createDataFrame(
        [(f"https://www.amazon.com/gp/other/{i}",) for i in range(2000)], "canonical_url string"
    )
    probed_unseen = bloom.probe_shards(
        bloom.with_bloom_keys(unseen, "canonical_url", cfg), shards, cfg
    )
    fp = probed_unseen.filter(F.col("maybe_seen")).count()
    assert fp <= 20, f"false-positive rate too high: {fp}/2000"


def test_exact_probe_no_false_positives_or_negatives(spark):
    """The per-bucket sorted key-hash sets (exact-confirm fold-in): unlike
    the bitset's maybe_seen, exact_seen must be both FN-free AND FP-free on
    distinct-hash URL sets — that's what lets the crawler admit new URLs
    without any seen-table anti-join."""
    cfg = bloom.BloomConfig(n_buckets=8, m_bits=1 << 16, k=5)
    seen_urls = spark.createDataFrame(
        [(f"https://www.amazon.com/dp/B{i:07d}",) for i in range(2000)], "canonical_url string"
    )
    keyed = bloom.with_bloom_keys(seen_urls, "canonical_url", cfg)
    shards = bloom.merge_into_shards(keyed, bloom.empty_shards(spark, cfg), cfg)

    probed = bloom.probe_shards(keyed, shards, cfg)
    assert probed.filter(~F.col("exact_seen")).count() == 0

    unseen = spark.createDataFrame(
        [(f"https://www.amazon.com/gp/other/{i}",) for i in range(2000)], "canonical_url string"
    )
    probed_unseen = bloom.probe_shards(
        bloom.with_bloom_keys(unseen, "canonical_url", cfg), shards, cfg
    )
    assert probed_unseen.filter(F.col("exact_seen")).count() == 0
    # exact_seen implies maybe_seen (the key set is a subset of what set bits)
    assert probed.filter(F.col("exact_seen") & ~F.col("maybe_seen")).count() == 0


def test_merge_is_idempotent_and_incremental(spark):
    cfg = bloom.BloomConfig(n_buckets=4, m_bits=1 << 14, k=5)
    batch1 = spark.createDataFrame([(f"u{i}",) for i in range(100)], "canonical_url string")
    batch2 = spark.createDataFrame([(f"v{i}",) for i in range(100)], "canonical_url string")
    k1 = bloom.with_bloom_keys(batch1, "canonical_url", cfg)
    k2 = bloom.with_bloom_keys(batch2, "canonical_url", cfg)
    s1 = bloom.merge_into_shards(k1, bloom.empty_shards(spark, cfg), cfg)
    s2 = bloom.merge_into_shards(k2, s1, cfg)
    # both batches positive after the second merge
    for keyed in (k1, k2):
        assert bloom.probe_shards(keyed, s2, cfg).filter(~F.col("maybe_seen")).count() == 0
    # shard count never changes; item counts accumulate
    assert s2.count() == cfg.n_buckets
    assert s2.agg(F.sum("n_items")).collect()[0][0] == 200


def test_for_capacity_byte_aligned():
    """for_capacity must return m_bits divisible by 8 — _set_bits/_test_bits
    address up to m_bits-1 over an m_bits>>3 byte array (no Spark needed)."""
    for n_items in (1, 7, 100, 12_345, 999_983, 10**7 + 3):
        for bpi in (7, 11, 12, 13):
            cfg = bloom.BloomConfig.for_capacity(n_items, bits_per_item=bpi, n_buckets=7)
            assert cfg.m_bits % 8 == 0, (n_items, bpi, cfg.m_bits)
            assert cfg.m_bits >= 1 << 14


def test_exact_probe_rejects_keyless_state(spark):
    """Probing against shard state whose populated buckets carry no key
    set (state written before the per-bucket sets existed) must raise,
    not silently answer exact_seen=False for already-crawled URLs."""
    import pytest

    cfg = bloom.BloomConfig(n_buckets=4, m_bits=1 << 14)
    urls = spark.range(0, 200).select(
        F.concat(F.lit("https://www.amazon.com/dp/K"), F.col("id").cast("string")).alias(
            "canonical_url"
        )
    )
    keyed = bloom.with_bloom_keys(urls, "canonical_url", cfg)
    shards = bloom.merge_into_shards(keyed, bloom.empty_shards(spark, cfg), cfg)
    keyless = shards.withColumn("keys", F.lit(bytearray()))
    with pytest.raises(Exception, match="no key set"):
        bloom.probe_shards(keyed, keyless, cfg).collect()


class TestBloomPlan:
    """operators/bloom.bloom_plan — textbook optima replayed in Python."""

    def test_textbook_values(self, spark):
        import math

        from amazonwebcrawler_spark.operators.bloom import bloom_plan

        cfg = spark.createDataFrame(
            [(1_000_000, 100), (10_000_000_000, 100), (1_000_000, 10_000)],
            "n_items long, target_fpr_ppm long",
        )
        out = {r["n_items"] * 1_000_000 + r["target_fpr_ppm"]: r
               for r in bloom_plan(cfg).collect()}
        ln2 = 0.6931471805599453
        for (n, fppm) in ((1_000_000, 100), (10_000_000_000, 100), (1_000_000, 10_000)):
            r = out[n * 1_000_000 + fppm]
            p = fppm / 1e6
            m = math.ceil(-(n * math.log(p)) / (ln2 * ln2))
            k = max(1, round(m / n * ln2))
            assert r["m_bits"] == m and r["k_hashes"] == k
            pred = (1.0 - math.exp(-(k * n) / m)) ** k
            assert r["predicted_fpr_micro"] == round(pred * 1e6)
            assert r["bytes_total"] == (m + 7) // 8
            # the integer plan must roughly hit the target
            assert abs(pred - p) / p < 0.2
        # the 10^10-URL / 100 ppm cell: the filter the crawl actually sizes
        big = out[10_000_000_000 * 1_000_000 + 100]
        assert 20 < big["bytes_total"] / 2**30 < 30  # ~25 GiB
