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
    not silently answer exact_seen=False for already-crawled URLs; the
    crawl's admission kernel refuses it the same way."""
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
    with pytest.raises(Exception, match="no key set"):
        bloom.admit_into_shards(
            keyed.withColumn("parent_seq", F.lit(0)).withColumn("parent_pos", F.lit(0)), keyless, cfg
        ).collect()


def _reference_admission(keyed, shards, cfg, dirty_only):
    """The admission chain the fused kernel replaced: min_by dedup →
    probe_shards (admit ~exact_seen) → merge_into_shards of the admitted
    keys. Returns (admitted rows, merged shards)."""
    rest = [c for c in keyed.columns if c != "canonical_url"]
    deduped = (
        keyed.groupBy("canonical_url")
        .agg(
            F.min_by(F.struct(*rest), F.struct("parent_seq", "parent_pos")).alias("_r"),
            F.count("*").alias("_indegree"),
        )
        .select("canonical_url", "_indegree", "_r.*")
    )
    admitted = (
        bloom.probe_shards(deduped, shards, cfg)
        .filter(~F.col("exact_seen"))
        .drop("maybe_seen", "exact_seen")
    )
    return admitted, bloom.merge_into_shards(
        admitted.select("bucket", "h1", "h2"), shards, cfg, dirty_only=dirty_only
    )


def test_admit_into_shards_matches_the_reference_chain(spark):
    """One cogroup per bucket (dedup + exact probe + merge) against the
    chain it replaced, on cross-parent duplicates and already-seen URLs,
    for a copy-on-write call and a compacting one: equal admitted rows,
    equal _indegree and byte-equal shards."""
    cfg = bloom.BloomConfig(n_buckets=4, m_bits=1 << 14)
    seen = spark.createDataFrame(
        [(f"https://www.amazon.com/dp/S{i}",) for i in range(0, 60, 3)], "canonical_url string"
    )
    shards = bloom.merge_into_shards(
        bloom.with_bloom_keys(seen, "canonical_url", cfg), bloom.empty_shards(spark, cfg), cfg
    ).persist()
    # 7 parents × 60 positions over 60 URLs: every URL has several parents
    # at different positions, and a third of them are already seen
    rows = [
        (f"https://www.amazon.com/dp/S{(p * 7 + pos) % 60}", p, pos, f"kw{p}", p % 3)
        for p in range(7)
        for pos in range(0, 60, 2 + p % 3)
    ]
    cand = spark.createDataFrame(
        rows, "canonical_url string, parent_seq long, parent_pos int, keyword string, depth int"
    )
    # bucket 0 gets no candidate: copy-on-write leaves it out, compaction not
    keyed = bloom.with_bloom_keys(cand, "canonical_url", cfg).filter(F.col("bucket") != 0)
    for dirty_only in (True, False):
        got_rows, got_shards = bloom.split_admission(
            bloom.admit_into_shards(keyed, shards, cfg, dirty_only)
        )
        want_rows, want_shards = _reference_admission(keyed, shards, cfg, dirty_only)
        cols = want_rows.columns
        got = sorted(tuple(r) for r in got_rows.select(cols).collect())
        want = sorted(tuple(r) for r in want_rows.collect())
        assert got == want
        assert any(r[cols.index("_indegree")] > 1 for r in got), "no duplicate reached the kernel"
        assert len(got) < 60, "no already-seen URL was dropped"
        shard_cols = ["bucket", "bits", "keys", "n_items"]
        got_s = sorted(tuple(r) for r in got_shards.select(shard_cols).collect())
        want_s = sorted(tuple(r) for r in want_shards.select(shard_cols).collect())
        assert got_s == want_s
        assert {r[0] for r in got_s} == (set(range(1, 4)) if dirty_only else set(range(4)))
    shards.unpersist()


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
