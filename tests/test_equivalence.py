"""Crawl-order / URL-seen equivalence: Spark engine vs the single-threaded
reference-semantics oracle, at two parallelism levels (north_rule sandbox
form — the full local[8]/local[32] throughput run lives in bench.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazonwebcrawler_spark.functions.urls import canonicalize_url
from amazonwebcrawler_spark.plans.crawler import CrawlConfig, CrawlEngine
from amazonwebcrawler_spark.operators import bloom
from amazonwebcrawler_spark.sources import synthetic_world as world
from amazonwebcrawler_spark.sources.seeds import seeds_df
from tests.oracle import canonicalize_url_py, crawl_oracle, host_shard_py

SEED_ROWS = [
    (0, "keyword", "tpe yoga mat", world.serp_url("tpe yoga mat", 1) + "&ref=nb", "yogamat", 3),
    (1, "keyword", "lined notebook a5", world.serp_url("lined notebook a5", 1), "jmcl", 2),
    (2, "product", None,
     f"https://WWW.Amazon.com/dp/{world.asin_for('tpe yoga mat', 1, 1)}/ref=sr_1?qid=1", "yogamat", 2),
    # all three seed kinds in the ordering-match proof (S1-S3)
    (3, "category", None, world.category_url("office-products"), "jmcl", 2),
]

CFG = dict(max_waves=24, tokens_per_shard=16, n_shards=8, salt_bits=2, max_retries=2)


class TestCanonicalizeParity:
    def test_spark_matches_python(self, spark):
        vectors = [
            "https://WWW.Amazon.com/dp/B071G4PWY6/?b=2&qid=152&a=1&ref=sr_1_7&sr=8-7#x",
            "https://www.amazon.com/dp/B01/ref=sr_1_1/",
            "https://www.amazon.com/s?field-keywords=yoga+mat&page=2",
            "https://www.amazon.com/gp/cart/view.html?qty=999&asin=B0",
            "http://example.org",
            "https://www.amazon.com/a/b/?x=1&x=0&ref=",
        ]
        df = spark.createDataFrame([(v,) for v in vectors], "url string")
        got = [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
        assert got == [canonicalize_url_py(v) for v in vectors]

    def test_host_shard_parity(self, spark, tmp_path):
        from amazonwebcrawler_spark.plans.crawler import CrawlConfig, _with_host_shard

        urls = [world.serp_url("yoga mat", p) for p in range(1, 6)] + [
            world.detail_url(world.asin_for("yoga mat", 1, i)) for i in range(1, 6)
        ]
        cfg = CrawlConfig(checkpoint_dir=str(tmp_path), n_shards=8, salt_bits=2)
        df = spark.createDataFrame([(u,) for u in urls], "canonical_url string")
        got = {
            r.canonical_url: r.host_shard for r in _with_host_shard(df, cfg).collect()
        }
        for u in urls:
            assert got[u] == host_shard_py(u, 8, 2), u


def _engine_order_and_seen(spark, tmpdir: str, shuffle_partitions: int):
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    cfg = CrawlConfig(checkpoint_dir=tmpdir, bloom=bloom.BloomConfig(n_buckets=8, m_bits=1 << 16), **CFG)
    eng = CrawlEngine(spark, cfg, seeds=seeds_df(spark, SEED_ROWS))
    out = eng.run()
    store = out["store"]
    lineage = store.load_deltas("lineage")
    order = sorted(
        (r.wave, r.canonical_url) for r in lineage.select("wave", "canonical_url").collect()
    )
    seen = {r.canonical_url for r in store.load_deltas("seen").select("canonical_url").collect()}
    return order, seen


@pytest.fixture(scope="module")
def oracle_run():
    return crawl_oracle(SEED_ROWS, n_shards=8, salt_bits=2, tokens_per_shard=16, max_waves=24)


class TestCrawlEquivalence:
    def test_engine_matches_oracle_parallelism_a(self, spark, oracle_run, tmp_path):
        order, seen = _engine_order_and_seen(spark, str(tmp_path), 4)
        assert seen == oracle_run.seen
        assert order == sorted(oracle_run.fetch_order)

    def test_engine_matches_oracle_parallelism_b(self, spark, oracle_run, tmp_path):
        # different shuffle parallelism → byte-identical crawl order
        order, seen = _engine_order_and_seen(spark, str(tmp_path), 13)
        assert seen == oracle_run.seen
        assert order == sorted(oracle_run.fetch_order)
