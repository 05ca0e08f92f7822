"""Crawl engine integration: invariants, reports, exact resume (C6/S10)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from amazonwebcrawler_spark.operators import bloom
from amazonwebcrawler_spark.plans import crawler, reports
from amazonwebcrawler_spark.plans.crawler import CrawlConfig, CrawlEngine
from amazonwebcrawler_spark.sources import synthetic_world as world
from amazonwebcrawler_spark.sources.seeds import seeds_df

SEED_ROWS = [
    (0, "keyword", "yoga mat", world.serp_url("yoga mat", 1), "yogamat", 2),
    (1, "category", None, world.category_url("office-products"), "jmcl", 2),
    (2, "product", None,
     f"https://www.amazon.com/dp/{world.asin_for('yoga mat', 1, 2)}?qid=9", "yogamat", 2),
]


def _cfg(tmp: str, **kw) -> CrawlConfig:
    base = dict(
        checkpoint_dir=tmp, max_waves=16, tokens_per_shard=32, n_shards=8, salt_bits=2,
        bloom=bloom.BloomConfig(n_buckets=8, m_bits=1 << 16),
    )
    base.update(kw)
    return CrawlConfig(**base)


def _max_job_id(spark) -> int:
    """The newest Spark job's id (-1 before any): the difference across a
    call is the number of jobs it submitted."""
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("crawl_itest"))
    eng = CrawlEngine(spark, _cfg(tmp), seeds=seeds_df(spark, SEED_ROWS))
    out = eng.run()
    return out["store"]


class TestCrawlInvariants:
    def test_inventory_clamp(self, spark, crawl):
        """inventory = min(999, stock) as string — the screenshots/0.png
        behavior (getStockNumber.py:125-139)."""
        rows = crawl.load_deltas("cart_results").collect()
        assert rows
        for r in rows:
            stock = world.product_stock(r.asin)
            assert r.inventory == str(min(999, stock))
            if stock >= 999:
                assert r.alert == ""
            else:
                assert str(stock) in r.alert

    def test_images_match_details(self, spark, crawl):
        """every fetched detail page yields exactly one image+caption row
        with engine-recomputed phash equal to the world's (input_hint)."""
        details = crawl.load_deltas("detail_results")
        images = crawl.load_deltas("images")
        assert images.count() == details.count()
        for r in images.limit(20).collect():
            asin = r.image_id[len("img-") :]
            rec = world.image_record(asin)
            assert (r.w, r.h, r.fmt, r.phash) == (rec["w"], rec["h"], rec["fmt"], rec["phash"])
            assert r.caption == rec["caption"]

    def test_seen_has_no_duplicates_and_respects_robots(self, spark, crawl):
        seen = crawl.load_deltas("seen")
        assert seen.count() == seen.select("canonical_url").distinct().count()
        for r in seen.collect():
            assert world.robots_allowed(r.canonical_url)

    def test_metrics_and_lineage_present(self, spark, crawl):
        """lineage is the per-fetch record: one row per fetch attempt with
        its kind, attempt and payload sizes, and the per-(wave, shard)
        fetch metrics are one groupBy over it."""
        lin = crawl.load_deltas("lineage")
        per_shard = (
            lin.groupBy("wave", "host_shard")
            .agg(
                F.count("*").alias("n_fetched"),
                F.sum((F.col("status") == -1).cast("int")).alias("n_failed"),
                F.sum("content_len").alias("content_bytes"),
                F.sum("image_len").alias("image_bytes"),
            )
            .collect()
        )
        rows = lin.collect()
        assert rows and all(r.partition_id is not None for r in rows)
        assert sum(r.n_fetched for r in per_shard) == len(rows)
        assert sum(r.n_failed for r in per_shard) == sum(r.status == -1 for r in rows)
        content = image = 0
        for r in rows:
            assert r.kind == world.classify_url(r.canonical_url)
            if r.status == -1:
                assert r.content_len is None and r.image_len is None
                continue
            page = world.fetch(r.canonical_url)
            assert r.content_len == len(page["content"])
            assert r.image_len == (None if page["image_bytes"] is None else len(page["image_bytes"]))
            content += r.content_len
            image += r.image_len or 0
        assert sum(r.content_bytes or 0 for r in per_shard) == content
        assert sum(r.image_bytes or 0 for r in per_shard) == image > 0

    def test_lineage_serp_page_shape(self, spark, crawl):
        """Every status-200 SERP row of lineage carries the page's item
        count and has_next (A1; the P8/P9 flags read n_items > 45 and
        n_items == 0), equal to synthetic_world.serp_page's page as fetch
        serves it; no other row carries them."""
        import json

        n_serp = 0
        for r in crawl.load_deltas("lineage").collect():
            if r.kind == "serp" and r.status == 200:
                page = json.loads(world.fetch(r.canonical_url)["content"])
                assert (r.n_items, r.has_next) == (len(page["items"]), page["has_next"])
                n_serp += 1
            else:
                assert r.n_items is None and r.has_next is None
        assert n_serp > 0


class TestPriorityQueue:
    def test_indegree_priority_is_nonvacuous_and_reorders(self, spark, tmp_path):
        """W4/north_star: the page-rank-like score must (a) actually take
        values >1 on the synthetic world (popular-pool ASINs shared across
        keywords) and (b) move those URLs ahead of earlier-discovered
        depth-peers in the dequeue."""
        tmp = str(tmp_path / "crawl_prio_test")
        rows = [
            (i, "keyword", f"kw {i} synth", world.serp_url(f"kw {i} synth", 1), "yogamat", 2)
            for i in range(24)
        ]
        # one wave only: the frontier left behind is exactly wave 0's
        # expansion, with in-wave in-degrees attached
        eng = CrawlEngine(
            spark, _cfg(tmp, max_waves=1, tokens_per_shard=64), seeds=seeds_df(spark, rows)
        )
        eng.run()
        fr = eng.store.load_snapshot("frontier")
        dist = {
            r["priority_score"]: r["n"]
            for r in fr.groupBy("priority_score").agg(F.count("*").alias("n")).collect()
        }
        assert any(p > 1.0 for p in dist), f"priority is vacuous: {dist}"

        # dequeue order check: within every (shard, depth), no URL with a
        # strictly lower score may precede a higher-scored one
        from amazonwebcrawler_spark.operators.politeness import select_wave_batch

        batch, deferred, ranked = select_wave_batch(fr, tokens_per_shard=5, robots=eng.robots)
        b = batch.select("host_shard", "depth", "priority_score").collect()
        d = deferred.select("host_shard", "depth", "priority_score").collect()
        ranked.unpersist()
        worst_batch = {}
        for r in b:
            k = (r.host_shard, r.depth)
            worst_batch[k] = min(worst_batch.get(k, float("inf")), r.priority_score)
        for r in d:
            k = (r.host_shard, r.depth)
            if k in worst_batch:
                assert r.priority_score <= worst_batch[k], (
                    f"deferred row with score {r.priority_score} outranks "
                    f"batch minimum {worst_batch[k]} in {k}"
                )


@pytest.fixture(scope="module")
def quarantine_crawl(spark, tmp_path_factory):
    """One wave over one SERP seed: no detail, category or cart page."""
    tmp = str(tmp_path_factory.mktemp("crawl_quarantine"))
    # 'probe kw 5' page 1 deterministically renders the 'other' layout
    # with own-product items (synthetic_world.serp_page layout hash)
    seeds = [(0, "keyword", "probe kw 5", world.serp_url("probe kw 5", 1), "yogamat", 1)]
    eng = CrawlEngine(
        spark,
        _cfg(tmp, max_waves=1, follow_items=False, follow_skus=False, probe_inventory=False),
        seeds=seeds_df(spark, seeds),
    )
    return eng.run()["store"]


class TestQuarantine:
    def test_other_layout_routes_to_quarantine(self, spark, quarantine_crawl):
        """W3: rows from unknown-layout SERPs land in the quarantine table
        (getRank.py:317-328's 'Other mode' 3000s sleep), never in results."""
        store = quarantine_crawl
        q = store.load_deltas("quarantine")
        assert q is not None and q.count() > 0
        assert {r.rank for r in q.collect()} == {"Other mode"}
        results = store.load_deltas("results")
        if results is not None:
            assert results.filter(F.col("rank") == "Other mode").count() == 0

    def test_absent_kinds_commit_empty_tables(self, spark, quarantine_crawl, crawl):
        """A wave that fetched no detail or cart page still commits images,
        detail_results and cart_results: readable, empty, with the schema a
        wave that has them writes — no per-kind count gates the commit."""
        store = quarantine_crawl
        fetched = store.load_deltas("lineage").collect()
        assert {world.classify_url(r.canonical_url) for r in fetched} == {"serp"}
        tables = store._manifest(0)["tables"]
        for name in ("images", "detail_results", "cart_results"):
            assert name in tables, f"wave 0 did not commit {name}"
            df = store.load_deltas(name)
            assert df.count() == 0
            assert df.columns == crawl.load_deltas(name).columns, name


class TestEarlyStop:
    def test_early_stop_fetches_fewer_pages(self, spark, tmp_path):
        """A3/L2: once a seed has its first ad + first natural own hit, its
        pagination stops (reference core loop, getRank.py:208-209,468-469).
        'probe kw 4' page 1 contains both hits → early-stop crawls 1 serp
        page where the exhaustive run crawls max_depth."""
        import tests.oracle as oracle_mod

        seeds = [(0, "keyword", "probe kw 4", world.serp_url("probe kw 4", 1), "yogamat", 6)]
        counts = {}
        for flag in (True, False):
            tmp = str(tmp_path / f"crawl_es_{flag}")
            eng = CrawlEngine(
                spark,
                _cfg(tmp, max_waves=10, early_stop=flag,
                     follow_items=False, follow_skus=False, probe_inventory=False),
                seeds=seeds_df(spark, seeds),
            )
            store = eng.run()["store"]
            lineage = store.load_deltas("lineage")
            counts[flag] = lineage.count()
            # engine still matches the python oracle under the same flag
            o = oracle_mod.crawl_oracle(
                seeds, n_shards=8, salt_bits=2, tokens_per_shard=32, max_waves=10,
                follow_items=False, follow_skus=False, probe_inventory=False,
                early_stop=flag,
            )
            got = sorted((r.wave, r.canonical_url) for r in lineage.collect())
            assert got == sorted(o.fetch_order), f"early_stop={flag}"
        assert counts[True] < counts[False]
        assert counts[True] == 1  # both hits on page 1 → exactly one fetch


class TestWaveScope:
    """Every crawl wave is planned statically (``crawler.WAVE_CONF``) in
    one scope that ``CrawlEngine.run`` opens around its waves and closes
    however the waves end, so reports and queries keep the session's
    setting."""

    AQE = "spark.sql.adaptive.enabled"

    def test_waves_run_static_and_the_setting_is_restored(self, spark, monkeypatch, tmp_path):
        during = []
        real = crawler.assign_discovery_seq

        def spy(expanded, base_seq):
            during.append(spark.conf.get(self.AQE))
            return real(expanded, base_seq)

        monkeypatch.setattr(crawler, "assign_discovery_seq", spy)
        before = spark.conf.get(self.AQE)
        CrawlEngine(spark, _cfg(str(tmp_path), max_waves=2), seeds=seeds_df(spark, SEED_ROWS)).run()
        assert during == ["false", "false"]
        assert spark.conf.get(self.AQE) == before

    def test_setting_restored_when_a_wave_raises(self, spark, monkeypatch, tmp_path):
        def boom(expanded, base_seq):
            raise RuntimeError("wave failed")

        monkeypatch.setattr(crawler, "assign_discovery_seq", boom)
        before = spark.conf.get(self.AQE)
        with pytest.raises(RuntimeError, match="wave failed"):
            CrawlEngine(spark, _cfg(str(tmp_path), max_waves=1), seeds=seeds_df(spark, SEED_ROWS)).run()
        assert spark.conf.get(self.AQE) == before

    def test_resumed_expansion_job_count(self, spark, monkeypatch, tmp_path):
        """The seq assignment's sizes ``collect`` runs a resumed wave's
        whole expansion (dequeue → fetch → parse → expand → admission).
        Statically planned it is a few jobs; with adaptive execution every
        query stage was its own job (15 in perfbench's traced wave)."""
        tmp = str(tmp_path)
        seeds = seeds_df(spark, SEED_ROWS)
        CrawlEngine(spark, _cfg(tmp, max_waves=1), seeds=seeds).run()
        jobs = []
        real = crawler.assign_discovery_seq

        def counted(expanded, base_seq):
            before = _max_job_id(spark)
            out = real(expanded, base_seq)
            jobs.append(_max_job_id(spark) - before)
            return out

        monkeypatch.setattr(crawler, "assign_discovery_seq", counted)
        CrawlEngine(spark, _cfg(tmp, max_waves=2), seeds=seeds).run(resume=True)
        assert len(jobs) == 1 and 0 < jobs[0] <= 12, jobs


class TestResume:
    def test_exact_resume_matches_uninterrupted(self, spark, tmp_path):
        a, b = str(tmp_path / "crawl_full"), str(tmp_path / "crawl_resume")
        seeds = seeds_df(spark, SEED_ROWS)

        full = CrawlEngine(spark, _cfg(a, max_waves=10), seeds=seeds).run()["store"]

        # interrupted: stop after 3 waves, then resume to completion
        CrawlEngine(spark, _cfg(b, max_waves=3), seeds=seeds).run()
        resumed = CrawlEngine(spark, _cfg(b, max_waves=10), seeds=seeds).run(resume=True)["store"]

        seen_a = {r.canonical_url for r in full.load_deltas("seen").collect()}
        seen_b = {r.canonical_url for r in resumed.load_deltas("seen").collect()}
        assert seen_a == seen_b
        ord_a = sorted((r.wave, r.canonical_url) for r in full.load_deltas("lineage").collect())
        ord_b = sorted((r.wave, r.canonical_url) for r in resumed.load_deltas("lineage").collect())
        assert ord_a == ord_b

    def test_dead_letters_survive_resume_with_more_retries(self, spark, tmp_path):
        """A fetch is a dead letter by the retry rule it was fetched under
        (C3): wave 0 at max_retries=0 dead-letters its transient failures,
        and resuming at max_retries=2 keeps them dead instead of re-reading
        them under the new limit."""
        tmp = str(tmp_path / "crawl_dead_resume")
        # 'dead kw 107' and 'dead kw 127' page 1 fail their first attempt
        # (synthetic_world.fetch_is_transient_failure); 0 and 1 do not
        rows = [
            (i, "keyword", f"dead kw {k}", world.serp_url(f"dead kw {k}", 1), "yogamat", 3)
            for i, k in enumerate((0, 1, 107, 127))
        ]
        kw = dict(early_stop=False, follow_items=False, follow_skus=False, probe_inventory=False)
        seeds = seeds_df(spark, rows)
        eng = CrawlEngine(spark, _cfg(tmp, max_waves=1, max_retries=0, **kw), seeds=seeds)
        eng.run()
        first = sorted(tuple(r) for r in eng.dead_letters().collect())
        assert [(url, attempt) for url, _, attempt in first] == [
            (world.serp_url(f"dead kw {k}", 1), 0) for k in (107, 127)
        ]
        resumed = CrawlEngine(spark, _cfg(tmp, max_waves=2, max_retries=2, **kw), seeds=seeds)
        assert resumed.run(resume=True)["last_wave"] == 1
        assert sorted(tuple(r) for r in resumed.dead_letters().collect()) == first


class TestCompaction:
    def test_compaction_preserves_state_and_resume(self, spark, tmp_path):
        """Every compact_every-th wave rewrites the shard state as a full
        base (manifest 'bases'; no other table compacts: `seen` is an
        append-only log, seed_flags a snapshot); crawl results, the seen
        set, and exact resume across a compaction boundary must be
        identical to the uncompacted run."""
        a, b = str(tmp_path / "crawl_nocompact"), str(tmp_path / "crawl_compact")
        seeds = seeds_df(spark, SEED_ROWS)
        plain = CrawlEngine(spark, _cfg(a, max_waves=10, compact_every=0), seeds=seeds).run()["store"]
        # compact every 2 waves; interrupt at 3 and resume (crosses a base)
        CrawlEngine(spark, _cfg(b, max_waves=3, compact_every=2), seeds=seeds).run()
        comp = CrawlEngine(spark, _cfg(b, max_waves=10, compact_every=2), seeds=seeds).run(
            resume=True
        )["store"]
        # a base was actually written
        base_waves = [
            w for w in comp.committed_waves()
            if "shards" in comp._manifest(w).get("bases", ()) and w >= 0
        ]
        assert base_waves, "no compaction base written"
        # only the shard state compacts; the wave writes one table per fact
        tables = {
            "frontier", "shards", "seen", "seed_flags", "results", "quarantine",
            "detail_results", "cart_results", "images", "lineage",
        }
        for w in comp.committed_waves():
            m = comp._manifest(w)
            assert set(m["tables"]) <= tables, (w, sorted(m["tables"]))
            assert set(m["bases"]) <= {"shards"}, (w, m["bases"])
        seen_a = {r.canonical_url for r in plain.load_deltas("seen").collect()}
        seen_b = {r.canonical_url for r in comp.load_deltas("seen").collect()}
        assert seen_a == seen_b
        ord_a = sorted((r.wave, r.canonical_url) for r in plain.load_deltas("lineage").collect())
        ord_b = sorted((r.wave, r.canonical_url) for r in comp.load_deltas("lineage").collect())
        assert ord_a == ord_b
        # shard state reconstructs identically (bucket → n_items)
        sa = {r.bucket: r.n_items for r in plain.load_shard_state().collect()}
        sb = {r.bucket: r.n_items for r in comp.load_shard_state().collect()}
        assert sa == sb

    def test_crash_between_base_write_and_manifest_rename(self, spark, tmp_path):
        """Kill mid-compaction: the compacting wave's base FILES are on disk
        but its manifest rename never happened. The manifest is the commit
        point — loaders must ignore the orphan wave directories and serve
        the pre-compaction delta chain unchanged, and resume must complete
        identically to an uninterrupted run."""
        import os

        a, b = str(tmp_path / "crawl_full_mc"), str(tmp_path / "crawl_crash_mc")
        seeds = seeds_df(spark, SEED_ROWS)
        full = CrawlEngine(spark, _cfg(a, max_waves=10, compact_every=2), seeds=seeds).run()["store"]

        eng = CrawlEngine(spark, _cfg(b, max_waves=3, compact_every=2), seeds=seeds)
        eng.run()
        store = eng.store
        pre_seen = sorted(r.canonical_url for r in store.load_deltas("seen").collect())
        pre_shards = {r.bucket: r.n_items for r in store.load_shard_state().collect()}

        # simulate the torn compaction: wave files for the NEXT wave appear
        # (a full base-style rewrite), manifest-<next>.json does not
        next_wave = store.committed_waves()[-1] + 1
        for table in ("seen", "shards"):
            src_wave = max(
                w for w in store.committed_waves()
                if table in store._manifest(w)["tables"]
            )
            src = store._manifest(src_wave)["tables"][table]
            shutil.copytree(src, os.path.join(b, table, f"wave={next_wave}"))
        # ...and the torn manifest tmp file is also on disk, never renamed
        with open(os.path.join(b, "_manifests", f".manifest-{next_wave}.tmp"), "w") as f:
            f.write("{\"torn\": true}")

        # loaders see the PRE-compaction chain, byte-identical
        assert store.committed_waves()[-1] == next_wave - 1
        post_seen = sorted(r.canonical_url for r in store.load_deltas("seen").collect())
        post_shards = {r.bucket: r.n_items for r in store.load_shard_state().collect()}
        assert post_seen == pre_seen
        assert post_shards == pre_shards

        # resume overwrites the orphan directories and completes exactly
        resumed = CrawlEngine(spark, _cfg(b, max_waves=10, compact_every=2), seeds=seeds).run(
            resume=True
        )["store"]
        seen_a = {r.canonical_url for r in full.load_deltas("seen").collect()}
        seen_b = {r.canonical_url for r in resumed.load_deltas("seen").collect()}
        assert seen_a == seen_b
        ord_a = sorted((r.wave, r.canonical_url) for r in full.load_deltas("lineage").collect())
        ord_b = sorted((r.wave, r.canonical_url) for r in resumed.load_deltas("lineage").collect())
        assert ord_a == ord_b
        sa = {r.bucket: r.n_items for r in full.load_shard_state().collect()}
        sb = {r.bucket: r.n_items for r in resumed.load_shard_state().collect()}
        assert sa == sb


class TestAdmission:
    def test_loop_never_reads_seen(self, spark, monkeypatch, tmp_path):
        """The seen confirm is answered inside the Bloom cogroup, and `seen`
        never compacts: a multi-wave crawl that crosses compaction waves
        must never read the `seen` table through any loader (the spy sits
        on the chain walk every loader takes)."""
        from amazonwebcrawler_spark.sources.state_store import StateStore

        tmp = str(tmp_path / "crawl_no_seen_read")
        loaded = []
        chain = StateStore._chain

        def spy(self, name, as_of_wave, live=True):
            loaded.append(name)
            return chain(self, name, as_of_wave, live)

        monkeypatch.setattr(StateStore, "_chain", spy)
        store = CrawlEngine(
            spark, _cfg(tmp, max_waves=4, compact_every=2), seeds=seeds_df(spark, SEED_ROWS)
        ).run()["store"]
        assert any("shards" in store._manifest(w).get("bases", ()) for w in store.committed_waves())
        assert {"frontier", "shards", "seed_flags"} <= set(loaded), "the spy missed a loader"
        assert "seen" not in loaded

    def test_product_pages_fetched_once(self, spark, tmp_path):
        """Canonicalization strips a /dp/ link's keywords=, so a popular
        product listed on several keyword SERPs is one URL: the crawl
        (checked against the oracle) fetches each /dp/<ASIN> at most once
        with status 200, and inventory_report has one row per ASIN."""
        import tests.oracle as oracle_mod

        tmp = str(tmp_path / "crawl_one_fetch_per_asin")
        rows = [
            (i, "keyword", kw, world.serp_url(kw, 1), "yogamat", 2)
            for i, kw in enumerate(
                ["yoga mat", "tpe yoga mat", "cork yoga mat", "travel mat", "thick gym mat",
                 "eco yoga block", "pilates mat", "foldable mat"]
            )
        ]
        cfg = _cfg(tmp, max_waves=4, tokens_per_shard=64, early_stop=False)
        store = CrawlEngine(spark, cfg, seeds=seeds_df(spark, rows)).run()["store"]
        o = oracle_mod.crawl_oracle(
            rows, n_shards=cfg.n_shards, salt_bits=cfg.salt_bits,
            tokens_per_shard=cfg.tokens_per_shard, max_waves=cfg.max_waves, early_stop=False,
        )
        lineage = store.load_deltas("lineage").collect()
        assert sorted((r.wave, r.canonical_url) for r in lineage) == sorted(o.fetch_order)
        assert {r.canonical_url for r in store.load_deltas("seen").collect()} == o.seen

        def asin(url):
            return url.rsplit("/dp/", 1)[-1].split("/")[0].split("?")[0]

        ok_detail = [
            asin(r.canonical_url) for r in lineage
            if r.status == 200 and world.classify_url(r.canonical_url) == "detail"
        ]
        # non-vacuous: some product is listed under more than one keyword
        listed: dict[str, set[str]] = {}
        for _i, _k, kw, _u, _p, _d in rows:
            for it in world.serp_page(kw, 1, "yogamat")["items"]:
                listed.setdefault(asin(it["href"]), set()).add(kw)
        assert any(len(kws) > 1 and a in ok_detail for a, kws in listed.items())
        assert len(ok_detail) == len(set(ok_detail))
        inv = [r.asin for r in reports.inventory_report(store).collect()]
        assert inv and len(inv) == len(set(inv))


class TestPrunedDequeue:
    def test_pruned_crawl_matches_oracle(self, spark, tmp_path):
        """The depth-pruned dequeue is a pure read optimization: with a
        budget small enough that whole depth bands are left unread (64
        one-page keyword seeds, 2 tokens per shard), the crawl's per-wave
        fetch order and seen set must still equal the pure-Python oracle's,
        which ranks the whole frontier every wave. Non-vacuous: some wave
        must really have been dequeued from a pruned (hot, cold) split."""
        import tests.oracle as oracle_mod

        tmp = str(tmp_path / "crawl_prune_oracle")
        rows = [
            (i, "keyword", f"kw {i} synth", world.serp_url(f"kw {i} synth", 1), "yogamat", 1)
            for i in range(64)
        ]
        eng = CrawlEngine(
            spark, _cfg(tmp, max_waves=4, tokens_per_shard=2), seeds=seeds_df(spark, rows)
        )
        pruned = []
        load = eng._load_frontier

        def spy():
            hot, cold = load()
            pruned.append(cold is not None)
            return hot, cold

        eng._load_frontier = spy
        store = eng.run()["store"]
        assert any(pruned), f"no wave was pruned: {pruned}"
        o = oracle_mod.crawl_oracle(
            rows, n_shards=8, salt_bits=2, tokens_per_shard=2, max_waves=4
        )
        lineage = store.load_deltas("lineage").select("wave", "canonical_url").collect()
        assert sorted((r.wave, r.canonical_url) for r in lineage) == sorted(o.fetch_order)
        assert {r.canonical_url for r in store.load_deltas("seen").collect()} == o.seen

    def test_shard_sets_resume_exact(self, spark, tmp_path):
        """Exact resume of the seen confirm: the per-bucket key-hash sets
        reconstruct from the COW chain (latest version per bucket) and the
        resumed crawl — seen set with discovery sequences, and per-wave
        lineage — equals the uninterrupted one."""
        a, b = str(tmp_path / "crawl_ss_full"), str(tmp_path / "crawl_ss_resume")
        seeds = seeds_df(spark, SEED_ROWS)
        full = CrawlEngine(spark, _cfg(a, max_waves=10), seeds=seeds).run()["store"]
        CrawlEngine(spark, _cfg(b, max_waves=2), seeds=seeds).run()
        resumed = CrawlEngine(spark, _cfg(b, max_waves=10), seeds=seeds).run(resume=True)["store"]
        seen_a = sorted((r.canonical_url, r.discovery_seq) for r in full.load_deltas("seen").collect())
        seen_b = sorted((r.canonical_url, r.discovery_seq) for r in resumed.load_deltas("seen").collect())
        assert seen_a == seen_b
        ord_a = sorted((r.wave, r.canonical_url) for r in full.load_deltas("lineage").collect())
        ord_b = sorted((r.wave, r.canonical_url) for r in resumed.load_deltas("lineage").collect())
        assert ord_a == ord_b

    def test_shard_sets_collision_failure_mode(self, spark, monkeypatch, tmp_path):
        """Pin the documented seen-confirm caveat (operators/bloom.py module
        docstring): exactness holds only up to xxhash64 collisions on h1 —
        a colliding NEW url is wrongly reported exact_seen and dropped.
        Force collisions by truncating h1 to 6 bits (64 slots << #URLs) and
        crawl to exhaustion. The pure-Python crawl oracle keeps an exact
        seen set, so it is the reference: the engine's seen set must be a
        strict subset of it, and every URL it dropped must collide with an
        admitted key in the truncated hash space — the documented failure
        mode and nothing else."""
        import tests.oracle as oracle_mod
        from amazonwebcrawler_spark.operators import bloom as bloom_mod

        def truncated_keys(df, url_col, cfg):
            return (
                df.withColumn(
                    "h1", F.pmod(F.xxhash64(F.col(url_col)), F.lit(64))
                )
                .withColumn("h2", F.xxhash64(F.col(url_col), F.lit("s2")))
                .withColumn(
                    "bucket", F.pmod(F.col("h1"), F.lit(cfg.n_buckets)).cast("int")
                )
            )

        monkeypatch.setattr(bloom_mod, "with_bloom_keys", truncated_keys)
        tmp = str(tmp_path / "crawl_collision")
        cfg = _cfg(tmp, max_waves=16, early_stop=False)
        st = CrawlEngine(spark, cfg, seeds=seeds_df(spark, SEED_ROWS)).run()["store"]
        ss = {r.canonical_url for r in st.load_deltas("seen").collect()}
        oracle = oracle_mod.crawl_oracle(
            SEED_ROWS, n_shards=cfg.n_shards, salt_bits=cfg.salt_bits,
            tokens_per_shard=cfg.tokens_per_shard, max_waves=cfg.max_waves,
            early_stop=False,
        ).seen

        assert len(oracle) > 100
        # documented failure mode, detected against the exact oracle:
        assert ss < oracle, "expected the truncated-key crawl to drop colliding URLs"
        missing = oracle - ss
        # ...and nothing else: every dropped URL collides (truncated-h1
        # equality) with a URL the engine DID admit to the seen set
        tv = {
            r.u: r.v
            for r in spark.createDataFrame(
                [(u,) for u in oracle], "u string"
            ).select("u", F.pmod(F.xxhash64("u"), F.lit(64)).alias("v")).collect()
        }
        admitted_vals = {tv[u] for u in ss}
        for u in missing:
            assert tv[u] in admitted_vals, f"dropped URL {u} has no collision partner"

    def test_load_frontier_prunes_exactly(self, spark, tmp_path):
        """Handcrafted snapshot with every shard holding ≥ tokens rows at
        depth 0: _load_frontier must return ONLY depth 0 as hot (the exact
        bound), the rest as cold, with partition pruning visible in the
        scan (PartitionFilters on depth — unread depths never touch Spark)."""
        import io
        import os
        from contextlib import redirect_stdout

        from amazonwebcrawler_spark.plans.crawler import FRONTIER_SCHEMA

        tmp = str(tmp_path / "crawl_prune_unit")
        cfg = _cfg(tmp, tokens_per_shard=2, n_shards=4)
        eng = CrawlEngine(spark, cfg, seeds=seeds_df(spark, SEED_ROWS))
        rows = [
            (100 * d + 10 * s + i, "serp", f"https://www.amazon.com/s?d={d}&s={s}&i={i}",
             d, 100 * d + 10 * s + i, 0.0, 0, -1, 0, "www.amazon.com", s, "yogamat", 5, "kw")
            for d in (0, 1, 2)
            for s in range(4)
            for i in range(3)
        ]
        frontier = spark.createDataFrame(rows, FRONTIER_SCHEMA)
        eng.store.commit_wave(0, {"frontier": frontier}, {"next_seq": 0})
        hot, cold = eng._load_frontier()
        assert cold is not None
        assert hot.count() == 12 and cold.count() == 24
        assert {r.depth for r in hot.select("depth").distinct().collect()} == {0}
        assert {r.depth for r in cold.select("depth").distinct().collect()} == {1, 2}
        buf = io.StringIO()
        with redirect_stdout(buf):
            hot.explain("formatted")
        txt = buf.getvalue()
        assert "PartitionFilters" in txt and "depth" in txt
        # layout on disk is really (depth, host_shard) partitioned
        fdir = eng.store.latest_manifest()["tables"]["frontier"]
        assert os.path.isdir(os.path.join(fdir, "depth=0", "host_shard=0"))


#: columns that are execution artifacts, not data — excluded from the
#: run-vs-run state comparison (physical partition ids)
_NONDET_COLS = {"partition_id"}


def _table_rows(df):
    """Order-insensitive, nondeterminism-stripped row multiset (or None)."""
    if df is None:
        return None
    cols = sorted(c for c in df.columns if c not in _NONDET_COLS)
    return sorted(
        tuple(bytes(x) if isinstance(x, (bytearray, memoryview)) else x for x in r)
        for r in df.select(*cols).collect()
    )


class TestTimeTravel:
    def test_as_of_wave_equals_interrupted_run(self, spark, tmp_path):
        """Iceberg-style snapshot time travel: reading state `as_of_wave=k`
        from a finished run must equal what a run stopped after wave k
        actually held — for EVERY delta table (state_store.DELTA_TABLES,
        the claim at state_store.py load_deltas), every snapshot table (the
        frontier and seed_flags), and the COW shard state."""
        from amazonwebcrawler_spark.sources.state_store import DELTA_TABLES

        a, b = str(tmp_path / "crawl_tt_full"), str(tmp_path / "crawl_tt_part")
        seeds = seeds_df(spark, SEED_ROWS)
        full = CrawlEngine(spark, _cfg(a, max_waves=10), seeds=seeds).run()["store"]
        part = CrawlEngine(spark, _cfg(b, max_waves=2), seeds=seeds).run()["store"]
        k = part.committed_waves()[-1]
        assert k < full.committed_waves()[-1], "need a strictly earlier wave"

        nonempty = 0
        for name in DELTA_TABLES:
            tt = _table_rows(full.load_deltas(name, as_of_wave=k))
            pt = _table_rows(part.load_deltas(name))
            assert tt == pt, f"as_of_wave mismatch for delta table {name!r}"
            if pt:
                nonempty += 1
        # the sweep must not be vacuous: most delta tables exist by wave k
        assert nonempty >= 6, f"only {nonempty} delta tables materialized"

        tt_frontier = {r.canonical_url for r in full.load_snapshot("frontier", as_of_wave=k).collect()}
        part_frontier = {r.canonical_url for r in part.load_snapshot("frontier").collect()}
        assert tt_frontier == part_frontier

        # seed_flags is one snapshot per wave: as of k it is wave k's
        # version, which later waves have since replaced
        tt_flags = _table_rows(full.load_snapshot("seed_flags", as_of_wave=k))
        part_flags = _table_rows(part.load_snapshot("seed_flags"))
        assert tt_flags == part_flags
        assert tt_flags, "no seed has an own hit by wave k: the check is vacuous"
        assert full._chain("seed_flags", k) == [(k, full._manifest(k)["tables"]["seed_flags"])]

        tt_shards = {r.bucket: r.n_items for r in full.load_shard_state(as_of_wave=k).collect()}
        part_shards = {r.bucket: r.n_items for r in part.load_shard_state().collect()}
        assert tt_shards == part_shards

        # latest read is unchanged by the parameter's existence
        assert full.load_deltas("seen", as_of_wave=None).count() == full.load_deltas("seen").count()


class TestReports:
    def test_rank_report_format(self, spark, crawl):
        import re

        rr = reports.rank_report(crawl, seeds_df(spark, SEED_ROWS)).collect()
        assert len(rr) == 1  # one keyword seed
        s = rr[0].rank_string
        # reference formats: '大于8页', 'x(a广告)/y(b自然)', one-sided '()'
        assert s == "大于8页" or re.fullmatch(r"(\(\)|.+广告\))/(\(\)|.+自然\))", s), s

    def test_inventory_report_join(self, spark, crawl):
        inv = reports.inventory_report(crawl)
        rows = inv.collect()
        assert rows
        assert {r.asin for r in rows} <= {
            r.asin for r in crawl.load_deltas("detail_results").collect()
        }

    def test_bsr_report_rollup(self, spark, crawl):
        out = reports.bsr_report(crawl).collect()
        assert out
        for r in out:
            assert r.n_skus == len(r.bsr_report.split("|"))

    def test_titles_report_order_and_index(self, spark, crawl):
        """getTitle.py pipeline (S9/P3): titles per keyword in crawl order,
        with BOTH the 1-based pos and getTitle's 0-based index
        (getTitle.py:103)."""
        from collections import defaultdict

        rows = reports.titles_report(crawl).collect()
        assert rows
        # r["index"]: pyspark Row inherits tuple, so .index is a method
        assert all(r["index"] == r.pos - 1 for r in rows)
        by_kw = defaultdict(list)
        for r in rows:
            by_kw[r.keyword].append((r.page, r.pos))
        for kw, seq in by_kw.items():
            assert seq == sorted(seq), kw

    def test_save_reports_sheet_per_keyword_sink(self, spark, crawl, tmp_path):
        """S7-S9 sinks: ranks (tall), inventory (row-append, L3 top_n cut),
        titles partitioned by keyword — the 'worksheet per keyword' layout
        (getTitle.py:143)."""
        import os

        out = str(tmp_path / "reports")
        reports.save_reports(crawl, seeds_df(spark, SEED_ROWS), out, top_n=3)
        parts = os.listdir(f"{out}/titles")
        assert any(p.startswith("keyword=") for p in parts), parts
        titles_back = spark.read.parquet(f"{out}/titles")
        assert titles_back.count() == reports.titles_report(crawl).count()
        inv = spark.read.parquet(f"{out}/inventory")
        assert inv.count() > 0
        assert inv.agg(F.max("order")).collect()[0][0] <= 3  # L3 head-N cut
        ranks = spark.read.parquet(f"{out}/ranks")
        assert ranks.count() == 1  # one keyword seed


class TestExpiration:
    """Iceberg-style snapshot expiration (state_store.expire_snapshots):
    superseded frontier rewrites and pre-base hot-state deltas are
    reclaimed; everything reachable from the retention window is
    byte-identical before and after; expired time travel raises."""

    def _run(self, spark, tmp, max_waves, compact_every=2):
        eng = CrawlEngine(
            spark,
            _cfg(tmp, max_waves=max_waves, compact_every=compact_every),
            seeds=seeds_df(spark, SEED_ROWS),
        )
        return eng.run()["store"]

    def test_expire_reclaims_only_unreachable(self, spark, tmp_path):
        import os

        store = self._run(spark, str(tmp_path / "crawl_expire"), max_waves=6)
        waves = store.committed_waves()
        assert len(waves) >= 5
        before = {
            name: sorted(map(tuple, store.load_deltas(name).collect()))
            for name in ("results", "images", "seen")
        }
        # (the FINAL frontier snapshot is empty — dynamic-partition writes
        # emit no files for an empty DF, so it is asserted via disk paths,
        # not via a read; the loop itself uses the manifest footer counter)

        out = store.expire_snapshots(keep_last=2)
        assert out["retained_waves"] == waves[-2:]
        deleted_tables = {t for t, _ in out["deleted"]}
        # superseded full frontier rewrites are the guaranteed garbage
        assert "frontier" in deleted_tables
        assert out["bytes_reclaimed"] > 0
        # deleted dirs are gone from disk; retained frontier still present
        for t, w in out["deleted"]:
            assert not os.path.isdir(os.path.join(store.root, t, f"wave={w}"))

        # everything reachable is unchanged
        for name, want in before.items():
            assert sorted(map(tuple, store.load_deltas(name).collect())) == want
        # the retained waves' frontier paths survive on disk
        retained_frontiers = [
            store._manifest(w)["tables"]["frontier"]
            for w in out["retained_waves"]
            if "frontier" in store._manifest(w)["tables"]
        ]
        assert retained_frontiers
        deleted_paths = {os.path.join(store.root, t, f"wave={w}") for t, w in out["deleted"]}
        assert not set(retained_frontiers) & deleted_paths

        # live delta tables (no compaction base) lose NOTHING
        assert not {"seen", "results", "images", "lineage"} & deleted_tables

    def test_expired_time_travel_raises(self, spark, tmp_path):
        store = self._run(spark, str(tmp_path / "crawl_expire_tt"), max_waves=6)
        waves = store.committed_waves()
        old = waves[0]
        # pre-expiration: time travel works
        assert store.load_snapshot("frontier", as_of_wave=old) is not None
        store.expire_snapshots(keep_last=2)
        with pytest.raises(ValueError, match="snapshot expired"):
            store.load_snapshot("frontier", as_of_wave=old)

    def test_resume_after_expiration(self, spark, tmp_path):
        """Expiration must not break the resume path: continue the crawl
        after expiring, and the result equals an uninterrupted run."""
        tmp = str(tmp_path / "crawl_expire_resume")
        store = self._run(spark, tmp, max_waves=3)
        store.expire_snapshots(keep_last=1)
        eng = CrawlEngine(
            spark, _cfg(tmp, max_waves=16, compact_every=2), seeds=seeds_df(spark, SEED_ROWS)
        )
        resumed = eng.run(resume=True)["store"]
        full = self._run(spark, str(tmp_path / "crawl_expire_full"), max_waves=16)
        for name in ("results", "seen", "images"):
            a = sorted(map(tuple, resumed.load_deltas(name).collect()))
            b = sorted(map(tuple, full.load_deltas(name).collect()))
            assert a == b

    def test_keep_last_validation(self, spark, tmp_path):
        store = self._run(spark, str(tmp_path / "crawl_expire_val"), max_waves=2)
        with pytest.raises(ValueError, match="keep_last"):
            store.expire_snapshots(keep_last=0)

    def test_unknown_table_never_deleted(self, spark, tmp_path):
        """ADVICE r4: a table committed under a name outside the store's
        table lists (a future commit_wave addition, an external caller) is
        never compacted, so every version of it stays on the chain of the
        latest wave — expiration must keep it, not treat it as
        unreachable garbage."""
        import json
        import os

        store = self._run(spark, str(tmp_path / "crawl_expire_unknown"), max_waves=6)
        waves = store.committed_waves()
        old = waves[0]
        # plant a table name outside the store's table lists in an OLD
        # wave's manifest, pointing at a real directory with a real file
        side_dir = os.path.join(store.root, "side_metrics", f"wave={old}")
        os.makedirs(side_dir, exist_ok=True)
        with open(os.path.join(side_dir, "part-0.json"), "w") as f:
            f.write('{"x": 1}')
        mpath = os.path.join(store.root, "_manifests", f"manifest-{old}.json")
        with open(mpath) as f:
            m = json.load(f)
        m["tables"]["side_metrics"] = side_dir
        with open(mpath, "w") as f:
            json.dump(m, f)

        out = store.expire_snapshots(keep_last=2)
        assert os.path.isdir(side_dir), "unknown table was deleted while live"
        assert "side_metrics" not in {t for t, _ in out["deleted"]}
        # the known garbage is still reclaimed
        assert "frontier" in {t for t, _ in out["deleted"]}


    def test_retained_waves_stay_readable(self, spark, tmp_path):
        """The guarantee of the one chain walk the loaders and expiration
        share: after expire_snapshots(keep_last=2), every loader reads
        every table as of each retained wave — no 'snapshot expired', and
        the same rows as before expiration."""
        from amazonwebcrawler_spark.sources.state_store import DELTA_TABLES, SNAPSHOT_TABLES

        tmp = str(tmp_path / "crawl_expire_reads")
        # a small budget keeps the frontier non-empty through the last wave
        store = CrawlEngine(
            spark,
            _cfg(tmp, max_waves=6, tokens_per_shard=4, compact_every=2),
            seeds=seeds_df(spark, SEED_ROWS),
        ).run()["store"]

        def read_all(wave):
            out = {n: _table_rows(store.load_deltas(n, as_of_wave=wave)) for n in DELTA_TABLES}
            for n in SNAPSHOT_TABLES:
                out[n] = _table_rows(store.load_snapshot(n, as_of_wave=wave))
            out["shards"] = _table_rows(store.load_shard_state(as_of_wave=wave))
            return out

        retained = store.committed_waves()[-2:]
        before = {w: read_all(w) for w in retained}
        assert before[retained[-1]]["frontier"], "frontier emptied: reads are vacuous"
        out = store.expire_snapshots(keep_last=2)
        assert out["retained_waves"] == retained
        # compaction bases inside the window make pre-base versions garbage;
        # the append-only seen log keeps every version
        deleted = {t for t, _ in out["deleted"]}
        assert deleted >= {"frontier", "shards"}
        assert "seen" not in deleted
        for w in retained:
            assert read_all(w) == before[w], f"as_of_wave={w} changed by expiration"


class TestManifestStamps:
    def test_committed_at_follows_the_wave_files(self, spark, crawl):
        """started_at is stamped before a wave's writes and committed_at
        after them: no file a manifest names is newer than its
        committed_at, so consecutive stamps time whole waves."""
        for w in crawl.committed_waves():
            m = crawl._manifest(w)
            newest = max(
                os.path.getmtime(os.path.join(dp, f))
                for path in m["tables"].values()
                for dp, _dns, fns in os.walk(path)
                for f in fns
            )
            assert m["started_at"] <= m["committed_at"]
            if w >= 0:  # a crawl wave: its build precedes its commit
                assert m["counters"]["wave_started_at"] <= m["started_at"]
            assert m["committed_at"] >= newest, (w, m["committed_at"], newest)


class TestSchemaReads:
    def test_loading_tables_runs_no_job(self, spark, crawl):
        """Every table's schema is in its manifest, so loading any table of
        a committed crawl, latest or as of an earlier wave, plans its read
        without a schema-inference job."""
        from amazonwebcrawler_spark.sources.state_store import DELTA_TABLES, SNAPSHOT_TABLES

        before = _max_job_id(spark)
        loaded = []
        for as_of in (None, crawl.committed_waves()[1]):
            loaded += [crawl.load_snapshot(n, as_of_wave=as_of) for n in SNAPSHOT_TABLES]
            loaded += [crawl.load_deltas(n, as_of_wave=as_of) for n in DELTA_TABLES]
            loaded.append(crawl.load_shard_state(as_of_wave=as_of))
        assert all(df is not None for df in loaded)
        assert _max_job_id(spark) == before


class TestOrphans:
    """Orphan wave-directory scan/sweep (state_store.orphan_scan /
    delete_orphans): directories written by a crashed commit (no manifest)
    are found, age-guarded, and reclaimed; committed and expired paths are
    never touched; resume semantics are unaffected."""

    def _store(self, spark, tmp):
        eng = CrawlEngine(
            spark, _cfg(tmp, max_waves=4), seeds=seeds_df(spark, SEED_ROWS)
        )
        return eng.run()["store"]

    def test_scan_finds_only_crashed_writes(self, spark, tmp_path):
        import os

        store = self._store(spark, str(tmp_path / "crawl_orphans"))
        assert store.orphan_scan() == {"orphans": [], "bytes": 0}

        # simulate a crash: wave dirs written, manifest never renamed
        crash_wave = max(store.committed_waves()) + 1
        spark.range(10).write.parquet(
            os.path.join(store.root, "results", f"wave={crash_wave}")
        )
        spark.range(3).write.parquet(
            os.path.join(store.root, "lineage", f"wave={crash_wave}")
        )
        scan = store.orphan_scan()
        got = {(t, os.path.basename(p)) for t, p, _sz in scan["orphans"]}
        assert got == {
            ("results", f"wave={crash_wave}"),
            ("lineage", f"wave={crash_wave}"),
        }
        assert scan["bytes"] > 0

        # resume ignores the stranded dirs: loaders read manifests only
        n_results = store.load_deltas("results").count()
        assert n_results == spark.read.parquet(
            *[store._manifest(w)["tables"]["results"]
              for w in store.committed_waves()
              if "results" in store._manifest(w)["tables"]]
        ).count()

    def test_age_guard_then_sweep(self, spark, tmp_path):
        import os

        store = self._store(spark, str(tmp_path / "crawl_orphans2"))
        crash_wave = max(store.committed_waves()) + 1
        p = os.path.join(store.root, "results", f"wave={crash_wave}")
        spark.range(5).write.parquet(p)

        # young orphan: skipped by the age guard (an in-flight commit keeps
        # refreshing mtimes, so it can never look old enough)
        out = store.delete_orphans(min_age_s=3600)
        assert out["deleted"] == [] and out["skipped_young"] == [p]
        assert os.path.isdir(p)

        out = store.delete_orphans(min_age_s=0)
        assert out["deleted"] == [p] and out["bytes_reclaimed"] > 0
        assert not os.path.exists(p)
        assert store.orphan_scan() == {"orphans": [], "bytes": 0}

    def test_expired_paths_not_reported_as_orphans(self, spark, tmp_path):
        store = self._store(spark, str(tmp_path / "crawl_orphans3"))
        store.expire_snapshots(keep_last=1)
        # expire tombstones paths and deletes them; nothing left to scan
        assert store.orphan_scan()["orphans"] == []


class TestFileSkipPlanning:
    """state_store.file_column_ranges / plan_file_skips — footer-stats
    scan planning (the Iceberg data-file-bounds analogue): range-clustered
    writes prove files irrelevant; statless columns are read
    conservatively."""

    def _clustered(self, spark, tmp_path):
        p = str(tmp_path / "clustered")
        df = spark.range(0, 1000).select(
            F.col("id").alias("url_hash"), (F.col("id") % 7).alias("depth")
        )
        df.repartitionByRange(4, "url_hash").sortWithinPartitions("url_hash").write.mode(
            "overwrite"
        ).parquet(p)
        return p

    def test_point_lookup_reads_one_file(self, spark, tmp_path):
        from amazonwebcrawler_spark.sources.state_store import plan_file_skips

        p = self._clustered(spark, tmp_path)
        plan = plan_file_skips(p, "url_hash", lo=500, hi=500)
        assert plan["files"] >= 4
        assert len(plan["read"]) == 1
        assert plan["rows_read"] + plan["rows_skipped"] == 1000
        # and the plan is CORRECT: the kept file really contains the row
        got = spark.read.parquet(*plan["read"]).filter("url_hash = 500").count()
        assert got == 1

    def test_range_predicate_and_open_ends(self, spark, tmp_path):
        from amazonwebcrawler_spark.sources.state_store import (
            file_column_ranges,
            plan_file_skips,
        )

        p = self._clustered(spark, tmp_path)
        ranges = file_column_ranges(p, "url_hash")
        assert all(mn is not None for _, mn, _mx, _n in ranges)
        # every row below 250: only files whose min <= 249 survive
        plan = plan_file_skips(p, "url_hash", hi=249)
        kept_rows = spark.read.parquet(*plan["read"]).filter("url_hash <= 249").count()
        assert kept_rows == 250
        for f in plan["skipped"]:
            assert not [r for r in ranges if r[0] == f and r[1] <= 249]
        # no predicate -> nothing skipped
        assert plan_file_skips(p, "url_hash")["skipped"] == []

    def test_unclustered_column_skips_nothing_wrong(self, spark, tmp_path):
        from amazonwebcrawler_spark.sources.state_store import plan_file_skips

        p = self._clustered(spark, tmp_path)
        # depth cycles 0..6 in every file: no file is prunable for depth=3
        plan = plan_file_skips(p, "depth", lo=3, hi=3)
        assert plan["skipped"] == []

    def test_missing_column_and_missing_stats_are_read(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from amazonwebcrawler_spark.sources.state_store import plan_file_skips

        p = str(tmp_path / "nostats")
        os.makedirs(p)
        t = pa.table({"k": [1, 2, 3]})
        pq.write_table(t, os.path.join(p, "a.parquet"), write_statistics=False)
        pq.write_table(t, os.path.join(p, "b.parquet"))
        # no stats in a.parquet -> conservative read; b.parquet prunable
        plan = plan_file_skips(p, "k", lo=10, hi=20)
        assert [os.path.basename(f) for f in plan["read"]] == ["a.parquet"]
        assert [os.path.basename(f) for f in plan["skipped"]] == ["b.parquet"]
        # column absent entirely -> everything read
        plan2 = plan_file_skips(p, "nope", lo=0, hi=1)
        assert plan2["skipped"] == []
