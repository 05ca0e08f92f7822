"""Token-bucket politeness + priority dequeue unit tests (C2/W4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazonwebcrawler_spark.operators.politeness import select_wave_batch

FRONTIER_DDL = (
    "canonical_url string, host string, host_shard int, depth int, "
    "discovery_seq long, priority_score double"
)


def _frontier(spark, rows):
    return spark.createDataFrame(rows, FRONTIER_DDL)


def _robots(spark, rows=()):
    return spark.createDataFrame(list(rows), "host string, crawl_delay double")


def test_budget_cuts_per_shard_in_priority_order(spark):
    rows = [
        (f"https://a.com/{i}", "a.com", i % 2, i % 3, i, 0.0) for i in range(20)
    ]
    batch, deferred, ranked = select_wave_batch(
        _frontier(spark, rows), tokens_per_shard=3, robots=_robots(spark)
    )
    got = batch.collect()
    assert len(got) == 6  # 3 per shard × 2 shards
    assert deferred.count() == 14
    ranked.unpersist()
    # within each shard, the batch is the depth/seq minimum of the queue
    for shard in (0, 1):
        shard_rows = sorted(
            [r for r in rows if r[2] == shard], key=lambda r: (r[3], r[4], r[0])
        )
        expect = {r[0] for r in shard_rows[:3]}
        assert {r.canonical_url for r in got if r.host_shard == shard} == expect


def test_crawl_delay_divides_budget(spark):
    rows = [
        (f"https://slow.com/{i}", "slow.com", 0, 0, i, 0.0) for i in range(10)
    ] + [
        (f"https://fast.com/{i}", "fast.com", 1, 0, 100 + i, 0.0) for i in range(10)
    ]
    robots = _robots(spark, [("slow.com", 4.0), ("fast.com", 0.0)])
    batch, _, ranked = select_wave_batch(_frontier(spark, rows), tokens_per_shard=8, robots=robots)
    by_host = {
        r["host"]: r["n"]
        for r in batch.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    ranked.unpersist()
    assert by_host == {"slow.com": 2, "fast.com": 8}  # 8/4=2 for the slow host


def test_unknown_host_gets_default_budget(spark):
    rows = [(f"https://x.org/{i}", "x.org", 0, 0, i, 0.0) for i in range(5)]
    robots = _robots(spark, [("other.com", 9.0)])
    batch, _, ranked = select_wave_batch(_frontier(spark, rows), tokens_per_shard=3, robots=robots)
    assert batch.count() == 3
    ranked.unpersist()


class TestAimdRate:
    def _log(self, spark, rows):
        return spark.createDataFrame(rows, "host string, wave int, had_error boolean")

    def test_fold_matches_python_replay(self, spark):
        import hashlib

        rows = []
        for h in range(8):
            for w in range(12):
                err = int(hashlib.md5(f"h{h}#{w}".encode()).hexdigest()[:8], 16) % 3 == 0
                rows.append((f"h{h}", w, err))
        from amazonwebcrawler_spark.operators.politeness import aimd_rate

        got = {
            r["host"]: (r["n_waves"], r["n_error_waves"], r["rate"])
            for r in aimd_rate(self._log(spark, rows), initial_rate=4, max_rate=16).collect()
        }
        for h in range(8):
            rate = 4
            errs = 0
            for w in range(12):
                err = int(hashlib.md5(f"h{h}#{w}".encode()).hexdigest()[:8], 16) % 3 == 0
                if err:
                    rate = max(1, rate // 2)
                    errs += 1
                else:
                    rate = min(16, rate + 1)
            assert got[f"h{h}"] == (12, errs, rate)

    def test_all_errors_floor_at_one(self, spark):
        from amazonwebcrawler_spark.operators.politeness import aimd_rate

        rows = [("h", w, True) for w in range(10)]
        (r,) = aimd_rate(self._log(spark, rows), initial_rate=8, max_rate=64).collect()
        assert r["rate"] == 1 and r["n_error_waves"] == 10

    def test_all_clean_caps_at_max(self, spark):
        from amazonwebcrawler_spark.operators.politeness import aimd_rate

        rows = [("h", w, False) for w in range(100)]
        (r,) = aimd_rate(self._log(spark, rows), initial_rate=4, max_rate=32).collect()
        assert r["rate"] == 32 and r["n_error_waves"] == 0

    def test_order_matters_and_is_wave_order(self, spark):
        """error-last vs error-first histories give different rates —
        proving the fold really runs in wave order, not input order."""
        from amazonwebcrawler_spark.operators.politeness import aimd_rate

        last = [("h", 0, False), ("h", 1, False), ("h", 2, True)]
        first = [("h", 0, True), ("h", 1, False), ("h", 2, False)]
        # feed rows REVERSED to prove input order is irrelevant
        (rl,) = aimd_rate(
            self._log(spark, list(reversed(last))), initial_rate=4, max_rate=16
        ).collect()
        (rf,) = aimd_rate(
            self._log(spark, list(reversed(first))), initial_rate=4, max_rate=16
        ).collect()
        assert rl["rate"] == 3  # 4→5→6→3
        assert rf["rate"] == 4  # 4→2→3→4


class TestPolitenessAudit:
    """operators/politeness.politeness_audit — gap math, violations,
    single-fetch hosts, and the deterministic equal-ts tiebreak."""

    def _run(self, spark, rows, min_gap_ms=1000):
        from amazonwebcrawler_spark.operators.politeness import politeness_audit

        df = spark.createDataFrame(rows, "host string, ts_ms long, fetch_id long")
        return {
            r["host"]: r
            for r in politeness_audit(df, min_gap_ms=min_gap_ms).collect()
        }

    def test_gaps_and_violations(self, spark):
        rows = [
            ("a", 0, 1), ("a", 1500, 2), ("a", 1900, 3), ("a", 5000, 4),
            ("b", 10, 5),
        ]
        out = self._run(spark, rows)
        a = out["a"]
        assert (a["n_fetches"], a["n_gaps"], a["n_violations"]) == (4, 3, 1)
        assert a["min_gap_obs_ms"] == 400 and a["max_gap_obs_ms"] == 3100
        b = out["b"]
        assert (b["n_fetches"], b["n_gaps"], b["n_violations"]) == (1, 0, 0)
        assert b["min_gap_obs_ms"] is None and b["max_gap_obs_ms"] is None

    def test_equal_timestamps_gap_zero_and_order_invariant(self, spark):
        rows = [("a", 100, 2), ("a", 100, 1), ("a", 100, 3)]
        out = self._run(spark, rows)["a"]
        assert out["n_violations"] == 2 and out["min_gap_obs_ms"] == 0
        out2 = self._run(spark, list(reversed(rows)))["a"]
        assert out == out2


class TestHostFairness:
    """operators/politeness.host_fairness — exact Gini and top-share
    arithmetic replayed in Python on hand-built logs."""

    def _run(self, spark, hosts):
        from amazonwebcrawler_spark.operators.politeness import host_fairness

        df = spark.createDataFrame([(h,) for h in hosts], "host string")
        [r] = host_fairness(df, n_parts=4).collect()
        return r

    def test_uniform_is_zero_gini(self, spark):
        r = self._run(spark, [f"h{i}" for i in range(10)] * 3)
        assert (r["n_hosts"], r["n_fetches"], r["gini_micro"]) == (10, 30, 0)
        # top 1% of 10 hosts = ceil(0.1)=1 host = 3 of 30 fetches
        assert r["top1pct_share_ppm"] == 100000
        assert r["top10pct_share_ppm"] == 100000

    def test_skewed_matches_python_replay(self, spark):
        from collections import Counter

        hosts = (["big"] * 70) + (["mid"] * 20) + [f"t{i}" for i in range(10)]
        r = self._run(spark, hosts)
        counts = sorted(Counter(hosts).items(), key=lambda kv: (kv[1], kv[0]))
        xs = [c for _, c in counts]
        n, tot = len(xs), sum(xs)
        gini = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        assert r["n_hosts"] == n and r["n_fetches"] == tot
        assert r["gini_micro"] == gini * 1_000_000 // (n * tot)
        top1 = sum(xs[n - -(-n // 100):])
        top10 = sum(xs[n - -(-n // 10):])
        assert r["top1pct_share_ppm"] == top1 * 1_000_000 // tot
        assert r["top10pct_share_ppm"] == top10 * 1_000_000 // tot
        assert r["top1pct_share_ppm"] == 700000  # 'big' alone


