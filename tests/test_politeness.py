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


class TestRecrawlPriority:
    def test_closed_form_rates_and_floor(self, spark):
        """Always-changing URL pins to the base/4 politeness floor;
        never-changing URL sits at the full base interval; the mixed URL
        matches the exact integer formula. Priority orders by interval
        within each shard."""
        import datetime

        from amazonwebcrawler_spark.operators.politeness import recrawl_priority

        t0 = datetime.datetime(2024, 1, 1)
        rows = []
        for i in range(4):  # url 0: always changes
            rows.append((0, t0 + datetime.timedelta(hours=i), True))
        for i in range(4):  # url 16: never changes (same shard as url 0)
            rows.append((16, t0 + datetime.timedelta(hours=i), False))
        for i in range(4):  # url 32: half change (same shard again)
            rows.append((32, t0 + datetime.timedelta(hours=i), i % 2 == 0))
        d = spark.createDataFrame(rows, "url_id long, ts timestamp, changed boolean")
        got = {r.url_id: r for r in recrawl_priority(d).collect()}
        assert got[0].change_rate_micro == 1_000_000
        assert got[0].revisit_interval_s == 86_400 // 4  # clamped to the floor
        assert got[16].change_rate_micro == 0
        assert got[16].revisit_interval_s == 86_400
        assert got[32].change_rate_micro == 500_000
        assert got[32].revisit_interval_s == (86_400 * 1_000_000) // (1_000_000 + 3 * 500_000)
        # all three share shard 0: hottest first, coldest last
        assert (got[0].shard, got[16].shard, got[32].shard) == (0, 0, 0)
        assert [got[k].priority for k in (0, 32, 16)] == [1, 2, 3]
        assert all(r.n_fetches == 4 for r in got.values())


class TestAllocateBudget:
    def _py_hamilton(self, demand: dict, budget: int):
        total = sum(demand.values())
        base = {k: (v * budget) // total for k, v in demand.items()}
        rem = {k: (v * budget) % total for k, v in demand.items()}
        leftover = budget - sum(base.values())
        order = sorted(demand, key=lambda k: (-rem[k], k))
        quota = dict(base)
        for k in order[:leftover]:
            quota[k] += 1
        return quota

    def test_matches_python_hamilton(self, spark):
        from amazonwebcrawler_spark.operators.politeness import allocate_budget

        demand = {"a": 7, "b": 3, "c": 13, "d": 1, "e": 29, "f": 11}
        df = spark.createDataFrame(list(demand.items()), "domain string, demand long")
        got = {r.domain: r.quota for r in allocate_budget(df, total_budget=100).collect()}
        want = self._py_hamilton(demand, 100)
        assert got == want
        assert sum(got.values()) == 100

    def test_sum_invariant_and_repartition_stable(self, spark):
        from amazonwebcrawler_spark.operators.politeness import allocate_budget

        df = spark.createDataFrame(
            [(f"d{i}", (i * 17) % 57 + 1) for i in range(200)], "domain string, demand long"
        )
        a = {r.domain: r.quota for r in allocate_budget(df, total_budget=977).collect()}
        b = {
            r.domain: r.quota
            for r in allocate_budget(df.repartition(13), total_budget=977).collect()
        }
        assert a == b  # shard math is a function of data, not partitioning
        assert sum(a.values()) == 977

    def test_zero_demand_dropped(self, spark):
        from amazonwebcrawler_spark.operators.politeness import allocate_budget

        df = spark.createDataFrame(
            [("a", 5), ("dead", 0), ("b", 5)], "domain string, demand long"
        )
        got = {r.domain: r.quota for r in allocate_budget(df, total_budget=11).collect()}
        assert "dead" not in got
        assert sum(got.values()) == 11


class TestAdaptiveBackoff:
    """operators/politeness.adaptive_backoff vs a sequential Python
    simulation of the AIMD rule (the window form must equal the obvious
    per-host scan)."""

    @staticmethod
    def _sim(rows, base=1000, max_exp=6):
        out = {}
        by_host = {}
        for ev_id, ts, host, ok in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
            run = by_host.get(host, 0)
            run = 0 if ok else run + 1
            by_host[host] = run
            delay = base if ok else base * (2 ** min(run, max_exp))
            out[ev_id] = (run, delay)
        return out

    def test_matches_sequential_simulation(self, spark):
        from amazonwebcrawler_spark.operators.politeness import adaptive_backoff

        rows = []
        seq = 0
        for host in ("a", "b"):
            # a: ok ok err err err ok err ...  b: all errors (cap exercise)
            pattern = [1, 1, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 1] if host == "a" else [0] * 12
            for i, ok in enumerate(pattern):
                rows.append((seq, i, host, ok))
                seq += 1
        df = spark.createDataFrame(rows, "event_id long, ts long, host string, ok int")
        got = {
            r.event_id: (r.consec_errors, r.next_delay_ms)
            for r in adaptive_backoff(df).collect()
        }
        assert got == self._sim(rows)

    def test_cap_and_reset(self, spark):
        from amazonwebcrawler_spark.operators.politeness import adaptive_backoff

        rows = [(i, i, "h", 0) for i in range(10)] + [(10, 10, "h", 1), (11, 11, "h", 0)]
        df = spark.createDataFrame(rows, "event_id long, ts long, host string, ok int")
        got = {r.event_id: r for r in adaptive_backoff(df).collect()}
        assert got[9].consec_errors == 10 and got[9].next_delay_ms == 1000 * 64  # capped 2^6
        assert got[10].next_delay_ms == 1000  # success resets
        assert got[11].consec_errors == 1 and got[11].next_delay_ms == 2000

    def test_equal_timestamps_break_on_event_id(self, spark):
        from amazonwebcrawler_spark.operators.politeness import adaptive_backoff

        rows = [(0, 5, "h", 0), (1, 5, "h", 1), (2, 5, "h", 0)]
        df = spark.createDataFrame(rows, "event_id long, ts long, host string, ok int")
        a = sorted(map(tuple, adaptive_backoff(df.coalesce(1)).collect()))
        b = sorted(map(tuple, adaptive_backoff(df.repartition(8)).collect()))
        assert a == b
        got = {r[0]: r for r in a}
        # order is (ts, event_id): err → ok → err
        by_id = {r.event_id: r.consec_errors for r in adaptive_backoff(df).collect()}
        assert by_id == {0: 1, 1: 0, 2: 1}


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


class TestFrontierSizeChao1:
    """operators/politeness.frontier_size_chao1 — capture-recapture
    frontier sizing. Hand-computed Chao1 + Good-Turing values, saturation
    monotonicity, and the f2=0 bias-corrected branch."""

    def _caps(self, spark, rows):
        return spark.createDataFrame(rows, "host string, url string")

    def test_hand_computed_example(self, spark):
        from amazonwebcrawler_spark.operators.politeness import frontier_size_chao1

        # host A: urls u1..u4 captured 1,1,2,3 times → n=7, s_obs=4, f1=2, f2=1
        # chao1 = 4 + 2*1 // (2*2) = 4 + 0 = 4 ... use bigger f1 to exercise
        # the formula: add u5,u6 singletons → f1=4, f2=1:
        # chao1 = 6 + 4*3 // 4 = 9; coverage = (9-4)*1e6 // 9 = 555555
        rows = (
            [("A", "u1"), ("A", "u2"), ("A", "u5"), ("A", "u6")]
            + [("A", "u3")] * 2
            + [("A", "u4")] * 3
        )
        (r,) = frontier_size_chao1(self._caps(spark, rows)).collect()
        assert (r["n_captures"], r["s_obs"], r["f1"], r["f2"]) == (9, 6, 4, 1)
        assert r["chao1_est"] == 9 and r["unseen_est"] == 3
        assert r["coverage_micro"] == (9 - 4) * 1_000_000 // 9

    def test_f2_zero_bias_corrected(self, spark):
        from amazonwebcrawler_spark.operators.politeness import frontier_size_chao1

        # all singletons, no doubletons: chao1 = s + f1(f1-1)/2, coverage 0
        rows = [("B", f"u{i}") for i in range(5)]
        (r,) = frontier_size_chao1(self._caps(spark, rows)).collect()
        assert r["f2"] == 0
        assert r["chao1_est"] == 5 + (5 * 4) // 2
        assert r["coverage_micro"] == 0

    def test_saturated_host_estimates_zero_unseen(self, spark):
        from amazonwebcrawler_spark.operators.politeness import frontier_size_chao1

        # every URL re-captured 3+: f1=0 → unseen 0, coverage 1.0
        rows = [("C", f"u{i}") for i in range(4)] * 3
        (r,) = frontier_size_chao1(self._caps(spark, rows)).collect()
        assert r["f1"] == 0 and r["unseen_est"] == 0
        assert r["coverage_micro"] == 1_000_000

    def test_per_host_isolation(self, spark):
        from amazonwebcrawler_spark.operators.politeness import frontier_size_chao1

        rows = [("A", "u1"), ("B", "u1"), ("B", "u1")]
        out = {r["host"]: r for r in frontier_size_chao1(self._caps(spark, rows)).collect()}
        assert out["A"]["f1"] == 1 and out["B"]["f1"] == 0
        assert out["A"]["coverage_micro"] == 0 and out["B"]["coverage_micro"] == 1_000_000


class TestUcbHostSchedule:
    """operators/politeness.ucb_host_schedule — UCB1 arithmetic vs a
    Python replay; the exploration ordering property."""

    def _run(self, spark, rows):
        from amazonwebcrawler_spark.operators.politeness import ucb_host_schedule

        df = spark.createDataFrame(rows, "host string, reward long")
        return {r["host"]: r for r in ucb_host_schedule(df).collect()}

    def test_matches_python_replay(self, spark):
        import math

        rows = [("a", 5)] * 8 + [("b", 1)] * 3 + [("c", 9)]
        out = self._run(spark, rows)
        N = len(rows)
        for host, rewards in (("a", [5] * 8), ("b", [1] * 3), ("c", [9])):
            n = len(rewards)
            r = out[host]
            assert r["n_waves"] == n and r["sum_reward"] == sum(rewards)
            assert r["mean_micro"] == sum(rewards) * 1_000_000 // n
            want_explore = round(math.sqrt(2 * math.log(N) / n) * 1_000_000)
            assert abs(r["explore_micro"] - want_explore) <= 1
            assert r["ucb_micro"] == r["mean_micro"] + r["explore_micro"]

    def test_underprobed_host_outranks_equal_mean(self, spark):
        # same mean reward, fewer probes -> wider radius -> higher ucb
        rows = [("often", 2)] * 20 + [("rare", 2)] * 2
        out = self._run(spark, rows)
        assert out["rare"]["mean_micro"] == out["often"]["mean_micro"]
        assert out["rare"]["ucb_micro"] > out["often"]["ucb_micro"]


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


class TestDrainPlan:
    """operators/politeness.drain_plan — ceil arithmetic, default rate,
    bottleneck ties."""

    def test_waves_and_bottleneck(self, spark):
        from amazonwebcrawler_spark.operators.politeness import drain_plan

        frontier = spark.createDataFrame(
            [("a",)] * 100 + [("b",)] * 65 + [("c",)] * 10, "host string"
        )
        rates = spark.createDataFrame(
            [("a", 32), ("b", 32)], "host string, tokens_per_wave long"
        )
        out = {r["host"]: r for r in drain_plan(frontier, rates, default_rate=5).collect()}
        assert (out["a"]["n_waves"], out["a"]["is_bottleneck"]) == (4, True)  # ceil(100/32)
        assert (out["b"]["n_waves"], out["b"]["is_bottleneck"]) == (3, False)  # ceil(65/32)
        # c has no rate row → default 5 → ceil(10/5)=2
        assert (out["c"]["tokens_per_wave"], out["c"]["n_waves"]) == (5, 2)

    def test_bottleneck_ties_all_flagged(self, spark):
        from amazonwebcrawler_spark.operators.politeness import drain_plan

        frontier = spark.createDataFrame([("a",)] * 64 + [("b",)] * 33, "host string")
        rates = spark.createDataFrame(
            [("a", 32), ("b", 17)], "host string, tokens_per_wave long"
        )
        out = {r["host"]: r for r in drain_plan(frontier, rates).collect()}
        assert out["a"]["n_waves"] == 2 and out["b"]["n_waves"] == 2
        assert out["a"]["is_bottleneck"] and out["b"]["is_bottleneck"]
