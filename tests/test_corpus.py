"""Corpus-curation operators: connected components, decontamination,
deterministic hash sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazonwebcrawler_spark.operators import corpus, dedup


class TestConnectedComponents:
    def test_chain_collapses_to_one_group(self, spark):
        # A~B, B~C, C~D: a pure pair list would keep 2 docs; CC keeps 1
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
        )
        got = {
            (r.doc_id, r.group_id)
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}

    def test_label_flows_against_edge_direction(self, spark):
        # min id sits at the "end": 5~4, 4~3 → all should label 3
        pairs = spark.createDataFrame([(5, 4), (4, 3)], "id_a long, id_b long")
        got = {(r.doc_id, r.group_id) for r in dedup.connected_components(pairs).collect()}
        assert got == {(3, 3), (4, 3), (5, 3)}

    def test_groups_refine_lsh_pairs(self, spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = dedup.minhash_lsh_pairs(d, "text", "doc_id", threshold=0.5)
        cc = dedup.connected_components(pairs)
        members = {r.doc_id for r in cc.collect()}
        in_pairs = {
            x for r in pairs.select("id_a", "id_b").collect() for x in (r.id_a, r.id_b)
        }
        assert members == in_pairs  # every paired doc is grouped, none invented
        # group roots are their own representative
        roots = cc.filter(F.col("doc_id") == F.col("group_id")).count()
        n_groups = cc.select("group_id").distinct().count()
        assert roots == n_groups


class TestDecontaminate:
    def test_planted_overlap_flagged(self, spark):
        ev = spark.createDataFrame(
            [(100, "the secret benchmark answer is forty two exactly")],
            "doc_id long, text string",
        )
        tr = spark.createDataFrame(
            [
                (1, "clean document about something else entirely unrelated"),
                (2, "i memorized the secret benchmark answer is forty two exactly word for word"),
            ],
            "doc_id long, text string",
        )
        rep = corpus.decontaminate(tr, ev, "text", "doc_id", n=3)
        rows = {r.doc_id: r for r in rep.collect()}
        assert set(rows) == {2}  # only the contaminated doc is reported
        assert rows[2].n_contaminated_grams >= 5
        assert 0 < rows[2].contamination_micro <= 1_000_000

    def test_clean_corpus_empty_report(self, spark):
        ev = spark.createDataFrame([(1, "aa bb cc dd")], "doc_id long, text string")
        tr = spark.createDataFrame([(2, "ee ff gg hh")], "doc_id long, text string")
        assert corpus.decontaminate(tr, ev, "text", "doc_id").count() == 0


class TestHashSample:
    def test_deterministic_and_rate_bounded(self, spark):
        d = spark.range(0, 10_000).withColumnRenamed("id", "k")
        s1 = {r.k for r in corpus.hash_sample(d, "k", 0.1, salt="s").collect()}
        s2 = {r.k for r in corpus.hash_sample(d, "k", 0.1, salt="s").collect()}
        assert s1 == s2  # stable across runs
        assert 0.05 < len(s1) / 10_000 < 0.15  # close to the nominal rate

    def test_rate_monotone_supersets(self, spark):
        # a 20% sample must contain the 10% sample (prefix-of-buckets rule):
        # the property that lets a pipeline grow its sample without resampling
        d = spark.range(0, 5_000).withColumnRenamed("id", "k")
        s10 = {r.k for r in corpus.hash_sample(d, "k", 0.1, salt="s").collect()}
        s20 = {r.k for r in corpus.hash_sample(d, "k", 0.2, salt="s").collect()}
        assert s10 <= s20

    def test_salt_decorrelates(self, spark):
        d = spark.range(0, 5_000).withColumnRenamed("id", "k")
        a = {r.k for r in corpus.hash_sample(d, "k", 0.1, salt="a").collect()}
        b = {r.k for r in corpus.hash_sample(d, "k", 0.1, salt="b").collect()}
        inter = len(a & b)
        # independent 10% samples overlap ~1%; 5% is a generous noise bound
        assert inter < 0.05 * 5_000


class TestStratifiedSample:
    def test_quota_and_determinism(self, spark):
        """Every stratum is capped at n; selection is identical across
        repartitionings (pure function of the data, like hash_sample)."""
        from amazonwebcrawler_spark.operators.corpus import stratified_sample

        rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(90)]
        d = spark.createDataFrame(rows, "doc_id long, lang string")
        out = stratified_sample(d, "lang", "doc_id", 5)
        got = sorted((r.lang, r.doc_id, r.sample_rank) for r in out.collect())
        per = {}
        for lang, _, rank in got:
            per.setdefault(lang, []).append(rank)
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per.values())
        again = sorted(
            (r.lang, r.doc_id, r.sample_rank)
            for r in stratified_sample(d.repartition(7), "lang", "doc_id", 5).collect()
        )
        assert got == again


class TestCorpusStats:
    def test_known_values(self, spark):
        from amazonwebcrawler_spark.operators.corpus import corpus_stats

        rows = [
            (1, "a b c", "en", 10),
            (2, "d e", "en", 30),
            (3, "f", "en", 20),
            (4, "g h i j", "de", 7),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars long")
        got = {r.lang: r for r in corpus_stats(d, "lang", "text", "n_chars").collect()}
        en, de = got["en"], got["de"]
        assert (en.n_docs, en.total_tokens, en.avg_chars_micro, en.median_chars_x2) == (
            3, 6, 20_000_000, 40,
        )
        assert (de.n_docs, de.total_tokens, de.avg_chars_micro, de.median_chars_x2) == (
            1, 4, 7_000_000, 14,
        )
        # interpolated-median case: even count ⇒ median is a .5 midpoint,
        # so median_chars_x2 is odd — the exactly-integral contract holds
        d2 = spark.createDataFrame(
            [(1, "a", "fr", 10), (2, "b", "fr", 13)],
            "doc_id long, text string, lang string, n_chars long",
        )
        fr = corpus_stats(d2, "lang", "text", "n_chars").collect()[0]
        assert (fr.avg_chars_micro, fr.median_chars_x2) == (11_500_000, 23)


class TestSnapshotDiff:
    def test_all_statuses(self, spark):
        from amazonwebcrawler_spark.operators.corpus import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")], "id long, t string, u string"
        )
        new = spark.createDataFrame(
            [(2, "b", "y"), (3, "C", "z"), (4, "d", "w")], "id long, t string, u string"
        )
        got = {r["id"]: r["status"] for r in snapshot_diff(old, new, "id", ["t", "u"]).collect()}
        assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}

    def test_multi_column_separator_prevents_concat_collisions(self, spark):
        """('ab','c') and ('a','bc') must NOT digest equal — the unit
        separator keeps column boundaries in the hash."""
        from amazonwebcrawler_spark.operators.corpus import snapshot_diff

        old = spark.createDataFrame([(1, "ab", "c")], "id long, t string, u string")
        new = spark.createDataFrame([(1, "a", "bc")], "id long, t string, u string")
        got = snapshot_diff(old, new, "id", ["t", "u"]).collect()
        assert got[0]["status"] == "changed"


class TestSketchAccuracy:
    def test_error_flags_hold_at_test_scale(self, spark, sf_dir):
        import __spark_entry__ as m

        rows = m.queries()["sketch_distinct"](spark, sf_dir).collect()
        assert len(rows) == 13
        assert all(r["distinct_within_5pct"] for r in rows)
        assert all(r["median_within_2pct"] for r in rows)

    def test_approx_count_distinct_partition_invariant(self, spark, sf_dir):
        """The sketch is mergeable with a commutative register-max — the
        estimate must not depend on how the input was partitioned (the
        property that makes it safe as a map-side-combinable dashboard
        counter; Spark's hll_sketch_agg does NOT have this, measured, and
        is deliberately not used)."""
        from pyspark.sql import functions as F

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")

        def est(df):
            return sorted(
                map(
                    tuple,
                    df.groupBy((F.col("o_orderkey") % 13).alias("s"))
                    .agg(F.approx_count_distinct("o_custkey").alias("acd"))
                    .collect(),
                )
            )

        assert est(o) == est(o.repartition(17)) == est(o.repartition(3, "o_custkey"))


class TestExpectations:
    def test_planted_violations_localized(self, spark):
        from amazonwebcrawler_spark.operators.corpus import (
            c_count_between,
            c_in_set,
            c_max_le,
            c_min_ge,
            c_not_null,
            c_unique,
            expectations_report,
        )

        rows = [
            (1, "ok", "en", 10),
            (2, None, "de", 20),   # null text
            (2, "dup", "fr", 30),  # duplicate id
            (4, "bad", "xx", 0),   # out-of-set lang, n_chars below bound
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars long")
        got = {
            r["constraint"]: (r["metric_micro"], r["passed"])
            for r in expectations_report(
                df,
                [
                    c_not_null("text"),
                    c_unique("doc_id"),
                    c_in_set("lang", ("en", "de", "fr")),
                    c_min_ge("n_chars", 1.0),
                    c_max_le("n_chars", 100.0),
                    c_count_between(1, 3),
                ],
            ).collect()
        }
        assert got["not_null(text)"] == (250_000, False)
        assert got["unique(doc_id)"] == (1_000_000, False)
        assert got["in_set(lang)"] == (1_000_000, False)
        assert got["min_ge(n_chars,1)"] == (0, False)
        assert got["max_le(n_chars,100)"] == (30_000_000, True)
        assert got["count_between(1,3)"] == (4_000_000, False)

    def test_clean_table_all_pass(self, spark):
        from amazonwebcrawler_spark.operators.corpus import (
            c_not_null,
            c_unique,
            expectations_report,
        )

        df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
        rows = expectations_report(df, [c_not_null("text"), c_unique("doc_id")]).collect()
        assert all(r["passed"] for r in rows) and len(rows) == 2


class TestWinsorize:
    def test_clamp_and_flags(self, spark):
        from amazonwebcrawler_spark.operators.corpus import winsorize

        # 0..100 in one group: p5=5, p95=95 exactly (101 evenly spaced values)
        df = spark.range(101).selectExpr("'g' AS grp", "id AS v")
        out = {r["v"]: (r["clipped_micro"], r["is_outlier"]) for r in winsorize(df, "grp", "v").collect()}
        assert out[0] == (5_000_000, True) and out[3] == (5_000_000, True)
        assert out[5] == (5_000_000, False)
        assert out[50] == (50_000_000, False)
        assert out[95] == (95_000_000, False)
        assert out[100] == (95_000_000, True)
        assert sum(1 for _, o in out.values() if o) == 10  # 0-4 and 96-100

    def test_groups_independent(self, spark):
        from pyspark.sql import functions as F

        from amazonwebcrawler_spark.operators.corpus import winsorize

        a = spark.range(101).selectExpr("'a' AS grp", "id AS v")
        b = spark.range(101).selectExpr("'b' AS grp", "id * 10 AS v")
        out = winsorize(a.unionByName(b), "grp", "v")
        hi = {r["grp"]: r["clipped_micro"] for r in out.filter(~F.col("is_outlier")).groupBy("grp")
              .agg(F.max("clipped_micro").alias("clipped_micro")).collect()}
        assert hi == {"a": 95_000_000, "b": 950_000_000}


class TestWeightedSample:
    @staticmethod
    def _mirror(ids_weights, k, salt):
        """Python mirror of the operator's exact arithmetic."""
        import hashlib
        import math

        def es(i, w):
            h = int(hashlib.md5((salt + str(i)).encode()).hexdigest()[:8], 16)
            return math.log((h + 0.5) / 2**32) / float(w)

        ranked = sorted(ids_weights, key=lambda t: (-es(*t), t[0]))
        return [i for i, _ in ranked[:k]]

    def test_matches_python_mirror_and_repartition_stable(self, spark):
        from amazonwebcrawler_spark.operators.corpus import weighted_sample

        rows = [(i, "g", float(1 + i % 7)) for i in range(80)]
        df = spark.createDataFrame(rows, "doc_id long, grp string, w double")
        got = sorted(
            r["doc_id"]
            for r in weighted_sample(df, "grp", "doc_id", "w", k=10, salt="t").collect()
        )
        got_rep = sorted(
            r["doc_id"]
            for r in weighted_sample(df.repartition(7), "grp", "doc_id", "w", k=10, salt="t").collect()
        )
        want = sorted(self._mirror([(i, w) for i, _, w in rows], 10, "t"))
        assert got == got_rep == want

    def test_selection_frequency_tracks_weights(self):
        """A-ES with k=1 selects item i with probability w_i/Σw exactly —
        across many salts the weight-3 item must win ~75% of draws."""
        wins = sum(
            1
            for s in range(2000)
            if self._mirror([(1, 3.0), (2, 1.0)], 1, f"s{s}")[0] == 1
        )
        assert 0.70 <= wins / 2000 <= 0.80, wins

    def test_nonpositive_weights_excluded(self, spark):
        from amazonwebcrawler_spark.operators.corpus import weighted_sample

        df = spark.createDataFrame(
            [(1, "g", 2.0), (2, "g", 0.0), (3, "g", -1.0)], "doc_id long, grp string, w double"
        )
        got = [r["doc_id"] for r in weighted_sample(df, "grp", "doc_id", "w", k=5).collect()]
        assert got == [1]


class TestCountminCertify:
    def _run(self, spark, keys, **kw):
        df = spark.createDataFrame([(k,) for k in keys], "key string")
        return {
            r.key: (r.exact_cnt, r.cms_est, r.overcount)
            for r in corpus.countmin_certify(df, "key", **kw).collect()
        }

    def test_exact_counts_and_one_sided_error(self, spark):
        """Estimates only ever OVERcount (every collision adds); exact
        counts equal a Python Counter; heavy keys stay heavy through the
        sketch even at a collision-forcing width."""
        from collections import Counter

        keys = [f"h{i % 7}" for i in range(700)] + [f"t{i}" for i in range(300)]
        got = self._run(spark, keys, depth=4, width=16)
        want = Counter(keys)
        assert {k: v[0] for k, v in got.items()} == dict(want)
        assert all(est >= exact and over == est - exact for exact, est, over in got.values())
        # 307 distinct keys into 16 buckets/row: collisions are certain
        assert any(over > 0 for _, _, over in got.values())
        # the min-over-4-rows estimate keeps the error sub-linear: worst
        # observed overcount stays within 2× the per-bucket average mass
        # (1000/16 = 62.5), deterministic under the md5 grid
        assert max(over for _, _, over in got.values()) <= 125
        assert all(est >= 100 for k, (_, est, _) in got.items() if k.startswith("h"))

    def test_wide_grid_is_exact(self, spark):
        """With width >> distinct keys the min over 4 independent rows is
        collision-free: est == exact everywhere (deterministic md5 grid)."""
        keys = [f"k{i % 20}" for i in range(200)]
        got = self._run(spark, keys, depth=4, width=4096)
        assert all(over == 0 for _, _, over in got.values())

    def test_invalid_params_raise(self, spark):
        import pytest

        df = spark.createDataFrame([("a",)], "key string")
        with pytest.raises(ValueError):
            corpus.countmin_certify(df, "key", depth=0)
        with pytest.raises(ValueError):
            corpus.countmin_certify(df, "key", width=1)


class TestContamSpans:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_spans_merge_and_trim_arithmetic(self, spark):
        train = self._docs(
            spark,
            [
                # tokens: the eval gram "a b c" hits at 2 and 3 (overlap →
                # one span [2,5]); "x y z" hits at 8 (span [8,10])
                (1, "w0 w1 a b c b c q w7x x y z"),
                (2, "clean words only nothing shared here"),
            ],
        )
        ev = self._docs(spark, [(100, "a b c b c x y z")])
        from amazonwebcrawler_spark.operators.corpus import contam_spans

        out = contam_spans(train, ev, "text", "doc_id", n=3)
        rows = sorted(
            ((r["doc_id"], r["span_start"], r["span_end"], r["span_words"]) for r in out.collect())
        )
        # doc 1 tokens: [w0,w1,a,b,c,b,c,q,w7x,x,y,z] — grams "a b c"@2,
        # "b c b"@3? (not in eval), "c b c"@4? (in eval: ev grams are all
        # 3-grams of "a b c b c x y z": abc,bcb,cbc,bcx,cxy,xyz) → hits at
        # 2 (abc), 3 (bcb), 4 (cbc), 9 (xyz) → spans [2,6] and [9,11]
        assert rows == [(1, 2, 6, 5), (1, 9, 11, 3)]
        (r1,) = [r for r in out.collect() if r["span_start"] == 2]
        assert r1["n_spans"] == 2 and r1["n_tokens"] == 12
        assert r1["removed_milli"] == (5 + 3) * 1000 // 12

    def test_clean_docs_absent_and_adjacent_merge(self, spark):
        train = self._docs(spark, [(1, "p q r s t u"), (2, "a b c d e f g")])
        ev = self._docs(spark, [(9, "a b c"), (10, "d e f")])
        from amazonwebcrawler_spark.operators.corpus import contam_spans

        rows = contam_spans(train, ev, "text", "doc_id", n=3).collect()
        assert {r["doc_id"] for r in rows} == {2}
        # hits at 0 ("a b c") and 3 ("d e f") — span ends 2 and 5 are
        # ADJACENT (3 == 2+1) → one merged span [0,5]
        (r,) = rows
        assert (r["span_start"], r["span_end"], r["span_words"]) == (0, 5, 6)


class TestHistQuantiles:
    def test_matches_sorted_definition(self, spark):
        import math

        from amazonwebcrawler_spark.operators.corpus import hist_quantiles

        vals = {
            "a": [5, 1, 3, 3, 3, 9, 7, 7, 2, 8],
            "b": [10, 10, 10, 10],
            "c": [42],
        }
        rows = [(g, v) for g, vs in vals.items() for v in vs]
        df = spark.createDataFrame(rows, "grp string, v int")
        ps = (250, 500, 900, 1000)
        got = {
            (r["grp"], r["p_milli"]): (r["q_value"], r["n_rows"])
            for r in hist_quantiles(df, "grp", "v", ps).collect()
        }
        for g, vs in vals.items():
            s = sorted(vs)
            n = len(s)
            for p in ps:
                # type-1 / inverted CDF: smallest value whose cum count
                # satisfies cum*1000 >= p*n  ⟺  sorted[ceil(p*n/1000)-1]
                r = math.ceil(p * n / 1000)
                assert got[(g, p)] == (s[r - 1], n), (g, p)

    def test_p1000_is_max_and_validation(self, spark):
        import pytest as _pytest

        from amazonwebcrawler_spark.operators.corpus import hist_quantiles

        df = spark.createDataFrame([("x", i) for i in range(100)], "grp string, v int")
        (r,) = hist_quantiles(df, "grp", "v", (1000,)).collect()
        assert r["q_value"] == 99
        with _pytest.raises(ValueError):
            hist_quantiles(df, "grp", "v", ())
        with _pytest.raises(ValueError):
            hist_quantiles(df, "grp", "v", (0,))


class TestPsiDrift:
    """operators/corpus.psi_drift — identical snapshots ≈ 0, planted
    shift detected, empty-bin smoothing, Python replay."""

    def _scores(self, spark, vals):
        return spark.createDataFrame([(v,) for v in vals], "score_milli long")

    def test_identical_snapshots_zero(self, spark):
        from amazonwebcrawler_spark.operators.corpus import psi_drift

        vals = [(i * 97) % 1001 for i in range(300)]
        out = psi_drift(self._scores(spark, vals), self._scores(spark, vals)).collect()
        assert len(out) == 10
        assert all(r["psi_term_micro"] == 0 for r in out)
        assert out[0]["psi_total_micro"] == 0

    def test_planted_shift_and_replay(self, spark):
        import math

        from amazonwebcrawler_spark.operators.corpus import psi_drift

        old = [(i * 97) % 1001 for i in range(400)]
        new = [min(1000, v + 300) for v in old]  # hard upward shift
        out = {r["bin"]: r for r in psi_drift(
            self._scores(spark, old), self._scores(spark, new)).collect()}
        # Python replay
        def histo(vals):
            h = [0] * 10
            for v in vals:
                h[min(v * 10 // 1001, 9)] += 1
            return h
        ho, hn = histo(old), histo(new)
        to, tn = sum(ho), sum(hn)
        total = 0
        for b in range(10):
            p = (ho[b] + 0.1) / (to + 1)
            q = (hn[b] + 0.1) / (tn + 1)
            t = round((p - q) * math.log(p / q) * 1_000_000)
            assert out[b]["psi_term_micro"] == t, (b, out[b]["psi_term_micro"], t)
            assert (out[b]["n_old"], out[b]["n_new"]) == (ho[b], hn[b])
            total += t
        assert out[0]["psi_total_micro"] == total
        assert total > 250_000  # the rule-of-thumb "retrain" line
        # low bins emptied in new (min new score 300 → bin 2) → smoothing
        # kept every term finite
        assert all(out[b]["n_new"] == 0 for b in range(2))


class TestDropReasons:
    """operators/corpus.drop_reasons — bit order, NULL coalescing, keep."""

    def test_mask_arithmetic(self, spark):
        from amazonwebcrawler_spark.operators.corpus import drop_reasons

        rows = [
            (1, False, False, False),
            (2, True, False, False),
            (3, False, True, True),
            (4, True, True, True),
            (5, None, False, None),  # NULL flags count as not-fired
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, a boolean, b boolean, c boolean"
        )
        out = {r["doc_id"]: r for r in drop_reasons(df, ["a", "b", "c"]).collect()}
        assert (out[1]["reason_mask"], out[1]["keep"]) == (0, True)
        assert (out[2]["reason_mask"], out[2]["keep"]) == (1, False)
        assert (out[3]["reason_mask"], out[3]["keep"]) == (6, False)
        assert (out[4]["reason_mask"], out[4]["keep"]) == (7, False)
        assert (out[5]["reason_mask"], out[5]["keep"]) == (0, True)
