"""Unit tests for the session-14 curation operators: C4 line cleaning,
n-gram novelty, and host-mirror detection."""

from __future__ import annotations

import hashlib

from amazonwebcrawler_spark.functions.text import c4_line_clean
from amazonwebcrawler_spark.operators.corpus import gram_novelty
from amazonwebcrawler_spark.operators.webgraph import mirror_pairs


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


class TestC4LineClean:
    def _run(self, spark, docs, **kw):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        rows = c4_line_clean(df, "text", "doc_id", **kw).collect()
        return {r.doc_id: r for r in rows}

    def test_rules_each_drop_exactly_one_line(self, spark):
        good1 = "this line is perfectly fine."
        good2 = "and another good line here!"
        no_punct = "this line has no terminal punctuation"
        short = "too short."
        js = "please enable javascript to continue."
        brace = "var x = {a: 1}; render it."
        lorem = "lorem ipsum dolor sit amet."
        text = "\n".join([good1, no_punct, short, js, brace, lorem, good2])
        out = self._run(spark, [(1, text)])[1]
        assert out.n_lines == 7
        assert out.n_kept == 2
        assert out.keep is True
        assert out.clean_md5 == _md5(good1 + "\n" + good2)
        assert out.kept_chars == len(good1) + len(good2)

    def test_terminal_punct_variants(self, spark):
        text = 'ends with period okay.\nends with bang okay!\nends with question okay?\nends with quote okay."\nends with comma not okay,'
        out = self._run(spark, [(1, text)])[1]
        assert out.n_kept == 4

    def test_min_lines_boundary(self, spark):
        one = "only one surviving line here."
        out = self._run(spark, [(1, one + "\nnope"), (2, one + "\n" + one)])
        assert out[1].keep is False and out[1].n_kept == 1
        assert out[2].keep is True and out[2].n_kept == 2

    def test_empty_and_whitespace_doc(self, spark):
        out = self._run(spark, [(1, ""), (2, "   ")])
        assert out[1].n_kept == 0 and out[1].keep is False
        assert out[1].clean_md5 == _md5("")
        assert out[2].n_kept == 0

    def test_ordering_preserved_in_digest(self, spark):
        a = "alpha line is first always."
        b = "beta line is second always."
        c = "gamma line is third always."
        out = self._run(spark, [(1, "\n".join([c, "x", a, b]))])[1]
        # surviving lines re-join in ORIGINAL order (c, a, b), not sorted
        assert out.clean_md5 == _md5("\n".join([c, a, b]))

    def test_repartition_invariant(self, spark):
        docs = [(i, f"line number {i} is quite fine.\njunk\nsecond good line {i} here.") for i in range(50)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        a = sorted(map(tuple, c4_line_clean(df, "text", "doc_id").collect()))
        b = sorted(map(tuple, c4_line_clean(df.repartition(7), "text", "doc_id").collect()))
        assert a == b


class TestGramNovelty:
    def _run(self, spark, docs, n=3):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {r.doc_id: r for r in gram_novelty(df, "text", "doc_id", n=n).collect()}

    def test_exact_duplicate_has_zero_novelty(self, spark):
        t = "alpha beta gamma delta epsilon"
        out = self._run(spark, [(1, t), (2, t)])
        assert out[1].novelty_micro == 1_000_000
        assert out[2].novelty_micro == 0
        assert out[1].n_distinct_grams == out[2].n_distinct_grams == 3

    def test_partial_overlap_counts(self, spark):
        out = self._run(spark, [(1, "a b c d"), (2, "b c d e")])
        # doc2 grams: {b c d, c d e}; 'b c d' first seen in doc1
        assert out[2].n_distinct_grams == 2
        assert out[2].n_new_grams == 1
        assert out[2].novelty_micro == 500_000

    def test_python_mirror_random(self, spark):
        import random

        rng = random.Random(42)
        vocab = [f"w{i}" for i in range(12)]
        docs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20))))
            for d in range(1, 31)
        ]
        out = self._run(spark, docs)
        first: dict[tuple, int] = {}
        grams_by_doc: dict[int, set] = {}
        for d, t in docs:
            toks = t.split()
            gs = {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}
            grams_by_doc[d] = gs
            for g in gs:
                first.setdefault(g, d)
        for d, gs in grams_by_doc.items():
            if not gs:
                assert d not in out
                continue
            new = sum(1 for g in gs if first[g] == d)
            assert out[d].n_distinct_grams == len(gs)
            assert out[d].n_new_grams == new
            assert out[d].novelty_micro == new * 1_000_000 // len(gs)

    def test_short_docs_absent(self, spark):
        out = self._run(spark, [(1, "one two"), (2, "x y z")])
        assert 1 not in out and 2 in out


class TestMirrorPairs:
    def _run(self, spark, rows, **kw):
        df = spark.createDataFrame(rows, "host string, fp string")
        return {
            (r.host_a, r.host_b): r
            for r in mirror_pairs(df, "host", "fp", **kw).collect()
        }

    def test_planted_mirror_found(self, spark):
        rows = [("h1", f"f{i}") for i in range(10)]
        rows += [("m1", f"f{i}") for i in range(5)]  # full subset → containment 1.0
        rows += [("h2", f"g{i}") for i in range(8)]  # unrelated
        out = self._run(spark, rows, min_shared=3, min_containment_micro=500_000)
        assert set(out) == {("h1", "m1")}
        r = out[("h1", "m1")]
        assert r.shared_fps == 5 and r.n_a == 10 and r.n_b == 5
        assert r.containment_micro == 1_000_000

    def test_min_shared_floor(self, spark):
        rows = [("a", "f1"), ("a", "f2"), ("b", "f1"), ("b", "f2")]
        assert self._run(spark, rows, min_shared=3) == {}
        out = self._run(spark, rows, min_shared=2)
        assert ("a", "b") in out

    def test_boilerplate_skew_guard(self, spark):
        # one fp shared by 5 hosts is dropped when the guard is 4 —
        # without it every host pair would be a (spurious) candidate
        rows = [(f"x{i}", "common") for i in range(5)]
        rows += [("x0", "u1"), ("x1", "u2")]
        out = self._run(spark, rows, min_shared=1, min_containment_micro=1, max_hosts_per_fp=4)
        assert out == {}
        out2 = self._run(spark, rows, min_shared=1, min_containment_micro=1, max_hosts_per_fp=8)
        assert len(out2) == 10  # all C(5,2) pairs via 'common'

    def test_page_refetch_collapses(self, spark):
        # duplicate (host, fp) rows count once — a host re-serving one page
        # a million times is one fingerprint
        rows = [("a", "f1")] * 4 + [("b", "f1"), ("b", "f2")]
        out = self._run(spark, rows, min_shared=1, min_containment_micro=1)
        r = out[("a", "b")]
        assert r.n_a == 1 and r.shared_fps == 1
        assert r.containment_micro == 1_000_000

    def test_canonical_pair_order(self, spark):
        rows = [("zeta", "f"), ("alpha", "f"), ("zeta", "g"), ("alpha", "g"), ("zeta", "h"), ("alpha", "h")]
        out = self._run(spark, rows)
        assert list(out) == [("alpha", "zeta")]


class TestCurationRandomizedMirrors:
    def test_c4_clean_matches_python_mirror_random(self, spark):
        """Seeded random documents (lines drawn from good/bad templates in
        random order) must match a pure-Python restatement of the rules
        exactly — digest included."""
        import random
        import re

        rng = random.Random(1234)
        good = [
            "a perfectly reasonable sentence lives here.",
            "quality content with enough words!",
            "does this line survive the filter?",
        ]
        bad = [
            "no terminal punctuation on this line",
            "short.",
            "please enable javascript now.",
            "code { block } here.",
            "lorem ipsum dolor sit amet again.",
            "",
            "   ",
        ]
        docs = []
        for d in range(40):
            n = rng.randint(1, 8)
            lines = [rng.choice(good + bad) for _ in range(n)]
            docs.append((d, "\n".join(lines)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: r for r in c4_line_clean(df, "text", "doc_id").collect()}

        def words(line: str) -> int:
            t = re.sub(r"\s+", " ", line.lower()).strip()
            return 0 if not t else len(t.split(" "))

        for d, text in docs:
            lines = text.split("\n")
            kept = [
                ln for ln in lines
                if re.search(r'[.!?"]$', ln.strip())
                and words(ln) >= 3
                and "javascript" not in ln.lower()
                and "{" not in ln and "}" not in ln
                and "lorem ipsum" not in ln.lower()
            ]
            r = got[d]
            assert r.n_lines == len(lines) and r.n_kept == len(kept), d
            assert r.clean_md5 == _md5("\n".join(kept)), d
            assert r.keep == (len(kept) >= 2), d
            assert r.kept_chars == sum(len(x) for x in kept), d

    def test_mirror_pairs_matches_brute_force_random(self, spark):
        """Seeded random (host, fp) incidence vs an O(hosts²) Python brute
        force with the same guard semantics."""
        import itertools
        import random

        rng = random.Random(77)
        hosts = [f"h{i}" for i in range(12)]
        fps = [f"f{i}" for i in range(30)]
        rows = []
        for h in hosts:
            for fp in rng.sample(fps, rng.randint(2, 12)):
                rows.append((h, fp))
                if rng.random() < 0.3:
                    rows.append((h, fp))  # duplicate serving
        df = spark.createDataFrame(rows, "host string, fp string")
        kw = dict(min_shared=2, min_containment_micro=400_000, max_hosts_per_fp=5)
        got = {
            (r.host_a, r.host_b): (r.shared_fps, r.n_a, r.n_b, r.containment_micro)
            for r in mirror_pairs(df, "host", "fp", **kw).collect()
        }
        inc: dict[str, set] = {}
        for h, fp in rows:
            inc.setdefault(h, set()).add(fp)
        fp_hosts: dict[str, int] = {}
        for h, s in inc.items():
            for fp in s:
                fp_hosts[fp] = fp_hosts.get(fp, 0) + 1
        inc = {
            h: {fp for fp in s if fp_hosts[fp] <= 5} for h, s in inc.items()
        }
        want = {}
        for a, b in itertools.combinations(sorted(inc), 2):
            sa, sb = inc[a], inc[b]
            if not sa or not sb:
                continue
            shared = len(sa & sb)
            if shared < 2:
                continue
            cm = shared * 1_000_000 // min(len(sa), len(sb))
            if cm >= 400_000:
                want[(a, b)] = (shared, len(sa), len(sb), cm)
        assert got == want


class TestRrfFusion:
    """operators/similarity.rrf_fusion — exact-integer reciprocal rank
    fusion over heterogeneous rankers."""

    def _fuse(self, spark, rows, **kw):
        from amazonwebcrawler_spark.operators.similarity import rrf_fusion

        df = spark.createDataFrame(
            rows, "query_id string, ranker string, doc_id long, score long"
        )
        return rrf_fusion(df, **kw)

    def test_matches_python_mirror(self, spark):
        rows = []
        for q in ("qa", "qb"):
            for r in ("r1", "r2", "r3"):
                for d in range(12):
                    # deterministic pseudo-scores; ties included (score DIV 3)
                    rows.append((q, r, d, ((d * 37 + len(r) * 11 + ord(q[1])) % 17) // 3))
        got = {
            (x["query_id"], x["doc_id"]): (x["n_rankers"], x["rrf_micro"], x["fused_rank"])
            for x in self._fuse(spark, rows, k0=60, per_ranker=5, topk=4).collect()
        }
        # python mirror
        from collections import defaultdict

        fused = defaultdict(lambda: [0, 0])
        for q in ("qa", "qb"):
            for r in ("r1", "r2", "r3"):
                lst = sorted(
                    [(s, d) for (qq, rr, d, s) in rows if qq == q and rr == r],
                    key=lambda t: (-t[0], t[1]),
                )[:5]
                for i, (_, d) in enumerate(lst, start=1):
                    fused[(q, d)][0] += 1
                    fused[(q, d)][1] += 1_000_000 // (60 + i)
        expect = {}
        for q in ("qa", "qb"):
            docs = sorted(
                [(k[1], v) for k, v in fused.items() if k[0] == q],
                key=lambda t: (-t[1][1], t[0]),
            )[:4]
            for rank, (d, (n, m)) in enumerate(docs, start=1):
                expect[(q, d)] = (n, m, rank)
        assert got == expect

    def test_doc_in_one_ranker_only_still_fuses(self, spark):
        rows = [("q", "a", 1, 100), ("q", "a", 2, 90), ("q", "b", 2, 50)]
        got = {x["doc_id"]: (x["n_rankers"], x["rrf_micro"])
               for x in self._fuse(spark, rows, k0=60, per_ranker=10, topk=10).collect()}
        assert got[1] == (1, 1_000_000 // 61)
        assert got[2] == (2, 1_000_000 // 62 + 1_000_000 // 61)

    def test_repartition_invariant(self, spark):
        rows = [("q", r, d, (d * 7 + i) % 13) for i, r in enumerate(("x", "y"))
                for d in range(30)]
        from amazonwebcrawler_spark.operators.similarity import rrf_fusion

        df = spark.createDataFrame(
            rows, "query_id string, ranker string, doc_id long, score long"
        )
        a = sorted(map(tuple, rrf_fusion(df).collect()))
        b = sorted(map(tuple, rrf_fusion(df.repartition(7)).collect()))
        assert a == b


class TestMojibakeStats:
    def test_planted_artifacts_flagged(self, spark):
        from amazonwebcrawler_spark.functions.text import mojibake_stats

        rows = [
            (1, "clean plain ascii text"),
            (2, "broken cafÃ© and â€™quotesâ€œ here"),
            (3, "single Ã© only"),
            (4, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               mojibake_stats(df, "text", "doc_id", min_hits=2).collect()}
        assert got[1]["n_hits"] == 0 and not got[1]["is_mojibake"]
        assert got[2]["n_hits"] == 3 and got[2]["is_mojibake"]
        assert got[3]["n_hits"] == 1 and not got[3]["is_mojibake"]
        assert got[4]["n_hits"] == 0 and got[4]["hit_ratio_micro"] == 0

    def test_ratio_exact(self, spark):
        from amazonwebcrawler_spark.functions.text import mojibake_stats

        df = spark.createDataFrame([(1, "Ã©Ã©Ã©Ã©")], "doc_id long, text string")
        r = mojibake_stats(df, "text", "doc_id").collect()[0]
        assert r["n_chars"] == 8 and r["n_hits"] == 4
        assert r["hit_ratio_micro"] == 4 * 1_000_000 // 8


class TestTiledImageStats:
    def test_planted_tilings(self, spark):
        import numpy as np

        from amazonwebcrawler_spark.functions import images as fi
        from amazonwebcrawler_spark.operators.images_io import tiled_image_stats

        tile = ((np.arange(8 * 8 * 3) * 29 + 3) % 247).reshape(8, 8, 3).astype(np.uint8)
        tiled = np.tile(tile, (4, 4, 1))
        yy, xx, cc = np.meshgrid(
            np.arange(32), np.arange(32), np.arange(3), indexing="ij"
        )
        grad = ((11 * yy + 5 * xx + 3 * cc) % 227).astype(np.uint8)
        rows = [
            ("tiled", bytearray(fi.encode_png(tiled))),
            ("organic", bytearray(fi.encode_png(grad))),
        ]
        df = spark.createDataFrame(rows, "image_id string, bytes binary")
        patches = df.mapInPandas(fi.patch_stats_kernel(4), fi.PATCH_SCHEMA)
        got = {r["image_id"]: r for r in tiled_image_stats(patches).collect()}
        assert got["tiled"]["n_sigs"] == 1 and got["tiled"]["max_repeat"] == 16
        assert got["tiled"]["is_tiled"]
        assert got["organic"]["max_repeat"] == 1 and not got["organic"]["is_tiled"]


class TestUpscaleDetect:
    """functions/images.upscale_stats + operators/images_io.upscale_detect
    — the constant-block math and the largest-verified-factor verdict."""

    def test_pure_stats_math(self):
        import numpy as np

        from amazonwebcrawler_spark.functions.images import upscale_stats
        from amazonwebcrawler_spark.functions.images import resize_pixels

        yy, xx, cc = np.meshgrid(np.arange(8), np.arange(8), np.arange(3), indexing="ij")
        base = ((37 * yy + 17 * xx + 29 * cc) % 239).astype(np.uint8)
        s = upscale_stats(resize_pixels(base, 24, 24))  # ×3
        # 2-blocks over a 3-grid: 8 of 12 starts stay inside one source
        # pixel per dim → (8·8)·1000 // 144 = 444
        assert (s["const2_milli"], s["const3_milli"], s["const4_milli"]) == (444, 1000, 0)
        s = upscale_stats(base)  # organic adjacent-distinct
        assert (s["const2_milli"], s["const3_milli"], s["const4_milli"]) == (0, 0, 0)
        assert not s["is_flat"]
        s = upscale_stats(np.full((4, 5, 3), 9, np.uint8))
        assert s["is_flat"] and s["const2_milli"] == 1000
        s = upscale_stats(base[:2, :3])
        assert (s["const3_milli"], s["const4_milli"]) == (None, None)

    def test_verdict_largest_factor_and_flat_exclusion(self, spark):
        from amazonwebcrawler_spark.operators.images_io import upscale_detect

        rows = [
            # ×4 upscale: divisors 2 and 4 both clear → report 4
            ("up4", 32, 32, False, 1000, 250, 1000),
            # ×6: 2 and 3 clear, 4 doesn't → report 3
            ("up6", 48, 36, False, 1000, 1000, 111),
            ("flat", 16, 16, True, 1000, 1000, 1000),
            ("organic", 32, 32, False, 3, 0, 0),
            ("sliver", 3, 2, False, 0, None, None),
            # boundary: exactly at min_const_milli qualifies
            ("edge", 20, 20, False, 950, 0, 0),
        ]
        df = spark.createDataFrame(
            rows,
            "image_id string, w int, h int, is_flat boolean, "
            "const2_milli long, const3_milli long, const4_milli long",
        )
        out = {
            r["image_id"]: (r["upscale_k"], r["is_upscaled"])
            for r in upscale_detect(df).collect()
        }
        assert out == {
            "up4": (4, True), "up6": (3, True), "flat": (4, False),
            "organic": (None, False), "sliver": (None, False), "edge": (2, True),
        }

    def test_kernel_quarantine_and_plumbing(self, spark):
        import numpy as np

        from amazonwebcrawler_spark.functions import images as fi

        px = ((np.arange(16 * 16 * 3) * 7 + 3) % 251).reshape(16, 16, 3).astype(np.uint8)
        df = spark.createDataFrame(
            [("ok", bytearray(fi.encode_png(px))), ("bad", bytearray(b"JUNK"))],
            "image_id string, bytes binary",
        )
        rows = df.repartition(2).mapInPandas(
            fi.upscale_stats_kernel(), fi.UPSCALE_SCHEMA
        ).collect()
        assert [r["image_id"] for r in rows] == ["ok"]
        assert rows[0]["w"] == 16 and rows[0]["const2_milli"] is not None


class TestCaptionConflicts:
    """operators/images_io.caption_conflicts — both audit classes, the
    exact-duplicate exemption, and the planted world's outcomes."""

    def test_audit_classes_on_hand_table(self, spark):
        from amazonwebcrawler_spark.operators.images_io import caption_conflicts

        rows = [
            # stock: one caption over 3 distinct phashes
            ("a1", 101, "stock cap"), ("a2", 102, "stock cap"), ("a3", 103, "stock cap"),
            # two distinct phashes only → below min_stock_images
            ("b1", 201, "pair cap"), ("b2", 202, "pair cap"),
            # conflicting: one phash under two captions
            ("c1", 301, "first words"), ("c2", 301, "second words"),
            # exact duplicate pair: same caption AND same phash → neither
            ("d1", 401, "dup cap"), ("d2", 401, "dup cap"),
            ("e1", 501, "lonely"),
        ]
        df = spark.createDataFrame(rows, "image_id string, phash long, caption string")
        out = {r["image_id"]: r for r in caption_conflicts(df).collect()}
        assert len(out) == 10
        assert all(out[f"a{i}"]["stock_caption"] for i in (1, 2, 3))
        assert not any(out[f"b{i}"]["stock_caption"] for i in (1, 2))
        assert all(out[f"c{i}"]["conflicting_caption"] for i in (1, 2))
        assert not out["d1"]["stock_caption"] and not out["d1"]["conflicting_caption"]
        assert out["d1"]["n_caption_images"] == 2 and out["d1"]["n_caption_phashes"] == 1
        assert not out["e1"]["stock_caption"] and not out["e1"]["conflicting_caption"]

    def test_planted_world_outcomes(self, spark):
        import __spark_entry__ as entrymod
        from amazonwebcrawler_spark.operators.images_io import caption_conflicts

        world = entrymod._caption_conflict_rows()
        df = spark.createDataFrame(world, "image_id string, phash long, caption string")
        out = caption_conflicts(df).collect()
        stock = {r["image_id"] for r in out if r["stock_caption"]}
        confl = {r["image_id"] for r in out if r["conflicting_caption"]}
        planted_stock = {world[i - 1][0] for i in (5, 15, 25, 35, 45, 55)}
        assert stock == planted_stock
        # relabeled phash: rows 8, 20, 32 share pixels under 3 captions
        assert confl == {world[7][0], world[19][0], world[31][0]}
        dup = [r for r in out if r["image_id"] == "img-dup-of-30"]
        assert len(dup) == 1 and not dup[0]["stock_caption"] and not dup[0]["conflicting_caption"]


class TestByteShardManifest:
    """operators/images_io.byte_shard_manifest — stream arithmetic,
    no-split invariant, shard-size bound, zero-byte drop."""

    def test_stream_invariants(self, spark):
        from collections import defaultdict

        from amazonwebcrawler_spark.operators.images_io import byte_shard_manifest

        rows = [(f"im{i:04d}", (i % 13 + 1) * 700) for i in range(200)]
        rows.append(("im-empty", 0))
        df = spark.createDataFrame(rows, "image_id string, n_bytes long")
        S = 10_000
        out = byte_shard_manifest(df, shard_bytes=S, n_parts=8).collect()
        assert len(out) == 200  # zero-byte record dropped
        by_off = sorted(out, key=lambda r: r["stream_offset"])
        # stream is gapless and ordered: each record starts where the
        # previous ended
        pos = 0
        for r in by_off:
            assert r["stream_offset"] == pos
            assert r["shard_id"] == pos // S
            assert r["offset_in_shard"] == pos % S
            pos += r["n_bytes"]
        assert pos == sum(b for _, b in rows)
        # shard sizes: nominal span S, deviation bounded by one record
        max_item = max(b for _, b in rows)
        sizes = defaultdict(int)
        for r in by_off:
            sizes[r["shard_id"]] += r["n_bytes"]
        for sid, sz in sizes.items():
            if sid != max(sizes):  # last shard may be short
                assert S - max_item < sz < S + max_item, (sid, sz)

    def test_deterministic_across_partitionings(self, spark):
        from amazonwebcrawler_spark.operators.images_io import byte_shard_manifest

        rows = [(f"r{i:03d}", (i * 37) % 900 + 100) for i in range(60)]
        df1 = spark.createDataFrame(rows, "image_id string, n_bytes long")
        a = sorted(map(tuple, byte_shard_manifest(df1, 5000, n_parts=4).collect()))
        b = sorted(map(tuple, byte_shard_manifest(
            df1.repartition(13), 5000, n_parts=4).collect()))
        assert a == b
