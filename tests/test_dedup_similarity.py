"""Dedup + similarity operator tests over the driver testdata."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazonwebcrawler_spark.operators import dedup, similarity


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


class TestDedup:
    def test_exact_dedup_counts(self, spark, sf_dir):
        d = _docs(spark, sf_dir)
        out = dedup.exact_dedup(d, "text", "doc_id")
        total = d.count()
        assert out.agg(F.sum("dup_count")).collect()[0][0] == total
        assert out.count() <= total

    def test_exact_dedup_finds_planted_dup(self, spark):
        d = spark.createDataFrame(
            [(1, "a b c"), (2, "A  b   c "), (3, "different text")], "doc_id long, text string"
        )
        out = dedup.exact_dedup(d, "text", "doc_id").orderBy("doc_id").collect()
        assert [(r.doc_id, r.dup_count) for r in out] == [(1, 2), (3, 1)]

    def test_minhash_lsh_recall_vs_exact(self, spark):
        # planted near-dups: same base text with tiny perturbations
        base = " ".join(f"tok{i}" for i in range(40))
        rows = [(i, base) for i in range(5)]
        rows += [(10 + i, base.replace("tok3", f"x{i}")) for i in range(3)]
        rows += [(100 + i, " ".join(f"z{i}w{j}" for j in range(40))) for i in range(5)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(d, "text", "doc_id", threshold=0.8).collect()
        }
        exact = {
            (r.id_a, r.id_b)
            for r in dedup.ngram_jaccard_pairs(
                d.withColumn("blk", F.lit(1)), "text", "doc_id", "blk", threshold=0.8
            ).collect()
        }
        # identical docs share every band → LSH must find all exact-dup pairs
        assert got and got <= exact
        identical = {(a, b) for a in range(5) for b in range(a + 1, 5)}
        assert identical <= got

    def test_simhash_identifies_identical_docs(self, spark):
        rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
                (3, "totally other words here")]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {(r.id_a, r.id_b, r.hamming) for r in dedup.simhash_pairs(d, "text", "doc_id").collect()}
        assert (1, 2, 0) in pairs
        assert all(p[:2] != (1, 3) and p[:2] != (2, 3) for p in pairs)

    def test_simhash_relational_equals_arrow_kernel(self, spark, sf_dir):
        """The production column-math fingerprint (with_simhash64) must be
        bit-identical to the independent Arrow/numpy kernel on real docs —
        two implementations, one md5-derived contract."""
        d = _docs(spark, sf_dir).limit(200)
        rel = {r["_id"]: r["_fp"] for r in dedup.with_simhash64(d, "text", "doc_id").collect()}
        udf = dedup.simhash64_udf()
        arrow = {
            r["doc_id"]: r["fp"]
            for r in d.select("doc_id", udf(F.col("text")).alias("fp")).collect()
            if r["fp"] is not None
        }
        assert rel == arrow and len(rel) > 0

    def test_connected_components_star_chain_logn_rounds(self, spark):
        """Planted 1000-node chain: min-label would need ~1000 rounds (and
        raises past max_iter); large-star/small-star resolves it in O(log n)."""
        n = 1000
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        labels, rounds = dedup.connected_components_star(pairs)
        got = labels.collect()
        assert len(got) == n
        assert all(r.group_id == 0 for r in got)
        assert rounds <= 25, f"chain took {rounds} rounds (expected O(log n) ≈ 20)"

    def test_connected_components_star_matches_min_label(self, spark):
        """On small near-dup-shaped graphs (pairs, triangles, short chains)
        the two algorithms must produce identical (doc_id, group_id) labels."""
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (30, 31), (31, 32), (32, 33)],
            "id_a long, id_b long",
        )
        star, _ = dedup.connected_components_star(pairs)
        mlabel = dedup.connected_components(pairs)
        assert sorted(map(tuple, star.collect())) == sorted(map(tuple, mlabel.collect()))

    def test_connected_components_star_random_graphs(self, spark):
        """Seeded random graphs (mixed components: chains, cliques, stars,
        isolated pairs): the two independent CC implementations must agree
        exactly — mutual agreement is the oracle, since neither derives
        from the other."""
        import random

        for seed in (3, 17, 99):
            rng = random.Random(seed)
            n = 120
            edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(150)}
            edges = [(a, b) for a, b in edges if a != b]
            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
            star, _ = dedup.connected_components_star(pairs)
            mlabel = dedup.connected_components(pairs, max_iter=60)
            assert sorted(map(tuple, star.collect())) == sorted(map(tuple, mlabel.collect())), seed

    def test_connected_components_raises_past_max_iter(self, spark):
        """Unconverged min-label labels are wrong — must raise, not return."""
        import pytest

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(pairs, max_iter=3)


class TestSimilarity:
    def test_brute_force_topk_shape(self, spark, sf_dir):
        e = _emb(spark, sf_dir)
        qs = e.filter(F.col("vec_id") < 3)
        out = similarity.brute_force_topk(e, qs, "vec_id", "embedding", k=5)
        rows = out.collect()
        assert len(rows) == 3 * 5
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rs in by_q.items():
            ranks = sorted(r.rank for r in rs)
            assert ranks == [1, 2, 3, 4, 5]
            sims = [r.cos_sim_micro for r in sorted(rs, key=lambda r: r.rank)]
            assert sims == sorted(sims, reverse=True)
            assert all(r.neighbor_id != q for r in rs)

    def test_lsh_recall_floor(self, spark, sf_dir):
        e = _emb(spark, sf_dir)
        qs = e.filter(F.col("vec_id") < 10)
        exact = similarity.brute_force_topk(e, qs, "vec_id", "embedding", k=5)
        approx = similarity.lsh_topk(e, qs, "vec_id", "embedding", k=5, dim=64)
        ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.5, f"LSH recall@5 too low: {recall:.2f}"

    def test_ivf_recall_floor(self, spark, sf_dir):
        e = _emb(spark, sf_dir)
        qs = e.filter(F.col("vec_id") < 10)
        exact = similarity.brute_force_topk(e, qs, "vec_id", "embedding", k=5)
        approx = similarity.ivf_topk(e, qs, "vec_id", "embedding", k=5, n_centroids=16, n_probe=6)
        ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.5, f"IVF recall@5 too low: {recall:.2f}"

    def test_embedding_neardup_precision(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
            (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        ]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = {(r.id_a, r.id_b) for r in
                 similarity.embedding_neardup_pairs(e, "vec_id", "embedding", threshold=0.95, dim=4).collect()}
        assert (1, 2) in pairs
        assert all(3 not in p for p in pairs)


class TestIVFAssignPaths:
    def test_literal_and_pandas_assignment_agree(self, spark, sf_dir):
        """The broadcast-matrix pandas assignment (n_centroids >> 1e3 scale
        path) must reproduce the literal-column-math path exactly."""
        e = _emb(spark, sf_dir)
        qs = e.filter(F.col("vec_id") < 5)
        lit = similarity.ivf_topk(e, qs, "vec_id", "embedding", k=10, n_centroids=16,
                                  n_probe=4, assign="literal")
        pan = similarity.ivf_topk(e, qs, "vec_id", "embedding", k=10, n_centroids=16,
                                  n_probe=4, assign="pandas")
        rows_lit = sorted((r.query_id, r.neighbor_id, r.rank, r.cos_sim_micro) for r in lit.collect())
        rows_pan = sorted((r.query_id, r.neighbor_id, r.rank, r.cos_sim_micro) for r in pan.collect())
        assert rows_lit == rows_pan


class TestPQEncodePaths:
    def test_literal_and_pandas_encode_agree(self, spark, sf_dir):
        """The Arrow codebook encode (plan-size O(1) scale path, r6) must
        reproduce the literal-column-math path EXACTLY — codes, LUTs and
        therefore every emitted (pair, cosine, rank). _fold_dots replays
        _dot's left-to-right IEEE accumulation, so this holds bitwise,
        not just approximately."""
        e = _emb(spark, sf_dir)
        qs = e.filter(F.col("vec_id") < 5)
        lit = similarity.pq_topk(e, qs, "vec_id", "embedding", k=10, encode="literal")
        pan = similarity.pq_topk(e, qs, "vec_id", "embedding", k=10, encode="pandas")
        rows_lit = sorted((r.query_id, r.neighbor_id, r.rank, r.cos_sim_micro) for r in lit.collect())
        rows_pan = sorted((r.query_id, r.neighbor_id, r.rank, r.cos_sim_micro) for r in pan.collect())
        assert rows_lit == rows_pan


class TestLSHEncodePaths:
    def test_literal_and_pandas_buckets_agree(self, spark, sf_dir):
        """The Arrow bucket encode (r6, the pq_topk dual-path precedent)
        must reproduce the literal hyperplane-dot path EXACTLY — every
        sign bit, bucket id, candidate set and emitted (pair, cosine,
        rank). _fold_dots replays _dot's left-to-right IEEE accumulation,
        so the dot > 0 sign decisions cannot drift."""
        e = _emb(spark, sf_dir)
        qs = e.filter(F.col("vec_id") < 5)
        lit = similarity.lsh_topk(e, qs, "vec_id", "embedding", k=10, dim=64, encode="literal")
        pan = similarity.lsh_topk(e, qs, "vec_id", "embedding", k=10, dim=64, encode="pandas")
        rows_lit = sorted((r.query_id, r.neighbor_id, r.rank, r.cos_sim_micro) for r in lit.collect())
        rows_pan = sorted((r.query_id, r.neighbor_id, r.rank, r.cos_sim_micro) for r in pan.collect())
        assert rows_lit == rows_pan

    def test_n_planes_over_int32_raises(self, spark, sf_dir):
        """Bucket ids are int32: 32 sign bits would wrap in the pandas
        encode and fail the literal path's cast under ANSI, so lsh_topk
        rejects n_planes > 31 up front, in both encode modes; 31 is the
        largest accepted value."""
        import pytest

        e = _emb(spark, sf_dir)
        for encode in ("literal", "pandas"):
            with pytest.raises(ValueError, match="n_planes"):
                similarity.lsh_topk(e, e, "vec_id", "embedding", dim=64, n_planes=32, encode=encode)
        # 31 planes still plans (building the plan runs no job)
        similarity.lsh_topk(e, e, "vec_id", "embedding", dim=64, n_planes=31, n_tables=1)


class TestSimhashPlanHygiene:
    def test_simhash_plan_has_no_python_eval(self, spark, sf_dir):
        """The relational SimHash path (explode → md5 → per-bit vote
        aggregate, dedup.with_simhash64) must stay pure column math: no
        Arrow/Python eval nodes anywhere in the plan, and the bit votes
        must combine map-side (partial_sum) inside a codegen span. AQE is
        disabled for the explain — an un-executed AdaptiveSparkPlan hides
        codegen ids on any plan containing an Exchange (explain_plans.py
        NO_AQE note)."""
        import io
        from contextlib import redirect_stdout

        d = _docs(spark, sf_dir)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            df = dedup.simhash_pairs(d, "text", "doc_id", max_hamming=3)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            txt = buf.getvalue()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        for forbidden in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert forbidden not in txt, f"{forbidden} in simhash plan"
        assert "[codegen id :" in txt
        assert "partial_sum" in txt


class TestHammingNeardup:
    def test_chunk_layout(self):
        """Chunks tile all 64 bits contiguously with near-equal widths."""
        for n in (1, 3, 4, 7, 9, 13, 64):
            chunks = dedup.hamming_chunks(n)
            assert len(chunks) == n
            assert sum(w for _, w in chunks) == 64
            assert chunks[0][0] == 0
            for (off_a, w_a), (off_b, _) in zip(chunks, chunks[1:]):
                assert off_a + w_a == off_b
            widths = {w for _, w in chunks}
            assert max(widths) - min(widths) <= 1

    def test_blocked_equals_brute_force(self, spark):
        """Pigeonhole exactness on clustered random fingerprints: the
        blocked operator must return EXACTLY the brute-force O(n²) pair
        set at every threshold — including t where 64 % (t+1) != 0, the
        unequal-chunk-width path (t=5 → 11/11/11/11/10/10, t=8 → 8+8×7)
        — and t=0, the single-64-bit-chunk exact-dup setting."""
        import random

        rng = random.Random(421)
        rows = []
        fid = 0
        for _ in range(40):  # 40 clusters of 1-5 members within hamming 0-9
            base = rng.getrandbits(64)
            for _ in range(rng.randint(1, 5)):
                fp = base
                for _ in range(rng.randint(0, 9)):
                    fp ^= 1 << rng.randrange(64)
                # two's-complement into signed int64 (Spark LongType)
                rows.append((fid, fp - (1 << 64) if fp >= 1 << 63 else fp))
                fid += 1
        df = spark.createDataFrame(rows, "fid long, fp long")
        for t in (0, 1, 3, 5, 8):  # t=0 = exact-dup setting (single 64-bit chunk, no mask)
            got = {
                (r.id_a, r.id_b, r.hamming)
                for r in dedup.hamming_neardup_pairs(df, "fid", "fp", t).collect()
            }
            want = {
                (a, b, bin((fa ^ fb) & 0xFFFFFFFFFFFFFFFF).count("1"))
                for (a, fa) in rows
                for (b, fb) in rows
                if a < b and bin((fa ^ fb) & 0xFFFFFFFFFFFFFFFF).count("1") <= t
            }
            assert got == want, f"t={t}: {len(got)} got vs {len(want)} want"
        assert len(want) > 30  # the t=8 scenario is not vacuous

    def test_phash_pairs_drop_undecodable_images(self, spark):
        """A corrupt image must drop out with no fingerprint (and no
        exception), never pairing with anything; the surviving planted
        codec-variant pair is still found."""
        from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

        base = block_image_record("pd-0")
        var = block_image_record("pd-0", flip_cells=1, fmt="jpeg")
        other = block_image_record("pd-other")
        rows = [
            ("pd-0", bytearray(base["bytes"])),
            ("pd-0-v", bytearray(var["bytes"])),
            ("pd-other", bytearray(other["bytes"])),
            ("pd-corrupt", bytearray(b"NOTANIMAGE" + base["bytes"][10:])),
        ]
        df = spark.createDataFrame(rows, "image_id string, bytes binary")
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.phash_neardup_pairs(df, max_hamming=2).collect()
        }
        assert got == {("pd-0", "pd-0-v", 1)}

    def test_phash_pairs_pure_column_path(self, spark):
        """bytes_col=None trusts the stored phash column — the plan must
        stay JVM-only (no Python eval nodes)."""
        import io
        from contextlib import redirect_stdout

        df = spark.createDataFrame(
            [("a", 0), ("b", 1), ("c", -1)], "image_id string, phash long"
        )
        out = dedup.phash_neardup_pairs(df, bytes_col=None, max_hamming=2)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        txt = buf.getvalue()
        for forbidden in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert forbidden not in txt
        assert {(r.id_a, r.id_b, r.hamming) for r in out.collect()} == {("a", "b", 1)}


class TestKeepCanonical:
    def _docs_pairs(self, spark):
        # components: {1,2,3} chain, {10,11} tie on quality, {20} singleton
        docs = spark.createDataFrame(
            [(1, 100), (2, 300), (3, 200), (10, 50), (11, 50), (20, 70)],
            "doc_id long, n_chars long",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        return docs, pairs

    def test_keep_decision(self, spark):
        """Highest quality wins, quality ties break to the smallest id,
        singletons keep themselves; exactly one keep per group; group_id
        is the component minimum for every member."""
        docs, pairs = self._docs_pairs(spark)
        got = {
            (r.doc_id, r.group_id, r.keep)
            for r in dedup.keep_canonical(docs, pairs).collect()
        }
        assert got == {
            (1, 1, 0), (2, 1, 1), (3, 1, 0),   # chain collapses; 2 is longest
            (10, 10, 1), (11, 10, 0),          # tie → smallest id keeps
            (20, 20, 1),                       # singleton
        }

    def test_star_path_identical(self, spark):
        docs, pairs = self._docs_pairs(spark)
        a = set(map(tuple, dedup.keep_canonical(docs, pairs).collect()))
        b = set(map(tuple, dedup.keep_canonical(docs, pairs, use_star=True).collect()))
        assert a == b

    def test_one_keep_per_group_on_lsh_pairs(self, spark, sf_dir):
        """Over real MinHash pairs: every group elects exactly one keeper,
        every doc appears exactly once, and kept rows ARE the dedup output."""
        d = _docs(spark, sf_dir)
        pairs = dedup.minhash_lsh_pairs(
            d, "text", "doc_id", k=16, n_bands=4,
            threshold=0.5, shingle_n=3, max_bucket=200,
        )
        out = dedup.keep_canonical(d, pairs).cache()
        try:
            n_docs = d.count()
            assert out.count() == n_docs
            assert out.select("doc_id").distinct().count() == n_docs
            per_group = out.groupBy("group_id").agg(
                F.sum("keep").alias("n_keep")
            )
            assert per_group.filter("n_keep <> 1").count() == 0
        finally:
            out.unpersist()


class TestImageEmbeddings:
    def test_kernel_geometry(self):
        """Unit vector, deterministic, and codec-robust: a master and its
        lossy re-encode are near-parallel while distinct patterns are not."""
        import numpy as np

        from amazonwebcrawler_spark.functions.images import decode_image, embed_image
        from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

        a = block_image_record("emb-a")
        a_jpeg = block_image_record("emb-a", fmt="jpeg")
        b = block_image_record("emb-b")
        va = np.array(embed_image(decode_image(a["bytes"])))
        vaj = np.array(embed_image(decode_image(a_jpeg["bytes"])))
        vb = np.array(embed_image(decode_image(b["bytes"])))
        assert len(va) == 48
        assert abs(np.linalg.norm(va) - 1.0) < 1e-4
        assert va @ vaj > 0.999          # re-encode barely moves the vector
        assert abs(va @ vb) < 0.8        # unrelated patterns scatter
        assert embed_image(decode_image(a["bytes"])) == list(va)  # deterministic

    def test_table_drops_undecodable(self, spark):
        from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

        good = block_image_record("emb-ok")
        rows = [
            ("emb-ok", bytearray(good["bytes"])),
            ("emb-bad", bytearray(b"JUNK" + good["bytes"][4:])),
        ]
        df = spark.createDataFrame(rows, "image_id string, bytes binary")
        out = similarity.image_embedding_table(df).collect()
        assert [r.image_id for r in out] == ["emb-ok"]
        assert len(out[0].embedding) == 48

    def test_feeds_ann_family(self, spark):
        """The embedding table plugs into brute_force_topk unchanged and
        retrieves each master's re-encode first."""
        from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

        rows = []
        for i in range(6):
            base = block_image_record(f"fam-{i}")
            var = block_image_record(f"fam-{i}", flip_cells=1, fmt="jpeg")
            rows.append((base["image_id"], bytearray(base["bytes"])))
            rows.append((f"{var['image_id']}-v", bytearray(var["bytes"])))
        df = spark.createDataFrame(rows, "image_id string, bytes binary")
        emb = similarity.image_embedding_table(df)
        qs = emb.filter(F.col("image_id") == "fam-0")
        top = similarity.brute_force_topk(emb, qs, "image_id", "embedding", k=1).collect()
        assert [(r.query_id, r.neighbor_id, r.rank) for r in top] == [("fam-0", "fam-0-v", 1)]


    def test_image_embeddings_through_ivf(self, spark):
        """Composition with the approximate scale path: image embeddings
        through ivf_topk must reach the same top-1 (the re-encode) as
        brute force for every query — the IVF plumbing is vector-source
        agnostic."""
        from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

        rows = []
        for i in range(8):
            base = block_image_record(f"ivf-{i}")
            var = block_image_record(f"ivf-{i}", flip_cells=1, fmt="jpeg")
            rows.append((base["image_id"], bytearray(base["bytes"])))
            rows.append((f"{var['image_id']}-v", bytearray(var["bytes"])))
        df = spark.createDataFrame(rows, "image_id string, bytes binary")
        emb = similarity.image_embedding_table(df).cache()
        try:
            qs = emb.filter(F.col("image_id").isin("ivf-0", "ivf-1"))
            top = similarity.ivf_topk(
                emb, qs, "image_id", "embedding", k=1, n_centroids=4, n_probe=2
            ).collect()
            assert {(r.query_id, r.neighbor_id) for r in top} == {
                ("ivf-0", "ivf-0-v"), ("ivf-1", "ivf-1-v"),
            }
        finally:
            emb.unpersist()

class TestKeepCanonicalProperties:
    def test_random_graphs_match_union_find_oracle(self, spark):
        """Seeded random corpora + pair graphs: the distributed decision
        must equal an independent python union-find + election oracle —
        exactly one keeper per group, keeper = (max quality, min id),
        group_id = component minimum, singletons untouched."""
        import random

        for seed in (7, 23, 61):
            rng = random.Random(seed)
            n = 80
            docs = [(i, rng.randrange(1, 200)) for i in range(n)]
            edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(50)}
            edges = [(a, b) for a, b in edges if a != b]
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            groups: dict[int, list[int]] = {}
            for i in range(n):
                groups.setdefault(find(i), []).append(i)
            quality = dict(docs)
            expected = set()
            for members in groups.values():
                gid = min(members)
                keeper = min(members, key=lambda m: (-quality[m], m))
                for m in members:
                    expected.add((m, gid, int(m == keeper)))

            docs_df = spark.createDataFrame(docs, "doc_id long, n_chars long")
            pairs_df = spark.createDataFrame(edges, "id_a long, id_b long")
            got = {
                (r.doc_id, r.group_id, r.keep)
                for r in dedup.keep_canonical(docs_df, pairs_df, use_star=True).collect()
            }
            assert got == expected, f"seed={seed}"



class TestEmbedTinyImages:
    def test_tiny_image_embedding_is_finite(self, spark):
        """Images smaller than the grid must yield a finite unit vector
        (empty grid cells used to produce an all-NaN embedding that sorted
        ABOVE every real cosine in the ANN window), and must not poison
        retrieval when mixed into a corpus."""
        import numpy as np

        from amazonwebcrawler_spark.functions.images import embed_image, encode_png
        from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

        tiny = np.array([[[10, 20, 30], [200, 100, 50]],
                         [[0, 255, 128], [90, 90, 90]]], dtype=np.uint8)
        v = np.array(embed_image(tiny))
        assert np.isfinite(v).all()
        assert abs(np.linalg.norm(v) - 1.0) < 1e-4

        base = block_image_record("tiny-0")
        var = block_image_record("tiny-0", flip_cells=1, fmt="jpeg")
        rows = [
            ("tiny-0", bytearray(base["bytes"])),
            ("tiny-0-v", bytearray(var["bytes"])),
            ("tiny-blob", bytearray(encode_png(tiny))),
        ]
        df = spark.createDataFrame(rows, "image_id string, bytes binary")
        emb = similarity.image_embedding_table(df)
        qs = emb.filter(F.col("image_id") == "tiny-0")
        top = similarity.brute_force_topk(emb, qs, "image_id", "embedding", k=1).collect()
        assert [(r.query_id, r.neighbor_id) for r in top] == [("tiny-0", "tiny-0-v")]


class TestAlignmentFilter:
    def test_closed_form_scores_and_threshold(self, spark):
        from amazonwebcrawler_spark.operators.similarity import alignment_filter

        rows = [
            ("same", [1.0, 2.0, 2.0], [2.0, 4.0, 4.0]),   # colinear -> 1.0
            ("orth", [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),   # orthogonal -> 0.0
            ("anti", [1.0, 0.0, 0.0], [-1.0, 0.0, 0.0]),  # opposite -> -1.0
            ("zero", [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),   # zero norm -> 0.0 guard
            ("half", [1.0, 0.0], [1.0, 1.0]),             # cos 45deg
        ]
        df = spark.createDataFrame(
            rows, "pair_id string, a array<double>, b array<double>"
        )
        got = {r.pair_id: r for r in alignment_filter(df, "a", "b", 0.7).collect()}
        assert got["same"].alignment == 1_000_000 and got["same"].keep
        assert got["orth"].alignment == 0 and not got["orth"].keep
        assert got["anti"].alignment == -1_000_000
        assert got["zero"].alignment == 0
        assert got["half"].alignment == round(2 ** -0.5 * 1e6) and got["half"].keep

    def test_map_only_plan(self, spark):
        """The filter must be a pure projection over the pair table — no
        exchange, no join, no Python node: at 100 TB it pipelines behind
        the encoder stage."""
        import io
        from contextlib import redirect_stdout

        from amazonwebcrawler_spark.operators.similarity import alignment_filter

        df = spark.createDataFrame(
            [("x", [1.0], [1.0])], "pair_id string, a array<double>, b array<double>"
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            alignment_filter(df, "a", "b", 0.5).explain("formatted")
        txt = buf.getvalue()
        for bad in ("Exchange", "Join", "ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert bad not in txt, bad


class TestHammingMaxBucket:
    def test_degenerate_cluster_guard(self, spark):
        """A 50-strong identical-fingerprint cluster floods every chunk
        bucket; with max_bucket set its intra-cluster pairs are dropped
        while a diverse near-pair elsewhere is still found. Default (None)
        stays exact and returns the full quadratic cluster."""
        from amazonwebcrawler_spark.operators.dedup import hamming_neardup_pairs

        rows = [(f"c{k}", 0x0F0F0F0F0F0F0F0F) for k in range(50)]
        rows += [("a", 0x1234567890ABCDEF), ("b", 0x1234567890ABCDEE)]  # hamming 1
        df = spark.createDataFrame(rows, "id string, fp long").repartition(4)
        guarded = hamming_neardup_pairs(df, "id", "fp", max_hamming=2, max_bucket=10)
        got = {(r.id_a, r.id_b) for r in guarded.collect()}
        assert got == {("a", "b")}
        exact = hamming_neardup_pairs(df, "id", "fp", max_hamming=2)
        assert exact.count() == 50 * 49 // 2 + 1


class TestHammingIncrementalJoin:
    def test_cross_only_and_exact(self, spark):
        """Batch×corpus pairs only (no intra-side pair may appear), and the
        pair set equals the brute-force cross scan."""
        from amazonwebcrawler_spark.functions.images import hamming64
        from amazonwebcrawler_spark.operators.dedup import hamming_neardup_join

        new_rows = [("n0", 0x00FF00FF00FF00FF), ("n1", 0x00FF00FF00FF00FE),
                    ("n2", 0x7777777777777777)]
        corpus_rows = [("c0", 0x00FF00FF00FF00FF),   # hamming 0 to n0, 1 to n1
                       ("c1", 0x00FF00FF00FF00FC),   # 2 to n0, 1 to n1
                       ("c2", 0x1111111111111111)]   # far from everything
        nd = spark.createDataFrame(new_rows, "id string, fp long")
        cd = spark.createDataFrame(corpus_rows, "id string, fp long")
        got = {
            (r.new_id, r.corpus_id, r.hamming)
            for r in hamming_neardup_join(nd, cd, "id", "fp", max_hamming=2).collect()
        }
        want = {
            (a, b, hamming64(fa, fb))
            for a, fa in new_rows
            for b, fb in corpus_rows
            if hamming64(fa, fb) <= 2
        }
        assert got == want and all(a.startswith("n") and b.startswith("c") for a, b, _ in got)

    def test_corpus_side_bucket_guard(self, spark):
        """max_bucket measured on the corpus side: a degenerate corpus
        cluster is skipped, a diverse corpus match still lands."""
        from amazonwebcrawler_spark.operators.dedup import hamming_neardup_join

        nd = spark.createDataFrame(
            [("n0", 0x0F0F0F0F0F0F0F0F), ("n1", 0x1234567890ABCDEF)],
            "id string, fp long",
        )
        corpus_rows = [(f"c{k}", 0x0F0F0F0F0F0F0F0F) for k in range(40)]
        corpus_rows.append(("match", 0x1234567890ABCDEE))
        cd = spark.createDataFrame(corpus_rows, "id string, fp long")
        got = {
            (r.new_id, r.corpus_id)
            for r in hamming_neardup_join(
                nd, cd, "id", "fp", max_hamming=2, max_bucket=10
            ).collect()
        }
        assert got == {("n1", "match")}


class TestNegativePairs:
    def test_matches_python_oracle(self, spark):
        """The pair choice is a pure function of the data — recompute the
        bucket/order/cyclic-partner arithmetic in plain Python and demand
        the identical pair set."""
        import hashlib

        from amazonwebcrawler_spark.operators.similarity import negative_pairs

        ids = list(range(60))
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        k, n_buckets, salt = 2, 4, "t"
        got = sorted(
            (r["anchor_id"], r["j"], r["negative_id"])
            for r in negative_pairs(df, "doc_id", k=k, n_buckets=n_buckets, salt=salt).collect()
        )

        def h(i):
            return hashlib.md5((salt + str(i)).encode()).hexdigest()

        want = []
        buckets = {}
        for i in ids:
            buckets.setdefault(int(h(i)[:8], 16) % n_buckets, []).append(i)
        for members in buckets.values():
            members.sort(key=lambda i: (h(i), i))
            n = len(members)
            for rn, i in enumerate(members):
                for j in range(1, k + 1):
                    partner = members[(rn + j) % n]
                    if partner != i:
                        want.append((i, j, partner))
        assert got == sorted(want) and len(got) > 0

    def test_exactly_k_distinct_negatives_in_large_bucket(self, spark):
        from pyspark.sql import functions as F

        from amazonwebcrawler_spark.operators.similarity import negative_pairs

        df = spark.range(100).select(F.col("id").alias("doc_id"))
        out = negative_pairs(df, "doc_id", k=3, n_buckets=1)
        per_anchor = out.groupBy("anchor_id").agg(
            F.count("*").alias("n"), F.countDistinct("negative_id").alias("nd")
        )
        rows = per_anchor.collect()
        assert len(rows) == 100
        assert all(r["n"] == 3 and r["nd"] == 3 for r in rows)
        assert out.filter(F.col("anchor_id") == F.col("negative_id")).count() == 0

    def test_singleton_bucket_yields_no_pairs(self, spark):
        from amazonwebcrawler_spark.operators.similarity import negative_pairs

        df = spark.createDataFrame([(1,)], "doc_id long")
        assert negative_pairs(df, "doc_id", k=2, n_buckets=1).count() == 0


class TestBucketedChunkTable:
    """write_chunk_table + corpus_chunked join: same pairs as the inline
    path, with ZERO corpus-side shuffle (the 10^10-row side is read
    pre-partitioned on the blocking key)."""

    def _data(self, spark):
        from pyspark.sql import functions as F

        corpus = spark.range(200).select(
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("id"),
            ((F.col("id") * 2654435761) % (1 << 62)).alias("fp"),
        )
        # batch: half exact corpus fingerprints, half 2-bit flips, a few novel
        new = spark.range(30).select(
            F.concat(F.lit("n"), F.col("id").cast("string")).alias("id"),
            F.when(F.col("id") % 3 == 0, (F.col("id") * 2654435761) % (1 << 62))
            .when(F.col("id") % 3 == 1,
                  ((F.col("id") * 2654435761) % (1 << 62)).bitwiseXOR(F.lit(0b101)))
            .otherwise(F.lit((1 << 61) + 12345) + F.col("id"))
            .alias("fp"),
        )
        return corpus, new

    def test_bucketed_join_same_pairs_no_corpus_shuffle(self, spark, tmp_path):
        from amazonwebcrawler_spark.operators import dedup

        corpus, new = self._data(spark)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS awc_test LOCATION '{tmp_path}/db'")
        spark.sql("DROP TABLE IF EXISTS awc_test.chunks")
        dedup.write_chunk_table(
            corpus, "id", "fp", "awc_test.chunks",
            max_hamming=2, n_buckets=8, path=f"{tmp_path}/chunks",
        )
        chunks = spark.table("awc_test.chunks")

        want = sorted(
            map(tuple, dedup.hamming_neardup_join(new, corpus, "id", "fp", max_hamming=2).collect())
        )
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            out = dedup.hamming_neardup_join(
                new, chunks, "id", "fp", max_hamming=2, corpus_chunked=True
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            got = sorted(map(tuple, out.collect()))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
            spark.conf.set("spark.sql.adaptive.enabled", "true")

        assert got == want and len(got) > 0
        assert "SortMergeJoin" in plan
        # exactly ONE exchange on the blocking key (c, v) — the batch side
        # moving to the bucket layout; the corpus scan is pre-partitioned
        # (Bucketed: true). The only other exchange is the post-join
        # distinct, sized by candidate pairs, never by the corpus.
        import re

        chunk_exchanges = re.findall(r"Exchange hashpartitioning\(c#\d+L?, v#\d+L?", plan)
        assert len(chunk_exchanges) == 1, plan[:1500]
        assert plan.count("Exchange hashpartitioning") == 2, plan[:1500]
        assert "Bucketed: true" in plan


class TestQuantizeEmbeddings:
    def test_roundtrip_preserves_cosine(self, spark):
        import math

        from pyspark.sql import functions as F

        from amazonwebcrawler_spark.operators.similarity import quantize_embeddings

        rows = [(i, [math.sin(i * 13 + d) for d in range(16)]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r["vec_id"]: (list(r["q"]), r["scale"]) for r in
               quantize_embeddings(df, "vec_id", "embedding").collect()}
        for i, emb in rows:
            q, s = out[i]
            assert all(-127 <= v <= 127 for v in q)
            deq = [v / s for v in q]
            dot = sum(a * b for a, b in zip(emb, deq))
            na = math.sqrt(sum(a * a for a in emb))
            nb = math.sqrt(sum(b * b for b in deq))
            assert dot / (na * nb) > 0.999  # int8 keeps cosine to ~0.1%

    def test_zero_vector_guard(self, spark):
        from amazonwebcrawler_spark.operators.similarity import quantize_embeddings

        df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
        r = quantize_embeddings(df, "vec_id", "embedding").collect()[0]
        assert list(r["q"]) == [0, 0, 0] and r["scale"] == 0.0

    def test_int8_shortlist_recall(self, spark, sf_dir):
        """The operational claim: retrieval shortlists computed on the
        int8 codes recover the exact top-1 neighbor for ≥90% of queries
        (rescore-at-full-precision then fixes the rest)."""
        import math

        from amazonwebcrawler_spark.operators.similarity import quantize_embeddings

        e = _emb(spark, sf_dir).limit(300)
        rows = {r["vec_id"]: list(r["embedding"]) for r in e.collect()}
        qz = {r["vec_id"]: (list(r["q"]), r["scale"]) for r in
              quantize_embeddings(e, "vec_id", "embedding").collect()}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)) + 1e-12)

        hits = 0
        queries = sorted(rows)[:20]
        for qid in queries:
            exact = max((i for i in rows if i != qid), key=lambda i: cos(rows[qid], rows[i]))
            int8 = max(
                (i for i in qz if i != qid),
                key=lambda i: cos([float(v) for v in qz[qid][0]], [float(v) for v in qz[i][0]]),
            )
            hits += int(exact == int8)
        assert hits >= 18, f"int8 top-1 recall {hits}/20"


class TestSubstringDedup:
    """operators/dedup.duplicated_span_profile — the ExactSubstr rule
    (Lee et al. 2022) in relational form, vs an independent Python oracle."""

    K = 8

    @staticmethod
    def _oracle(rows, k):
        import hashlib
        import re
        from collections import Counter

        def norm(t):
            return re.sub(r"\s+", " ", t.lower()).strip()

        toks = {i: (norm(t).split(" ") if norm(t) else []) for i, t in rows}
        counts = Counter(
            " ".join(tk[p : p + k])
            for tk in toks.values()
            for p in range(len(tk) - k + 1)
        )
        out = {}
        for i, tk in toks.items():
            merged = []
            for p in range(len(tk) - k + 1):
                if counts[" ".join(tk[p : p + k])] < 2:
                    continue
                if merged and p <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], p + k)
                else:
                    merged.append([p, p + k])
            dup = sum(e - s for s, e in merged)
            kept = [t for j, t in enumerate(tk) if not any(s <= j < e for s, e in merged)]
            out[i] = (
                len(tk),
                len(merged),
                dup,
                len(tk) - dup,
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        return out

    def _check(self, spark, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens, r.kept_tokens, r.clean_fp)
            for r in dedup.duplicated_span_profile(df, "text", "doc_id", k=self.K).collect()
        }
        assert got == self._oracle(rows, self.K)

    def test_cross_doc_and_intra_doc_spans(self, spark):
        shared = " ".join(f"s{i}" for i in range(14))
        rows = [
            (1, shared + " unique tail one"),
            (2, "prefix words here " + shared),
            (3, "totally unrelated text about yoga mats and fitted sheets in a queen"),
            (4, "short doc"),
            (5, ""),
            # intra-doc repetition: the same 8-gram twice in ONE doc counts
            (6, "a b c d e f g h a b c d e f g h tail tail2"),
        ]
        self._check(spark, rows)

    def test_overlapping_windows_merge_into_one_span(self, spark):
        # a 20-token shared passage → 13 overlapping duplicated 8-gram
        # windows that must merge into exactly ONE span of 20 tokens
        shared = " ".join(f"p{i}" for i in range(20))
        rows = [(1, "x " + shared + " y"), (2, shared)]
        self._check(spark, rows)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r1 = {
            r.doc_id: r
            for r in dedup.duplicated_span_profile(df, "text", "doc_id", k=self.K).collect()
        }
        assert r1[1].n_dup_spans == 1 and r1[1].dup_tokens == 20
        assert r1[2].kept_tokens == 0

    def test_disjoint_spans_stay_separate(self, spark):
        a = " ".join(f"a{i}" for i in range(8))
        b = " ".join(f"b{i}" for i in range(8))
        gap = " ".join(f"g{i}" for i in range(5))  # < K, can't be duplicated
        rows = [(1, f"{a} {gap} {b}"), (2, a + " zz"), (3, "qq " + b)]
        self._check(spark, rows)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        row1 = (
            dedup.duplicated_span_profile(df, "text", "doc_id", k=self.K)
            .filter(F.col("doc_id") == 1)
            .collect()[0]
        )
        assert row1.n_dup_spans == 2 and row1.dup_tokens == 16

    def test_repartition_invariance(self, spark):
        shared = " ".join(f"s{i}" for i in range(14))
        rows = [(i, (shared + f" t{i}") if i % 2 == 0 else f"solo text {i} " * 5) for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        one = dedup.duplicated_span_profile(df.coalesce(1), "text", "doc_id", k=self.K)
        many = dedup.duplicated_span_profile(df.repartition(16), "text", "doc_id", k=self.K)
        assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


class TestMultimodalDedup:
    """operators/dedup.multimodal_dedup_keep — image OR caption edges must
    union before grouping (mixed-modality chains collapse)."""

    def test_mixed_modality_chain_collapses(self, spark):
        from amazonwebcrawler_spark.sources import synthetic_world as world

        a = world.block_image_record("mm-a")
        a_re = world.block_image_record("mm-a", flip_cells=1, fmt="jpeg")  # image edge to a
        c = world.block_image_record("mm-c")  # different pixels
        d = world.block_image_record("mm-d")  # unrelated singleton
        capt = "the quick brown fox jumps over a lazy dog near the riverbank today"
        rows = [
            ("a", bytearray(a["bytes"]), capt),
            ("b", bytearray(a_re["bytes"]), "completely different words apple pear plum melon grape kiwi fig date"),
            # caption edge b→c: identical caption to b's
            ("c", bytearray(c["bytes"]), "completely different words apple pear plum melon grape kiwi fig date"),
            ("d", bytearray(d["bytes"]), capt + " entirely changed tail words making jaccard low " + " ".join(f"x{i}" for i in range(12))),
        ]
        df = spark.createDataFrame(rows, "image_id string, bytes binary, caption string")
        out = {r.doc_id: (r.group_id, r.keep) for r in dedup.multimodal_dedup_keep(df).collect()}
        # a ~image~ b ~caption~ c: one group labelled 'a'
        assert out["a"][0] == out["b"][0] == out["c"][0] == "a"
        assert sum(keep for _, keep in (out["a"], out["b"], out["c"])) == 1
        # keeper is the biggest record of the group
        sizes = {iid: len(b) for iid, b, _ in rows}
        keeper = min(("a", "b", "c"), key=lambda m: (-sizes[m], m))
        assert out[keeper][1] == 1
        # d shares neither pixels nor enough shingles: singleton, kept
        assert out["d"] == ("d", 1)

    def test_caption_only_and_image_only_edges(self, spark):
        from amazonwebcrawler_spark.sources import synthetic_world as world

        p = world.block_image_record("mm-p")
        q = world.block_image_record("mm-q")
        p_re = world.block_image_record("mm-p", flip_cells=2, fmt="jpeg")
        cap = "twenty tokens of caption text describing a single curated product photo on white background here"
        rows = [
            ("p", bytearray(p["bytes"]), cap),
            ("q", bytearray(q["bytes"]), cap + " extra"),      # caption edge only
            ("r", bytearray(p_re["bytes"]), "unrelated alt text words entirely"),  # image edge only
        ]
        df = spark.createDataFrame(rows, "image_id string, bytes binary, caption string")
        out = {r.doc_id: r.group_id for r in dedup.multimodal_dedup_keep(df).collect()}
        assert out["p"] == out["q"] == out["r"] == "p"


class TestSemanticDedup:
    """operators/similarity.semantic_dedup_keep — SemDeDup planted-pair
    recall, threshold rejection, and parallelism invariance."""

    def _fixture(self, spark):
        import numpy as np

        rng = np.random.default_rng(123)
        rows = []
        for i in range(60):
            v = rng.normal(size=16)
            v /= np.linalg.norm(v)
            rows.append((i, [float(x) for x in v]))
        # near-dup of every 6th (cos ~ 1), below-threshold blend of every 9th
        for i, v in list(rows):
            if i % 6 == 0:
                p = list(v)
                p[0] += 1e-3
                rows.append((i + 1000, p))
            if i % 9 == 0:
                w = rows[(i + 1) % 60][1]
                rows.append((i + 2000, [0.8 * a + 0.6 * b for a, b in zip(v, w)]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_planted_pairs_group_and_blends_stay_single(self, spark):
        df = self._fixture(spark)
        out = {
            r.doc_id: (r.group_id, r.keep)
            for r in similarity.semantic_dedup_keep(
                df, "vec_id", "embedding", threshold=0.95, n_centroids=8, sample_size=256
            ).collect()
        }
        assert len(out) == df.count()
        for i in range(60):
            if i % 6 == 0:
                assert out[i][0] == out[i + 1000][0] == i, i
                assert out[i][1] + out[i + 1000][1] == 1, i
            if i % 9 == 0:
                assert out[i + 2000] == (i + 2000, 1), i
            if i % 6 and i % 9:
                assert out[i] == (i, 1), i

    def test_parallelism_invariance(self, spark):
        df = self._fixture(spark)
        one = similarity.semantic_dedup_keep(
            df.coalesce(1), "vec_id", "embedding", n_centroids=8, sample_size=256
        )
        many = similarity.semantic_dedup_keep(
            df.repartition(16), "vec_id", "embedding", n_centroids=8, sample_size=256
        )
        assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


class TestSubstringDedupRandomized:
    """Seeded randomized corpus (messy whitespace/case, heavy gram reuse)
    vs the Python oracle — one Spark job over 120 docs."""

    def test_random_corpus_matches_oracle(self, spark):
        import numpy as np

        rng = np.random.default_rng(777)
        vocab = [f"w{i}" for i in range(12)]  # tiny vocab → many shared 8-grams
        rows = []
        for i in range(120):
            n = int(rng.integers(0, 30))
            toks = [vocab[int(j)] for j in rng.integers(0, len(vocab), n)]
            # inject messy spacing and case
            sep = ["  ", " ", "\t", "   "]
            text = ""
            for t in toks:
                text += (t.upper() if rng.integers(0, 2) else t) + sep[int(rng.integers(0, 4))]
            rows.append((i, text))
        got = {
            r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens, r.kept_tokens, r.clean_fp)
            for r in dedup.duplicated_span_profile(
                spark.createDataFrame(rows, "doc_id long, text string"), "text", "doc_id", k=8
            ).collect()
        }
        assert got == TestSubstringDedup._oracle(rows, 8)


class TestRecallAtK:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "query_id long, neighbor_id long, rank int")

    def test_hand_counted(self, spark):
        """recall@3 over hand-built results: full hit, partial, zero, and a
        query the approximate index dropped entirely (still gets a row)."""
        from amazonwebcrawler_spark.operators.similarity import recall_at_k

        exact = self._df(
            spark,
            [(1, 10, 1), (1, 11, 2), (1, 12, 3),
             (2, 20, 1), (2, 21, 2), (2, 22, 3),
             (3, 30, 1), (3, 31, 2),          # n_exact < k: thin corpus
             (4, 40, 1), (4, 41, 2), (4, 42, 3)],
        )
        approx = self._df(
            spark,
            [(1, 10, 1), (1, 11, 2), (1, 12, 3),   # 3/3
             (2, 20, 1), (2, 99, 2), (2, 22, 4),   # rank 4 filtered → 1/3
             (3, 98, 1), (3, 97, 2)],              # 0/2; query 4 missing
        )
        got = {r.query_id: (r.n_exact, r.n_hits, r.recall_micro)
               for r in recall_at_k(approx, exact, k=3).collect()}
        assert got == {
            1: (3, 3, 1_000_000),
            2: (3, 1, 333_333),
            3: (2, 0, 0),
            4: (3, 0, 0),
        }

    def test_lsh_vs_brute_force_end_to_end(self, spark):
        """Composed over the real operators: recall of lsh_topk against
        brute_force_topk equals a Python set re-derivation of the same."""
        import random

        from amazonwebcrawler_spark.operators.similarity import (
            brute_force_topk, lsh_topk, recall_at_k,
        )

        rng = random.Random(7)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qs = e.filter("vec_id < 4")
        exact = brute_force_topk(e, qs, "vec_id", "embedding", k=5)
        approx = lsh_topk(e, qs, "vec_id", "embedding", k=5, dim=8, n_planes=4)
        got = {r.query_id: (r.n_exact, r.n_hits) for r in
               recall_at_k(approx, exact, k=5).collect()}
        ex = {}
        for r in exact.collect():
            ex.setdefault(r.query_id, set()).add(r.neighbor_id)
        ap = {}
        for r in approx.collect():
            ap.setdefault(r.query_id, set()).add(r.neighbor_id)
        want = {q: (len(s), len(s & ap.get(q, set()))) for q, s in ex.items()}
        assert got == want
        assert set(got) == {0, 1, 2, 3}


class TestContainmentPairs:
    @staticmethod
    def _py_mirror(docs, threshold=0.8, n=3, max_df=10):
        """Pure-Python mirror: normalize → distinct 3-gram shingles →
        rare-shingle blocking → exact containment, integer micro floors."""
        import re

        sh = {}
        for i, t in docs:
            toks = [w for w in re.sub(r"\s+", " ", t.lower()).strip().split(" ") if w]
            sh[i] = {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)} if len(toks) >= n else set()
        from collections import Counter

        dfreq = Counter(s for g in sh.values() for s in g)
        rare = {s for s, c in dfreq.items() if 2 <= c <= max_df}
        cand = set()
        ids = sorted(sh)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                if (sh[a] & sh[b]) & rare:
                    cand.add((a, b))
        thr = round(threshold * 1_000_000)
        out = {}
        for a, b in cand:
            ni = len(sh[a] & sh[b])
            if ni == 0:
                continue
            ca, cb = ni * 1_000_000 // len(sh[a]), ni * 1_000_000 // len(sh[b])
            if max(ca, cb) >= thr:
                out[(a, b)] = (ni, ca, cb)
        return out

    def _run(self, spark, docs, **kw):
        d = spark.createDataFrame(docs, "doc_id long, text string")
        return {
            (r.id_a, r.id_b): (r.n_inter, r.cont_a_micro, r.cont_b_micro)
            for r in dedup.containment_pairs(d, "text", "doc_id", **kw).collect()
        }

    def test_quote_in_superset_found_where_jaccard_misses(self, spark):
        """The operator's reason to exist: a short quote inside a much
        longer document has containment ≈ 1 but Jaccard ≈ |A|/|B| far
        under 0.5 — ngram_jaccard_pairs at 0.5 misses the pair,
        containment_pairs at 0.8 catches it."""
        quote = "the quick brown fox jumps over the lazy dog near the river bank today"
        filler = " ".join(f"unrelated filler token{i} for doc body" for i in range(40))
        docs = [(1, quote), (2, quote + " " + filler)]
        got = self._run(spark, docs)
        assert (1, 2) in got
        ni, ca, cb = got[(1, 2)]
        assert ca == 1_000_000          # every shingle of the quote is in the superset
        assert cb < 500_000             # but the superset is NOT mostly the quote
        d = spark.createDataFrame([(i, t, "en") for i, t in docs], "doc_id long, text string, lang string")
        jac = dedup.ngram_jaccard_pairs(d, "text", "doc_id", "lang", threshold=0.5).collect()
        assert jac == []                # symmetric Jaccard at 0.5 misses it

    def test_matches_python_mirror_exactly(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = [
            (1, base),
            (2, base + " lambda mu nu xi omicron pi rho sigma tau upsilon"),
            (3, "totally different content about ships and harbors and tides"),
            (4, base),  # exact dup of 1 — mutual containment 1.0
            (5, ""),    # empty doc — no shingles, never pairs
        ]
        got = self._run(spark, docs)
        want = self._py_mirror(docs)
        assert got == want
        assert (1, 4) in got and got[(1, 4)][1] == got[(1, 4)][2] == 1_000_000

    def test_pairs_sharing_only_ubiquitous_shingles_blocked(self, spark):
        """Documented post-blocking semantic: a shingle carried by more
        than max_df docs generates no candidates — two docs overlapping
        ONLY through it never pair."""
        common = "one two three"
        docs = [(i, common) for i in range(1, 13)]  # df=12 > max_df=10
        got = self._run(spark, docs, max_df=10)
        assert got == {}
        # the same corpus pairs fine once max_df admits the shingle
        got_loose = self._run(spark, docs, max_df=12)
        assert len(got_loose) == 66  # C(12,2) mutual exact dups


class TestPQTopk:
    def test_subspace_bounds_arithmetic(self):
        assert similarity._subspace_bounds(64, 4) == [(0, 16), (16, 16), (32, 16), (48, 16)]
        assert similarity._subspace_bounds(10, 3) == [(0, 4), (4, 3), (7, 3)]
        # widths cover the vector exactly, no overlap
        for dim, m in ((64, 4), (10, 3), (7, 7), (5, 2)):
            b = similarity._subspace_bounds(dim, m)
            assert sum(w for _, w in b) == dim
            assert all(b[i][0] + b[i][1] == b[i + 1][0] for i in range(len(b) - 1))

    def test_pq_recall_floor(self, spark, sf_dir):
        e = _emb(spark, sf_dir)
        qs = e.filter(F.col("vec_id") < 10)
        exact = similarity.brute_force_topk(e, qs, "vec_id", "embedding", k=5)
        approx = similarity.pq_topk(e, qs, "vec_id", "embedding", k=5)
        ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.5, f"PQ recall@5 too low: {recall:.2f}"

    def test_emitted_cosines_are_exact(self, spark, sf_dir):
        """Only candidate SELECTION is approximate: every emitted
        cos_sim_micro must equal the exact brute-force value for the same
        pair (the lsh/ivf re-rank contract)."""
        e = _emb(spark, sf_dir)
        qs = e.filter(F.col("vec_id") < 3)
        exact = {
            (r.query_id, r.neighbor_id): r.cos_sim_micro
            for r in similarity.brute_force_topk(e, qs, "vec_id", "embedding", k=50).collect()
        }
        for r in similarity.pq_topk(e, qs, "vec_id", "embedding", k=5).collect():
            key = (r.query_id, r.neighbor_id)
            if key in exact:  # brute-force table is top-50 — deep enough for k=5
                assert r.cos_sim_micro == exact[key], key

    def test_parameter_validation(self, spark, sf_dir):
        import pytest as _pytest

        e = _emb(spark, sf_dir)
        qs = e.filter(F.col("vec_id") < 2)
        with _pytest.raises(ValueError, match="sample"):
            similarity.pq_topk(e, qs, "vec_id", "embedding", n_codes=16, sample_size=8)
        with _pytest.raises(ValueError, match="1 <= m <= dim"):
            similarity.pq_topk(e, qs, "vec_id", "embedding", m=0)


class TestLshCandidateEval:
    def _corpus_exact_dupes(self, spark):
        base = [
            "alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "one two three four five six seven eight nine ten",
            "red orange yellow green blue indigo violet purple pink brown",
        ]
        rows = []
        did = 0
        for t in base:
            for _ in range(3):  # 3 exact copies each -> 3 true pairs per group
                rows.append((did, t))
                did += 1
        rows += [(did + i, f"unique doc number {i} with its own words entirely") for i in range(5)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_dupes_full_recall_and_precision(self, spark):
        df = self._corpus_exact_dupes(spark)
        r = dedup.lsh_candidate_eval(df, "text", "doc_id", k=16, n_bands=4).collect()[0]
        assert r.n_true == 9  # 3 groups x C(3,2)
        assert r.n_hit == 9 and r.recall_micro == 1_000_000
        assert r.n_hit <= r.n_cand
        assert r.precision_micro == r.n_hit * 1_000_000 // r.n_cand

    def test_truth_matches_python_brute_force(self, spark):
        import itertools

        rows = [
            (1, "a b c d e f g h"),
            (2, "a b c d e f x y"),
            (3, "a b c d z z q w"),
            (4, "totally different words here now"),
            (5, "a b c d e f g h"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = dedup.lsh_candidate_eval(df, "text", "doc_id", k=16, n_bands=4, threshold=0.5).collect()[0]

        def sh3(t):
            toks = t.split()
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

        truth = 0
        for (da, ta), (db, tb) in itertools.combinations(rows, 2):
            a, b = sh3(ta), sh3(tb)
            if a and b and len(a & b) * 1_000_000 // len(a | b) >= 500_000:
                truth += 1
        assert r.n_true == truth

    def test_few_bands_miss_mid_similarity_pairs(self, spark):
        """With 2 bands of 8 rows, a ~0.55-Jaccard pair survives banding
        with probability ≈ 2·0.55^8 ≈ 1.6% — across 20 planted pairs the
        deterministic md5 minhashes miss most of them, so measured recall
        must drop below 1 while exact-dupe recall stays perfect."""
        rows = []
        for g in range(20):
            common = " ".join(f"w{g}x{i}" for i in range(14))
            rows.append((2 * g, common + f" tail{g}a1 tail{g}a2 tail{g}a3"))
            rows.append((2 * g + 1, common + f" tail{g}b1 tail{g}b2 tail{g}b3"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = dedup.lsh_candidate_eval(
            df, "text", "doc_id", k=16, n_bands=2, threshold=0.5
        ).collect()[0]
        assert r.n_true == 20
        assert r.n_hit < r.n_true, (r.n_hit, r.n_true)
        assert r.recall_micro == r.n_hit * 1_000_000 // r.n_true

    def test_candidates_match_pipeline_banding(self, spark):
        """The evaluated candidates must be EXACTLY the pipeline's: every
        verified minhash_lsh_pairs pair is (trivially) a candidate, so
        n_cand >= the pair count and n_hit >= verified-truth overlap."""
        df = self._corpus_exact_dupes(spark)
        pairs = dedup.minhash_lsh_pairs(df, "text", "doc_id", k=16, n_bands=4).count()
        r = dedup.lsh_candidate_eval(df, "text", "doc_id", k=16, n_bands=4).collect()[0]
        assert r.n_cand >= pairs


class TestNdcgEval:
    def _ranked(self, spark, rows):
        return spark.createDataFrame(rows, "query_id long, item_id long, rank int, rel int")

    def test_perfect_ranking_is_one(self, spark):
        from amazonwebcrawler_spark.operators.similarity import ndcg_eval

        rows = [(1, i, i, 5 - i) for i in range(1, 5)]  # rel desc == rank order
        (r,) = ndcg_eval(self._ranked(spark, rows), k=4).collect()
        assert r["dcg_micro"] == r["idcg_micro"]
        assert r["ndcg_micro"] == 1_000_000

    def test_reversed_ranking_below_one_and_replay(self, spark):
        from amazonwebcrawler_spark.operators.similarity import (
            NDCG_DISC_MICRO,
            ndcg_eval,
        )

        rels = [0, 3, 1, 2, 0, 1]
        rows = [(7, i + 1, i + 1, rels[i]) for i in range(len(rels))]
        (r,) = ndcg_eval(self._ranked(spark, rows), k=5).collect()
        dcg = sum(rels[i] * NDCG_DISC_MICRO[i] for i in range(5))
        ideal = sorted(rels, reverse=True)
        idcg = sum(ideal[i] * NDCG_DISC_MICRO[i] for i in range(5))
        assert (r["dcg_micro"], r["idcg_micro"]) == (dcg, idcg)
        assert r["ndcg_micro"] == dcg * 1_000_000 // idcg < 1_000_000

    def test_all_zero_queries_dropped_and_k_validation(self, spark):
        import pytest as _pytest

        from amazonwebcrawler_spark.operators.similarity import ndcg_eval

        rows = [(1, 1, 1, 0), (1, 2, 2, 0), (2, 3, 1, 2)]
        out = ndcg_eval(self._ranked(spark, rows), k=2).collect()
        assert [r["query_id"] for r in out] == [2]
        with _pytest.raises(ValueError):
            ndcg_eval(self._ranked(spark, rows), k=0)
        with _pytest.raises(ValueError):
            ndcg_eval(self._ranked(spark, rows), k=99)


class TestCdcChunks:
    """operators/dedup.cdc_chunks — content-defined chunking. Properties
    pinned: exact tiling (spans cover each doc with no gap/overlap), cut
    locality (a prefix edit leaves the shared suffix's chunks byte-identical
    once the window re-synchronizes), and single-owner digest election."""

    W, M = 8, 16

    @staticmethod
    def _cuts_oracle(text, window, modulus):
        import hashlib

        n = len(text)
        if n == 0:
            return []
        cuts = set()
        for i in range(window, n + 1):
            win = text[i - window : i]
            h = int(hashlib.md5(win.encode()).hexdigest()[:8], 16)
            if h % modulus == 0:
                cuts.add(i)
        cuts.add(n)
        return sorted(cuts)

    def _run(self, spark, rows):
        from amazonwebcrawler_spark.operators.dedup import cdc_chunks

        df = spark.createDataFrame(rows, "doc_id string, text string")
        return cdc_chunks(df, "text", "doc_id", window=self.W, modulus=self.M).collect()

    def test_tiling_matches_python_oracle(self, spark):
        import random

        rng = random.Random(7)
        alpha = "abcdef gh"
        rows = [
            (f"d{i}", "".join(rng.choice(alpha) for _ in range(rng.randint(0, 300))))
            for i in range(25)
        ]
        texts = dict(rows)
        out = self._run(spark, rows)
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, text in rows:
            want = self._cuts_oracle(text, self.W, self.M)
            got = sorted(by_doc.get(doc_id, []), key=lambda r: r["chunk_idx"])
            assert [r["start"] + r["chunk_len"] - 1 for r in got] == want
            # exact tiling: starts are the previous ends + 1, from 1
            prev_end = 0
            for r in got:
                assert r["start"] == prev_end + 1
                prev_end = r["start"] + r["chunk_len"] - 1
            if text:
                assert prev_end == len(text)

    def test_prefix_edit_preserves_suffix_chunks(self, spark):
        # the CDC point: after the window re-synchronizes inside the shared
        # suffix, chunk digests are identical regardless of prefix content.
        import random

        rng = random.Random(13)
        shared = "".join(rng.choice("abcdefgh ") for _ in range(400))
        rows = [("a", "XXX" + shared), ("b", "YYYYYYY" + shared)]
        out = self._run(spark, rows)
        digests = {"a": set(), "b": set()}
        for r in out:
            # compare only chunks fully inside the shared suffix region
            start0 = r["start"] - (3 if r["doc_id"] == "a" else 7)
            if start0 > self.W:  # past the first resync window
                digests[r["doc_id"]].add((start0, r["digest"]))
        common = digests["a"] & digests["b"]
        assert len(common) >= 3, "shared-suffix chunks must realign"
        # and every aligned chunk is digest-equal (set intersection == each
        # side restricted to starts present in both)
        starts_a = {s for s, _ in digests["a"]}
        starts_b = {s for s, _ in digests["b"]}
        both = starts_a & starts_b
        assert {d for d in digests["a"] if d[0] in both} == {
            d for d in digests["b"] if d[0] in both
        }

    def test_is_first_single_owner_and_short_docs(self, spark):
        rows = [("a", "same same same!"), ("b", "same same same!"), ("c", "x")]
        out = self._run(spark, rows)
        owners = {}
        for r in out:
            owners.setdefault(r["digest"], []).append(r)
        for digest, rs in owners.items():
            firsts = [r for r in rs if r["is_first"]]
            assert len(firsts) == 1
            assert min(rs, key=lambda r: (r["doc_id"], r["start"])) == firsts[0]
        # doc "c" (< window chars) is one whole chunk
        c = [r for r in out if r["doc_id"] == "c"]
        assert len(c) == 1 and c[0]["chunk_len"] == 1 and c[0]["chunk_idx"] == 1


class TestMmrTopk:
    """operators/similarity.mmr_topk vs a pure-Python greedy MMR replay,
    plus the diversity property that motivates the operator."""

    @staticmethod
    def _py_mmr(vecs, qids, k, m, lam):
        import math

        def cos_micro(a, b):
            d = sum(float(x) * float(y) for x, y in zip(a, b))
            na = math.sqrt(sum(float(x) * float(x) for x in a))
            nb = math.sqrt(sum(float(x) * float(x) for x in b))
            return round(d / (na * nb) * 1e6) if na * nb > 0 else 0

        out = {}
        for q in qids:
            rel = sorted(
                ((cos_micro(vecs[q], vecs[i]), i) for i in vecs if i != q),
                key=lambda t: (-t[0], t[1]),
            )[:m]
            cand = {i: r for r, i in rel}
            sel = []
            for step in range(1, k + 1):
                best = None
                for i, r in cand.items():
                    if i in sel:
                        continue
                    ms = max((cos_micro(vecs[i], vecs[s]) for s in sel), default=0)
                    score = r * lam - ms * (1000 - lam)
                    key = (-score, i)
                    if best is None or key < best[0]:
                        best = (key, i, r, ms, score)
                sel.append(best[1])
                out[(q, step)] = (best[1], best[2], best[3], best[4])
        return out

    def test_matches_python_mmr(self, spark):
        import random

        from amazonwebcrawler_spark.operators.similarity import mmr_topk

        rng = random.Random(5)
        # three tight clusters + noise: near-dups exist by construction
        vecs = {}
        for i in range(30):
            c = i % 3
            base = [1.0 if j == c else 0.0 for j in range(8)]
            vecs[i] = [round(b + rng.gauss(0, 0.15), 4) for b in base]
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
        )
        qs = df.filter(F.col("vec_id") < 3)
        got = {
            (r["query_id"], r["rank"]): (
                r["neighbor_id"], r["rel_micro"], r["maxsim_micro"], r["mmr_score"]
            )
            for r in mmr_topk(df, qs, "vec_id", "embedding", k=4, shortlist=8).collect()
        }
        # float32 storage: replay with the same float32-rounded vectors
        import numpy as np

        vecs32 = {i: [float(np.float32(x)) for x in v] for i, v in vecs.items()}
        want = self._py_mmr(vecs32, [0, 1, 2], 4, 8, 700)
        assert got == want

    def test_diversifies_vs_plain_topk(self, spark):
        from amazonwebcrawler_spark.operators.similarity import brute_force_topk, mmr_topk

        # query 0's 4 nearest are 4 copies of one doc; diverse docs further
        dup = [1.0, 0.0, 0.0, 0.0]
        other = [0.8, 0.6, 0.0, 0.0]
        third = [0.7, 0.0, 0.71, 0.0]
        rows = [(0, [1.0, 0.01, 0.01, 0.0])] + [
            (i, [x + 0.001 * i for x in dup]) for i in (1, 2, 3, 4)
        ] + [(5, other), (6, third)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qs = df.filter(F.col("vec_id") == 0)
        plain = [
            r["neighbor_id"]
            for r in brute_force_topk(df, qs, "vec_id", "embedding", k=3)
            .orderBy("rank").collect()
        ]
        mmr = [
            r["neighbor_id"]
            for r in mmr_topk(
                df, qs, "vec_id", "embedding", k=3, shortlist=6, lambda_milli=500
            ).orderBy("rank").collect()
        ]
        assert all(n in (1, 2, 3, 4) for n in plain)  # top-k saturated by dups
        assert len(set(mmr) & {5, 6}) >= 1            # MMR breaks out of the cluster


class TestClusterSizeStats:
    """operators/dedup.cluster_size_stats — histogram arithmetic with
    singleton coalesce on a hand-built label table."""

    def test_histogram_with_singletons(self, spark):
        from amazonwebcrawler_spark.operators import dedup

        docs = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
        # components: {1,2,3}, {4,5}; 6..10 unpaired → singletons
        labels = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "doc_id long, group_id long"
        )
        out = {
            r["cluster_size"]: r
            for r in dedup.cluster_size_stats(docs, labels).collect()
        }
        assert set(out) == {1, 2, 3}
        assert (out[1]["n_clusters"], out[1]["n_docs"], out[1]["docs_ppm"]) == (5, 5, 500000)
        assert (out[2]["n_clusters"], out[2]["n_docs"], out[2]["docs_ppm"]) == (1, 2, 200000)
        assert (out[3]["n_clusters"], out[3]["n_docs"], out[3]["docs_ppm"]) == (1, 3, 300000)


class TestPhashBitStats:
    """operators/dedup.phash_bit_stats — bit counting, balance floor,
    degenerate detection on hand-built hashes."""

    def test_planted_bits(self, spark):
        from amazonwebcrawler_spark.operators import dedup

        # 8 hashes: bit 0 always 1, bit 1 always 0, bit 2 alternates,
        # bit 63 set on half (sign bit — exercises unsigned shift)
        rows = []
        for i in range(8):
            h = 1 | ((i % 2) << 2) | ((1 << 63) if i < 4 else 0)
            rows.append((h - (1 << 64) if h >= (1 << 63) else h,))
        df = spark.createDataFrame(rows, "phash long")
        out = {r["bit"]: r for r in dedup.phash_bit_stats(df).collect()}
        assert len(out) == 64
        assert (out[0]["n_ones"], out[0]["balance_milli"], out[0]["is_degenerate"]) == (8, 0, True)
        assert (out[1]["n_ones"], out[1]["is_degenerate"]) == (0, True)
        assert (out[2]["n_ones"], out[2]["balance_milli"], out[2]["is_degenerate"]) == (4, 500, False)
        assert (out[63]["n_ones"], out[63]["balance_milli"]) == (4, 500)

    def test_balance_floor_boundary(self, spark):
        from amazonwebcrawler_spark.operators import dedup

        # 100 hashes, bit 0 set on exactly 10 → balance 100 = floor → NOT
        # degenerate (strict <); bit 1 set on 9 → 90 → degenerate
        rows = [((1 if i < 10 else 0) | ((2 if i < 9 else 0)),) for i in range(100)]
        df = spark.createDataFrame(rows, "phash long")
        out = {r["bit"]: r for r in dedup.phash_bit_stats(df).collect()}
        assert (out[0]["balance_milli"], out[0]["is_degenerate"]) == (100, False)
        assert (out[1]["balance_milli"], out[1]["is_degenerate"]) == (90, True)


class TestHardNegatives:
    """operators/similarity.hard_negatives — positive exclusion, rank
    compaction, singleton default on hand-built geometry."""

    def test_positives_excluded_and_ranks_compact(self, spark):
        import numpy as np

        from amazonwebcrawler_spark.operators.similarity import hard_negatives

        # 1D-ish geometry on the unit circle: angles order similarity.
        def vec(angle):
            return [float(np.cos(angle)), float(np.sin(angle))]

        rows = [
            (0, vec(0.00)),   # anchor
            (1, vec(0.01)),   # nearest — same group → excluded
            (2, vec(0.02)),   # next — negative rank 1
            (3, vec(0.03)),   # same group → excluded
            (4, vec(0.04)),   # negative rank 2
            (5, vec(1.50)),   # far negative rank 3
        ]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        labels = spark.createDataFrame(
            [(0, 100), (1, 100), (3, 100)], "vec_id long, group_id long"
        )
        out = hard_negatives(
            e, e.filter("vec_id = 0"), labels, k_neg=3, shortlist=5
        ).collect()
        got = [(r["neg_rank"], r["neighbor_id"]) for r in sorted(out, key=lambda r: r["neg_rank"])]
        assert got == [(1, 2), (2, 4), (3, 5)]
        assert all(r["n_excluded"] == 2 for r in out)

    def test_unlabeled_ids_are_singletons(self, spark):
        from amazonwebcrawler_spark.operators.similarity import hard_negatives

        e = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        empty = spark.createDataFrame([], "vec_id long, group_id long")
        out = hard_negatives(e, e.filter("vec_id = 0"), empty, k_neg=2, shortlist=3).collect()
        # nobody shares a group → nothing excluded, both others are negatives
        assert sorted(r["neighbor_id"] for r in out) == [1, 2]
        assert all(r["n_excluded"] == 0 for r in out)


class TestHammingCertify:
    """operators/dedup.hamming_certify — per-distance recall 1000 on
    planted exact distances, empty-distance default."""

    def test_planted_distances_certified(self, spark):
        from amazonwebcrawler_spark.operators import dedup

        base = 0x123456789ABCD
        rows = [(0, base)]
        # companions at exact distances 1..4 (contiguous masks)
        for d in range(1, 5):
            rows.append((d, base ^ (((1 << d) - 1) << (8 * d))))
        # a far row: contributes nothing ≤4
        rows.append((99, base ^ ((1 << 20) - 1)))
        df = spark.createDataFrame(rows, "id long, fp long")
        out = {r["hamming"]: r for r in dedup.hamming_certify(df, "id", "fp", max_hamming=4).collect()}
        assert set(out) == {0, 1, 2, 3, 4}
        for dist in (1, 2, 3, 4):
            r = out[dist]
            assert r["n_true_pairs"] >= 1 and r["n_true_pairs"] == r["n_blocked_pairs"]
            assert r["recall_milli"] == 1000
        # distance 0 has no pairs → vacuous 1000
        assert (out[0]["n_true_pairs"], out[0]["recall_milli"]) == (0, 1000)
