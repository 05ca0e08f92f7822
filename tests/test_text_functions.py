"""TF-IDF keyword extraction over planted corpora."""

from __future__ import annotations


class TestTfidf:
    def test_planted_corpus(self, spark):
        """A term unique to one doc outranks ubiquitous terms (whose idf is
        ln(1)=0); ranks are dense per doc and capped at k."""
        import math

        from amazonwebcrawler_spark.functions.text import tfidf_top_terms

        docs = [
            (1, "common common zebra"),
            (2, "common words here"),
            (3, "common words again"),
        ]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        out = tfidf_top_terms(d, "text", "doc_id", k=2).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        top1 = {d_: sorted(rs, key=lambda r: r.rank)[0] for d_, rs in by_doc.items()}
        assert top1[1].term == "zebra"
        assert top1[1].score_micro == round(1 * math.log(3 / 1) * 1_000_000)
        # 'common' is in every doc → idf 0 → score 0 everywhere
        assert all(r.score_micro == 0 for r in out if r.term == "common")
        assert all(len(rs) <= 2 for rs in by_doc.values())


class TestUnigramNll:
    def test_rare_tokens_score_higher(self, spark):
        """A doc of corpus-common tokens has strictly lower NLL than a doc
        of corpus-unique tokens; values match the closed form."""
        import math

        from amazonwebcrawler_spark.functions.text import unigram_nll

        docs = [
            (1, "the the the the"),
            (2, "the the the the"),
            (3, "xylophone quagmire"),
        ]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: r for r in unigram_nll(d, "text", "doc_id").collect()}
        total = 10  # 8 'the' + 2 unique
        assert got[1].n_tokens == 4
        assert got[1].nll_micro == round(-math.log(8 / total) * 1_000_000)
        assert got[3].nll_micro == round(-math.log(1 / total) * 1_000_000)
        assert got[3].nll_micro > got[1].nll_micro


class TestGopherRepetition:
    def test_hand_computed_signals(self, spark):
        """Chunk and bigram fractions match hand-derived exact values."""
        from amazonwebcrawler_spark.functions.text import gopher_repetition_signals

        docs = [
            # 22 tokens → chunks [a..j]×2 + [k l]: 1 of 3 chunks repeats;
            # chunk chars 19+19+3=41, dup chars 19
            (1, "a b c d e f g h i j a b c d e f g h i j k l"),
            (2, "x y"),
            (3, ""),
        ]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: r for r in
               gopher_repetition_signals(d, "text", "doc_id", chunk=10).collect()}
        r1 = got[1]
        assert (r1.n_tokens, r1.n_chunks) == (22, 3)
        assert r1.dup_chunk_frac_micro == (1 * 1_000_000) // 3
        assert r1.dup_chunk_char_frac_micro == (19 * 1_000_000) // 41
        assert r1.top_bigram == "a b" and r1.top_bigram_count == 2
        # normalized text is 43 chars; 'a b' (3 chars) occurs twice
        assert r1.top_bigram_char_frac_micro == (2 * 3 * 1_000_000) // 43
        r2 = got[2]
        assert (r2.n_chunks, r2.dup_chunk_frac_micro) == (1, 0)
        assert r2.top_bigram == "x y" and r2.top_bigram_char_frac_micro == 1_000_000
        r3 = got[3]
        assert (r3.n_tokens, r3.n_chunks, r3.top_bigram) == (0, 0, "")
        assert r3.dup_chunk_frac_micro == 0 and r3.top_bigram_count == 0

    def test_tie_breaks_to_smallest_bigram(self, spark):
        from amazonwebcrawler_spark.functions.text import gopher_repetition_signals

        d = spark.createDataFrame([(1, "z q z q")], "doc_id long, text string")
        # bigrams: 'z q'×2? no — 'z q', 'q z', 'z q' → 'z q' wins at 2
        r = gopher_repetition_signals(d, "text", "doc_id").collect()[0]
        assert r.top_bigram == "z q" and r.top_bigram_count == 2
        d2 = spark.createDataFrame([(1, "b a c")], "doc_id long, text string")
        r2 = gopher_repetition_signals(d2, "text", "doc_id").collect()[0]
        # 'b a' and 'a c' both count 1 → lexicographically smallest wins
        assert r2.top_bigram == "a c"


class TestSelfDedupChunks:
    def test_first_occurrence_order_preserved(self, spark):
        from amazonwebcrawler_spark.functions.text import self_dedup_chunks

        text = " ".join(
            ["a"] * 10 + ["b"] * 10 + ["a"] * 10 + ["c"] * 10 + ["b"] * 10
        )
        d = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = self_dedup_chunks(d, "text", "doc_id", chunk=10).collect()[0]
        assert (r.n_chunks, r.n_kept) == (5, 3)
        assert r.clean_text == " ".join(["a"] * 10 + ["b"] * 10 + ["c"] * 10)

    def test_idempotent(self, spark):
        """Cleaning a cleaned doc is a no-op (chunk-aligned by construction)."""
        from amazonwebcrawler_spark.functions.text import self_dedup_chunks

        text = " ".join(["a"] * 10 + ["b"] * 10 + ["a"] * 10)
        d = spark.createDataFrame([(1, text)], "doc_id long, text string")
        once = self_dedup_chunks(d, "text", "doc_id", chunk=10)
        d2 = once.select("doc_id", once.clean_text.alias("text"))
        twice = self_dedup_chunks(d2, "text", "doc_id", chunk=10).collect()[0]
        assert twice.n_chunks == twice.n_kept == 2
        assert twice.clean_text == " ".join(["a"] * 10 + ["b"] * 10)


class TestRepetitionPythonMirror:
    def test_gopher_and_selfdedup_match_python_reference(self, spark):
        """Both repetition operators equal an independent Python
        re-derivation over a mixed corpus (planted dups, tails, short and
        empty docs, mixed case/whitespace)."""
        from amazonwebcrawler_spark.functions.text import (
            gopher_repetition_signals,
            self_dedup_chunks,
        )

        vocab = ["alpha", "beta", "gamma", "delta", "eps"]
        docs = []
        for i in range(40):
            toks = [vocab[(i * 7 + j * 3) % 5] for j in range(i % 27)]
            if i % 4 == 0:
                toks = toks + toks[:10] + toks  # planted repetition
            text = "  ".join(toks) if i % 5 else " ".join(toks).upper()
            docs.append((i, text))
        d = spark.createDataFrame(docs, "doc_id long, text string")

        def norm_toks(text):
            t = " ".join(text.lower().split())
            return t.split(" ") if t else []

        def chunks_of(toks, k=10):
            return [" ".join(toks[i : i + k]) for i in range(0, len(toks), k)]

        g = {r.doc_id: r for r in gopher_repetition_signals(d, "text", "doc_id").collect()}
        s = {r.doc_id: r for r in self_dedup_chunks(d, "text", "doc_id").collect()}
        for i, text in docs:
            toks = norm_toks(text)
            ch = chunks_of(toks)
            seen, kept = set(), []
            for c in ch:
                if c not in seen:
                    seen.add(c)
                    kept.append(c)
            assert s[i].n_chunks == len(ch) and s[i].n_kept == len(kept), i
            assert s[i].clean_text == " ".join(kept), i
            total = sum(len(c) for c in ch)
            dup = total - sum(len(c) for c in kept)
            assert g[i].n_tokens == len(toks) and g[i].n_chunks == len(ch), i
            assert g[i].dup_chunk_frac_micro == (
                ((len(ch) - len(kept)) * 1_000_000) // len(ch) if ch else 0
            ), i
            assert g[i].dup_chunk_char_frac_micro == (
                (dup * 1_000_000) // total if total else 0
            ), i
            bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            if bigrams:
                counts: dict = {}
                for b in bigrams:
                    counts[b] = counts.get(b, 0) + 1
                top = min(counts, key=lambda b: (-counts[b], b))
                assert (g[i].top_bigram, g[i].top_bigram_count) == (top, counts[top]), i
                norm_len = len(" ".join(toks))
                assert g[i].top_bigram_char_frac_micro == (
                    counts[top] * len(top) * 1_000_000
                ) // norm_len, i
            else:
                assert g[i].top_bigram == "" and g[i].top_bigram_count == 0, i


class TestCrossdocSegmentDedup:
    @staticmethod
    def _py(texts, chunk):
        import re

        segs_by_doc = {}
        for i, t in texts:
            toks = [x for x in re.sub(r"\s+", " ", t.lower()).strip().split(" ") if x != ""]
            segs_by_doc[i] = [
                " ".join(toks[j : j + chunk]) for j in range(0, len(toks), chunk)
            ]
        seen = {}
        for i in sorted(segs_by_doc):
            for pos, s in enumerate(segs_by_doc[i]):
                seen.setdefault(s, (i, pos))
        out = {}
        for i, segs in segs_by_doc.items():
            kept = [s for pos, s in enumerate(segs) if seen[s] == (i, pos)]
            out[i] = (len(segs), len(kept), " ".join(kept))
        return out

    def test_matches_python_mirror(self, spark):
        texts = [
            (1, "a b c d e f g h i j k l"),
            (2, "a b c d e x y z w v u t"),  # first segment duplicates doc 1
            (3, "a b c d e f g h i j"),      # exactly doc 1's first segment
            (4, ""),
            (5, "q r s q r s q r s q r s"),  # intra-doc repeat at chunk=3
        ]
        from amazonwebcrawler_spark.functions.text import crossdoc_segment_dedup

        for chunk in (3, 5, 10):
            df = spark.createDataFrame(texts, "doc_id long, text string")
            got = {
                r.doc_id: (r.n_chunks, r.n_kept, r.clean_text)
                for r in crossdoc_segment_dedup(df, "text", "doc_id", chunk=chunk).collect()
            }
            assert got == self._py(texts, chunk), chunk

    def test_first_occurrence_wins_and_partition_invariant(self, spark):
        texts = [(i, "dup seg one two three " + f"tail {i} unique words here") for i in range(40)]
        from amazonwebcrawler_spark.functions.text import crossdoc_segment_dedup

        for parts in (1, 7):
            df = spark.createDataFrame(texts, "doc_id long, text string").repartition(parts)
            got = {
                r.doc_id: r.n_kept
                for r in crossdoc_segment_dedup(df, "text", "doc_id", chunk=5).collect()
            }
            # doc 0 keeps both segments; every later doc loses the shared head
            assert got[0] == 2
            assert all(got[i] == 1 for i in range(1, 40))


class TestBindOnce:
    def test_equivalence_and_null_propagation(self, spark):
        """bind_once(col, body) ≡ body(col) on values, including NULL input
        (the one-element-array transform must not turn NULL into a row
        loss or a non-NULL)."""
        from pyspark.sql import functions as F

        from amazonwebcrawler_spark.functions.text import bind_once

        d = spark.createDataFrame(
            [(1, [1, 2, 3]), (2, []), (3, None)], "id long, xs array<int>"
        )
        body = lambda t: F.when(  # noqa: E731
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2), lambda i: F.get(t, i) + F.get(t, i + 1)
            ),
        ).otherwise(F.array().cast("array<int>"))
        out = d.select(
            "id",
            bind_once(F.col("xs"), body).alias("bound"),
            body(F.col("xs")).alias("direct"),
        ).collect()
        assert len(out) == 3
        for r in out:
            assert r.bound == r.direct, r
        by_id = {r.id: r for r in out}
        assert by_id[1].bound == [3, 5]
        assert by_id[2].bound == []
        # NULL input follows the body's own NULL handling exactly as direct
        # evaluation would (size(NULL) is NULL → otherwise branch → [])
        assert by_id[3].bound == []

    def test_no_tokenization_inside_lambda_plans(self, spark):
        """The optimized plans of the bind_once consumers must not carry a
        regex/split inside any lambdafunction — Catalyst never CSEs
        lambda-bearing trees, so a captured tokenization re-runs per array
        element (O(n²) per doc; a hashed-feature scorer measured 15.2 s →
        1.4 s at sf0.1 when this regressed). Mirrors
        scripts/explain_plans.py's check_no_lambda_capture for the unit
        suite."""
        import os
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from scripts.explain_plans import _lambda_spans

        from amazonwebcrawler_spark.functions.text import (
            build_postings,
            gopher_repetition_signals,
            winnow_fingerprint_rows,
        )
        from amazonwebcrawler_spark.operators.dedup import minhash_signature
        from pyspark.sql import functions as F

        d = spark.createDataFrame([(1, "a b c d e", "en")], "doc_id long, text string, lang string")
        plans = {
            "postings": build_postings(d, "text", "doc_id", min_df=1),
            "gopher": gopher_repetition_signals(d, "text", "doc_id", chunk=2),
            "winnow": winnow_fingerprint_rows(d, "text", "doc_id"),
            "minhash_col": d.select(minhash_signature(F.col("text"), k=4)),
        }
        forbid = ("regexp_replace(", "regexp_extract_all(", "split(")
        for name, df in plans.items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            hits = {f for span in _lambda_spans(plan) for f in forbid if f in span}
            assert not hits, f"{name}: {sorted(hits)} captured inside a lambda"


class TestBM25:
    def test_hand_computed_scores(self, spark):
        """Tiny corpus vs the Okapi formula evaluated in Python: dl/avgdl
        over non-empty docs, N over ALL docs, Lucene non-negative idf."""
        import math

        from amazonwebcrawler_spark.functions.text import bm25_scores

        docs = [
            (1, "hash  Join HASH"),          # dl=3, hits: hash tf=2, join tf=1
            (2, "stream stream stream stream"),  # dl=4, hits: stream tf=4
            (3, "vector space"),             # dl=2, hits: vector tf=1
            (4, "nothing here at all"),      # dl=4, no hits -> absent
            (5, ""),                         # empty -> no dl row, still in N
        ]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        out = {
            r.doc_id: (r.n_hit_terms, r.bm25_micro)
            for r in bm25_scores(d, "text", "doc_id", ("hash", "join", "stream", "vector")).collect()
        }
        assert set(out) == {1, 2, 3}
        n, avgdl, k1, b = 5, (3 + 4 + 2 + 4) / 4.0, 1.2, 0.75

        def s(tf, df, dl):
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

        want = {
            1: (2, round((s(2, 1, 3) + s(1, 1, 3)) * 1_000_000)),
            2: (1, round(s(4, 1, 4) * 1_000_000)),
            3: (1, round(s(1, 1, 2) * 1_000_000)),
        }
        for k in want:
            assert out[k][0] == want[k][0], k
            assert abs(out[k][1] - want[k][1]) <= 1, (k, out[k], want[k])

    def test_ubiquitous_term_still_nonnegative(self, spark):
        """A term in every doc has idf=ln(1+0.5/(N+0.5)) > 0 (Lucene's
        floor) — scores never go negative, and rarer terms score higher."""
        from amazonwebcrawler_spark.functions.text import bm25_scores

        docs = [(i, "common filler" + (" rare" if i == 1 else "")) for i in range(1, 6)]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r.doc_id: r.bm25_micro for r in bm25_scores(d, "text", "doc_id", ("common", "rare")).collect()}
        assert all(v > 0 for v in out.values())
        assert out[1] > max(v for k, v in out.items() if k != 1)


class TestBuildPostings:
    @staticmethod
    def _py(docs, min_df=2, max_df=None):
        import re
        from collections import defaultdict

        post = defaultdict(list)
        for i, t in docs:
            tk = [w for w in re.sub(r"\s+", " ", t.lower()).strip().split(" ") if w]
            for p, w in enumerate(tk):
                post[(w, i)].append(p)
        dfreq = defaultdict(set)
        for (w, i) in post:
            dfreq[w].add(i)
        out = {}
        for (w, i), ps in post.items():
            d = len(dfreq[w])
            if d < min_df or (max_df is not None and d > max_df):
                continue
            gaps = [ps[0]] + [b - a for a, b in zip(ps, ps[1:])]
            out[(w, i)] = (len(ps), d, "|".join(map(str, gaps)))
        return out

    def _run(self, spark, docs, **kw):
        from amazonwebcrawler_spark.functions.text import build_postings

        d = spark.createDataFrame(docs, "doc_id long, text string")
        return {
            (r.term, r.doc_id): (r.tf, r.df, r.gaps)
            for r in build_postings(d, "text", "doc_id", **kw).collect()
        }

    DOCS = [
        (1, "the cat sat on the mat the end"),
        (2, "the dog sat near the cat"),
        (3, "cat cat cat adjacent repeats"),
        (4, ""),
        (5, "solo-token"),
    ]

    def test_matches_python_mirror_exactly(self, spark):
        got = self._run(spark, self.DOCS, min_df=2)
        assert got == self._py(self.DOCS, min_df=2)
        # gap semantics pinned by hand: 'the' in doc 1 at 0, 4, 6 → "0|4|2"
        assert got[("the", 1)] == (3, 2, "0|4|2")
        # adjacent repeats → gaps of 1
        assert got[("cat", 3)] == (3, 3, "0|1|1")

    def test_df_bounds(self, spark):
        # min_df drops hapax terms; max_df drops the corpus-wide stopword
        got = self._run(spark, self.DOCS, min_df=3, max_df=2)
        assert got == {}               # disjoint bounds → empty index
        got = self._run(spark, self.DOCS, min_df=2, max_df=2)
        assert got == self._py(self.DOCS, min_df=2, max_df=2)
        assert ("cat", 3) not in got   # 'cat' df=3 > max_df → capped out
        assert ("the", 1) in got       # 'the' df=2 ≤ max_df → kept
        loose = self._run(spark, self.DOCS, min_df=1)
        assert ("solo-token", 5) in loose and loose[("solo-token", 5)] == (1, 1, "0")

    def test_repartition_invariant(self, spark):
        from amazonwebcrawler_spark.functions.text import build_postings

        d = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        a = {(r.term, r.doc_id): r.gaps for r in build_postings(d.repartition(7), "text", "doc_id").collect()}
        b = {(r.term, r.doc_id): r.gaps for r in build_postings(d.coalesce(1), "text", "doc_id").collect()}
        assert a == b


class TestPhraseMatch:
    DOCS = [
        (1, "the quick brown fox and the quick brown dog"),
        (2, "a a a b"),
        (3, "quick brown nothing"),
        (4, "the the the"),
        (5, ""),
    ]

    def _run(self, spark, phrase):
        from amazonwebcrawler_spark.functions.text import phrase_match

        d = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        return {
            r.doc_id: (r.n_occurrences, r.first_pos)
            for r in phrase_match(d, "text", "doc_id", phrase).collect()
        }

    @staticmethod
    def _py(docs, phrase):
        import re

        out = {}
        m = len(phrase)
        for i, t in docs:
            tk = [w for w in re.sub(r"\s+", " ", t.lower()).strip().split(" ") if w]
            hits = [p for p in range(len(tk) - m + 1) if tuple(tk[p : p + m]) == tuple(phrase)]
            if hits:
                out[i] = (len(hits), hits[0])
        return out

    def test_matches_python_mirror(self, spark):
        for ph in (("quick", "brown"), ("a", "a"), ("the", "the"), ("quick", "brown", "fox"), ("zzz",)):
            assert self._run(spark, ph) == self._py(self.DOCS, ph), ph

    def test_overlapping_occurrences_count_separately(self, spark):
        got = self._run(spark, ("a", "a"))
        assert got == {2: (2, 0)}  # 'a a a' holds 'a a' at 0 AND 1

    def test_empty_phrase_raises(self, spark):
        import pytest as _pytest

        from amazonwebcrawler_spark.functions.text import phrase_match

        d = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        with _pytest.raises(ValueError):
            phrase_match(d, "text", "doc_id", ())


class TestCaptionQuality:
    def _run(self, spark, caps, **kw):
        from amazonwebcrawler_spark.functions.text import caption_quality

        df = spark.createDataFrame([(i, c) for i, c in enumerate(caps)], "i long, caption string")
        return {r["i"]: r for r in caption_quality(df, **kw).collect()}

    def test_rule_families(self, spark):
        caps = [
            "IMG_1234.jpg",                  # 0 filename
            "ok",                            # 1 too_short
            "photograph",                    # 2 too_few_words (1 word)
            "12345 67890",                   # 3 digit_heavy
            "### $$$ %%%",                   # 4 low_alpha
            "a photo of a golden retriever", # 5 keep
            "sunset_beach.png",              # 6 filename (bare path, 1 word)
        ]
        out = self._run(spark, caps)
        assert out[0]["drop_reason"] == "filename" and out[0]["is_filename"]
        assert out[1]["drop_reason"] == "too_short"
        assert out[2]["drop_reason"] == "too_few_words"
        assert out[3]["drop_reason"] == "digit_heavy" and out[3]["digit_milli"] > 300
        assert out[4]["drop_reason"] == "low_alpha" and out[4]["alpha_milli"] == 0
        assert out[5]["keep"] and out[5]["drop_reason"] is None
        assert out[6]["drop_reason"] == "filename"

    def test_boilerplate_dup_fanout(self, spark):
        caps = ["no image available"] * 12 + ["a real caption about a cat"]
        out = self._run(spark, caps, max_dup=10)
        assert out[0]["drop_reason"] == "boilerplate_dup" and out[0]["dup_count"] == 12
        assert out[12]["keep"] and out[12]["dup_count"] == 1

    def test_exact_integer_ratios(self, spark):
        out = self._run(spark, ["ab1 cd2 ef"])  # 10 chars, 2 digits, 6 alpha
        r = out[0]
        assert r["digit_milli"] == 2 * 1000 // 10
        assert r["alpha_milli"] == 6 * 1000 // 10
        assert r["caption_words"] == 3 and r["caption_chars"] == 10
