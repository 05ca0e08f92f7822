"""Unit vectors for the pure-column kernels (SURVEY.md §5.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazonwebcrawler_spark.functions.rank import (
    best_seller_rank_extract,
    is_sponsored,
    pick_non_top100_rank,
    rank_encode,
    rank_string_synthesis,
    strip_sponsored_tag,
)
from amazonwebcrawler_spark.functions.urls import canonicalize_url, url_host


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


class TestCanonicalizeUrl:
    def test_strips_tracking_and_sorts(self, spark):
        # the reference's own seed URL shape (getRank.py:507): ref= + qid= params
        raw = (
            "https://WWW.Amazon.com/Upgraded-Version-Non-Slip/dp/B071G4PWY6/"
            "?b=2&qid=1523525327&a=1&ref=sr_1_7&sr=8-7#reviews"
        )
        got = _one(spark, canonicalize_url(F.lit(raw)))
        assert got == "https://www.amazon.com/Upgraded-Version-Non-Slip/dp/B071G4PWY6?a=1&b=2"

    def test_path_ref_suffix_and_trailing_slash(self, spark):
        raw = "https://www.amazon.com/dp/B01/ref=sr_1_1/"
        assert _one(spark, canonicalize_url(F.lit(raw))) == "https://www.amazon.com/dp/B01"

    def test_no_query_idempotent(self, spark):
        raw = "https://www.amazon.com/s?field-keywords=yoga+mat&page=2"
        got = _one(spark, canonicalize_url(F.lit(raw)))
        assert got == "https://www.amazon.com/s?field-keywords=yoga+mat&page=2"
        # idempotence: canonical(canonical(x)) == canonical(x)
        assert _one(spark, canonicalize_url(F.lit(got))) == got

    def test_host(self, spark):
        assert _one(spark, url_host(F.lit("https://WWW.Amazon.com/dp/X?a=1"))) == "www.amazon.com"


class TestRankEncode:
    def test_grid_vectors(self, spark):
        # vectors straight from getRank.py:285-297 (FIXTURES.md §8)
        vectors = {1: "2.1.1", 2: "2.1.2", 3: "2.1.3", 4: "2.2.1", 6: "2.2.3", 7: "2.3.1", 45: "2.15.3"}
        df = spark.createDataFrame([(i,) for i in vectors], "idx int")
        got = {
            r.idx: r.rank
            for r in df.select(
                "idx", rank_encode(F.lit("grid3"), F.lit(2), F.col("idx")).alias("rank")
            ).collect()
        }
        assert got == vectors

    def test_list_and_other(self, spark):
        df = spark.createDataFrame([("list_plain", 3, 7), ("weird", 1, 1)], "layout string, page int, idx int")
        got = [r.rank for r in df.select(rank_encode(F.col("layout"), F.col("page"), F.col("idx")).alias("rank")).collect()]
        assert got == ["3.7", "Other mode"]


class TestBestSellerRank:
    def test_regular_expression_vector(self, spark):
        # the exact prototype vector from regularExpression.py:1-6
        s = "#88 in Computers & Accessories (See top 100) "
        assert _one(spark, best_seller_rank_extract(F.lit(s))) == "88"

    def test_comma_number(self, spark):
        assert _one(spark, best_seller_rank_extract(F.lit("#1,234 in Sports & Outdoors"))) == "1,234"

    def test_top100_branch(self, spark):
        r1, r2 = F.lit("#5 in Yoga (See Top 100 in Yoga)"), F.lit("#99 in Sports & Outdoors")
        assert _one(spark, pick_non_top100_rank(r1, r2)) == "99"
        assert _one(spark, pick_non_top100_rank(r2, r1)) == "99"


class TestRankSynthesis:
    def test_golden_string(self, spark):
        # golden workbook row 2: '6.15(广告)/2.14(自然)' — SURVEY.md §5
        got = _one(
            spark,
            rank_string_synthesis(F.lit("6.15"), F.lit(""), F.lit("2.14"), F.lit("")),
        )
        assert got == "6.15(广告)/2.14(自然)"

    def test_one_sided_renders_bare_parens(self, spark):
        # reference-faithful: the 广告/自然 suffix only appears for a present
        # side (getRank.py:257-263) — missing side is a bare '()'
        got = _one(
            spark,
            rank_string_synthesis(
                F.lit(None).cast("string"), F.lit(None).cast("string"),
                F.lit("1.3"), F.lit("Q"),
            ),
        )
        assert got == "()/1.3(Q自然)"
        got = _one(
            spark,
            rank_string_synthesis(
                F.lit("2.4"), F.lit("F"),
                F.lit(None).cast("string"), F.lit(None).cast("string"),
            ),
        )
        assert got == "2.4(F广告)/()"

    def test_default_more_than_8_pages(self, spark):
        got = _one(
            spark,
            rank_string_synthesis(
                F.lit(None).cast("string"), F.lit(None).cast("string"),
                F.lit(None).cast("string"), F.lit(None).cast("string"),
            ),
        )
        assert got == "大于8页"


class TestSponsored:
    def test_strip_and_flag(self, spark):
        t = F.lit(" [Sponsored] Yoga Mat Pro ")
        assert _one(spark, strip_sponsored_tag(t)) == "Yoga Mat Pro"
        assert _one(spark, is_sponsored(t)) is True
        assert _one(spark, is_sponsored(F.lit("Yoga Mat Pro"))) is False


class TestQualityFilter:
    def test_rules_fire_individually_and_compose(self, spark):
        from amazonwebcrawler_spark.functions.text import quality_filter

        good = (
            "the quick brown fox jumps over the lazy dog and then the cat "
            "walks in a garden full of many different little things to see"
        )
        cases = [
            (1, good, True, ""),
            (2, "short text", False, "too_short,low_stopword"),
            # 20 tokens, all the same word -> repetition 0.95, no stopwords
            (3, " ".join(["spam"] * 20), False, "repetitive,low_stopword"),
            # heavy punctuation on otherwise-good text
            (4, good + " " + "!?!#" * 30, False, "high_punct"),
            # German stopwords must count as language signal
            (5, "der hund und die katze laufen zu dem haus und nicht in den "
                "garten weil das wetter heute gar nicht gut ist", True, ""),
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t, *_ in cases], "doc_id long, text string"
        )
        qf = quality_filter(F.col("text"))
        got = {
            r.doc_id: (r.keep, r.reasons)
            for r in df.select(
                "doc_id", qf["keep"].alias("keep"), qf["reasons"].alias("reasons")
            ).collect()
        }
        for i, _t, keep, reasons in cases:
            assert got[i] == (keep, reasons), f"doc {i}: {got[i]}"


class TestExtractLinks:
    def test_resolution_and_canonicalization(self, spark):
        """Root-relative links resolve against the base, absolute links
        pass through with the scheme lowercased, non-web schemes drop, and
        every survivor is canonicalized (tracking params stripped, params
        sorted, fragment dropped) — in document order."""
        from pyspark.sql import functions as F

        from amazonwebcrawler_spark.functions.urls import extract_links

        html = (
            '<a href="/dp/B1/ref=sr_1_2?qid=9&p=3">a</a>'
            '<a href="HTTPS://WWW.AMAZON.COM/gp/x?tag=t&b=2">b</a>'
            '<a href="mailto:x@example.com">m</a>'
            '<a href="javascript:void(0)">j</a>'
            '<a href="/s?k=yoga+mat&ref=nb#frag">s</a>'
        )
        d = spark.createDataFrame([(7, html)], "page long, html string")
        rows = extract_links(
            d, F.col("html"), F.lit("https://www.amazon.com"), keep=["page"]
        ).collect()
        assert [(r.page, r.link_pos) for r in rows] == [(7, 0), (7, 1), (7, 2)]
        got = [r.canonical_url for r in sorted(rows, key=lambda r: r.link_pos)]
        assert got == [
            "https://www.amazon.com/dp/B1?p=3",
            "https://www.amazon.com/gp/x?b=2",
            "https://www.amazon.com/s?k=yoga+mat",
        ]

    def test_no_links_and_empty_html(self, spark):
        from pyspark.sql import functions as F

        from amazonwebcrawler_spark.functions.urls import extract_links

        d = spark.createDataFrame([("<p>no anchors</p>",), ("",)], "html string")
        rows = extract_links(d, F.col("html"), F.lit("https://www.amazon.com")).collect()
        assert rows == []


class TestParseSitemap:
    def test_blocks_fields_and_trim(self, spark):
        from pyspark.sql import functions as F

        from amazonwebcrawler_spark.functions.urls import parse_sitemap_entries

        xml = (
            "<urlset>"
            "<url><loc> https://a.example/x </loc><lastmod>2024-05-01</lastmod></url>"
            "<url><loc>https://a.example/y</loc></url>"
            "</urlset>"
        )
        d = spark.createDataFrame([(xml,), ("<urlset></urlset>",)], "xml string")
        rows = d.select(parse_sitemap_entries(F.col("xml")).alias("e")).collect()
        full = rows[0].e if rows[0].e else rows[1].e
        empty = rows[1].e if rows[0].e else rows[0].e
        assert empty == []
        assert [(s.loc, s.lastmod) for s in full] == [
            ("https://a.example/x", "2024-05-01"),
            ("https://a.example/y", ""),
        ]


class TestPlanCompaction:
    FILES = [
        # (part, file_id, n_bytes)
        (0, 1, 100), (0, 2, 200), (0, 3, 450), (0, 4, 900), (0, 5, 50),
        (1, 6, 2000),            # lone jumbo (> target) — left alone
        (2, 7, 10),              # lone straggler (< target/2) — rewrites
        (3, 8, 300), (3, 9, 300),
    ]
    TARGET = 500

    @classmethod
    def _py(cls):
        from collections import defaultdict

        by_part = defaultdict(list)
        for p, f, b in cls.FILES:
            by_part[p].append((f, b))
        out = {}
        groups = defaultdict(lambda: [0, 0])  # (part, gid) -> [bytes, files]
        for p, fs in by_part.items():
            cum = 0
            for f, b in sorted(fs):
                gid = cum // cls.TARGET
                out[f] = (p, b, gid)
                groups[(p, gid)][0] += b
                groups[(p, gid)][1] += 1
                cum += b
        full = {}
        for f, (p, b, gid) in out.items():
            gb, gf = groups[(p, gid)]
            full[f] = (p, b, gid, gb, gf, gf > 1 or gb * 2 < cls.TARGET)
        return full

    def _run(self, spark):
        from amazonwebcrawler_spark.functions.layout import plan_compaction

        df = spark.createDataFrame(self.FILES, "part long, file_id long, n_bytes long")
        rows = plan_compaction(df.repartition(5), "part", "file_id", "n_bytes", self.TARGET).collect()
        return {
            r.file_id: (r.part, r.n_bytes, r.group_id, r.group_bytes, r.group_files, r.rewrite)
            for r in rows
        }

    def test_matches_python_mirror_exactly(self, spark):
        assert self._run(spark) == self._py()

    def test_group_semantics_pinned(self, spark):
        got = self._run(spark)
        # part 0: cum-before = 0,100,300,750,1650 → groups 0,0,0,1,3
        assert [got[f][2] for f in (1, 2, 3, 4, 5)] == [0, 0, 0, 1, 3]
        # bounded overshoot: every group total < target + max_file_in_group
        assert got[4][3] == 900  # straddling file stays whole in ONE group
        # lone jumbo not rewritten; lone straggler rewritten
        assert got[6][5] is False
        assert got[7][5] is True

    def test_invalid_target_raises(self, spark):
        from amazonwebcrawler_spark.functions.layout import plan_compaction

        df = spark.createDataFrame(self.FILES, "part long, file_id long, n_bytes long")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            plan_compaction(df, "part", "file_id", "n_bytes", 0)


class TestResolveReference:
    """functions/urls.resolve_reference — RFC 3986 §5.2 resolution vs
    urllib.parse.urljoin (the stdlib RFC implementation), plus the
    RFC-strict corners where urljoin is lax."""

    def _run(self, spark, cases):
        from amazonwebcrawler_spark.functions.urls import resolve_reference

        df = spark.createDataFrame(cases, "base string, href string")
        return [
            r["r"]
            for r in df.select(
                resolve_reference(F.col("href"), F.col("base")).alias("r")
            ).collect()
        ]

    def test_matches_urljoin_on_relative_forms(self, spark):
        from urllib.parse import urldefrag, urljoin

        cases = [
            ("https://www.amazon.com/a/b/item.html?page=2", "../parent/list.html"),
            ("https://www.amazon.com/a/b/item.html", "./self.html?q=1"),
            ("https://www.amazon.com/a/b/item.html", "/rooted/path/../x.html"),
            ("https://www.amazon.com/a/b/item.html", "rel/sub/../../leaf.html"),
            ("https://www.amazon.com/a/b/item.html", "?only=query"),
            ("https://www.amazon.com/a/b/item.html?x=1#sec", ""),
            ("https://www.amazon.com/a/b/item.html", "../../../../up.html"),
            ("https://www.amazon.com/", "sub/dir/"),
            ("https://www.amazon.com/a/b/", "c#frag"),
            ("https://www.amazon.com", "x.html"),
            ("https://www.amazon.com/a/b/", "."),
            ("https://www.amazon.com/a/b/c", ".."),
        ]
        got = self._run(spark, cases)
        for (base, href), g in zip(cases, got):
            assert g == urldefrag(urljoin(base, href))[0], (base, href, g)

    def test_randomized_vs_urljoin(self, spark):
        import random
        from urllib.parse import urldefrag, urljoin

        rng = random.Random(99)
        seg = lambda: rng.choice(["a", "bb", "c1", "dot.d", "x-y"])
        cases = []
        for _ in range(80):
            depth = rng.randint(0, 4)
            base = "https://host.example/" + "/".join(seg() for _ in range(depth))
            if depth and rng.random() < 0.5:
                base += "/"
            if rng.random() < 0.3:
                base += "?k=v"
            parts = [rng.choice([seg(), ".", ".."]) for _ in range(rng.randint(1, 5))]
            href = "/".join(parts)
            if rng.random() < 0.3:
                href += "?q=" + seg()
            if rng.random() < 0.2:
                href += "#frag"
            cases.append((base, href))
        got = self._run(spark, cases)
        for (base, href), g in zip(cases, got):
            assert g == urldefrag(urljoin(base, href))[0], (base, href, g)

    def test_rfc_strict_corners(self, spark):
        # network-path refs and absolute hrefs get remove_dot_segments per
        # RFC 5.2.2 strict mode (urljoin skips it there) + scheme lowering;
        # non-web schemes -> NULL
        cases = [
            ("https://www.amazon.com/a/b", "//cdn.amazon.com/img/./x.png"),
            ("https://www.amazon.com/a/b", "HTTPS://Other.Amazon.com/p/../q.html"),
            ("https://www.amazon.com/a/b", "mailto:deals@amazon.com"),
            ("https://www.amazon.com/a/b", "javascript:void(0)"),
        ]
        got = self._run(spark, cases)
        assert got[0] == "https://cdn.amazon.com/img/x.png"
        assert got[1] == "https://Other.Amazon.com/q.html"
        assert got[2] is None and got[3] is None

    def test_empty_segments_kept_per_rfc(self, spark):
        # RFC 3986 never collapses '//' runs inside a path: '..' pops the
        # EMPTY segment (urljoin is lax here and collapses)
        (g,) = self._run(
            spark, [("https://www.amazon.com/a//b//c.html", "../d.html")]
        )
        assert g == "https://www.amazon.com/a//b/d.html"


class TestPercentNormalize:
    """functions/urls.percent_normalize — RFC 3986 §6.2.2 vs Python's
    urllib quoting semantics on unreserved characters."""

    def _run(self, spark, urls):
        from amazonwebcrawler_spark.functions.urls import percent_normalize

        df = spark.createDataFrame([(u,) for u in urls], "u string")
        return [
            r["n"] for r in df.select(percent_normalize(F.col("u")).alias("n")).collect()
        ]

    def test_unreserved_decode_and_hex_upper(self, spark):
        got = self._run(
            spark,
            [
                "https://a/%7Euser/%7euser",  # ~ decodes, any hex case
                "https://a/%2fpath%2F",      # reserved '/': never decoded, hex uppers
                "%41%5a%61%7a%30%39%2d%2e%5f%7e",  # all unreserved -> literal
                "%40%3a%3f%23%5b%5d",        # reserved set -> uppercase hex only
                "plain-no-escapes",
                "%e4%b8%ad%ZZ%",             # multibyte utf8 escapes + malformed tail
                "",
            ],
        )
        assert got[0] == "https://a/~user/~user"
        assert got[1] == "https://a/%2Fpath%2F"
        assert got[2] == "AZaz09-._~"
        assert got[3] == "%40%3A%3F%23%5B%5D"
        assert got[4] == "plain-no-escapes"
        assert got[5] == "%E4%B8%AD%ZZ%"
        assert got[6] == ""

    def test_idempotent_and_randomized(self, spark):
        import random
        import string

        rng = random.Random(7)
        urls = []
        for _ in range(60):
            parts = []
            for _ in range(rng.randint(1, 12)):
                r = rng.random()
                if r < 0.4:
                    parts.append("%%%02x" % rng.randint(0x20, 0x7E))
                elif r < 0.5:
                    parts.append("%%%02X" % rng.randint(0x20, 0x7E))
                elif r < 0.6:
                    parts.append("%")
                else:
                    parts.append("".join(rng.choice(string.ascii_letters + "/?.=&") for _ in range(4)))
            urls.append("".join(parts))
        once = self._run(spark, urls)
        twice = self._run(spark, once)
        assert once == twice  # §6.2.2 normalization is idempotent
        # python reference: decode unreserved only, upper the rest
        import re

        def ref(u):
            def tok(m):
                t = m.group(0)
                if re.fullmatch(r"%[0-9A-Fa-f]{2}", t):
                    c = int(t[1:], 16)
                    ch = chr(c)
                    if ch.isalnum() and ch.isascii() or ch in "-._~":
                        return ch
                    return t.upper()
                return t

            return re.sub(r"%[0-9A-Fa-f]{2}|%|[^%]+", tok, u)

        assert once == [ref(u) for u in urls]


class TestExtractLinksRel:
    """functions/urls.extract_links_rel — nofollow parsing + full-resolver
    composition + href-less anchors."""

    def test_rel_variants_and_resolution(self, spark):
        from amazonwebcrawler_spark.functions.urls import extract_links_rel

        html = (
            '<a href="../up/x.html" rel="nofollow">a</a>'
            '<a rel="noopener nofollow ugc" href="/b?q=1">b</a>'
            '<a href="c.html" rel="sponsored">c</a>'
            '<a href="mailto:x@y">m</a>'
            '<a id="plain">p</a>'
            '<a href="//cdn.example/z.png">z</a>'
        )
        d = spark.createDataFrame([(html,)], "html string")
        got = d.select(
            extract_links_rel(
                F.col("html"), F.lit("https://host.example/dir/page.html")
            ).alias("l")
        ).collect()[0]["l"]
        assert [(r["url"], r["nofollow"]) for r in got] == [
            ("https://host.example/up/x.html", True),
            ("https://host.example/b?q=1", True),   # nofollow anywhere in rel
            ("https://host.example/dir/c.html", False),
            (None, False),                           # non-web scheme
            (None, False),                           # no href
            ("https://cdn.example/z.png", False),    # network-path ref
        ]

    def test_nofollow_is_word_bounded(self, spark):
        from amazonwebcrawler_spark.functions.urls import extract_links_rel

        html = '<a href="/a" rel="nofollowish">a</a><a href="/b" rel="me nofollow">b</a>'
        d = spark.createDataFrame([(html,)], "html string")
        got = d.select(
            extract_links_rel(F.col("html"), F.lit("https://h.example")).alias("l")
        ).collect()[0]["l"]
        assert [r["nofollow"] for r in got] == [False, True]


class TestExtractMainText:
    """functions/text.extract_main_text — block classification on
    hand-built HTML: link-density boundary, nested anchor tags,
    min-chars floor, degenerate pages."""

    def _run(self, spark, html):
        from amazonwebcrawler_spark.functions.text import extract_main_text

        df = spark.createDataFrame([(1, html)], "doc_id int, html string")
        return extract_main_text(df, "html", "doc_id").collect()[0]

    def test_nav_dropped_main_kept(self, spark):
        html = (
            '<div><a href="/">Home</a> <a href="/s">Shop</a></div>'
            "<p>This paragraph is long enough to clear the floor and has "
            'no links in it whatsoever, just plain prose.</p>'
        )
        r = self._run(spark, html)
        assert r["n_blocks"] == 3  # nav, p, trailing empty
        assert r["n_kept"] == 1
        assert r["main_text"].startswith("This paragraph is long")
        assert "Home" not in r["main_text"]

    def test_link_density_boundary(self, spark):
        # 30 plain chars + anchor text scaled around the 333‰ cut
        plain = "x" * 60
        # link 30 chars over total 90 → 333‰ exactly → kept (<=)
        html = f'<p>{plain}<a href="/l">{"y" * 30}</a></p>'
        assert self._run(spark, html)["n_kept"] == 1
        # link 31 chars over total 91 → 340‰ → dropped
        html = f'<p>{plain}<a href="/l">{"y" * 31}</a></p>'
        assert self._run(spark, html)["n_kept"] == 0

    def test_nested_tags_inside_anchor(self, spark):
        html = (
            '<p>A sufficiently long sentence of framing prose around '
            '<a href="/x"><b>bold link</b></a> content that stays sparse.</p>'
        )
        r = self._run(spark, html)
        # inner <b> stripped before counting: 'bold link' = 9 chars
        assert r["n_kept"] == 1 and "bold link" in r["main_text"]

    def test_degenerate_pages(self, spark):
        r = self._run(spark, "")
        assert (r["n_blocks"], r["n_kept"], r["main_text"]) == (1, 0, "")
        r = self._run(spark, "short<br>")
        assert r["n_kept"] == 0 and r["total_chars"] > 0
