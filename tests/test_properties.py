"""Property-based tests (hypothesis) for the pure kernels — no Spark,
the Python twins are asserted equal to the Spark exprs in test_equivalence."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from amazonwebcrawler_spark.functions.images import (
    decode_jpeg,
    decode_png,
    encode_jpeg,
    encode_png,
    psnr,
)
from tests.oracle import canonicalize_url_py

_path_seg = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_.", min_size=1, max_size=8
)
_param = st.tuples(
    st.sampled_from(["a", "b", "keywords", "page", "ref", "qid", "ie", "sr", "x"]),
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789+", max_size=6),
)


@st.composite
def urls(draw):
    host = draw(st.sampled_from(["www.Amazon.com", "WWW.AMAZON.COM", "example.org"]))
    segs = draw(st.lists(_path_seg, max_size=3))
    params = draw(st.lists(_param, max_size=4))
    frag = draw(st.sampled_from(["", "#top", "#reviews"]))
    path = "".join("/" + s for s in segs)
    q = "&".join(f"{k}={v}" for k, v in params)
    return f"https://{host}{path}" + (f"?{q}" if q else "") + frag


class TestCanonicalizeProperties:
    @given(urls())
    @settings(max_examples=200, deadline=None)
    def test_idempotent(self, url):
        c = canonicalize_url_py(url)
        assert canonicalize_url_py(c) == c

    @given(urls())
    @settings(max_examples=200, deadline=None)
    def test_no_fragment_no_tracking(self, url):
        c = canonicalize_url_py(url)
        assert "#" not in c
        query = c.partition("?")[2]
        keys = {p.split("=")[0] for p in query.split("&") if p}
        assert keys.isdisjoint({"ref", "qid", "ie", "sr"})

    @given(urls())
    @settings(max_examples=100, deadline=None)
    def test_query_sorted(self, url):
        c = canonicalize_url_py(url)
        parts = [p for p in c.partition("?")[2].split("&") if p]
        assert parts == sorted(parts)


_img = st.integers(0, 255)


class TestCodecProperties:
    @given(st.integers(0, 2**32 - 1), st.sampled_from([(8, 8), (16, 24), (32, 32)]))
    @settings(max_examples=30, deadline=None)
    def test_png_roundtrip(self, seed, shape):
        import numpy as np

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(shape[1], shape[0], 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(px)), px)

    @given(st.integers(0, 2**32 - 1))
    @settings(max_examples=30, deadline=None)
    def test_jpeg_psnr_bound(self, seed):
        import numpy as np

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        assert psnr(px, decode_jpeg(encode_jpeg(px))) >= 40.0


class TestSession17Properties:
    """Pure-kernel properties for the session-17 image and host-fairness
    math — replayed against brute-force Python on randomized inputs."""

    @given(st.integers(0, 2**32 - 1), st.sampled_from([2, 3, 4]),
           st.sampled_from([(8, 8), (12, 16), (24, 20)]))
    @settings(max_examples=40, deadline=None)
    def test_upscale_stats_detects_planted_factor(self, seed, k, hw):
        import numpy as np

        from amazonwebcrawler_spark.functions.images import resize_pixels, upscale_stats

        h, w = hw
        rng = np.random.default_rng(seed)
        # random base (the brute replay below is the oracle — no
        # adjacent-distinctness needed for equality of the two paths)
        base = rng.integers(0, 250, size=(h, w, 3), dtype=np.int64)
        base = (base % 251).astype(np.uint8)
        up = resize_pixels(base.astype(np.uint8), w * k, h * k)
        s = upscale_stats(up)
        assert s[f"const{k}_milli"] == 1000
        # brute replay of every factor
        for j in (2, 3, 4):
            bh, bw = (h * k) // j, (w * k) // j
            n_const = 0
            for r in range(bh):
                for c in range(bw):
                    blk = up[r * j:(r + 1) * j, c * j:(c + 1) * j]
                    n_const += int((blk == blk[0, 0]).all())
            assert s[f"const{j}_milli"] == 1000 * n_const // (bh * bw), (j, k)

    @given(st.integers(0, 2**32 - 1), st.integers(1, 40))
    @settings(max_examples=40, deadline=None)
    def test_gini_formula_bounds(self, seed, n_hosts):
        import numpy as np

        rng = np.random.default_rng(seed)
        xs = sorted(int(v) for v in rng.integers(1, 1000, size=n_hosts))
        n, tot = len(xs), sum(xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        gini = num * 1_000_000 // (n * tot)
        assert 0 <= gini < 1_000_000
        if len(set(xs)) == 1:
            assert gini == 0
