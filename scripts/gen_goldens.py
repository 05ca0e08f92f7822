"""Generate committed-golden oracle rows for the deterministic, sf-independent
driver queries that have no SQL-expressible twin (bloom plumbing, image
kernels, the flagship crawl wave).

Each golden is the query's own output, captured once and committed to
``amazonwebcrawler_spark/goldens.json``; ``__spark_entry__.oracle_sql`` renders
it as a typed VALUES table for DuckDB, so the driver's value-hash gate checks
these queries like any other.

**Capture is self-checking**: every query's independent invariants (the ones
the pytest suite owns — planted counts, zero false negatives, all-true decode
flags, IVF recall vs the exact top-k) are asserted
HERE, at capture time, so a bug present when the golden is taken fails the
capture instead of being pinned as "correct". A golden therefore certifies
both drift-freedom since capture AND the invariants at capture.

Regenerate (and review the diff!) after any intentional behavior change:

    python scripts/gen_goldens.py
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: query → DuckDB type per column (must render to the exact Spark type:
#: INTEGER=int32, BIGINT=int64, DOUBLE=float64, VARCHAR, BOOLEAN)
GOLDEN_QUERIES: dict[str, dict[str, str]] = {
    "crawl_rank_wave": {"seed_id": "BIGINT", "keyword": "VARCHAR", "rank_string": "VARCHAR"},
    # IVF ANN is deterministic end to end (ordered bounded sample, seeded
    # k-means, micro-unit integer cos_sim, total (sim desc, id) tiebreak), so
    # the iterative k-means gets a committed golden instead of staying a
    # rows-only row
    "ann_ivf": {
        "query_id": "BIGINT", "neighbor_id": "BIGINT",
        "cos_sim_micro": "BIGINT", "rank": "INTEGER",
    },
    "images_decode": {
        "image_id": "VARCHAR", "w": "INTEGER", "h": "INTEGER", "fmt": "VARCHAR",
        "caption": "VARCHAR", "phash": "BIGINT", "n_bytes": "BIGINT",
    },
    "images_validate": {
        "image_id": "VARCHAR", "decode_ok": "BOOLEAN", "dims_ok": "BOOLEAN",
        "fmt_ok": "BOOLEAN", "phash_ok": "BOOLEAN", "phash_recomputed": "BIGINT",
        "caption_len": "INTEGER", "n_bytes": "INTEGER",
    },
    "images_resize": {
        "image_id": "VARCHAR", "w": "INTEGER", "h": "INTEGER",
        "bytes_md5": "VARCHAR", "n_bytes": "INTEGER",
    },
    "dedup_phash": {"id_a": "VARCHAR", "id_b": "VARCHAR", "hamming": "INTEGER"},
    "image_dedup_keep": {"doc_id": "VARCHAR", "group_id": "VARCHAR", "keep": "INTEGER"},
    "pair_dedup": {"doc_id": "VARCHAR", "group_id": "VARCHAR", "keep": "INTEGER"},
    "semantic_dedup": {"doc_id": "BIGINT", "group_id": "BIGINT", "keep": "INTEGER"},
    "image_ann": {
        "query_id": "VARCHAR", "neighbor_id": "VARCHAR",
        "cos_sim_e4": "BIGINT", "rank": "INTEGER",
    },
    "image_quality": {
        "image_id": "VARCHAR", "w": "INTEGER", "h": "INTEGER",
        "brightness_micro": "BIGINT", "contrast_micro": "BIGINT",
        "luma_entropy_micro": "BIGINT", "aspect_micro": "BIGINT",
        "is_low_quality": "BOOLEAN",
    },
    "image_pipeline": {
        "image_id": "VARCHAR", "stage": "VARCHAR",
        "bucket_id": "INTEGER", "bucket_w": "INTEGER", "bucket_h": "INTEGER",
        "resize_w": "INTEGER", "resize_h": "INTEGER",
        "crop_x": "INTEGER", "crop_y": "INTEGER",
    },
    "image_patches": {
        "image_id": "VARCHAR", "patch_row": "INTEGER", "patch_col": "INTEGER",
        "px_w": "INTEGER", "px_h": "INTEGER",
        "mean_r_milli": "BIGINT", "mean_g_milli": "BIGINT", "mean_b_milli": "BIGINT",
        "luma_micro": "BIGINT", "contrast_micro": "BIGINT", "is_flat": "BOOLEAN",
    },
    "crop_dedup": {"id_a": "VARCHAR", "id_b": "VARCHAR", "n_quadrants_close": "INTEGER"},
    "flip_dedup": {"id_a": "VARCHAR", "id_b": "VARCHAR", "hamming": "INTEGER"},
    # PQ ANN is deterministic end to end (ordered bounded sample, seeded
    # per-subspace k-means, literal-chain ADC sums, exact-integer cosine
    # re-rank with total tiebreaks) — same golden treatment as ann_ivf
    "ann_pq": {
        "query_id": "BIGINT", "neighbor_id": "BIGINT",
        "cos_sim_micro": "BIGINT", "rank": "INTEGER",
    },
    "border_crop": {
        "image_id": "VARCHAR", "w": "INTEGER", "h": "INTEGER",
        "b_top": "INTEGER", "b_bottom": "INTEGER",
        "b_left": "INTEGER", "b_right": "INTEGER",
        "crop_w": "INTEGER", "crop_h": "INTEGER",
        "phash_cropped": "BIGINT", "changed": "BOOLEAN", "decode_ok": "BOOLEAN",
    },
    "blur_detect": {
        "image_id": "VARCHAR", "w": "INTEGER", "h": "INTEGER",
        "lap_var": "BIGINT", "is_blurry": "BOOLEAN",
    },
    "channel_stats": {
        "channel": "VARCHAR", "n_px": "BIGINT",
        "mean_milli": "BIGINT", "var_micro": "BIGINT",
    },
    "smart_crop": {
        "image_id": "VARCHAR", "w": "INTEGER", "h": "INTEGER",
        "crop_x": "INTEGER", "crop_y": "INTEGER", "crop_side": "INTEGER",
        "cx_milli": "BIGINT", "cy_milli": "BIGINT",
    },
    "color_stats": {
        "image_id": "VARCHAR", "w": "INTEGER", "h": "INTEGER",
        "dom_bin": "INTEGER", "dom_milli": "BIGINT",
        "n_bins_used": "INTEGER", "gray_milli": "BIGINT",
        "is_lowinfo": "BOOLEAN",
    },
    "tile_detect": {
        "image_id": "VARCHAR", "n_patches": "BIGINT", "n_sigs": "BIGINT",
        "max_repeat": "BIGINT", "is_tiled": "BOOLEAN",
    },
    "upscale_detect": {
        "image_id": "VARCHAR", "w": "INTEGER", "h": "INTEGER",
        "is_flat": "BOOLEAN", "const2_milli": "BIGINT",
        "const3_milli": "BIGINT", "const4_milli": "BIGINT",
        "upscale_k": "INTEGER", "is_upscaled": "BOOLEAN",
    },
    "image_probe": {
        "image_id": "VARCHAR", "logit_micro": "BIGINT", "keep": "BOOLEAN",
    },
    "bloom_stats": {
        "bucket": "INTEGER", "n_probed": "BIGINT", "false_negatives": "BIGINT",
        "n_items": "BIGINT",
    },
    "cuckoo_stats": {
        "shard": "INTEGER", "n_probed": "BIGINT", "false_negatives": "BIGINT",
        "deleted_still_seen": "BIGINT", "n_items": "BIGINT",
    },
}

#: goldens whose query reads a testdata table are pinned to the scale they
#: were captured at (the driver's correctness scale). sf-independent queries
#: (fixtures / the synthetic crawl world) carry no pin. check_oracle.py skips
#: pinned goldens when run at a different sf instead of failing by
#: construction (ADVICE r2).
PINNED_SF: dict[str, str] = {
    "ann_ivf": "sf0.01",
    "semantic_dedup": "sf0.01",
    "ann_pq": "sf0.01",
}

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "amazonwebcrawler_spark", "goldens.json",
)


# ------------------------------------------------------------------ invariants
# Each checker receives (rows: list[dict], ctx) and must raise AssertionError
# on violation. These restate the INDEPENDENT expectations (planted inputs,
# algebraic identities), not the captured output.

def _check_crawl_rank_wave(rows, ctx):
    kws = {r["keyword"] for r in rows}
    assert kws == {"tpe yoga mat", "fitted sheet queen", "lined notebook a5"}, kws
    assert all(r["rank_string"] for r in rows)


def _check_ann_ivf(rows, ctx):
    """Recall vs the EXACT brute-force top-k at the same sf — the same ≥0.5
    floor the pytest recall test enforces (k=10 here, k=5 there)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ctx["qs"]["ann_topk"](ctx["spark"], ctx["sf_dir"]).collect()
    }
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ann_ivf recall@10 vs exact = {recall:.2f} < 0.5"
    for r in rows:
        assert 1 <= r["rank"] <= 10 and -1_000_000 <= r["cos_sim_micro"] <= 1_000_001, r


def _check_ann_pq(rows, ctx):
    """Same recall@10 ≥ 0.5 floor as ann_ivf vs the exact brute-force
    top-k, plus a full numpy re-verification of every emitted cosine
    (the micro-int contract — emitted VALUES are exact even though
    candidate selection is approximate)."""
    import numpy as np

    exact_rows = ctx["qs"]["ann_topk"](ctx["spark"], ctx["sf_dir"]).collect()
    exact = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ann_pq recall@10 vs exact = {recall:.2f} < 0.5"
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in ctx["spark"].read.parquet(f"{ctx['sf_dir']}/embeddings.parquet").collect()
    }
    for r in rows:
        assert 1 <= r["rank"] <= 10, r
        a, b = emb[r["query_id"]], emb[r["neighbor_id"]]
        denom = float(np.sqrt(a @ a) * np.sqrt(b @ b))
        want = round(float(a @ b) / denom * 1_000_000) if denom > 0 else 0
        assert abs(r["cos_sim_micro"] - want) <= 1, (r, want)


def _check_images_decode(rows, ctx):
    assert len(rows) == 32, len(rows)
    for r in rows:
        assert r["w"] > 0 and r["h"] > 0 and r["n_bytes"] > 0, r
        assert r["caption"] and r["fmt"] in ("png", "jpeg"), r


def _check_images_validate(rows, ctx):
    """q_images_validate plants corruption at i%16==0 and phash drift at
    i%11==0 over i=1..48 — the flags must localize exactly there."""
    assert len(rows) == 48, len(rows)
    bad_decode = sum(not r["decode_ok"] for r in rows)
    assert bad_decode == 3, f"planted 3 corrupt images, flagged {bad_decode}"
    drifted = sum((not r["phash_ok"]) and r["decode_ok"] for r in rows)
    assert drifted == 4, f"planted 4 phash drifts, flagged {drifted}"
    for r in rows:
        if r["decode_ok"]:
            assert r["dims_ok"] and r["fmt_ok"], r
            assert r["phash_recomputed"] is not None, r


def _check_dedup_phash(rows, ctx):
    """Blocking exactness: the blocked operator's pairs must equal a
    brute-force O(n²) Python scan over the SAME 48 images' pHashes, and
    the planted codec-variant pairs (hamming exactly i%4) must appear iff
    i%4 ≤ 2 — the threshold boundary is pinned from both sides."""
    from amazonwebcrawler_spark.functions.images import decode_image, hamming64, phash64
    from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

    imgs = []
    for i in range(24):
        base = block_image_record(f"blk-{i}")
        var = block_image_record(f"blk-{i}", flip_cells=i % 4, fmt="jpeg")
        imgs.append((base["image_id"], phash64(decode_image(base["bytes"]))))
        imgs.append((f"{var['image_id']}-v", phash64(decode_image(var["bytes"]))))
    expected = {
        (a, b, hamming64(pa, pb))
        for (a, pa) in imgs
        for (b, pb) in imgs
        if a < b and hamming64(pa, pb) <= 2
    }
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in rows}
    assert got == expected, (sorted(got - expected), sorted(expected - got))
    for i in range(24):
        planted = (f"blk-{i}", f"blk-{i}-v", i % 4)
        assert (planted in got) == (i % 4 <= 2), planted


def _check_crop_dedup(rows, ctx):
    """Re-derive the quadrant vote brute-force (O(n²) over the SAME 32
    images: decode → 4 quadrant pHashes → pairwise hamming per quadrant →
    count ≤2-close quadrants, keep ≥3) and assert equality; pin the
    planted classes: re-encode 4/4, one-overlay EXACTLY 3/4,
    two-overlay/unrelated absent. Also pin the operator's reason to
    exist: EVERY one-overlay pair exceeds hamming 2 on the WHOLE-image
    pHash (phash_neardup_pairs at t=2 misses all of them)."""
    import numpy as np  # noqa: F401  (decode path uses it)

    from amazonwebcrawler_spark.functions.images import (
        decode_image,
        encode_png,
        hamming64,
        phash64,
        quadrant_phashes,
    )
    from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

    def stamp(px, quadrant):
        px = px.copy()
        h, w, _ = px.shape
        hh, hw = h // 2, w // 2
        y0 = 0 if quadrant in (0, 1) else hh
        x0 = 0 if quadrant in (0, 2) else hw
        ys, xs = y0 + hh // 4, x0 + hw // 4
        px[ys : ys + hh // 2, xs : xs + hw // 2] = (
            255 - px[ys : ys + hh // 2, xs : xs + hw // 2]
        )
        return px

    imgs = {}
    for i in range(16):
        base = block_image_record(f"crop-{i}")
        px = decode_image(base["bytes"])
        imgs[f"crop-{i}"] = base["bytes"]
        mode = i % 4
        if mode == 0:
            var = encode_png(px)
        elif mode == 1:
            var = encode_png(stamp(px, (i // 4) % 4))
        elif mode == 2:
            var = encode_png(stamp(stamp(px, 0), 3))
        else:
            var = block_image_record(f"crop-other-{i}")["bytes"]
        imgs[f"crop-{i}-v"] = var
    qh = {k: quadrant_phashes(decode_image(v)) for k, v in imgs.items()}
    wh = {k: phash64(decode_image(v)) for k, v in imgs.items()}
    expected = {}
    ids = sorted(qh)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            n = sum(hamming64(qa, qb) <= 2 for qa, qb in zip(qh[a], qh[b]))
            if n >= 3:
                expected[(a, b)] = n
    got = {(r["id_a"], r["id_b"]): r["n_quadrants_close"] for r in rows}
    assert got == expected, (sorted(got.items() - expected.items()),
                             sorted(expected.items() - got.items()))
    for i in range(16):
        pair = (f"crop-{i}", f"crop-{i}-v")
        mode = i % 4
        if mode == 0:
            assert got.get(pair) == 4, (pair, got.get(pair))
        elif mode == 1:
            assert got.get(pair) == 3, (pair, got.get(pair))
            assert hamming64(wh[pair[0]], wh[pair[1]]) > 2, (
                pair, "whole-image pHash should miss the overlay variant")
        else:
            assert pair not in got, (pair, got.get(pair))


def _check_image_dedup_keep(rows, ctx):
    """Re-derive the ENTIRE keep decision brute-force (O(n²) pair scan →
    union-find → max-bytes election, Spark untouched) and assert equality;
    then pin the planted structure: each k≤2 (master, re-encode) pair forms
    one group keeping the bigger PNG master, k=3 variants stay singleton."""
    from amazonwebcrawler_spark.functions.images import decode_image, hamming64, phash64
    from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

    imgs = []
    for i in range(24):
        base = block_image_record(f"blk-{i}")
        var = block_image_record(f"blk-{i}", flip_cells=i % 4, fmt="jpeg")
        imgs.append((base["image_id"], base["bytes"]))
        imgs.append((f"{var['image_id']}-v", var["bytes"]))
    ph = {iid: phash64(decode_image(b)) for iid, b in imgs}
    parent = {iid: iid for iid, _ in imgs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, _ in imgs:
        for b, _ in imgs:
            if a < b and hamming64(ph[a], ph[b]) <= 2:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    groups: dict[str, list[str]] = {}
    for iid, _ in imgs:
        groups.setdefault(find(iid), []).append(iid)
    size = {iid: len(b) for iid, b in imgs}
    expected = set()
    for members in groups.values():
        gid = min(members)
        keeper = min(members, key=lambda m: (-size[m], m))
        for m in members:
            expected.add((m, gid, int(m == keeper)))
    got = {(r["doc_id"], r["group_id"], r["keep"]) for r in rows}
    assert got == expected, (sorted(got - expected), sorted(expected - got))
    for i in range(24):
        master, variant = f"blk-{i}", f"blk-{i}-v"
        if i % 4 <= 2:  # grouped: lossless master (bigger) kept, re-encode dropped
            assert (master, master, 1) in got and (variant, master, 0) in got, i
            assert size[master] > size[variant], i
        else:  # hamming 3 > t=2 → separate singleton groups, both kept
            assert (master, master, 1) in got and (variant, variant, 1) in got, i


def _check_pair_dedup(rows, ctx):
    """Re-derive the joint image+caption keep decision brute-force (O(n²)
    pHash scan + exact 3-gram caption Jaccard + union-find + max-bytes
    election) and assert equality; then pin the planted structure: image
    edges group the rewritten-caption re-encodes, caption edges group the
    different-image boilerplate pairs, i%3==2 records stay singleton, and
    the mixed-modality chain pair-0 ~image~ pair-0-img ~caption~ tri-0-cap
    collapses to ONE group of three."""
    import re

    from amazonwebcrawler_spark.functions.images import decode_image, hamming64, phash64
    from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

    def cap(i):
        return (
            f"a studio photo of curated item number {i} resting on a "
            f"plain wooden table top under soft diffused light"
        )

    def noise(i):
        return (
            f"noise caption {i} apple banana cherry dog elephant fox "
            f"grape house igloo jungle kite lemon"
        )

    recs = []
    for i in range(18):
        base = block_image_record(f"pair-{i}")
        recs.append((base["image_id"], base["bytes"], cap(i)))
        if i % 3 == 0:
            var = block_image_record(f"pair-{i}", flip_cells=(i // 3) % 3, fmt="jpeg")
            recs.append((f"pair-{i}-img", var["bytes"], noise(i)))
        elif i % 3 == 1:
            alt = block_image_record(f"alt-{i}")
            recs.append((f"pair-{i}-cap", alt["bytes"], cap(i) + " extra"))
    tri = block_image_record("tri-0")
    recs.append(("tri-0-cap", tri["bytes"], noise(0) + " extra"))

    ph = {iid: phash64(decode_image(b)) for iid, b, _ in recs}

    def shingle_set(t):
        toks = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        return {" ".join(toks[p : p + 3]) for p in range(len(toks) - 2)}

    shs = {iid: shingle_set(c) for iid, _, c in recs}
    parent = {iid: iid for iid, _, _ in recs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = [iid for iid, _, _ in recs]
    for a in ids:
        for b in ids:
            if a >= b:
                continue
            img_dup = hamming64(ph[a], ph[b]) <= 2
            inter = len(shs[a] & shs[b])
            union = len(shs[a] | shs[b])
            cap_dup = union > 0 and (inter * 1_000_000) // union >= 800_000
            if img_dup or cap_dup:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    groups: dict[str, list[str]] = {}
    for iid in ids:
        groups.setdefault(find(iid), []).append(iid)
    size = {iid: len(b) for iid, b, _ in recs}
    expected = set()
    for members in groups.values():
        gid = min(members)
        keeper = min(members, key=lambda m: (-size[m], m))
        for m in members:
            expected.add((m, gid, int(m == keeper)))
    got = {(r["doc_id"], r["group_id"], r["keep"]) for r in rows}
    assert got == expected, (sorted(got - expected), sorted(expected - got))
    gid_of = {m: min(ms) for ms in groups.values() for m in ms}
    for i in range(18):
        if i % 3 == 0:
            assert gid_of[f"pair-{i}"] == gid_of[f"pair-{i}-img"], i
        elif i % 3 == 1:
            assert gid_of[f"pair-{i}"] == gid_of[f"pair-{i}-cap"], i
        else:
            assert [m for m in ids if gid_of[m] == gid_of[f"pair-{i}"]] == [f"pair-{i}"], i
    tri_group = {m for m in ids if gid_of[m] == gid_of["pair-0"]}
    assert tri_group == {"pair-0", "pair-0-img", "tri-0-cap"}, tri_group




def _check_semantic_dedup(rows, ctx):
    """Re-derive the expected SemDeDup decision WITHOUT the engine's
    clustering: brute-force ALL float64 cosines over the rebuilt fixture,
    assert the planted separation margins (near-variants > 0.99, far
    blends and every natural pair < 0.94 — so no pair sits near the 0.95
    boundary and cross-engine float drift cannot flip membership), then
    union-find the >= threshold pairs and compare groups exactly. Keep
    structure: exactly one keeper per group, singletons keep themselves."""
    import duckdb
    import numpy as np

    sf_dir = ctx["sf_dir"]
    con = duckdb.connect()
    base = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids, vecs = [], []
    by_id = {vid: np.array(v, dtype=np.float32) for vid, v in base}
    for vid, v in base:
        ids.append(vid)
        vecs.append(np.array(v, dtype=np.float32))
    for vid, v in base:
        if vid % 7 == 0:
            p = np.array(v, dtype=np.float32).astype(np.float64)
            p[0] += 0.001
            ids.append(vid + 1_000_000)
            vecs.append(p.astype(np.float32))
        if vid % 11 == 0 and (vid + 1) in by_id:
            b = (
                np.array(v, dtype=np.float32).astype(np.float64) * 0.8
                + by_id[vid + 1].astype(np.float64) * 0.6
            )
            ids.append(vid + 2_000_000)
            vecs.append(b.astype(np.float32))
    X = np.stack(vecs).astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    np.fill_diagonal(S, -1.0)
    n = len(ids)
    idx = {vid: i for i, vid in enumerate(ids)}
    planted = {
        (idx[vid], idx[vid + 1_000_000])
        for vid in ids
        if vid + 1_000_000 in idx and vid < 1_000_000
    }
    iu, ju = np.triu_indices(n, 1)
    hit = S[iu, ju] >= 0.95
    over = set(zip(iu[hit].tolist(), ju[hit].tolist()))
    assert over == planted, (len(over), len(planted))
    # separation margins: nothing within drift distance of the threshold
    near_thr = (S[iu, ju] >= 0.94) & (S[iu, ju] < 0.99)
    assert not near_thr.any(), int(near_thr.sum())
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in planted:
        parent[max(find(i), find(j))] = min(find(i), find(j))
    groups = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(ids[i])
    expected_groups = {frozenset(ms) for ms in groups.values()}
    got_groups = {}
    for r in rows:
        got_groups.setdefault(r["group_id"], set()).add(r["doc_id"])
    assert {frozenset(v) for v in got_groups.values()} == expected_groups
    keeps_per_group = {}
    for r in rows:
        keeps_per_group[r["group_id"]] = keeps_per_group.get(r["group_id"], 0) + r["keep"]
    for gid, members in got_groups.items():
        assert gid == min(members), (gid, sorted(members))
        assert keeps_per_group[gid] == 1, (gid, keeps_per_group[gid])
    assert len(rows) == n


def _check_image_ann(rows, ctx):
    """Recompute embeddings + cosine independently in numpy (from the same
    opaque bytes, mirroring the float32 storage cast and the micro-int
    ranking contract) and re-derive the full top-3 table; then pin the
    retrieval semantics: each queried master's nearest neighbor is its
    lossy re-encode at cosine ≈ 1."""
    import numpy as np

    from amazonwebcrawler_spark.functions.images import decode_image, embed_image
    from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

    emb = {}
    for i in range(16):
        base = block_image_record(f"ann-{i}")
        var = block_image_record(f"ann-{i}", flip_cells=i % 4, fmt="jpeg")
        for iid, data in ((base["image_id"], base["bytes"]), (f"{var['image_id']}-v", var["bytes"])):
            # mirror IMAGE_EMBED_SCHEMA's array<float>: store f32, rank in f64
            emb[iid] = np.array(embed_image(decode_image(data)), dtype=np.float32).astype(np.float64)

    def cos(a, b):
        return float(emb[a] @ emb[b] / (np.linalg.norm(emb[a]) * np.linalg.norm(emb[b])))

    expected = set()
    top_cos = []
    for i, q in enumerate(("ann-0", "ann-1", "ann-2", "ann-3")):
        scored = sorted(
            ((int(round(cos(q, n) * 1_000_000)), n) for n in emb if n != q),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        for rank, (c, n) in enumerate(scored, 1):
            expected.add((q, n, int(round(c / 100)), rank))
        # the re-encode always retrieves first; each flipped cell moves one
        # of the 16 embedding cells, so similarity degrades but stays far
        # above the unrelated-pattern noise floor (~0)
        assert scored[0][1] == f"{q}-v" and scored[0][0] > 600_000, (q, scored[0])
        top_cos.append(scored[0][0])
    # flip_cells = i for these four queries → strictly decreasing cosine,
    # with the 0-flip pair at ≈ 1 (lossy codec alone barely moves the vector)
    assert top_cos[0] > 999_000, top_cos
    assert all(a > b for a, b in zip(top_cos, top_cos[1:])), top_cos
    got = {(r["query_id"], r["neighbor_id"], r["cos_sim_e4"], r["rank"]) for r in rows}
    assert got == expected, (sorted(got - expected), sorted(expected - got))


def _check_images_resize(rows, ctx):
    assert len(rows) == 32, len(rows)
    for r in rows:
        assert (r["w"], r["h"]) == (48, 32), r
        assert r["n_bytes"] > 0 and r["bytes_md5"], r


def _check_image_quality(rows, ctx):
    """Analytic expectations for the planted diagnostics, then an
    independent numpy recompute of EVERY decodable row (the statistics are
    restated here from their definitions, decode aside)."""
    import numpy as np

    from amazonwebcrawler_spark.functions.images import decode_image
    from amazonwebcrawler_spark.sources.synthetic_world import asin_for, image_record

    by_id = {r["image_id"]: r for r in rows}
    # 24 world images + 3 decodable diagnostics; diag-corrupt is filtered
    # by the query (all-null quarantine row — pytest owns that path)
    assert len(rows) == 27 and "diag-corrupt" not in by_id, len(rows)
    flat = by_id["diag-flat"]
    assert flat["contrast_micro"] == 0 and flat["luma_entropy_micro"] == 0, flat
    # mean luma 128/255 → floor(128e9 / 255e3 / 1e0)… = 501960 (floor-div)
    assert flat["brightness_micro"] == (128_000 * 1_000_000) // 255_000, flat
    assert flat["is_low_quality"], flat
    stripe = by_id["diag-stripe"]
    assert stripe["brightness_micro"] == 500_000 and stripe["contrast_micro"] == 500_000, stripe
    assert stripe["luma_entropy_micro"] == round(math.log(2) * 1_000_000), stripe
    assert not stripe["is_low_quality"], stripe
    tiny = by_id["diag-tiny"]
    assert tiny["is_low_quality"] and (tiny["w"], tiny["h"]) == (12, 4), tiny
    assert tiny["aspect_micro"] == 3_000_000, tiny

    def recompute(data: bytes) -> dict:
        # independent restatement of the integer-exact definitions:
        # milli-luma ints, floor-div mean, exact variance numerator,
        # entropy from exact bin counts (numpy float64 reduction here vs
        # math.log loop in the kernel — agreement IS the cross-impl check)
        px = decode_image(data).astype(np.int64)
        h, w, _ = px.shape
        y = 299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2]
        n = y.size
        s1, s2 = int(y.sum()), int((y * y).sum())
        bins = np.bincount((y // 16_000).ravel(), minlength=16)
        p = bins[bins > 0] / n
        return {
            "w": w, "h": h,
            "brightness_micro": (s1 * 1_000_000) // (n * 255_000),
            "contrast_micro": int(round(math.sqrt(float(n * s2 - s1 * s1)) / (n * 255_000) * 1e6)),
            "luma_entropy_micro": int(round(float(-(p * np.log(p)).sum()) * 1_000_000)),
            "aspect_micro": (w * 1_000_000) // h,
        }

    for i in range(1, 25):
        rec = image_record(asin_for("quality probe", 1, i))
        got = by_id[rec["image_id"]]
        want = recompute(rec["bytes"])
        for k, v in want.items():
            assert got[k] == v, (rec["image_id"], k, got[k], v)


def _check_image_pipeline(rows, ctx):
    """Re-derive the ENTIRE cascade brute-force, Spark untouched: decode →
    quality thresholds → O(n²) hamming pair scan among survivors →
    union-find → max-bytes election → nearest-log-aspect bucket + cover
    resize/crop for kept rows; then pin the planted stage counts."""
    import math as _math

    import numpy as np

    from amazonwebcrawler_spark.functions.images import (
        decode_image,
        encode_png,
        hamming64,
        phash64,
        quality_stats,
    )
    from amazonwebcrawler_spark.operators.images_io import DEFAULT_ASPECT_BUCKETS
    from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

    imgs = []
    for i in range(20):
        base = block_image_record(f"pipe-{i}")
        var = block_image_record(f"pipe-{i}", flip_cells=i % 4, fmt="jpeg")
        imgs.append((base["image_id"], base["bytes"]))
        imgs.append((f"{var['image_id']}-v", var["bytes"]))
    imgs += [
        ("diag-flat", encode_png(np.full((32, 32, 3), 128, dtype=np.uint8))),
        ("diag-tiny", encode_png(np.full((4, 12, 3), 200, dtype=np.uint8))),
        ("diag-corrupt", b"NOTANIMAGE"),
    ]
    stage: dict[str, str] = {}
    ph: dict[str, int] = {}
    dims: dict[str, tuple[int, int]] = {}
    size = {iid: len(b) for iid, b in imgs}
    for iid, b in imgs:
        try:
            px = decode_image(b)
        except Exception:
            stage[iid] = "invalid"
            continue
        q = quality_stats(px)
        dims[iid] = (q["w"], q["h"])
        if q["is_low_quality"]:
            stage[iid] = "low_quality"
        else:
            ph[iid] = phash64(px)
    survivors = sorted(ph)
    parent = {iid: iid for iid in survivors}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in survivors:
        for b in survivors:
            if a < b and hamming64(ph[a], ph[b]) <= 2:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    groups: dict[str, list[str]] = {}
    for iid in survivors:
        groups.setdefault(find(iid), []).append(iid)
    for members in groups.values():
        keeper = min(members, key=lambda m: (-size[m], m))
        for m in members:
            stage[m] = "kept" if m == keeper else "dup_drop"

    expected = set()
    for iid, _ in imgs:
        st = stage[iid]
        if st != "kept":
            expected.add((iid, st, None, None, None, None, None, None, None))
            continue
        w, h = dims[iid]
        bid, (bw, bh) = min(
            enumerate(DEFAULT_ASPECT_BUCKETS),
            key=lambda e: (round(abs(_math.log(w / h) - _math.log(e[1][0] / e[1][1])), 6), e[0]),
        )
        rw = max(bw, (w * bh + h - 1) // h)
        rh = max(bh, (h * bw + w - 1) // w)
        expected.add((iid, "kept", bid, bw, bh, rw, rh, (rw - bw) // 2, (rh - bh) // 2))
    got = {
        (r["image_id"], r["stage"], r["bucket_id"], r["bucket_w"], r["bucket_h"],
         r["resize_w"], r["resize_h"], r["crop_x"], r["crop_y"])
        for r in rows
    }
    assert got == expected, (sorted(got - expected)[:5], sorted(expected - got)[:5])
    counts = {}
    for _, st, *_rest in got:
        counts[st] = counts.get(st, 0) + 1
    # 15 re-encodes within hamming<=2 of their master drop; 20 masters +
    # 5 k=3 variants survive; flat+tiny gate out; corrupt quarantines
    assert counts == {"invalid": 1, "low_quality": 2, "dup_drop": 15, "kept": 25}, counts


def _check_image_patches(rows, ctx):
    """Independent restatement of the integer-exact patch definitions
    (slicing boundaries, int64 sums, floor-div means, one IEEE sqrt) over
    every decodable input, plus closed-form pins for the planted
    diagnostics: the flat tile (all 16 patches flat at mean 77), the
    patch-aligned half-split (8 black flats + 8 white flats), and the
    corrupt row contributing ZERO rows."""
    import math as _math

    import numpy as np

    from amazonwebcrawler_spark.functions.images import decode_image, encode_png
    from amazonwebcrawler_spark.sources.synthetic_world import asin_for, image_record

    imgs = {}
    for i in range(1, 25):
        rec = image_record(asin_for("patch probe", 1, i))
        imgs[rec["image_id"]] = rec["bytes"]
    imgs["diag-flat"] = encode_png(np.full((16, 16, 3), 77, dtype=np.uint8))
    half = np.zeros((8, 8, 3), dtype=np.uint8)
    half[:, 4:] = 255
    imgs["diag-half"] = encode_png(half)

    expected = set()
    for iid, data in imgs.items():
        px = decode_image(data).astype(np.int64)
        h, w, _ = px.shape
        assert h >= 4 and w >= 4, (iid, h, w)  # no repeat path in this fixture
        for r in range(4):
            y0, y1 = (r * h) // 4, ((r + 1) * h) // 4
            for c in range(4):
                x0, x1 = (c * w) // 4, ((c + 1) * w) // 4
                cell = px[y0:y1, x0:x1]
                n = cell.shape[0] * cell.shape[1]
                sr, sg, sb = (int(cell[..., k].sum()) for k in range(3))
                y = 299 * cell[..., 0] + 587 * cell[..., 1] + 114 * cell[..., 2]
                s1, s2 = int(y.sum()), int((y * y).sum())
                vn = n * s2 - s1 * s1
                expected.add((
                    iid, r, c, x1 - x0, y1 - y0,
                    (sr * 1_000) // n, (sg * 1_000) // n, (sb * 1_000) // n,
                    (s1 * 1_000_000) // (n * 255_000),
                    int(round(_math.sqrt(float(vn)) / (n * 255_000) * 1e6)),
                    vn == 0,
                ))
    got = {
        (r["image_id"], r["patch_row"], r["patch_col"], r["px_w"], r["px_h"],
         r["mean_r_milli"], r["mean_g_milli"], r["mean_b_milli"],
         r["luma_micro"], r["contrast_micro"], r["is_flat"])
        for r in rows
    }
    assert len(rows) == 26 * 16 and got == expected, (
        len(rows), sorted(got - expected)[:3], sorted(expected - got)[:3])
    flats = [r for r in rows if r["image_id"] == "diag-flat"]
    assert len(flats) == 16 and all(
        r["is_flat"] and r["mean_r_milli"] == 77_000 and r["contrast_micro"] == 0
        and r["luma_micro"] == (77_000 * 1_000_000) // 255_000
        for r in flats
    ), flats[:2]
    halves = [r for r in rows if r["image_id"] == "diag-half"]
    blacks = [r for r in halves if r["patch_col"] <= 1]
    whites = [r for r in halves if r["patch_col"] >= 2]
    assert len(blacks) == len(whites) == 8
    assert all(r["is_flat"] and r["luma_micro"] == 0 for r in blacks), blacks[:2]
    assert all(r["is_flat"] and r["luma_micro"] == 1_000_000 for r in whites), whites[:2]
    assert not any(r["image_id"] == "diag-corrupt" for r in rows)


def _check_tile_detect(rows, ctx):
    """Independent re-derivation of every patch SIGNATURE (the same
    integer patch stats as _check_image_patches, tupled) and the per-image
    rollup, plus closed-form pins for the planted diagnostics: the
    16×-repeated tile (one signature), the two-tile checkerboard (2×8),
    the linear gradient (16 distinct signatures, untiled) and the corrupt
    row (absent)."""
    import math as _math
    from collections import Counter

    import numpy as np

    from amazonwebcrawler_spark.functions.images import decode_image, encode_png
    from amazonwebcrawler_spark.sources.synthetic_world import asin_for, image_record

    imgs = {}
    for i in range(1, 25):
        rec = image_record(asin_for("tile probe", 1, i))
        imgs[rec["image_id"]] = rec["bytes"]
    tile_a = ((np.arange(8 * 8 * 3) * 37 + 11) % 251).reshape(8, 8, 3).astype(np.uint8)
    tile_b = ((np.arange(8 * 8 * 3) * 53 + 7) % 241).reshape(8, 8, 3).astype(np.uint8)
    imgs["diag-tile16"] = encode_png(np.tile(tile_a, (4, 4, 1)))
    board = np.concatenate(
        [
            np.concatenate(
                [tile_a if (r + c) % 2 == 0 else tile_b for c in range(4)], axis=1
            )
            for r in range(4)
        ],
        axis=0,
    )
    imgs["diag-tile8"] = encode_png(board)
    yy, xx, cc = np.meshgrid(np.arange(32), np.arange(32), np.arange(3), indexing="ij")
    imgs["diag-organic"] = encode_png(((13 * yy + 7 * xx + 5 * cc) % 229).astype(np.uint8))

    expected = {}
    for iid, data in imgs.items():
        px = decode_image(data).astype(np.int64)
        h, w, _ = px.shape
        sigs = Counter()
        for r in range(4):
            y0, y1 = (r * h) // 4, ((r + 1) * h) // 4
            for c in range(4):
                x0, x1 = (c * w) // 4, ((c + 1) * w) // 4
                cell = px[y0:y1, x0:x1]
                n = cell.shape[0] * cell.shape[1]
                sr, sg, sb = (int(cell[..., k].sum()) for k in range(3))
                y = 299 * cell[..., 0] + 587 * cell[..., 1] + 114 * cell[..., 2]
                s1, s2 = int(y.sum()), int((y * y).sum())
                vn = n * s2 - s1 * s1
                sigs[(
                    (sr * 1_000) // n, (sg * 1_000) // n, (sb * 1_000) // n,
                    (s1 * 1_000_000) // (n * 255_000),
                    int(round(_math.sqrt(float(vn)) / (n * 255_000) * 1e6)),
                    vn == 0,
                )] += 1
        mx = max(sigs.values())
        expected[iid] = (16, len(sigs), mx, mx >= 4)
    got = {
        r["image_id"]: (r["n_patches"], r["n_sigs"], r["max_repeat"], r["is_tiled"])
        for r in rows
    }
    assert got == expected, (
        {k: (got.get(k), expected.get(k)) for k in set(got) ^ set(expected)
         or [k for k in got if got[k] != expected[k]][:3]})
    assert got["diag-tile16"] == (16, 1, 16, True)
    assert got["diag-tile8"] == (16, 2, 8, True)
    assert got["diag-organic"] == (16, 16, 1, False)
    assert "diag-corrupt" not in got


def _check_upscale_detect(rows, ctx):
    """Independent replay: decode every image the query built and
    re-derive each constant-block fraction via np.unique over block
    pixels (the kernel uses block max==min — a different arithmetic
    path), then pin the planted diagnostics COMBINATORIALLY: for a k×
    NN upscale, a j-block is constant iff its span stays inside one
    source pixel in both dims, so const_j = cnt(j,k,H)·cnt(j,k,W)
    /blocks with cnt counted from first principles."""
    import numpy as np

    from amazonwebcrawler_spark.functions import images as fi
    from amazonwebcrawler_spark.functions.images import resize_pixels
    from amazonwebcrawler_spark.sources import synthetic_world as world

    def tex(h, w):
        yy, xx, cc = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
        return ((37 * yy + 17 * xx + 29 * cc) % 239).astype(np.uint8)

    imgs = {}
    for i in range(1, 25):
        rec = world.image_record(world.asin_for("upscale probe", 1, i))
        imgs[rec["image_id"]] = fi.decode_image(rec["bytes"])
    imgs["diag-up2"] = resize_pixels(tex(12, 16), 32, 24)
    imgs["diag-up3"] = resize_pixels(tex(8, 8), 24, 24)
    imgs["diag-up4"] = resize_pixels(tex(8, 8), 32, 32)
    imgs["diag-up6"] = resize_pixels(tex(6, 8), 48, 36)
    imgs["diag-organic"] = tex(32, 32)
    imgs["diag-flat"] = np.full((16, 16, 3), 150, np.uint8)
    imgs["diag-sliver"] = tex(2, 3)

    expected = {}
    for iid, px in imgs.items():
        h, w, _ = px.shape
        consts = {}
        for k in (2, 3, 4):
            bh, bw = h // k, w // k
            if bh == 0 or bw == 0:
                consts[k] = None
                continue
            n_const = 0
            for r in range(bh):
                for c in range(bw):
                    block = px[r * k : (r + 1) * k, c * k : (c + 1) * k]
                    n_const += len(np.unique(block.reshape(-1, 3), axis=0)) == 1
            consts[k] = 1000 * n_const // (bh * bw)
        upk = next(
            (k for k in (4, 3, 2) if consts[k] is not None and consts[k] >= 950), None
        )
        flat = bool((px == px[0, 0]).all())
        expected[iid] = (
            w, h, flat, consts[2], consts[3], consts[4],
            upk, upk is not None and not flat,
        )

    def cnt(j, k, n):
        return sum(1 for s in range(0, n - j + 1, j) if s // k == (s + j - 1) // k)

    for iid, k, (h, w) in (
        ("diag-up2", 2, (24, 32)), ("diag-up3", 3, (24, 24)),
        ("diag-up4", 4, (32, 32)), ("diag-up6", 6, (36, 48)),
    ):
        got = expected[iid]
        for ji, j in enumerate((2, 3, 4)):
            pin = 1000 * cnt(j, k, h) * cnt(j, k, w) // ((h // j) * (w // j))
            assert got[3 + ji] == pin, (iid, j, got[3 + ji], pin)
    assert expected["diag-up2"][6:] == (2, True)
    assert expected["diag-up3"][6:] == (3, True)
    assert expected["diag-up4"][6:] == (4, True)
    assert expected["diag-up6"][6:] == (3, True)  # largest verified ≤4
    assert expected["diag-flat"][2] and expected["diag-flat"][6:] == (4, False)
    assert expected["diag-organic"][3:7] == (0, 0, 0, None)
    assert expected["diag-sliver"][4:7] == (None, None, None)
    # organic world shots: noise ⇒ none flagged (the false-positive guard)
    assert not any(
        v[7] for k, v in expected.items() if not k.startswith("diag-")
    )

    got_rows = {
        r["image_id"]: (
            r["w"], r["h"], r["is_flat"], r["const2_milli"], r["const3_milli"],
            r["const4_milli"], r["upscale_k"], r["is_upscaled"],
        )
        for r in rows
    }
    assert got_rows == expected, (
        sorted(set(got_rows) ^ set(expected))[:3],
        [k for k in got_rows if k in expected and got_rows[k] != expected[k]][:3],
    )
    assert "diag-corrupt" not in got_rows


def _check_image_probe(rows, ctx):
    """Replay decode → grid-mean embed → the SAME sequential dot in
    Python (fixed summation order — the determinism contract) and pin
    both verdict classes present, the flat-card row, and the corrupt
    drop."""
    import numpy as np

    from amazonwebcrawler_spark.functions import images as fi
    from amazonwebcrawler_spark.sources import synthetic_world as world

    w = fi.probe_weights()
    imgs = {}
    for i in range(1, 25):
        rec = world.image_record(world.asin_for("probe gate", 1, i))
        imgs[rec["image_id"]] = rec["bytes"]
    imgs["probe-flat"] = fi.encode_png(np.full((16, 16, 3), 128, np.uint8))

    expected = {}
    for iid, data in imgs.items():
        emb = fi.embed_image(fi.decode_image(data), grid=4)
        s = 0.0
        for a, b in zip(w, emb):
            s += a * b
        logit = round(s * 1e6) - 1_183_000
        expected[iid] = (logit, logit >= 0)

    got = {r["image_id"]: (r["logit_micro"], r["keep"]) for r in rows}
    assert got == expected, (
        sorted(set(got) ^ set(expected))[:3],
        [k for k in got if k in expected and got[k] != expected[k]][:3],
    )
    keeps = {v[1] for v in expected.values()}
    assert keeps == {True, False}  # both verdict classes occur
    assert "probe-corrupt" not in got
    # flat card: all-equal pixels embed to the zero-centered vector →
    # the dot collapses to ~0 and the bias decides
    assert not expected["probe-flat"][1]


def _check_blur_detect(rows, ctx):
    """Re-derive every Laplacian variance through an INDEPENDENT arithmetic
    path (Fraction mean-centred variance instead of the kernel's
    n·Σv²−(Σv)² identity), and pin the planted ordering: every sharp world
    shot sits above the floor, every box-blurred variant below it, the
    flat tile at exactly 0; sub-3px and corrupt rows are filtered."""
    from fractions import Fraction

    import numpy as np

    from amazonwebcrawler_spark.functions.images import (
        BLUR_VAR_MIN,
        decode_image,
        encode_png,
    )
    from amazonwebcrawler_spark.sources.synthetic_world import asin_for, image_record

    def boxblur(px):
        p = px.astype(np.int64)
        s = (
            p[:-2, :-2] + p[:-2, 1:-1] + p[:-2, 2:]
            + p[1:-1, :-2] + p[1:-1, 1:-1] + p[1:-1, 2:]
            + p[2:, :-2] + p[2:, 1:-1] + p[2:, 2:]
        )
        out = p.copy()
        out[1:-1, 1:-1] = s // 9
        return out.astype(np.uint8)

    def lap_var(px) -> int:
        px = px.astype(np.int64)
        y = 299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2]
        v = (
            4 * y[1:-1, 1:-1] - y[:-2, 1:-1] - y[2:, 1:-1]
            - y[1:-1, :-2] - y[1:-1, 2:]
        )
        vals = [int(x) for x in v.ravel()]
        n = len(vals)
        mu = Fraction(sum(vals), n)
        var = sum((Fraction(x) - mu) ** 2 for x in vals) / n
        return int(var)  # int() of a Fraction floors toward zero; var ≥ 0

    inputs, seen, n_blurred = {}, set(), 0
    for i in range(1, 40):
        if len(seen) == 24:
            break
        rec = image_record(asin_for("blur probe", 1, i))
        if rec["image_id"] in seen:
            continue
        seen.add(rec["image_id"])
        inputs[rec["image_id"]] = rec["bytes"]
        if n_blurred < 6:
            inputs[rec["image_id"] + "-blur"] = encode_png(
                boxblur(decode_image(rec["bytes"]))
            )
            n_blurred += 1
    inputs["diag-flat"] = encode_png(np.full((32, 32, 3), 128, dtype=np.uint8))

    by_id = {r["image_id"]: r for r in rows}
    assert len(rows) == 31 and set(by_id) == set(inputs), (len(rows), set(by_id) ^ set(inputs))
    assert "diag-tiny" not in by_id and "diag-corrupt" not in by_id
    assert by_id["diag-flat"]["lap_var"] == 0 and by_id["diag-flat"]["is_blurry"]
    for iid, data in inputs.items():
        px = decode_image(data)
        want = lap_var(px)
        got = by_id[iid]
        assert got["lap_var"] == want, (iid, got["lap_var"], want)
        assert got["is_blurry"] == (want < BLUR_VAR_MIN), iid
        assert (got["w"], got["h"]) == (px.shape[1], px.shape[0]), iid
        if iid.endswith("-blur"):
            sharp = by_id[iid[: -len("-blur")]]
            assert got["lap_var"] < BLUR_VAR_MIN < sharp["lap_var"], iid
        elif not iid.startswith("diag-"):
            assert not got["is_blurry"], iid


def _check_channel_stats(rows, ctx):
    """Recompute the corpus totals independently (Python-int accumulation
    over every decodable input) and verify the exact floor-div outputs;
    pin the two analytic plants against closed-form sums so a codec bug
    can't silently shift the constants."""
    import numpy as np

    from amazonwebcrawler_spark.functions.images import decode_image, encode_png
    from amazonwebcrawler_spark.sources.synthetic_world import asin_for, image_record

    inputs, seen = {}, set()
    for i in range(1, 40):
        if len(seen) == 24:
            break
        rec = image_record(asin_for("norm probe", 1, i))
        if rec["image_id"] in seen:
            continue
        seen.add(rec["image_id"])
        inputs[rec["image_id"]] = rec["bytes"]
    solid = np.zeros((16, 16, 3), dtype=np.uint8)
    solid[..., 0], solid[..., 1], solid[..., 2] = 10, 20, 30
    half = np.zeros((32, 32, 3), dtype=np.uint8)
    half[:16, :, :] = 255
    inputs["diag-solid"] = encode_png(solid)
    inputs["diag-half"] = encode_png(half)

    # analytic plants: decode must reproduce the closed-form sums exactly
    spx = decode_image(inputs["diag-solid"]).astype(np.int64)
    for ci, v in enumerate((10, 20, 30)):
        assert int(spx[..., ci].sum()) == 256 * v
        assert int((spx[..., ci] ** 2).sum()) == 256 * v * v
    hpx = decode_image(inputs["diag-half"]).astype(np.int64)
    for ci in range(3):
        assert int(hpx[..., ci].sum()) == 512 * 255
        assert int((hpx[..., ci] ** 2).sum()) == 512 * 255 * 255

    tot = {ch: [0, 0, 0] for ch in ("r", "g", "b")}  # n, s1, s2
    for data in inputs.values():
        px = decode_image(data).astype(np.int64)
        n = int(px.shape[0] * px.shape[1])
        for ci, ch in enumerate(("r", "g", "b")):
            c = px[..., ci]
            tot[ch][0] += n
            tot[ch][1] += int(c.sum())
            tot[ch][2] += sum(int(r) for r in (c * c).sum(axis=1))
    assert len(rows) == 3 and {r["channel"] for r in rows} == {"r", "g", "b"}
    for r in rows:
        n, s1, s2 = tot[r["channel"]]
        assert r["n_px"] == n, (r, n)
        assert r["mean_milli"] == (s1 * 1000) // n, r
        assert r["var_micro"] == ((n * s2 - s1 * s1) * 1_000_000) // (n * n), r


def _check_smart_crop(rows, ctx):
    """Independent float-centroid recompute of every crop window (numpy
    float64 weights vs the kernel's pure-int path — agreement within the
    floor-division cell IS the cross-impl check, asserted exactly via the
    same final floor), plus the planted clamp identities."""
    import numpy as np

    from amazonwebcrawler_spark.functions.images import decode_image, encode_png
    from amazonwebcrawler_spark.sources.synthetic_world import asin_for, image_record

    inputs, seen = {}, set()
    for i in range(1, 40):
        if len(seen) == 24:
            break
        rec = image_record(asin_for("crop probe", 1, i))
        if rec["image_id"] in seen:
            continue
        seen.add(rec["image_id"])
        inputs[rec["image_id"]] = rec["bytes"]
    left = np.full((32, 64, 3), 200, dtype=np.uint8)
    left[:, :8:2, :] = 0
    corner = np.full((48, 64, 3), 180, dtype=np.uint8)
    corner[40:, 56::2, :] = 0
    flat = np.full((32, 48, 3), 128, dtype=np.uint8)
    inputs["diag-left"] = encode_png(left)
    inputs["diag-corner"] = encode_png(corner)
    inputs["diag-flat"] = encode_png(flat)

    by_id = {r["image_id"]: r for r in rows}
    assert len(rows) == 27 and set(by_id) == set(inputs)
    assert "diag-corrupt" not in by_id

    def recompute(data: bytes, grid: int = 8) -> dict:
        px = decode_image(data).astype(np.int64)
        h, w, _ = px.shape
        sw = swx = swy = 0
        for r in range(grid):
            y0, y1 = (r * h) // grid, ((r + 1) * h) // grid
            for c in range(grid):
                x0, x1 = (c * w) // grid, ((c + 1) * w) // grid
                if y1 <= y0 or x1 <= x0:
                    continue
                y = 299 * px[y0:y1, x0:x1, 0] + 587 * px[y0:y1, x0:x1, 1] + 114 * px[y0:y1, x0:x1, 2]
                n = y.size
                # independent path: int64 numpy reductions assembled
                # directly (no per-row chunking), variance identity inline
                wt = int(n) * int((y * y).sum()) - int(y.sum()) ** 2
                sw += wt
                swx += wt * (((x0 + x1) * 1000) // 2)
                swy += wt * (((y0 + y1) * 1000) // 2)
        cx = swx // sw if sw > 0 else (w * 1000) // 2
        cy = swy // sw if sw > 0 else (h * 1000) // 2
        side = min(w, h)
        return {
            "w": w, "h": h, "crop_side": side,
            "crop_x": min(max(cx // 1000 - side // 2, 0), w - side),
            "crop_y": min(max(cy // 1000 - side // 2, 0), h - side),
            "cx_milli": cx, "cy_milli": cy,
        }

    for iid, data in inputs.items():
        want = recompute(data)
        got = by_id[iid]
        for k, v in want.items():
            assert got[k] == v, (iid, k, got[k], v)
    # planted clamp identities
    assert by_id["diag-left"]["crop_x"] == 0
    assert by_id["diag-corner"]["crop_x"] == 64 - 48
    assert by_id["diag-corner"]["crop_y"] == 0  # side == h → y pinned at 0
    fl = by_id["diag-flat"]
    assert fl["crop_x"] == (48 - 32) // 2 and fl["crop_y"] == 0
    assert fl["cx_milli"] == 24_000 and fl["cy_milli"] == 16_000
    # every crop window sits inside its image
    for r in rows:
        assert 0 <= r["crop_x"] <= r["w"] - r["crop_side"]
        assert 0 <= r["crop_y"] <= r["h"] - r["crop_side"]


def _check_bloom_stats(rows, ctx):
    """10 000 planted URLs, zero false negatives — the Bloom contract."""
    assert len(rows) == 8, len(rows)
    assert sum(r["false_negatives"] for r in rows) == 0
    assert sum(r["n_probed"] for r in rows) == 10_000
    assert sum(r["n_items"] for r in rows) == 10_000


def _check_cuckoo_stats(rows, ctx):
    """10 000 planted, 3 000 deleted: zero false negatives for live keys,
    n_items decremented exactly, deleted keys re-probing positive only via
    rare fingerprint twins."""
    assert len(rows) == 8, len(rows)
    assert sum(r["false_negatives"] for r in rows) == 0
    assert sum(r["n_probed"] for r in rows) == 10_000
    assert sum(r["n_items"] for r in rows) == 7_000
    twins = sum(r["deleted_still_seen"] for r in rows)
    assert twins <= 20, f"deleted_still_seen={twins} far above fingerprint-twin rate"


def _check_flip_dedup(rows, ctx):
    """Re-derive the canonical-hash pairs brute-force (O(n²) over the SAME
    32 images) and assert equality; pin the planted classes: every
    h-mirror / v-mirror / 180° variant pairs with its master at hamming 0
    on the canonical hash, is NOT paired by the whole-image pHash at t=2
    (hamming > 2 — the operator's reason to exist), and every unrelated
    variant is absent."""
    import numpy as np

    from amazonwebcrawler_spark.functions.images import (
        decode_image,
        encode_png,
        flip_canonical_phash,
        hamming64,
        phash64,
    )
    from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

    fixture: dict[str, bytes] = {}
    planted: list[tuple[str, str, bool]] = []  # (variant, master, should_pair)
    for i in range(16):
        base = block_image_record(f"flp-{i}")
        px = decode_image(base["bytes"])
        fixture[f"flp-{i}"] = base["bytes"]
        mode = i % 4
        if mode == 0:
            var = encode_png(np.ascontiguousarray(px[:, ::-1]))
        elif mode == 1:
            var = encode_png(np.ascontiguousarray(px[::-1]))
        elif mode == 2:
            var = encode_png(np.ascontiguousarray(px[::-1, ::-1]))
        else:
            var = block_image_record(f"flp-other-{i}")["bytes"]
        fixture[f"flp-{i}-v"] = var
        planted.append((f"flp-{i}-v", f"flp-{i}", mode != 3))
    canon = {iid: flip_canonical_phash(decode_image(b)) for iid, b in fixture.items()}
    whole = {iid: phash64(decode_image(b)) for iid, b in fixture.items()}
    ids = sorted(canon)
    expected = {
        (a, b): hamming64(canon[a], canon[b])
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if hamming64(canon[a], canon[b]) <= 2
    }
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert got == expected, (sorted(set(got) - set(expected)), sorted(set(expected) - set(got)))
    for vid, mid, should in planted:
        key = (mid, vid) if mid < vid else (vid, mid)
        if should:
            assert got.get(key) == 0, key
            assert hamming64(whole[vid], whole[mid]) > 2, key  # plain pHash misses it
        else:
            assert key not in got, key


def _check_border_crop(rows, ctx):
    """Re-derive every row brute-force (decode → border_box → crop →
    phash64) over the SAME fixture and assert equality; pin the planted
    classes exactly: masters (0,0,0,0) unchanged, letterboxed variants
    exactly (8,8,0,0), framed variants exactly (6,6,6,6); corrupt rows
    absent. Then pin the operator's reason to exist: every letterboxed/
    framed variant's WHOLE-image pHash sits > 2 hamming bits from its
    master (phash dedup at t=2 misses all of them) while its CROPPED
    pHash equals the master's phash_cropped bit-for-bit."""
    import numpy as np

    from amazonwebcrawler_spark.functions.images import (
        border_box,
        decode_image,
        encode_png,
        hamming64,
        phash64,
    )
    from amazonwebcrawler_spark.sources.synthetic_world import block_image_record

    fixture: dict[str, bytes] = {}
    variants: list[tuple[str, str]] = []  # (variant_id, master_id)
    n_corrupt = 0
    for i in range(16):
        base = block_image_record(f"bdr-{i}")
        px = decode_image(base["bytes"])
        fixture[f"bdr-{i}"] = base["bytes"]
        mode = i % 4
        if mode == 1:
            padded = np.zeros((px.shape[0] + 16, px.shape[1], 3), np.uint8)
            padded[8:-8] = px
            fixture[f"bdr-{i}-lb"] = encode_png(padded)
            variants.append((f"bdr-{i}-lb", f"bdr-{i}"))
        elif mode == 2:
            h, w, _ = px.shape
            framed = np.full((h + 12, w + 12, 3), 255, np.uint8)
            framed[6:-6, 6:-6] = px
            fixture[f"bdr-{i}-fr"] = encode_png(framed)
            variants.append((f"bdr-{i}-fr", f"bdr-{i}"))
        elif mode == 3:
            n_corrupt += 1
    assert len(rows) == len(fixture) and n_corrupt == 4, (len(rows), n_corrupt)
    by_id = {r["image_id"]: r for r in rows}
    whole_phash: dict[str, int] = {}
    for iid, data in fixture.items():
        px = decode_image(data)
        h, w, _ = px.shape
        t, b, le, ri = border_box(px)
        crop = px[t : h - b, le : w - ri]
        whole_phash[iid] = phash64(px)
        r = by_id[iid]
        assert (r["w"], r["h"]) == (w, h), iid
        assert (r["b_top"], r["b_bottom"], r["b_left"], r["b_right"]) == (t, b, le, ri), iid
        assert (r["crop_w"], r["crop_h"]) == (w - le - ri, h - t - b), iid
        assert r["phash_cropped"] == phash64(crop) and r["decode_ok"], iid
        assert r["changed"] == bool(t or b or le or ri), iid
        if iid.endswith("-lb"):
            assert (t, b, le, ri) == (8, 8, 0, 0), iid
        elif iid.endswith("-fr"):
            assert (t, b, le, ri) == (6, 6, 6, 6), iid
        else:
            assert (t, b, le, ri) == (0, 0, 0, 0) and not r["changed"], iid
    for vid, mid in variants:
        assert hamming64(whole_phash[vid], whole_phash[mid]) > 2, (vid, mid)
        assert by_id[vid]["phash_cropped"] == by_id[mid]["phash_cropped"], (vid, mid)


def _check_color_stats(rows, ctx):
    """Independent per-pixel PYTHON recompute of every histogram (no numpy
    vector path — a different accumulation order/dtype chain than the
    kernel), plus the planted analytic identities: solid tile → one bin at
    1000 milli and fully gray; 4-quadrant tile → four 250-milli bins, zero
    gray; grayscale ramp → gray_milli 1000 across four bins; corrupt bytes
    quarantined (no row)."""
    import numpy as np

    from amazonwebcrawler_spark.functions.images import decode_image, encode_png
    from amazonwebcrawler_spark.sources.synthetic_world import asin_for, image_record

    inputs, seen = {}, set()
    for i in range(1, 40):
        if len(seen) == 24:
            break
        rec = image_record(asin_for("color probe", 1, i))
        if rec["image_id"] in seen:
            continue
        seen.add(rec["image_id"])
        inputs[rec["image_id"]] = rec["bytes"]
    solid = np.full((32, 32, 3), 200, dtype=np.uint8)
    quad = np.zeros((32, 32, 3), dtype=np.uint8)
    quad[:16, :16] = (250, 10, 10)
    quad[:16, 16:] = (10, 250, 10)
    quad[16:, :16] = (10, 10, 250)
    quad[16:, 16:] = (250, 250, 10)
    ramp = np.repeat(
        np.arange(0, 256, 8, dtype=np.uint8).reshape(1, 32, 1), 32, axis=0
    ).repeat(3, axis=2)
    inputs["diag-solid"] = encode_png(solid)
    inputs["diag-quad"] = encode_png(quad)
    inputs["diag-gray-ramp"] = encode_png(ramp)

    by_id = {r["image_id"]: r for r in rows}
    assert len(rows) == 27 and set(by_id) == set(inputs)
    assert "diag-corrupt" not in by_id

    for iid, data in inputs.items():
        px = decode_image(data)
        h, w, _ = px.shape
        counts = [0] * 64
        gray = 0
        for y in range(h):
            for x in range(w):
                r, g, b = int(px[y, x, 0]), int(px[y, x, 1]), int(px[y, x, 2])
                counts[(r >> 6) * 16 + (g >> 6) * 4 + (b >> 6)] += 1
                if max(r, g, b) - min(r, g, b) <= 16:
                    gray += 1
        n_px = h * w
        dom_bin = max(range(64), key=lambda i: (counts[i], -i))
        got = by_id[iid]
        assert got["w"] == w and got["h"] == h, iid
        assert got["dom_bin"] == dom_bin, iid
        assert got["dom_milli"] == counts[dom_bin] * 1000 // n_px, iid
        assert got["n_bins_used"] == sum(1 for c in counts if c > 0), iid
        assert got["gray_milli"] == gray * 1000 // n_px, iid
        assert got["is_lowinfo"] == (
            got["dom_milli"] >= 900 or got["n_bins_used"] <= 2
        ), iid

    s = by_id["diag-solid"]
    assert (s["dom_milli"], s["n_bins_used"], s["gray_milli"], s["is_lowinfo"]) == (
        1000, 1, 1000, True
    )
    q = by_id["diag-quad"]
    assert (q["dom_bin"], q["dom_milli"], q["n_bins_used"], q["gray_milli"]) == (3, 250, 4, 0)
    assert not q["is_lowinfo"]
    g = by_id["diag-gray-ramp"]
    assert g["gray_milli"] == 1000 and g["n_bins_used"] == 4 and g["dom_milli"] == 250


CHECKERS = {
    "crawl_rank_wave": _check_crawl_rank_wave,
    "ann_ivf": _check_ann_ivf,
    "images_decode": _check_images_decode,
    "images_validate": _check_images_validate,
    "images_resize": _check_images_resize,
    "dedup_phash": _check_dedup_phash,
    "crop_dedup": _check_crop_dedup,
    "image_dedup_keep": _check_image_dedup_keep,
    "pair_dedup": _check_pair_dedup,
    "semantic_dedup": _check_semantic_dedup,
    "image_ann": _check_image_ann,
    "image_quality": _check_image_quality,
    "image_pipeline": _check_image_pipeline,
    "image_patches": _check_image_patches,
    "flip_dedup": _check_flip_dedup,
    "ann_pq": _check_ann_pq,
    "border_crop": _check_border_crop,
    "bloom_stats": _check_bloom_stats,
    "cuckoo_stats": _check_cuckoo_stats,
    "blur_detect": _check_blur_detect,
    "channel_stats": _check_channel_stats,
    "smart_crop": _check_smart_crop,
    "color_stats": _check_color_stats,
    "tile_detect": _check_tile_detect,
    "upscale_detect": _check_upscale_detect,
    "image_probe": _check_image_probe,
}
assert set(CHECKERS) == set(GOLDEN_QUERIES), "every golden needs a capture-time checker"


def main() -> None:
    import __spark_entry__ as entrymod
    from amazonwebcrawler_spark.session import get_spark

    spark = get_spark(app_name="gen-goldens", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    goldens: dict[str, dict] = {}
    testdata_root = "/root/testdata"
    for name, cols in GOLDEN_QUERIES.items():
        sf = PINNED_SF.get(name, "sf0.001")
        sf_dir = f"{testdata_root}/{sf}"
        df = qs[name](spark, sf_dir)
        got_cols = df.columns
        assert set(got_cols) == set(cols), (name, got_cols, list(cols))
        collected = df.collect()
        dict_rows = [{c: r[c] for c in cols} for r in collected]
        CHECKERS[name](dict_rows, {"spark": spark, "qs": qs, "sf_dir": sf_dir})
        rows = [[r[c] for c in cols] for r in collected]
        entry: dict = {"columns": cols, "rows": sorted(rows, key=repr)}
        if name in PINNED_SF:
            entry["pinned_sf"] = PINNED_SF[name]
        goldens[name] = entry
        print(f"{name}: {len(rows)} rows captured, invariants OK")
    with open(OUT, "w") as f:
        json.dump(goldens, f, indent=1, ensure_ascii=False)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
