"""crawl_waves: a politeness-bound crawl, split by a resume, then the reports.

``start`` seeds a fresh checkpoint directory and runs the first
``RESUME_AT`` waves; this is set-up, and it is also the warm-up, since it
runs the wave plans once before anything is timed. The timed round lets a
fresh ``CrawlEngine`` resume from the checkpoint up to ``WAVES``, then
builds and collects the four reports of ``plans.reports`` from the
committed store. Every output is checked against
computations made apart from the engine: ``tests/oracle.py::crawl_oracle``
(imported as is) for the fetch order and the seen set, and
``synthetic_world`` recomputations for the reports and the images.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from contextlib import nullcontext
from urllib.parse import parse_qsl, urlsplit

from amazonwebcrawler_spark.sources import synthetic_world as world

#: words the seeded keyword strings are drawn from; the strings set each
#: keyword's SERP page count, titles and item fan-out
WORDS = (
    "yoga mat tpe eco thick travel foldable cork rubber pilates gym home "
    "sheet queen king twin fitted cotton linen notebook lined dotted grid "
    "journal planner pen bottle towel strap block wheel"
).split()

N_PRODUCTS = 16                  # detail-page seeds (SKU, cart and image paths)
N_KEYWORDS = 48                  # SERP seeds at depth 3
WAVES = 2                        # waves per crawl
RESUME_AT = 1                    # the first engine stops after this many waves
CONFIG = dict(
    tokens_per_shard=16,         # politeness budget per host shard per wave
    n_shards=8,
    salt_bits=3,                 # 8 salts over the one host → all 8 shards live
    max_retries=2,
    follow_items=True,
    follow_skus=True,
    probe_inventory=True,
    early_stop=True,
)
REPORTS = ("rank", "titles", "inventory", "bsr")


def seed_rows(seed: int, tag: str, n_products: int, n_keywords: int) -> list[tuple]:
    """Seed table rows (seed_id, kind, keyword, url, product_type, max_depth).

    Product seeds take the lowest ids, so their SKU and cart children lead
    the discovery order and are reached inside the politeness budget.
    Raw URLs carry tracking parameters, as real seeds do.
    """
    rng = random.Random(f"{tag}:{seed}")
    keywords: list[str] = []
    while len(keywords) < n_keywords:
        kw = " ".join(rng.sample(WORDS, 3))
        if kw not in keywords:
            keywords.append(kw)
    asins: list[str] = []
    while len(asins) < n_products:
        asin = world.asin_for(rng.choice(keywords), 1 + rng.randrange(3), 1 + rng.randrange(12))
        if asin not in asins:
            asins.append(asin)
    rows = [
        (i, "product", None, f"https://WWW.Amazon.com/dp/{a}/ref=sr_1_{i}?qid=1523525327", "yogamat", 2)
        for i, a in enumerate(asins)
    ]
    rows += [
        (n_products + j, "keyword", kw, world.serp_url(kw, 1) + "&ref=nb_sb_noss", "yogamat", 3)
        for j, kw in enumerate(keywords)
    ]
    return rows


def config(ckpt: str, max_waves: int):
    from amazonwebcrawler_spark.plans.crawler import CrawlConfig

    return CrawlConfig(checkpoint_dir=ckpt, max_waves=max_waves, **CONFIG)


def manifests(root: str) -> dict[int, dict]:
    mdir = os.path.join(root, "_manifests")
    out = {}
    for fn in os.listdir(mdir):
        if fn.startswith("manifest-") and fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
            out[m["wave"]] = m
    return out


def start(spark, rows: list[tuple], ckpt: str) -> None:
    """Seed commit and the first ``RESUME_AT`` waves, then stop."""
    from amazonwebcrawler_spark.plans.crawler import CrawlEngine
    from amazonwebcrawler_spark.sources.seeds import seeds_df

    CrawlEngine(spark, config(ckpt, RESUME_AT), seeds=seeds_df(spark, rows)).run()


def run_round(spark, rows: list[tuple], ckpt: str, tracer=None) -> dict:
    """Resume the crawl ``start`` left in ``ckpt`` and build the reports.

    Returns the store, per-report rows (or errors) with their times, the
    crawl's wall time and any error the crawl raised.
    """
    from amazonwebcrawler_spark.plans import reports
    from amazonwebcrawler_spark.plans.crawler import CrawlEngine
    from amazonwebcrawler_spark.sources.seeds import seeds_df

    out: dict = {"reports": {}, "crawl_error": None, "crawl_s": 0.0}
    t0 = time.perf_counter()
    try:
        seeds = seeds_df(spark, rows)
        engine = CrawlEngine(spark, config(ckpt, WAVES), seeds=seeds)
        engine.run(resume=True)
        out["store"] = engine.store
    except Exception as e:  # noqa: BLE001 - a crash is a failed operation
        out["crawl_error"] = repr(e)
        return out
    finally:
        out["crawl_s"] = time.perf_counter() - t0
    store = engine.store
    builds = {
        "rank": lambda: reports.rank_report(store, seeds),
        "titles": lambda: reports.titles_report(store),
        "inventory": lambda: reports.inventory_report(store),
        "bsr": lambda: reports.bsr_report(store),
    }
    for name in REPORTS:
        t = time.perf_counter()
        try:
            with tracer.span(f"reports.{name}_report") if tracer else nullcontext():
                got = builds[name]().collect()
            out["reports"][name] = {"rows": got, "s": time.perf_counter() - t}
        except Exception as e:  # noqa: BLE001
            out["reports"][name] = {"error": repr(e), "s": time.perf_counter() - t}
    return out


# ---------------------------------------------------------------- checks
def _oracle_runs(rows: list[tuple]):
    """Oracle results after 1 .. WAVES waves (the seen set grows per wave)."""
    from oracle import crawl_oracle

    return [crawl_oracle(rows, max_waves=w, **CONFIG) for w in range(1, WAVES + 1)]


def _fetched_ok(fetch_order: list[tuple[int, str]]) -> list[tuple[int, str]]:
    """(wave, url) of attempts that returned a page: a URL's n-th listing is
    attempt n, and the world's transient failures are a function of it."""
    attempts: dict[str, int] = {}
    ok = []
    for wave, url in fetch_order:
        a = attempts.get(url, 0)
        attempts[url] = a + 1
        if not world.fetch_is_transient_failure(url, a):
            ok.append((wave, url))
    return ok


def _expected_titles(ok: list[tuple[int, str]]) -> list[tuple]:
    from oracle import KNOWN_LAYOUTS

    types = dict(world.KEYWORDS)
    out = []
    for _wave, url in ok:
        if world.classify_url(url) != "serp":
            continue
        q = dict(parse_qsl(urlsplit(url).query))
        kw, page = q["field-keywords"], int(q["page"])
        p = world.serp_page(kw, page, types.get(kw, "yogamat"))
        if p["layout"] not in KNOWN_LAYOUTS:
            continue  # quarantined ('Other mode') pages never reach results
        for it in p["items"]:
            title = it["title"] if it["title"] is not None else "Amazon recommendation"
            out.append((kw, page, it["pos"], title))
    return sorted(out)


def _asin(url: str) -> str:
    return url.rsplit("/dp/", 1)[-1].split("/")[0].split("?")[0]


def check_round(spark, rows: list[tuple], res: dict, perturb: str | None) -> dict[str, bool]:
    """Operation name → output correct. Operations are the waves and the
    report builds; an operation that raised is absent here."""
    store = res["store"]
    oracle = _oracle_runs(rows)
    final = oracle[-1]
    verdict: dict[str, bool] = {}

    lineage = store.load_deltas("lineage").select("wave", "canonical_url").collect()
    got_fetch = sorted((r["wave"], r["canonical_url"]) for r in lineage)
    if perturb == "wave":
        w, u = got_fetch[-1]
        got_fetch[-1] = (w - 1, u)  # one URL moved to another wave
    want_fetch = sorted(final.fetch_order)
    ok_fetch = _fetched_ok(final.fetch_order)
    ms = manifests(store.root)
    image_sample: dict[str, dict] = {}
    for w in range(WAVES):
        seen = {
            r["canonical_url"]
            for r in store.load_deltas("seen", as_of_wave=w).select("canonical_url").collect()
        }
        if perturb == "seen" and w == WAVES - 1:
            seen.discard(sorted(seen)[len(seen) // 2])  # one seen URL dropped
        # images written by this wave: one per detail page fetched in it
        imgs = (
            spark.read.parquet(ms[w]["tables"]["images"])
            .select("image_id", "w", "h", "fmt", "phash")
            .collect()
            if "images" in ms[w]["tables"]
            else []
        )
        want_imgs = sorted(
            f"img-{_asin(u)}" for wv, u in ok_fetch if wv == w and world.classify_url(u) == "detail"
        )
        for r in sorted(imgs, key=lambda r: r["image_id"])[:16]:
            image_sample[r["image_id"]] = r.asDict()
        verdict[f"wave{w}"] = (
            [x for x in got_fetch if x[0] == w] == [x for x in want_fetch if x[0] == w]
            and seen == oracle[w].seen
            and sorted(r["image_id"] for r in imgs) == want_imgs
        )
    # sampled images against the world's own decode + phash
    fields = ("w", "h", "fmt", "phash")
    images_ok = all(
        [rec[f] for f in fields] == [world.image_record(iid[len("img-"):])[f] for f in fields]
        for iid, rec in image_sample.items()
    )
    verdict[f"wave{WAVES - 1}"] = verdict[f"wave{WAVES - 1}"] and images_ok

    reps = res["reports"]
    if "rows" in reps.get("rank", {}):
        want = sorted((r[0], r[2]) for r in rows if r[1] == "keyword")
        got = sorted((r["seed_id"], r["keyword"]) for r in reps["rank"]["rows"])
        verdict["rank"] = got == want and all(r["rank_string"] for r in reps["rank"]["rows"])
    if "rows" in reps.get("titles", {}):
        got = [(r["keyword"], r["page"], r["pos"], r["title"]) for r in reps["titles"]["rows"]]
        if perturb == "report" and got:
            kw, page, pos, title = got[0]
            got[0] = (kw, page, pos, title + " (altered)")
        verdict["titles"] = bool(got) and got == _expected_titles(ok_fetch)
    if "rows" in reps.get("inventory", {}):
        # details ⨝ carts on asin: one row per fetched detail page whose
        # product's cart probe was fetched
        got = sorted((r["asin"], r["inventory"]) for r in reps["inventory"]["rows"])
        carts = {
            dict(parse_qsl(urlsplit(u).query))["asin"]
            for _w, u in ok_fetch
            if world.classify_url(u) == "cart"
        }
        want = sorted(
            (a, str(min(999, world.product_stock(a))))
            for a in (_asin(u) for _w, u in ok_fetch if world.classify_url(u) == "detail")
            if a in carts
        )
        verdict["inventory"] = bool(got) and got == want
    if "rows" in reps.get("bsr", {}):
        got = reps["bsr"]["rows"]
        verdict["bsr"] = bool(got) and all(
            r["n_skus"] == len(r["bsr_report"].split("|")) for r in got
        )
    return verdict


# ---------------------------------------------------------------- workload
def setup_paths(root: str) -> None:
    """Make ``tests/oracle.py`` importable as ``oracle``, unchanged."""
    tests = os.path.join(root, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)


def rows_for(seed: int) -> list[tuple]:
    return seed_rows(seed, "bench", N_PRODUCTS, N_KEYWORDS)


def summarize(res: dict) -> dict:
    """Per-round figures for the end-to-end metrics: wall time per timed
    wave of the resumed engine run (resume, dequeue, expansion, commit and
    the reload for the next wave). The manifests' ``committed_at`` stamps
    cannot give it: ``commit_wave`` takes them before its table writes."""
    n = WAVES - RESUME_AT
    return {"op_times": [res["crawl_s"] / n] if "store" in res else []}
