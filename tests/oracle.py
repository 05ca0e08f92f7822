"""Single-threaded reference-semantics crawl oracle (SURVEY.md §5.3).

Replays the crawl with plain Python data structures — one queue, one seen
set, one loop — mirroring the reference's sequential control flow
(getRank.py:461-474) generalized to the engine's wave/politeness semantics.
The Spark engine must reproduce this oracle's fetch order and URL-seen set
exactly, at any parallelism (north_rule: 'matching the reference's crawl
ordering and URL-seen set').

Shared pure functions (synthetic_world, canonicalization rule, CRC32 shard
math) guarantee both sides see the same world; everything else here is
deliberately naive Python.
"""

from __future__ import annotations

import json
import re
import zlib
from dataclasses import dataclass, field

from amazonwebcrawler_spark.functions.rank import GRID_LAYOUTS, LIST_LAYOUTS
from amazonwebcrawler_spark.sources import synthetic_world as world

TRACKING = ("ref", "qid", "ie", "sr", "tag", "psc", "spIA", "rnid", "keywords")

KNOWN_LAYOUTS = set(GRID_LAYOUTS) | set(LIST_LAYOUTS)


def _first_match_py(clean_title: str, product_type: str):
    """Python twin of functions.rank.first_match_struct (first-match-wins
    own-product classification, getRank.py:229-236)."""
    for pt, mt, sa, _pos in sorted(world.DIMS, key=lambda d: d[3]):
        if pt == product_type and mt in clean_title:
            return mt, sa
    return None


def canonicalize_url_py(url: str) -> str:
    """Pure-Python twin of functions.urls.canonicalize_url (P14).
    Parity is asserted in tests/test_equivalence.py."""
    u = re.sub(r"#.*$", "", url)
    base, _, query = u.partition("?")
    m = re.match(r"^(https?://[^/]*)", base)
    scheme_host = m.group(1).lower() if m else ""
    path = re.sub(r"^https?://[^/]*", "", base)
    path = re.sub(r"/+$", "", path)
    path = re.sub(r"/ref=[^/]*$", "", path)
    kept = [p for p in query.split("&") if p and p.split("=")[0] not in TRACKING]
    q = "&".join(sorted(kept))
    return scheme_host + path + ("?" + q if q else "")


def host_shard_py(canonical_url: str, n_shards: int, salt_bits: int) -> int:
    host = re.match(r"^https?://([^/?#]*)", canonical_url).group(1).lower()
    salt = zlib.crc32(canonical_url.encode()) % (2**salt_bits)
    return zlib.crc32(f"{host}#{salt}".encode()) % n_shards


@dataclass
class OracleRow:
    seed_id: int
    kind: str
    canonical_url: str
    depth: int
    discovery_seq: int
    parent_seq: int
    parent_pos: int
    product_type: str
    max_depth: int
    keyword: str | None
    attempt: int = 0
    priority_score: float = 0.0  # engine sorts it DESC (politeness.py)


@dataclass
class OracleResult:
    fetch_order: list[tuple[int, str]] = field(default_factory=list)  # (wave, url)
    seen: set[str] = field(default_factory=set)
    waves: int = 0


def crawl_oracle(
    seed_rows: list[tuple],
    n_shards: int = 16,
    salt_bits: int = 2,
    tokens_per_shard: int = 8,
    max_waves: int = 64,
    max_retries: int = 2,
    follow_items: bool = True,
    follow_skus: bool = True,
    probe_inventory: bool = True,
    early_stop: bool = True,
) -> OracleResult:
    """seed_rows: (seed_id, kind, keyword, url, product_type, max_depth)."""
    res = OracleResult()
    # early-stop state (A3/L2): per-seed [has_ad_hit, has_natural_hit] over
    # own-product results on KNOWN layouts (quarantined 'Other mode' pages
    # never contribute hits — mirrors CrawlEngine's quarantine routing)
    flags: dict[int, list[bool]] = {}
    frontier: list[OracleRow] = []
    for sid, _kind, kw, url, ptype, maxd in seed_rows:
        cu = canonicalize_url_py(url)
        frontier.append(
            OracleRow(sid, world.classify_url(cu), cu, 0, sid, -1, 0, ptype, maxd, kw)
        )
        res.seen.add(cu)
    next_seq = len(frontier) + 1000  # engine: count + 1000

    for wave in range(max_waves):
        if not frontier:
            break
        res.waves = wave + 1
        # --- token-bucket dequeue per host shard, priority order (C2/W4)
        by_shard: dict[int, list[OracleRow]] = {}
        for r in frontier:
            by_shard.setdefault(
                host_shard_py(r.canonical_url, n_shards, salt_bits), []
            ).append(r)
        def row_tokens(r: OracleRow) -> int:
            host = re.match(r"^https?://([^/?#]*)", r.canonical_url).group(1).lower()
            rules = world.ROBOTS.get(host)
            delay = rules[1] if rules else 0.0
            if delay > 1:
                return max(1, int(tokens_per_shard // delay))
            return tokens_per_shard

        batch, deferred = [], []
        for shard_rows in by_shard.values():
            shard_rows.sort(
                key=lambda r: (r.depth, -r.priority_score, r.discovery_seq, r.canonical_url)
            )
            for pos, r in enumerate(shard_rows):
                (batch if pos < row_tokens(r) else deferred).append(r)

        # --- fetch + retries (C3)
        retries, pages = [], []
        for r in batch:
            res.fetch_order.append((wave, r.canonical_url))
            if world.fetch_is_transient_failure(r.canonical_url, r.attempt):
                if r.attempt < max_retries:
                    r.attempt += 1
                    retries.append(r)
                continue
            fr = world.fetch(r.canonical_url)
            if fr["status"] == 200:
                pages.append((r, json.loads(fr["content"])))

        # --- early-stop flags: own-product hits on this wave's serp pages
        # (computed BEFORE expansion, exactly as the engine derives `done`
        # from results including the current wave)
        if early_stop:
            for r, p in pages:
                if p["kind"] != "serp" or p["layout"] not in KNOWN_LAYOUTS:
                    continue
                for it in p["items"]:
                    title = it["title"] if it["title"] is not None else "Amazon recommendation"
                    clean = title.strip().replace("[Sponsored]", "").strip()
                    if _first_match_py(clean, r.product_type) is not None:
                        fl = flags.setdefault(r.seed_id, [False, False])
                        if "Sponsored" in title:
                            fl[0] = True
                        else:
                            fl[1] = True
        done = {sid for sid, fl in flags.items() if fl[0] and fl[1]} if early_stop else set()

        # --- expansion (same rules as CrawlEngine._run_wave)
        cand: list[tuple[int, int, str, OracleRow]] = []  # (parent_seq, parent_pos, raw, parent)
        for r, p in pages:
            if p["kind"] == "serp":
                if follow_items and r.depth + 1 <= r.max_depth:
                    for it in p["items"]:
                        cand.append((r.discovery_seq, it["pos"], world.HOST + it["href"], r))
                if p["has_next"] and p["page"] < r.max_depth and r.seed_id not in done:
                    kw = p["keyword"].replace(" ", "+")
                    raw = f"{world.HOST}/s?field-keywords={kw}&page={p['page'] + 1}"
                    cand.append((r.discovery_seq, 100000, raw, r))
            elif p["kind"] == "category":
                if follow_items and r.depth + 1 <= r.max_depth:
                    for it in p["items"]:
                        cand.append((r.discovery_seq, it["pos"], world.HOST + it["href"], r))
            elif p["kind"] == "detail":
                if r.depth + 1 <= r.max_depth:
                    if follow_skus:
                        for i, sku in enumerate(p["skus"]):
                            raw = r.canonical_url if sku["dp_url"] == "" else world.HOST + sku["dp_url"]
                            cand.append((r.discovery_seq, i + 1, raw, r))
                    if probe_inventory:
                        raw = f"{world.HOST}/gp/cart/view.html?asin={p['asin']}&qty=999"
                        cand.append((r.discovery_seq, 200000, raw, r))

        # --- canonicalize → robots → in-wave dedup → seen dedup
        best: dict[str, tuple[int, int, str, OracleRow]] = {}
        indeg: dict[str, int] = {}  # in-wave in-degree = priority_score
        for pseq, ppos, raw, parent in cand:
            cu = canonicalize_url_py(raw)
            if not world.robots_allowed(cu):
                continue
            # engine counts ALL post-robots mentions (the dedup hash-agg
            # runs before the seen filter); already-seen URLs never become
            # rows, so their count is irrelevant — mirror the order anyway
            indeg[cu] = indeg.get(cu, 0) + 1
            if cu in res.seen:
                continue
            cur = best.get(cu)
            if cur is None or (pseq, ppos) < (cur[0], cur[1]):
                best[cu] = (pseq, ppos, cu, parent)

        ordered = sorted(best.values(), key=lambda t: (t[0], t[1], t[2]))
        new_rows = []
        for i, (pseq, ppos, cu, parent) in enumerate(ordered):
            res.seen.add(cu)
            new_rows.append(
                OracleRow(
                    parent.seed_id, world.classify_url(cu), cu, parent.depth + 1,
                    next_seq + 1 + i, pseq, ppos, parent.product_type,
                    parent.max_depth, parent.keyword,
                    priority_score=float(indeg[cu]),
                )
            )
        next_seq += len(new_rows)
        frontier = deferred + retries + new_rows
        if early_stop:
            # pending pagination of satisfied seeds is dropped from the
            # whole frontier (deferred ∪ retries ∪ new) — L2
            frontier = [
                r for r in frontier if not (r.kind == "serp" and r.seed_id in done)
            ]
    return res
