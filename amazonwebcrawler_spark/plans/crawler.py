"""The wave-loop crawl engine (SURVEY.md §3, C1-C8, M2/M3).

The reference is one synchronous loop: fetch page → parse → classify → maybe
turn page (getRank.py:461-474). Here each *wave* is a declarative DataFrame
DAG over the whole frontier; the only driver-side control flow is the loop
predicate (frontier emptiness + early-stop flags — tiny collects, C5/A3):

    while frontier non-empty:
        batch, deferred = token-bucket dequeue per host shard   (C2, W4)
        fetched  = batch.mapInPandas(fetch + image decode/phash) (S4-S6, S12)
        parsed   = from_json per page kind                       (P1-P13)
        results |= classify ⨝ broadcast(dims) + rank encode      (J1/J2, W1-W3)
        images  |= projection of the fetched detail pages        (S12, input_hint)
        expand   = pagination + item/sku/cart fan-out            (J4, L1)
        new, shards' = canonicalize → robots → one cogroup per
                   bloom bucket: in-wave dedup, key-set probe,
                   shard merge                                   (P14, C7, P15/J6)
        frontier = deferred ∪ retries ∪ new;  seen |= new        (C3)
        lineage  = one row per fetch: status, dead, sizes, shape (A1/A6, C3)
        snapshot commit                                          (C6, S10)

Two stages per wave cross into Python: the fetch ``mapInPandas`` and the
admission cogroup (*Accelerating Python UDFs in Vectorized Query
Execution*, CIDR 2022: one vectorized kernel per boundary).

Determinism: wave contents are a pure function of data — the frontier total
order is (depth, priority_score DESC, discovery_seq, canonical_url) where
``discovery_seq`` is assigned from (parent_seq, parent_pos, canonical_url)
at enqueue time and ``priority_score`` is the page-rank-like in-wave
in-degree (integer-valued, so the Python oracle reproduces it exactly). Host shards use CRC32 (reproducible in the pure-Python
oracle). Nothing depends on partitioning or timing, so local[8] and
local[32] produce byte-identical crawl orders (tests/test_equivalence.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amazonwebcrawler_spark.functions.rank import (
    first_match_struct,
    is_sponsored,
    rank_encode,
    strip_sponsored_tag,
)
from amazonwebcrawler_spark.functions.robots import compile_rules, keep_allowed
from amazonwebcrawler_spark.functions.urls import canonicalize_url, url_host
from amazonwebcrawler_spark.operators import bloom
from amazonwebcrawler_spark.operators.politeness import assign_discovery_seq, select_wave_batch
from amazonwebcrawler_spark.sources import synthetic_world as world
from amazonwebcrawler_spark.sources.seeds import dims_df, seeds_df
from amazonwebcrawler_spark.sources.state_store import PARTITIONING, StateStore, partitioned_counts

# ---------------------------------------------------------------- schemas
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("seed_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovery_seq", T.LongType()),
        T.StructField("priority_score", T.DoubleType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("parent_seq", T.LongType()),
        T.StructField("parent_pos", T.IntegerType()),
        T.StructField("host", T.StringType()),
        T.StructField("host_shard", T.IntegerType()),
        T.StructField("product_type", T.StringType()),
        T.StructField("max_depth", T.IntegerType()),
        T.StructField("keyword", T.StringType()),
    ]
)

SERP_JSON = (
    "kind string, keyword string, page int, layout string, has_next boolean, "
    "items array<struct<pos:int,title:string,href:string,is_sponsored:boolean,has_title_node:boolean>>"
)
DETAIL_JSON = (
    "kind string, asin string, title string, variant_axis string, "
    "skus array<struct<attr:string,dp_url:string>>, rank_mode string, "
    "rank1 string, rank2 string, stock int"
)
CATEGORY_JSON = (
    "kind string, category string, "
    "items array<struct<pos:int,title:string,href:string,asin:string,img_src:string>>"
)
CART_JSON = "kind string, asin string, inventory string, alert string"

IMAGE_STRUCT = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


@dataclass
class CrawlConfig:
    checkpoint_dir: str
    max_waves: int = 64
    tokens_per_shard: int = 8          # politeness budget per host shard per wave
    n_shards: int = 16                 # host shards (salted, §4 skew)
    salt_bits: int = 2
    max_retries: int = 2
    follow_items: bool = True          # SERP/category items → detail pages
    follow_skus: bool = True           # detail → SKU variant pages (J4)
    probe_inventory: bool = True       # detail → cart probe (S6)
    early_stop: bool = True            # A3/L2: stop paging once first ad+natural
                                       # own hit found — the reference's core loop
                                       # semantics (getRank.py:208-209, 468-469)
    compact_every: int = 16            # every K waves, rewrite the Bloom
                                       # shard state as a full base so its
                                       # reads stay O(base + K deltas), not
                                       # O(all waves); the frontier and
                                       # seed_flags are snapshots, and `seen`
                                       # is never read by the loop
    bloom: bloom.BloomConfig = field(default_factory=lambda: bloom.BloomConfig(n_buckets=16, m_bits=1 << 17))


# ---------------------------------------------------------------- fetch UDF
def _image_meta(url: str, data: bytes) -> dict:
    """Decoded metadata + pHash of one fetched image (``IMAGE_STRUCT``)."""
    from amazonwebcrawler_spark.functions.images import decode_image, phash64

    px = decode_image(data)
    asin = url.rsplit("/dp/", 1)[-1].split("/")[0].split("?")[0]
    return {
        "image_id": f"img-{asin}",
        "w": px.shape[1],
        "h": px.shape[0],
        "fmt": "png" if data[:8] == b"\x89PNG\r\n\x1a\n" else "jpeg",
        "phash": phash64(px),
    }


def _fetch_batches(batches):
    """mapInPandas kernel: the sandbox 'network' (synthetic_world.fetch),
    plus the decode + pHash of each fetched image into an ``image`` struct
    (S12; input_hint: decode via vectorized Arrow batches, never per-row
    Spark), so the wave's ``images`` are a projection of the cached fetch.

    Real deployment swaps the fetch for an async HTTP client; the signature,
    batching, and schema are the engine contract. Transient failures are
    deterministic per (url, attempt) → status=-1, retried by the loop (C3).
    """
    for pdf in batches:
        statuses, contents, images, metas = [], [], [], []
        for u, attempt in zip(pdf["canonical_url"], pdf["attempt"]):
            r = (
                {"status": -1, "content": None, "image_bytes": None}
                if world.fetch_is_transient_failure(u, int(attempt))
                else world.fetch(u)
            )
            data = r["image_bytes"]
            statuses.append(r["status"])
            contents.append(r["content"])
            images.append(data)
            metas.append(None if data is None else _image_meta(u, bytes(data)))
        out = pdf.copy()
        out["status"] = pd.Series(statuses, dtype="int32")
        out["content"] = contents
        out["image_bytes"] = images
        out["image"] = metas
        yield out


# ---------------------------------------------------------------- helpers
def _with_host_shard(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """CRC32-based salted host shard — CRC32 (not xxhash64) so the pure-Python
    oracle reproduces shard assignment with zlib.crc32 (SURVEY.md §4)."""
    salt = F.pmod(F.crc32(F.col("canonical_url")), F.lit(2**cfg.salt_bits))
    return df.withColumn("host", url_host(F.col("canonical_url"))).withColumn(
        "host_shard",
        F.pmod(F.crc32(F.concat(F.col("host"), F.lit("#"), salt.cast("string"))), F.lit(cfg.n_shards)).cast("int"),
    )


def _robots_df(spark: SparkSession) -> DataFrame:
    """``synthetic_world.ROBOTS`` crawl delays, for the dequeue."""
    rows = [(h, cd) for h, (_disallow, cd) in world.ROBOTS.items()]
    return spark.createDataFrame(rows, "host string, crawl_delay double")


def _robots_rules(spark: SparkSession) -> DataFrame:
    """``synthetic_world.ROBOTS`` Disallow prefixes as RFC 9309 rules, one
    row per host (functions/robots.compile_rules). The dict is already
    keyed by host, so this is a projection over the Python rows: a wave's
    robots step broadcasts it without aggregating the constant rules."""
    rows = [(h, [(p, False) for p in disallow]) for h, (disallow, _cd) in world.ROBOTS.items()]
    return compile_rules(
        spark.createDataFrame(rows, "host string, rules array<struct<pattern: string, allow: boolean>>")
    )


def admit_candidates(
    candidates: DataFrame, rules: DataFrame, shards: DataFrame, cfg: bloom.BloomConfig,
    dirty_only: bool = True,
) -> DataFrame:
    """A wave's admission (C7/P15/J6): canonicalized candidates (with
    ``host``, ``parent_seq``, ``parent_pos``) → one output holding the URLs
    never seen before, one row each with ``_indegree`` and the Bloom keys
    (h1, h2, bucket), beside the buckets' merged shards
    (``bloom.split_admission`` separates them).

    ``rules`` are robots rules already grouped per host (``_robots_rules``).
    robots (a broadcast join, candidates never shuffle for it) → Bloom keys
    → one cogroup per bucket (``bloom.admit_into_shards``) that dedups the
    wave's candidates, answers exact membership from the bucket's key set
    and merges the admitted keys into the shard. No step reads the ``seen``
    table. First-discovered wins the dedup: (parent_seq, parent_pos) is
    unique per duplicate group member, so the pick is deterministic. The
    group size is the page-rank-like priority, the in-wave in-degree (how
    many parent links discovered this URL; north_star's "priority queue
    keyed by (depth, discovery-time, page-rank-like score)"; mirrored in
    tests/oracle.py). ``dirty_only=False`` emits every bucket's shard (a
    compacting wave's base)."""
    keyed = bloom.with_bloom_keys(keep_allowed(candidates, rules), "canonical_url", cfg)
    return bloom.admit_into_shards(keyed, shards, cfg, dirty_only=dirty_only)


def classify_serp_items(items: DataFrame) -> DataFrame:
    """Own-product classification (J1/J2/P4-P6) + rank encode (W1-W3) of
    SERP item rows (``title``, ``product_type``, ``layout``, ``page``,
    ``pos``): adds ``clean_title``, ``is_ad``, ``match_title``,
    ``size_attr``, ``is_own`` and ``rank``. First-match-wins
    (getRank.py:229-236) as a literal-array projection — zero shuffles,
    stays in the same map stage as the parse
    (functions/rank.py:first_match_struct)."""
    return (
        items.withColumn("clean_title", strip_sponsored_tag(F.col("title")))
        .withColumn("is_ad", is_sponsored(F.col("title")))
        .withColumn(
            "_m", first_match_struct(F.col("clean_title"), F.col("product_type"), world.DIMS)
        )
        .withColumn("match_title", F.col("_m.match_title"))
        .withColumn("size_attr", F.col("_m.size_attr"))
        .drop("_m")
        .withColumn("is_own", F.col("match_title").isNotNull())
        .withColumn("rank", rank_encode(F.col("layout"), F.col("page"), F.col("pos")))
    )


def explode_serp_items(pages: DataFrame, *keep: str) -> DataFrame:
    """One row per SERP item of parsed pages (``p`` parsed with
    ``SERP_JSON``): the ``keep`` page columns, the page's ``page``,
    ``layout`` and ``has_next``, and the item's ``pos``, ``title`` (P2: a
    missing title node reads 'Amazon recommendation'), ``href`` and
    ``item_is_sponsored``. A page with no items yields no rows."""
    return pages.select(
        *keep,
        F.col("p.page").alias("page"), F.col("p.layout").alias("layout"),
        F.col("p.has_next").alias("has_next"),
        F.explode("p.items").alias("item"),
    ).select(
        *keep, "page", "layout", "has_next",
        F.col("item.pos").alias("pos"),
        F.coalesce(F.col("item.title"), F.lit("Amazon recommendation")).alias("title"),
        F.col("item.href").alias("href"),
        F.col("item.is_sponsored").alias("item_is_sponsored"),
    )


def exhausted(max_retries: int) -> F.Column:
    """The retry rule (C3) on a fetch row: a transient failure (status -1)
    at ``attempt >= max_retries`` is a dead letter; one below it re-enters
    the frontier (``CrawlEngine._retries``)."""
    return (F.col("status") == -1) & (F.col("attempt") >= max_retries)


def fetch_lineage(fetched: DataFrame, wave: int, max_retries: int) -> DataFrame:
    """The wave's one per-fetch record (north_rule lineage + metrics; A1,
    A6, C3): one row per fetch attempt with its partition, status, attempt,
    payload sizes and ``dead`` (``exhausted`` when fetched, so a resume
    under another ``max_retries`` keeps the set), plus ``n_items`` and
    ``has_next`` for status-200 SERP pages. The reference's >45-row alarm
    (P8, getRank.py:165-167) is ``n_items > 45`` and its empty-page message
    (P9, getRank.py:211) ``n_items == 0``; per-shard fetch metrics are a
    ``groupBy("wave", "host_shard")`` over these rows and dead letters the
    ``dead`` ones (``CrawlEngine.dead_letters``). A projection over the
    fetch: no join, no exchange (scripts/explain_plans.py
    check_fetch_lineage)."""
    serp_ok = (F.col("kind") == "serp") & (F.col("status") == 200)
    return fetched.select(
        F.lit(wave).alias("wave"),
        F.spark_partition_id().alias("partition_id"),
        "seed_id", "kind", "canonical_url", "parent_seq", "discovery_seq", "host_shard",
        "status", "attempt", exhausted(max_retries).alias("dead"),
        F.length("content").alias("content_len"),
        F.length("image_bytes").alias("image_len"),
        F.when(serp_ok, F.from_json("content", SERP_JSON)).alias("_p"),
    ).select(
        "*",
        F.when(F.col("_p").isNotNull(), F.size("_p.items")).alias("n_items"),
        F.col("_p.has_next").alias("has_next"),
    ).drop("_p")


def _classify_kind(url: F.Column) -> F.Column:
    return (
        F.when(url.startswith(f"{world.HOST}/s?"), "serp")
        .when(url.startswith(f"{world.HOST}/dp/"), "detail")
        .when(url.startswith(f"{world.HOST}/gp/new-releases/"), "category")
        .when(url.startswith(f"{world.HOST}/gp/cart/view.html?"), "cart")
        .otherwise("404")
    )


class CrawlEngine:
    """Drives the wave loop over a StateStore; resumable via ``resume=True``."""

    def __init__(self, spark: SparkSession, cfg: CrawlConfig, seeds: DataFrame | None = None):
        self.spark = spark
        self.cfg = cfg
        self.seeds = seeds if seeds is not None else seeds_df(spark)
        self.dims = dims_df(spark)
        self.robots = _robots_df(spark)  # crawl delays, for the dequeue
        self.robots_rules = _robots_rules(spark)
        self.store = StateStore(spark, cfg.checkpoint_dir)

    # ------------------------------------------------------------ init
    def _initial_frontier(self) -> DataFrame:
        f = (
            self.seeds.withColumn("canonical_url", canonicalize_url(F.col("url")))
            .withColumn("kind", _classify_kind(F.col("canonical_url")))
            .withColumn("depth", F.lit(0))
            .withColumn("discovery_seq", F.col("seed_id"))
            .withColumn("priority_score", F.lit(0.0))
            .withColumn("attempt", F.lit(0))
            .withColumn("parent_seq", F.lit(-1).cast("long"))
            .withColumn("parent_pos", F.lit(0))
            .select(
                "seed_id", "kind", "canonical_url", "depth", "discovery_seq",
                "priority_score", "attempt", "parent_seq", "parent_pos",
                "product_type", "max_depth", "keyword",
            )
        )
        return _with_host_shard(f, self.cfg).select([f.name for f in FRONTIER_SCHEMA.fields])

    # ------------------------------------------------- pruned frontier load
    def _load_frontier(self):
        """Load the latest frontier snapshot as (hot, cold).

        ``hot`` is what the politeness dequeue ranks; ``cold`` (may be None)
        is carried forward into the next snapshot untouched. Pruning is
        EXACT, not heuristic: the priority order is depth-major
        (politeness.priority_sort_cols), so shard s's top-``tokens`` rows
        all lie within the smallest depth prefix whose cumulative row count
        reaches the budget (D_s); reading depths ≤ max_s D_s can therefore
        never change a wave's batch. The per-(depth, shard) counts come from
        parquet footers of the snapshot the store partitions by (depth,
        host_shard) — driver-side, no Spark job. At 10^10 rows this turns
        the per-wave dequeue sort from O(frontier) into O(consumable head);
        the cold rows are rewritten untouched here (snapshot model) and
        become a pure metadata carry on real Iceberg. Returns (full, None)
        when every depth is needed.
        """
        cfg, store = self.cfg, self.store
        full = store.load_snapshot("frontier").select([f.name for f in FRONTIER_SCHEMA.fields])
        counts = partitioned_counts(store.latest_manifest()["tables"]["frontier"])
        if not counts:
            # the dynamic-partition writer emits NO files for an empty
            # frontier; the recorded schema still reads it, as no rows
            return full, None
        per_shard: dict[int, dict[int, int]] = {}
        for parts, n in counts.items():
            kv = dict(p.split("=", 1) for p in parts)
            per_shard.setdefault(int(kv["host_shard"]), {})[int(kv["depth"])] = n
        max_depth_present = max(d for ds in per_shard.values() for d in ds)
        bound = 0
        for ds in per_shard.values():
            cum, d_s = 0, max(ds)  # a shard that can't fill its budget needs all its depths
            for d in sorted(ds):
                cum += ds[d]
                if cum >= cfg.tokens_per_shard:
                    d_s = d
                    break
            bound = max(bound, d_s)
        if bound >= max_depth_present:
            return full, None  # nothing to prune this wave
        return (
            full.filter(F.col("depth") <= bound),
            full.filter(F.col("depth") > bound),
        )

    # ------------------------------------------------------------ run
    def run(self, resume: bool = False) -> dict:
        cfg, spark, store = self.cfg, self.spark, self.store

        if resume and (m := store.latest_manifest()) is not None:
            wave0 = m["wave"] + 1
            next_seq = m["counters"]["next_seq"]
            n_frontier = m["counters"]["n_frontier"]
        else:
            frontier = self._initial_frontier()
            shards = bloom.empty_shards(spark, cfg.bloom)
            seen0 = bloom.with_bloom_keys(frontier.select("canonical_url"), "canonical_url", cfg.bloom)
            shards = bloom.merge_into_shards(seen0, shards, cfg.bloom)
            n_frontier = frontier.count()
            next_seq = n_frontier + 1000  # seeds occupy seq 0..n-1
            store.commit_wave(
                -1,
                {"frontier": frontier, "shards": shards, "seen": frontier.select("canonical_url", "discovery_seq")},
                {"next_seq": next_seq, "n_frontier": n_frontier},
            )
            wave0 = 0
        frontier, cold = self._load_frontier()
        shards = store.load_shard_state()

        last_wave = wave0 - 1
        for wave in range(wave0, cfg.max_waves):
            if n_frontier == 0:
                break
            frontier, cold, shards, next_seq, n_frontier = self._run_wave(
                wave, frontier, cold, shards, next_seq
            )
            last_wave = wave
        return {"last_wave": last_wave, "store": store}

    # ---------------------------------------------------- retries (C3)
    def _retries(self, fetched: DataFrame) -> DataFrame:
        """Transient failures (status -1) the retry rule (``exhausted``)
        leaves alive re-enter the frontier with ``attempt + 1``."""
        return (
            fetched.filter((F.col("status") == -1) & ~exhausted(self.cfg.max_retries))
            .withColumn("attempt", F.col("attempt") + 1)
            .select([f.name for f in FRONTIER_SCHEMA.fields])
        )

    def dead_letters(self) -> DataFrame | None:
        """Fetches that exhausted their retries: the ``lineage`` rows the
        retry rule marked ``dead`` when they were fetched."""
        lineage = self.store.load_deltas("lineage")
        if lineage is None:
            return None
        return lineage.filter("dead").select("canonical_url", "seed_id", "attempt")

    # ------------------------------------------------------------ one wave
    def _run_wave(
        self,
        wave: int,
        frontier: DataFrame,
        cold: DataFrame | None,
        shards: DataFrame,
        next_seq: int,
    ):
        import time as _time

        # with the manifest's started_at (stamped before the commit's
        # writes) this times the wave's build: dequeue → commit start
        wave_started_at = _time.time()
        cfg, store = self.cfg, self.store

        # the one Exchange of the dequeue: the politeness window reuses this
        # host_shard partitioning, so the cached ranked frontier already
        # holds one fetch task per shard
        batch, deferred, ranked = select_wave_batch(
            frontier.repartition(cfg.n_shards, "host_shard"), cfg.tokens_per_shard, self.robots
        )

        # ---- fetch (S4-S6, S12): one mapInPandas over the batch, partitioned by shard
        fetched_schema = T.StructType(
            list(batch.schema.fields)
            + [
                T.StructField("status", T.IntegerType()),
                T.StructField("content", T.StringType()),
                T.StructField("image_bytes", T.BinaryType()),
                T.StructField("image", IMAGE_STRUCT),
            ]
        )
        fetched = batch.mapInPandas(_fetch_batches, fetched_schema).persist()
        retries = self._retries(fetched)
        ok = fetched.filter(F.col("status") == 200)

        # ---- parse per kind (P1-P13): from_json, fully declarative
        serp = ok.filter(F.col("kind") == "serp").withColumn("p", F.from_json("content", SERP_JSON))
        detail = ok.filter(F.col("kind") == "detail").withColumn("p", F.from_json("content", DETAIL_JSON))
        category = ok.filter(F.col("kind") == "category").withColumn("p", F.from_json("content", CATEGORY_JSON))
        cart = ok.filter(F.col("kind") == "cart").withColumn("p", F.from_json("content", CART_JSON))

        serp_items = explode_serp_items(
            serp, "seed_id", "keyword", "canonical_url", "discovery_seq", "host_shard",
            "product_type", "max_depth", "depth",
        )

        # ---- classify own products + rank encode
        matched = classify_serp_items(serp_items)

        results_all = matched.select(
            F.lit(wave).alias("wave"), "seed_id", "keyword", "page", "pos", "layout",
            "title", "clean_title", "is_ad", "is_own", "size_attr", "rank",
            F.col("canonical_url").alias("page_url"), "host_shard",
        )
        # W3: unknown-layout rows are routed OUT of results into a quarantine
        # table (the reference parks 'Other mode' pages for operator review —
        # getRank.py:317-328's 3000 s sleep); they never contribute ranks or
        # early-stop hits.
        quarantine = results_all.filter(F.col("rank") == "Other mode")
        results = results_all.filter(F.col("rank") != "Other mode")

        # ---- detail results (BSR fields) + cart results
        detail_rows = detail.select(
            F.lit(wave).alias("wave"), "seed_id", "canonical_url", "discovery_seq",
            "parent_seq", "parent_pos", "host_shard", "depth", "product_type",
            "max_depth", "keyword",
            F.col("p.asin").alias("asin"), F.col("p.title").alias("title"),
            F.col("p.variant_axis").alias("variant_axis"), F.col("p.rank_mode").alias("rank_mode"),
            F.col("p.rank1").alias("rank1"), F.col("p.rank2").alias("rank2"),
            F.col("p.skus").alias("skus"),
        )
        cart_rows = cart.select(
            F.lit(wave).alias("wave"), "seed_id", "canonical_url", "host_shard",
            F.col("p.asin").alias("asin"),
            F.col("p.inventory").alias("inventory"), F.col("p.alert").alias("alert"),
        )

        # ---- images (S12): the fetch kernel decoded them
        images = detail.filter(F.col("image").isNotNull()).select(
            "image.image_id", F.col("image_bytes").alias("bytes"), "image.w", "image.h",
            "image.fmt", F.col("p.title").alias("caption"), "image.phash",
        )

        # ---- expansion (J4/L1): pagination + items + skus + cart probes
        expansions = []
        nxt = serp.filter(F.col("p.has_next") & (F.col("p.page") < F.col("max_depth")))
        seed_flags = None
        if cfg.early_stop:
            # A3/L2: a seed with ≥1 sponsored and ≥1 natural own hit stops
            # paging — the reference's core loop exits once both are found
            # (getRank.py:208-209, 468-469). Per-seed cumulative flags are
            # the tiny seed_flags snapshot (≤1 row per seed): this wave's
            # hits fold into the previous snapshot, so the check never
            # rescans the growing results history.
            wave_flags = (
                results.filter(F.col("is_own"))
                .groupBy("seed_id")
                .agg(
                    F.max(F.col("is_ad").cast("int")).alias("has_ad"),
                    F.max((~F.col("is_ad")).cast("int")).alias("has_nat"),
                )
            )
            prior_flags = store.load_snapshot("seed_flags")
            # persisted: the pagination kill, the frontier kill and the
            # snapshot write all read it
            seed_flags = (
                (wave_flags if prior_flags is None else prior_flags.unionByName(wave_flags))
                .groupBy("seed_id")
                .agg(F.max("has_ad").alias("has_ad"), F.max("has_nat").alias("has_nat"))
                .persist()
            )
            done = seed_flags.filter((F.col("has_ad") == 1) & (F.col("has_nat") == 1)).select(
                "seed_id"
            )
            nxt = nxt.join(F.broadcast(done), "seed_id", "left_anti")
        expansions.append(
            nxt.select(
                "seed_id",
                F.concat(
                    F.lit(f"{world.HOST}/s?field-keywords="),
                    F.regexp_replace(F.col("p.keyword"), " ", "+"),
                    F.lit("&page="), (F.col("p.page") + 1).cast("string"),
                ).alias("raw_url"),
                (F.col("depth") + 1).alias("depth"),
                F.col("discovery_seq").alias("parent_seq"),
                F.lit(100000).alias("parent_pos"),  # pagination after items (BFS tie-break)
                "product_type", "max_depth", "keyword",
            )
        )
        if cfg.follow_items:
            expansions.append(
                serp_items.filter(
                    F.col("href").isNotNull() & (F.col("depth") + 1 <= F.col("max_depth"))
                ).select(
                    "seed_id",
                    F.concat(F.lit(world.HOST), F.col("href")).alias("raw_url"),
                    (F.col("depth") + 1).alias("depth"),
                    F.col("discovery_seq").alias("parent_seq"),
                    F.col("pos").alias("parent_pos"),
                    "product_type", "max_depth", "keyword",
                )
            )
            cat_items = category.select(
                "seed_id", "depth", "discovery_seq", "product_type", "max_depth", "keyword",
                F.explode("p.items").alias("item"),
            )
            expansions.append(
                cat_items.filter(F.col("depth") + 1 <= F.col("max_depth")).select(
                    "seed_id",
                    F.concat(F.lit(world.HOST), F.col("item.href")).alias("raw_url"),
                    (F.col("depth") + 1).alias("depth"),
                    F.col("discovery_seq").alias("parent_seq"),
                    F.col("item.pos").alias("parent_pos"),
                    "product_type", "max_depth", "keyword",
                )
            )
        if cfg.follow_skus:
            skus = detail_rows.select(
                "seed_id", "canonical_url", "discovery_seq", "depth",
                "product_type", "max_depth", "keyword",
                F.posexplode("skus").alias("sku_pos", "sku"),
            )
            expansions.append(
                skus.filter(F.col("depth") + 1 <= F.col("max_depth")).select(
                    "seed_id",
                    # P11: empty dp_url falls back to the product page URL
                    F.when(F.col("sku.dp_url") == "", F.col("canonical_url"))
                    .otherwise(F.concat(F.lit(world.HOST), F.col("sku.dp_url")))
                    .alias("raw_url"),
                    (F.col("depth") + 1).alias("depth"),
                    F.col("discovery_seq").alias("parent_seq"),
                    (F.col("sku_pos") + 1).alias("parent_pos"),
                    "product_type", "max_depth", "keyword",
                )
            )
        if cfg.probe_inventory:
            expansions.append(
                detail_rows.filter(F.col("depth") + 1 <= F.col("max_depth")).select(
                    "seed_id",
                    F.concat(
                        F.lit(f"{world.HOST}/gp/cart/view.html?asin="), F.col("asin"), F.lit("&qty=999")
                    ).alias("raw_url"),
                    (F.col("depth") + 1).alias("depth"),
                    F.col("discovery_seq").alias("parent_seq"),
                    F.lit(200000).alias("parent_pos"),  # probes after sku links
                    "product_type", "max_depth", "keyword",
                )
            )

        candidates = expansions[0]
        for e in expansions[1:]:
            candidates = candidates.unionByName(e)

        # ---- canonicalize → admission (P14/C7/P15/J6)
        candidates = (
            candidates.withColumn("canonical_url", canonicalize_url(F.col("raw_url")))
            .drop("raw_url")
            .withColumn("kind", _classify_kind(F.col("canonical_url")))
        )
        candidates = _with_host_shard(candidates, cfg)

        # compaction cadence: every compact_every-th wave rewrites the Bloom
        # shard state as a full base so the per-wave read stays
        # O(base + K deltas) instead of O(all waves)
        compacting = bool(cfg.compact_every) and (wave + 1) % cfg.compact_every == 0

        # copy-on-write: only buckets that gained URLs this wave are emitted
        # and written; untouched buckets keep their last-written version.
        # On a compacting wave the FULL bucket set is emitted (a shards base).
        # The admission cogroup emits both; persisting its one output runs
        # it once for the seq assignment, the frontier and the shard write.
        admitted = admit_candidates(
            candidates, self.robots_rules, shards, cfg.bloom, dirty_only=not compacting
        ).persist()
        pre, new_shards = bloom.split_admission(admitted)

        # ---- data-defined discovery order (W4): seq from (parent, pos, url)
        # assigned WITHOUT a global single-task window — per-parent rank +
        # driver-side cumulative offsets, byte-identical result; the sizes
        # aggregate doubles as the wave's new-URL count (politeness.py)
        seq_assigned, n_new = assign_discovery_seq(pre, next_seq)
        _new_priority = F.col("_indegree").cast("double")
        new_rows = (
            seq_assigned
            .withColumn("priority_score", _new_priority)
            .withColumn("attempt", F.lit(0))
            .select([f.name for f in FRONTIER_SCHEMA.fields])
            .persist()
        )
        next_seq += n_new

        new_frontier = (
            deferred.select([f.name for f in FRONTIER_SCHEMA.fields])
            .unionByName(retries.select([f.name for f in FRONTIER_SCHEMA.fields]))
            .unionByName(new_rows)
        )
        if cold is not None:
            # depth-pruned dequeue: rows the budget provably couldn't reach
            # were never ranked — carry them into the next snapshot verbatim
            # (a metadata-only carry on real Iceberg; unioned BEFORE the
            # early-stop kill so satisfied seeds retire cold rows too)
            new_frontier = new_frontier.unionByName(
                cold.select([f.name for f in FRONTIER_SCHEMA.fields])
            )
        if cfg.early_stop:
            # kill pending pagination (deferred/retry/new serp rows) of
            # satisfied seeds as well (L2)
            nf = new_frontier.alias("nf")
            new_frontier = nf.join(
                F.broadcast(done.withColumnRenamed("seed_id", "_done_seed")),
                (F.col("nf.seed_id") == F.col("_done_seed")) & (F.col("nf.kind") == "serp"),
                "left_anti",
            )
        # the loop's stop condition needs |new_frontier|, but a pre-commit
        # count() is a whole extra pass over the union DAG (measured
        # 1.8-5.7 s/wave). The count instead comes from the written
        # snapshot's parquet FOOTERS (commit_wave records it in the
        # manifest counters — driver-side pyarrow, no job). An Observation
        # riding the write worked for plain parquet but the partitionBy
        # writer does NOT deliver observed metrics for an empty frontier
        # (toPyRow assertion on the final wave — measured, not
        # hypothetical), and the footer count is just as free.
        # co-locate the (depth, host_shard) write partitions so the
        # partitionBy writer emits one file per live combo instead of
        # (in-memory partitions × combos) tiny files
        new_frontier = new_frontier.repartition(cfg.n_shards, *PARTITIONING["frontier"])

        # the per-wave tables are small: coalesce the writes so each wave
        # appends a few well-sized files instead of one file per shuffle
        # partition (192 tiny files/table/wave explodes both the write job's
        # task count and every later load_deltas scan). The frontier and
        # the shard state keep their natural partitioning — they are the
        # tables that grow with frontier size. Every table is written every
        # wave, empty or not: an empty write leaves a schema-only file, so
        # no per-kind count gates the commit.
        n_out = max(2, cfg.n_shards // 8)

        def small(df: DataFrame | None) -> DataFrame | None:
            return None if df is None else df.coalesce(n_out)

        store.commit_wave(
            wave,
            {
                "frontier": new_frontier,
                # COW: no dirty buckets → no write, except for a base
                "shards": new_shards if n_new > 0 or compacting else None,
                "seen": small(new_rows.select("canonical_url", "discovery_seq")),
                "seed_flags": small(seed_flags),
                "results": small(results),
                "quarantine": small(quarantine),
                "detail_results": small(detail_rows.drop("skus")),
                "cart_results": small(cart_rows),
                "images": small(images),
                "lineage": small(fetch_lineage(fetched, wave, cfg.max_retries)),
            },
            {"next_seq": next_seq, "wave_started_at": wave_started_at},
            bases={"shards"} if compacting else frozenset(),
        )
        for cached in (fetched, new_rows, admitted, ranked, seed_flags):
            if cached is not None:
                cached.unpersist()
        n_frontier = int(store.counter("n_frontier"))
        next_hot, next_cold = self._load_frontier()
        return next_hot, next_cold, store.load_shard_state(), next_seq, n_frontier
