"""Report pipelines over crawl state (SURVEY.md §3.1-3.3, A2/A4/A5, J3, W5).

Three reports mirror the reference's three entry points:

* ``rank_report``     — getRank.main(): per keyword, the first sponsored and
  first natural own-product hit, synthesized into the golden string format
  ``adRank(attr广告)/natRank(attr自然)`` or ``大于8页``.
* ``inventory_report``— getStockNumber.main(): category items joined to
  their cart-probe results (J3), inventory = min(999, stock) as string.
* ``bsr_report``      — getRank.getBestSellersRank(): per product, each SKU's
  best-sellers rank extracted (W5/P13) and '|'-joined in SKU order (A4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amazonwebcrawler_spark.functions.rank import (
    pick_non_top100_rank,
    rank_string_synthesis,
)
from amazonwebcrawler_spark.sources.state_store import StateStore


def rank_report(store: StateStore, seeds: DataFrame) -> DataFrame:
    """Rank strings of the keyword seeds over the committed serp results."""
    kw_seeds = seeds.filter(F.col("kind") == "keyword").select("seed_id", "keyword")
    return rank_strings(store.load_deltas("results"), kw_seeds)


def rank_strings(results: DataFrame, keywords: DataFrame) -> DataFrame:
    """A2 (first-per-group window) + A5 (string synthesis): per
    ``keywords`` row (``seed_id``, ``keyword``), the first sponsored and
    first natural own hit of classified ``results`` in (page, pos) order,
    as the golden rank string. Rows are ordered by ``seed_id``."""
    own = results.filter(F.col("is_own"))
    w = Window.partitionBy("seed_id", "is_ad").orderBy(
        F.col("page").asc(), F.col("pos").asc()
    )
    firsts = (
        own.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("seed_id", "is_ad", "rank", "size_attr")
    )
    ad = firsts.filter(F.col("is_ad")).select(
        "seed_id", F.col("rank").alias("ad_rank"), F.col("size_attr").alias("ad_attr")
    )
    nat = firsts.filter(~F.col("is_ad")).select(
        "seed_id", F.col("rank").alias("nat_rank"), F.col("size_attr").alias("nat_attr")
    )
    return (
        keywords.join(ad, "seed_id", "left")
        .join(nat, "seed_id", "left")
        .select(
            "seed_id",
            "keyword",
            rank_string_synthesis(
                F.col("ad_rank"), F.col("ad_attr"), F.col("nat_rank"), F.col("nat_attr")
            ).alias("rank_string"),
        )
        .orderBy("seed_id")
    )


def titles_report(store: StateStore) -> DataFrame:
    """getTitle.py's dump: every SERP title per keyword, in crawl order.
    The 'one worksheet per keyword' layout (getTitle.py:143) becomes
    partitionBy('keyword') at write time (save_reports).

    P3 fidelity: getTitle keeps a 0-based per-page index (getTitle.py:103
    ``enumerate(content)``) where getRank uses 1-based positions
    (getRank.py:178) — both are preserved: ``pos`` is the engine-wide
    1-based position, ``index`` the getTitle-style 0-based one."""
    results = store.load_deltas("results")
    return results.select(
        "keyword", "page", "pos", (F.col("pos") - 1).alias("index"), "title"
    ).orderBy("keyword", "page", "pos")


def save_reports(store: StateStore, seeds: DataFrame, out_dir: str, top_n: int | None = None) -> None:
    """Write the three reports as parquet tables (S7-S9).

    * ranks      — tall (run-scoped) table; the reference's 2-row-wide sheet
      is a pivot at read time (SURVEY.md S7)
    * inventory  — row-append table (S8), optional head-N cut (L3,
      getStockNumber.py:74-79)
    * titles     — partitioned by keyword = 'sheet per keyword' (S9)
    """
    rank_report(store, seeds).write.mode("overwrite").parquet(f"{out_dir}/ranks")
    inv = inventory_report(store)
    if top_n is not None:
        inv = inv.filter(F.col("order") <= top_n)
    inv.write.mode("overwrite").parquet(f"{out_dir}/inventory")
    titles_report(store).write.mode("overwrite").partitionBy("keyword").parquet(f"{out_dir}/titles")


def inventory_report(store: StateStore) -> DataFrame:
    """J3: detail rows of the category seed ⨝ their cart-probe results.

    The join key is the asin (the probe URL embeds it); equi hash join —
    sort-merge at scale, broadcast-able when the category page is small.
    Canonicalization strips a ``/dp/`` link's ``keywords=``, so each
    product page is fetched once and yields one row per ASIN; its detail
    and cart rows carry the first discovering seed's ``seed_id`` and
    keyword, not one copy per keyword SERP that listed it.
    """
    details = store.load_deltas("detail_results")
    carts = store.load_deltas("cart_results")
    if details is None or carts is None:
        raise ValueError("crawl state lacks detail/cart results")
    d = details.select("seed_id", "asin", "title", "discovery_seq").alias("d")
    c = carts.select("asin", "inventory", "alert").alias("c")
    return (
        d.join(c, "asin", "inner")
        .select("seed_id", "asin", "title", "inventory", "alert", "discovery_seq")
        .withColumn(
            "order", F.row_number().over(Window.partitionBy("seed_id").orderBy("discovery_seq"))
        )
        .drop("discovery_seq")
    )


def bsr_report(store: StateStore) -> DataFrame:
    """W5/P13 per SKU page + A4 '|'-rollup ordered by discovery (getRank.py:412-414).

    Each product page is fetched once (canonicalization strips the
    ``keywords=`` of ``/dp/`` links), so its detail rows carry the first
    discovering seed's keyword."""
    details = store.load_deltas("detail_results")
    # keep only SKU children — rows whose parent is itself a detail page
    # (getRank.py:360's per-sku loop), not detail pages reached from a SERP
    parents = details.select(F.col("discovery_seq").alias("parent_seq")).distinct()
    details = details.join(parents, "parent_seq", "left_semi")
    with_rank = details.withColumn(
        "bsr",
        F.when(F.col("rank_mode") == "none", F.lit("")).otherwise(
            pick_non_top100_rank(F.col("rank1"), F.col("rank2"))
        ),
    )
    # deterministic SKU order = (parent discovery, position on parent page)
    return (
        with_rank.groupBy("parent_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("parent_pos", "discovery_seq", "bsr"))
                    ),
                    lambda s: s["bsr"],
                ),
                "|",
            ).alias("bsr_report"),
            F.count("*").alias("n_skus"),
        )
    )
