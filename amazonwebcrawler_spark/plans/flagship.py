"""M1 flagship slice: one declarative rank-report wave (SURVEY.md §7 M1).

The stateless core of getRank.main() — fetch SERP page 1 per keyword, parse,
classify against the broadcast dims, rank-encode, first-ad/first-natural
aggregate, golden-format synthesis — as a single DataFrame DAG (no frontier
state, no loop). Used by ``__spark_entry__.entry`` as the smoke pipeline;
the full stateful loop lives in plans/crawler.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amazonwebcrawler_spark.functions.urls import canonicalize_url
from amazonwebcrawler_spark.plans.crawler import SERP_JSON, classify_serp_items, explode_serp_items
from amazonwebcrawler_spark.plans.reports import rank_strings
from amazonwebcrawler_spark.sources import synthetic_world as world


def _fetch(batches):
    for pdf in batches:
        out = pdf.copy()
        out["content"] = [world.fetch(u)["content"] for u in pdf["canonical_url"]]
        yield out


def rank_wave(spark: SparkSession, keywords: list[tuple[str, str]], pages: int = 2) -> DataFrame:
    """(keyword, product_type) list → golden-format rank strings.

    Crawls SERP pages 1..``pages`` for each keyword in ONE fetch wave (the
    page URLs are enumerable up front — no frontier needed for this slice).
    """
    rows = [
        (i, kw, ptype, world.serp_url(kw, p) + "&ref=nb_sb_noss")
        for i, (kw, ptype) in enumerate(keywords)
        for p in range(1, pages + 1)
    ]
    seeds = spark.createDataFrame(rows, "seed_id long, keyword string, product_type string, url string")
    seeds = seeds.withColumn("canonical_url", canonicalize_url(F.col("url"))).drop("url")

    fetched_schema = T.StructType(
        list(seeds.schema.fields) + [T.StructField("content", T.StringType())]
    )
    parsed = (
        seeds.repartition(8, "canonical_url")
        .mapInPandas(_fetch, fetched_schema)
        .withColumn("p", F.from_json("content", SERP_JSON))
    )
    items = explode_serp_items(parsed, "seed_id", "keyword", "product_type")
    # W3 quarantine semantics: unknown-layout pages never contribute ranks
    # (getRank.py:317-328 parks 'Other mode' pages) — same routing as the
    # stateful engine's quarantine table
    results = classify_serp_items(items).filter(F.col("rank") != "Other mode")
    return rank_strings(results, seeds.select("seed_id", "keyword").distinct())
