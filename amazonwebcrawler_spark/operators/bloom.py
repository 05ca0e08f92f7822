"""Partitioned Bloom-filter URL-seen state (SURVEY.md P15/J6; north_rule).

The reference re-fetches freely (it re-``get``\\ s every SKU page,
getRank.py:361, and its own TODO laments wasted refetches, getTitle.py:192).
At 10^10 frontier URLs an exact ``seen`` anti-join would shuffle the full
seen set every wave — the Bloom filter is the scale path:

* the seen set is sharded into ``n_buckets`` bitsets, partitioned by
  ``pmod(h1, n_buckets)`` — each candidate URL touches exactly ONE shard;
* hash positions use Kirsch-Mitzenmacher double hashing
  ``pos_i = (h1 + i*h2) mod m`` with ``h1 = xxhash64(url)`` and
  ``h2 = xxhash64(url, 's2')`` computed **JVM-side** as column expressions —
  the pandas kernels below only ever see int64s, all numpy-vectorized;
* every kernel is a **cogrouped** ``applyInPandas`` over (candidates ⨝
  shards) grouped by bucket, so a shard's bytes are materialized once per
  task, never duplicated per candidate row.

**Exact membership in the same task.** Every shard also carries ``keys`` —
the bucket's SORTED uint64 array of ``h1`` key hashes. ``probe_shards``
answers ``maybe_seen`` from the bitset (false positives, never false
negatives) and ``exact_seen`` by searchsorted membership in the key set.
The crawl's waves run :func:`admit_into_shards` instead: ONE cogroup task
per bucket dedups the wave's candidates (the bucket is a pure function of
the URL, so no duplicate group spans two tasks), drops the URLs already in
the key set and merges the admitted keys into the shard — dedup, probe
and merge with one shuffle, and no wave reads the ``seen`` table (the
membership-inside-the-vectorized-kernel shape of *Accelerating Python UDFs
in Vectorized Query Execution*, CIDR 2022). ``probe_shards`` and
``merge_into_shards`` share its bit and key-set code. Cost: +8 B/URL of
state (~80 GB at 10^10, ~20 MB/bucket at 4096 buckets — read/written per
dirty bucket only, COW). Exactness is up to xxhash64 collisions on ``h1``:
n URLs give ≈ n²/2^65 expected colliding pairs — ≈ 2.7 for a 10^10-URL
crawl, which therefore silently drops about 3 new URLs (the failure mode
is pinned by tests/test_crawler.py against the md5-exact crawl oracle).

Sizing: with the default ``bits_per_item=12, k=5`` the false-positive rate
is ~0.3%; at 10^10 URLs that is 15 GB of filter split over shards
(``n_buckets=4096`` → ~3.7 MB/shard), one shard per task.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SHARD_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
        T.StructField("n_items", T.LongType()),
        T.StructField("m_bits", T.LongType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("keys", T.BinaryType()),
    ]
)
#: a shard row's fields besides its ``bucket``
_SHARD_VALUES = [f for f in SHARD_SCHEMA.fields if f.name != "bucket"]


@dataclass(frozen=True)
class BloomConfig:
    n_buckets: int = 64
    m_bits: int = 1 << 20  # bits per shard
    k: int = 5

    @classmethod
    def for_capacity(cls, n_items: int, bits_per_item: int = 12, n_buckets: int = 64) -> "BloomConfig":
        per_shard = max(1 << 14, (n_items * bits_per_item) // n_buckets)
        # round up to a whole number of bytes: empty_shards allocates
        # m_bits>>3 bytes while _positions addresses bits up to m_bits-1 —
        # a non-multiple-of-8 m_bits would index past the byte array
        per_shard = (per_shard + 7) & ~7
        return cls(n_buckets=n_buckets, m_bits=int(per_shard), k=5)


def with_bloom_keys(df: DataFrame, url_col: str, cfg: BloomConfig) -> DataFrame:
    """Attach (h1, h2, bucket) — pure JVM column math, no Python."""
    return (
        df.withColumn("h1", F.xxhash64(F.col(url_col)))
        .withColumn("h2", F.xxhash64(F.col(url_col), F.lit("s2")))
        .withColumn("bucket", F.pmod(F.col("h1"), F.lit(cfg.n_buckets)).cast("int"))
    )


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n,) int64 pairs → (n, k) bit positions. Vectorized double hashing."""
    u1 = h1.astype(np.uint64)
    u2 = h2.astype(np.uint64) | np.uint64(1)  # force odd so strides cycle
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((u1[:, None] + i * u2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bits: bytearray, pos: np.ndarray) -> None:
    arr = np.frombuffer(bits, dtype=np.uint8).copy()
    flat = pos.ravel()
    np.bitwise_or.at(arr, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
    bits[:] = arr.tobytes()


def _test_bits(bits: bytes, pos: np.ndarray) -> np.ndarray:
    """(n, k) positions → (n,) bool 'all k bits set'."""
    arr = np.frombuffer(bits, dtype=np.uint8)
    hit = (arr[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=1)


def empty_shards(spark: SparkSession, cfg: BloomConfig) -> DataFrame:
    assert cfg.m_bits % 8 == 0, "m_bits must be byte-aligned (see for_capacity)"
    rows = [
        (b, bytearray(cfg.m_bits >> 3), 0, cfg.m_bits, cfg.k, bytearray())
        for b in range(cfg.n_buckets)
    ]
    return spark.createDataFrame(rows, SHARD_SCHEMA)


def _shard_state(shard: pd.DataFrame, m: int) -> tuple[bytearray, int, np.ndarray]:
    """A cogroup's shard side → (bits, n_items, sorted key-hash set); a
    bucket with no shard row starts empty."""
    if shard.empty:
        return bytearray(m >> 3), 0, np.array([], dtype=np.uint64)
    return (
        bytearray(shard["bits"].iloc[0]),
        int(shard["n_items"].iloc[0]),
        np.frombuffer(shard["keys"].iloc[0] or b"", dtype=np.uint64),
    )


def _require_keys(n_items: int, key_set: np.ndarray) -> None:
    """A populated bucket with NO key set was written without key
    tracking — answering 'unseen' for already-crawled URLs would silently
    re-admit them; fail loudly instead."""
    if n_items > 0 and not len(key_set):
        raise ValueError(
            "exact probe on a shard with items but no key set — this "
            "state was written without per-bucket key sets; start a "
            "fresh store"
        )


def _in_key_set(key_set: np.ndarray, h1: np.ndarray) -> np.ndarray:
    """(n,) bool: searchsorted membership of ``h1`` in the sorted set."""
    h = h1.astype(np.uint64)
    if not len(key_set):
        return np.zeros(len(h), dtype=bool)
    idx = np.searchsorted(key_set, h)
    idx[idx >= len(key_set)] = len(key_set) - 1
    return key_set[idx] == h


def _merged_shard(
    bucket: int, state: tuple[bytearray, int, np.ndarray], h1: np.ndarray, h2: np.ndarray,
    k: int, m: int,
) -> pd.DataFrame:
    """One shard row: ``state`` with the (h1, h2) keys ORed into its bits
    and unioned into its key set."""
    bits, n_items, key_set = state
    if len(h1):
        _set_bits(bits, _positions(h1, h2, k, m))
        n_items += len(h1)
        # sorted exact key set — a pure function of the key SET
        # (np.union1d sorts + dedups), independent of arrival order
        key_set = np.union1d(key_set, h1.astype(np.uint64))
    return pd.DataFrame(
        [{"bucket": bucket, "bits": bytes(bits), "n_items": n_items, "m_bits": m,
          "k": k, "keys": key_set.tobytes()}]
    )


def merge_into_shards(
    new_keys: DataFrame, shards: DataFrame, cfg: BloomConfig, dirty_only: bool = False
) -> DataFrame:
    """OR the (h1, h2)-keyed new URLs into their shards.

    ``new_keys`` must carry (h1, h2, bucket) from :func:`with_bloom_keys`.
    Cogrouped per bucket: one task sees one shard + its new keys.

    ``dirty_only=True`` is the copy-on-write path: buckets that received no
    new keys are NOT emitted — per-wave shard writes are then O(dirty
    buckets), not O(all buckets). At 10^10 URLs (15 GB of filter over 4096
    buckets) rewriting every bucket every wave would be the dominant write;
    with COW a wave rewrites only the few MB it actually touched
    (StateStore.load_shard_state reconstructs latest-per-bucket).

    Each emitted shard carries its bucket's sorted key-hash set, the old
    set unioned with the new ``h1`` values. The crawl's waves merge inside
    :func:`admit_into_shards`; this is the seed commit's merge.
    """
    k, m = cfg.k, cfg.m_bits

    def merge(key: tuple, keys: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        if keys.empty and dirty_only:
            return pd.DataFrame(columns=SHARD_SCHEMA.fieldNames())
        return _merged_shard(
            int(key[0]), _shard_state(shard, m), keys["h1"].to_numpy(), keys["h2"].to_numpy(), k, m
        )

    return (
        new_keys.select("bucket", "h1", "h2")
        .groupBy("bucket")
        .cogroup(shards.groupBy("bucket"))
        .applyInPandas(merge, SHARD_SCHEMA)
    )


def probe_shards(candidates: DataFrame, shards: DataFrame, cfg: BloomConfig) -> DataFrame:
    """candidates (+h1,h2,bucket) → same rows + ``maybe_seen:boolean`` and
    ``exact_seen:boolean``.

    No false negatives: ``maybe_seen=false`` rows are guaranteed unseen.
    ``exact_seen`` is searchsorted membership in the shard's sorted key-hash
    set — the zero-extra-shuffle confirm (module docstring); exact up to
    xxhash64 collisions. A populated shard without a key set (state written
    before the sets existed) raises instead of answering.
    """
    k, m = cfg.k, cfg.m_bits
    extra = [
        T.StructField("maybe_seen", T.BooleanType()),
        T.StructField("exact_seen", T.BooleanType()),
    ]
    out_schema = T.StructType(list(candidates.schema.fields) + extra)
    cols = [f.name for f in candidates.schema.fields]

    def probe(cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        if cand.empty:
            return pd.DataFrame(columns=[*cols, "maybe_seen", "exact_seen"])
        cand = cand.copy()
        if shard.empty:
            cand["maybe_seen"] = False
            cand["exact_seen"] = False
            return cand
        bits, n_items, key_set = _shard_state(shard, m)
        _require_keys(n_items, key_set)
        pos = _positions(cand["h1"].to_numpy(), cand["h2"].to_numpy(), k, m)
        cand["maybe_seen"] = _test_bits(bits, pos)
        cand["exact_seen"] = _in_key_set(key_set, cand["h1"].to_numpy())
        return cand

    return (
        candidates.groupBy("bucket")
        .cogroup(shards.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


def admit_into_shards(
    candidates: DataFrame, shards: DataFrame, cfg: BloomConfig, dirty_only: bool = True
) -> DataFrame:
    """Dedup, exact seen-probe and shard merge in ONE cogroup per bucket.

    ``candidates`` are crawl candidates keyed on ``canonical_url`` by
    :func:`with_bloom_keys`, with ``parent_seq`` and ``parent_pos``; a URL
    may appear many times. Per bucket the kernel keeps each URL's first
    row by (parent_seq, parent_pos) with ``_indegree`` = the number of rows
    it had, drops URLs already in the bucket's key set, and ORs the
    admitted keys into the bucket's shard. That is sound because ``bucket``
    is a pure function of the URL: no duplicate group spans two buckets.

    One output, two kinds of rows, told apart by :func:`split_admission`:
    the admitted rows (the candidate columns + ``_indegree``, shard columns
    null) and the merged shards (``SHARD_SCHEMA``, candidate columns null).
    Shards follow ``merge_into_shards``' copy-on-write rule: only buckets
    that admitted a URL, or every bucket with ``dirty_only=False``.
    Equals ``min_by`` dedup → ``probe_shards`` (admit ``~exact_seen``) →
    ``merge_into_shards`` of the admitted keys (tests/test_bloom.py).
    """
    k, m = cfg.k, cfg.m_bits
    # every column nullable: each row kind leaves the other's columns null
    row_fields = [T.StructField(f.name, f.dataType) for f in candidates.schema.fields]
    row_fields.append(T.StructField("_indegree", T.LongType()))
    out_schema = T.StructType(row_fields + _SHARD_VALUES)
    nullable_int = {
        f.name for f in out_schema.fields if isinstance(f.dataType, (T.IntegerType, T.LongType))
    }

    def frame(rows: pd.DataFrame) -> pd.DataFrame:
        # every output column, absent ones null; integer columns go
        # nullable (Int64) so the mixed rows never round-trip h1/h2
        # through float64
        cols = {}
        for name in out_schema.fieldNames():
            col = rows[name] if name in rows else pd.Series([None] * len(rows), index=rows.index, dtype=object)
            cols[name] = col.astype("Int64") if name in nullable_int else col
        return pd.DataFrame(cols, index=rows.index)

    def admit(key: tuple, cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        if cand.empty and (dirty_only or shard.empty):
            return frame(pd.DataFrame())
        state = _shard_state(shard, m)
        _bits, n_items, key_set = state
        _require_keys(n_items, key_set)
        # in-wave dedup: the first-discovered row wins, the group size is
        # its in-degree
        cand = cand.sort_values(["canonical_url", "parent_seq", "parent_pos"], kind="mergesort")
        indegree = cand.groupby("canonical_url", sort=False)["canonical_url"].transform("size")
        first = ~cand["canonical_url"].duplicated()
        rows = cand[first].assign(_indegree=indegree[first])
        rows = rows[~_in_key_set(key_set, rows["h1"].to_numpy())]
        if rows.empty and dirty_only:
            return frame(rows)
        merged = _merged_shard(int(key[0]), state, rows["h1"].to_numpy(), rows["h2"].to_numpy(), k, m)
        return pd.concat([frame(rows), frame(merged)], ignore_index=True)

    return (
        candidates.groupBy("bucket")
        .cogroup(shards.groupBy("bucket"))
        .applyInPandas(admit, out_schema)
    )


def split_admission(admitted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """:func:`admit_into_shards`' one output → (admitted rows, merged
    shards). A shard row always has ``bits``; an admitted row never."""
    is_shard = F.col("bits").isNotNull()
    return (
        admitted.filter(~is_shard).drop(*[f.name for f in _SHARD_VALUES]),
        admitted.filter(is_shard).select(*SHARD_SCHEMA.fieldNames()),
    )


def bloom_plan(configs, n_col: str = "n_items", fpr_col: str = "target_fpr_ppm"):
    """Bloom sizing advisor — the capacity arithmetic that decides the
    URL-seen filter's shape BEFORE a 10^10-URL crawl commits to it
    (resizing a live filter means a full rebuild, operators/bloom's COW
    shards notwithstanding): for each (n_items, target_fpr) row,
    the textbook optima ``m = ⌈−n·ln p / ln²2⌉`` bits and
    ``k = max(1, round(m/n · ln 2))`` hashes, the re-predicted FPR at
    that integer (m, k) — ``(1 − e^{−kn/m})^k``, micro-rounded once —
    and the bytes per shard under the store's bucket count. Runs on a
    handful of config rows (pure column math, no data side); the
    MEASURED counterpart is bloom_stats' live false-negative/occupancy
    audit — plan here, verify there.

    Returns (n_items, target_fpr_ppm, m_bits, k_hashes,
    predicted_fpr_micro, bytes_total)."""
    from pyspark.sql import functions as F

    n = F.col(n_col).cast("double")
    p = F.col(fpr_col).cast("double") / 1e6
    ln2 = 0.6931471805599453
    m = F.ceil(-(n * F.log(p)) / F.lit(ln2 * ln2)).cast("long")
    k = F.greatest(F.lit(1), F.round(m.cast("double") / n * ln2).cast("long"))
    pred = F.pow(
        F.lit(1.0) - F.exp(-(k.cast("double") * n) / m.cast("double")), k.cast("double")
    )
    return configs.select(
        F.col(n_col).cast("long").alias("n_items"),
        F.col(fpr_col).cast("long").alias("target_fpr_ppm"),
        m.alias("m_bits"),
        k.alias("k_hashes"),
        F.round(pred * 1e6).cast("long").alias("predicted_fpr_micro"),
        F.floor((m + 7) / 8).cast("long").alias("bytes_total"),
    )
