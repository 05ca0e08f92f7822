"""Dump physical plans for the headline queries and assert plan hygiene:
parquet scans must show column pruning (ReadSchema ⊂ full schema) and
pushed filters where applicable; column-math pipelines must be inside
WholeStageCodegen spans; the dims join must be a broadcast.

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

CHECKS = {
    # query -> list of substrings that MUST appear in the formatted plan
    # ("[codegen id :" is Spark 4's whole-stage-codegen marker)
    "rank_encode": ["[codegen id :", "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int>"],
    # WindowGroupLimit (Partial before the exchange, Final after) proves the
    # rank<=1 cut is pushed below the shuffle — map-side top-1 per group
    "first_per_group": ["WindowGroupLimit", "Partial", "Final"],
    "dim_join": ["BroadcastHashJoin"],
    "theta_join_first_match": ["BroadcastNestedLoopJoin"],
    "anti_join_new": ["LeftAnti"],
    "url_canonicalize": ["[codegen id :", "ReadSchema: struct<o_orderkey:bigint>"],
    "text_stats": ["ReadSchema: struct<doc_id:bigint,text:string>"],
    "ann_topk": ["BroadcastNestedLoopJoin", "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,5)]"],
    # the eval-benchmark gram set must broadcast: the 100 TB training side
    # is then a map-side semi-structure join, never shuffled
    "decontaminate": ["BroadcastHashJoin"],
    # deterministic sampling is a pure codegen'd projection+filter
    "hash_sample": ["[codegen id :", "ReadSchema: struct<doc_id:bigint>"],
    "pii_scrub": ["[codegen id :"],
    # SimHash is pure column math since r3 (explode→md5→bit-vote aggregate) —
    # the fingerprint kernel must sit inside a codegen span (partial_sum also
    # proves the bit votes combine map-side), with Python eval nodes
    # forbidden below (NEG_CHECKS). Explained with AQE off: an un-executed
    # AdaptiveSparkPlan hides codegen ids for every plan containing an
    # Exchange, so the static explain of ANY shuffling query shows 0 spans.
    "dedup_simhash": ["[codegen id :", "HashAggregate", "partial_sum"],
    # the generic hamming blocking (r4) is pure JVM column math end to end:
    # chunk explode + equi-join + bit_count verify all inside codegen spans,
    # no Python eval node anywhere (NEG_CHECKS)
    "hamming_neardup": ["[codegen id :", "bit_count"],
    # incremental ingest: same pure-JVM chunk blocking, cross-table form
    "dedup_incremental": ["[codegen id :", "bit_count"],
    # image ANN: exactly one Python crossing (the Arrow-batched embedding
    # decode); the retrieval itself broadcasts the query side
    "image_ann": ["MapInPandas", "BroadcastNestedLoopJoin"],
    # trap detection: two host-keyed hash aggregations of pure column math —
    # no Python eval node anywhere (NEG_CHECKS)
    "trap_detect": ["HashAggregate", "[codegen id :"],
    # aspect bucketing: argmin over a literal struct array — one codegen'd
    # projection, zero joins/exchanges/Python (NEG_CHECKS)
    "aspect_buckets": ["[codegen id :", "array_min"],
    # as-of join (union-tag + running last-ignorenulls): ONE hash shuffle
    # feeding a partitioned Window — and NO join node of any kind (the
    # whole point: a point-in-time join without an inequality join)
    "asof_join": ["Window", "Union", "[codegen id :"],
    # range join: bucketized to an equi HASH join — Catalyst's default for
    # a pure inequality predicate would be a nested-loop (NEG_CHECKS)
    "range_join": ["HashJoin", "Generate", "[codegen id :"],
    # salted skew join: dim replication is an explode Generate; the salt
    # rides the join key so the hot key spreads across reducers
    "skew_join_salted": ["Generate", "HashAggregate", "[codegen id :"],
    # ROLLUP = one Expand + one hash agg with map-side partials — all
    # grouping sets in a single pass, never one job per level
    "rollup_metrics": ["Expand", "HashAggregate", "partial_count", "[codegen id :"],
    # Z-order key: a pure codegen'd projection over a 4-column scan
    "zorder_layout": ["[codegen id :", "ReadSchema: struct<l_orderkey:bigint,l_partkey"],
    # rank delta: both windows are partitioned (day / event_type) — the
    # date-over-date diff never needs a global sort (NEG_CHECKS)
    "rank_delta": ["Window", "HashAggregate", "[codegen id :"],
    # in-batch negatives: bucket windows + ONE equi self-join
    "negative_pairs": ["Window", "HashJoin", "[codegen id :"],
    # CDC diff: digests joined, not payloads; full outer on the id
    "snapshot_diff": ["FullOuter", "[codegen id :"],
    # sketch certification: one hash agg (map-side partials)
    "sketch_distinct": ["HashAggregate", "[codegen id :"],
    # expectations: ONE aggregation pass + one struct-array explode —
    # never a job per constraint, no join anywhere (NEG)
    "expectations": ["HashAggregate", "Generate", "[codegen id :"],
    # winsorization: bounds broadcast back — the corpus never shuffles
    "winsorize": ["BroadcastHashJoin", "[codegen id :"],
    # EMA: partitioned running windows only — no global sort (NEG)
    "ema_score": ["Window", "[codegen id :"],
    # Gopher repetition: segment stats are pure array math; only the
    # top-bigram mode shuffles, on doc_id — the window is doc-partitioned
    # (no SinglePartition, NEG), no Python anywhere
    "gopher_signals": ["HashAggregate", "Window", "[codegen id :"],
    # intra-doc self-dedup: ONE codegen'd projection — zero shuffles,
    # zero joins, zero Python (NEG forbids all three)
    "selfdedup_clean": ["[codegen id :"],
    # link extraction: regexp + resolve + canonicalize all in one
    # codegen'd projection over a Generate — no join, no shuffle, no Python
    "link_extract": ["Generate", "[codegen id :"],
    # sitemap parsing: same codegen-only Generate shape as link_extract
    "sitemap_extract": ["Generate", "[codegen id :"],
    # SURT key: canonicalize + label reversal in ONE codegen'd projection —
    # no shuffle, no join, no Python (NEG forbids all three)
    "surt_key": ["[codegen id :", "ReadSchema: struct<o_orderkey:bigint>"],
    # eTLD+1: the public-suffix dim must arrive as a BROADCAST hash join
    # (at 10^10 hosts the suffix list is the only side that may move)
    "etld1_domain": ["BroadcastHashJoin", "[codegen id :"],
    # anchor rollup: vectorized <a>-block explode + partitioned window +
    # map-side-combinable counts — no Python, no global sort
    "anchor_rollup": ["Generate", "Window", "HashAggregate", "[codegen id :"],
    # template detection: shingle explode + (host,shingle) agg with
    # map-side partials + host-cardinality threshold join — no Python
    "template_detect": ["Generate", "HashAggregate", "partial_count", "[codegen id :"],
    # canonical grouping: two codegen'd canonicalizations + one aggregate
    # (SortAggregate — min(string) has no mutable hash buffer; the partial
    # phase still combines map-side, which is the scale property)
    "canonical_group": ["Aggregate", "partial_count", "[codegen id :"],
    # CDX revisit dedup: ONE url-partitioned lag window — never global
    "capture_novelty": ["Window", "[codegen id :"],
    # exact substring dedup: positional gram explode + map-side-combinable
    # gram count + gram-keyed equi join + DOC-partitioned islands window —
    # the relational replacement for a suffix array; no Python, no global
    # sort, no nested-loop anywhere (NEG)
    "substring_dedup": ["Generate", "HashAggregate", "partial_count", "Window", "[codegen id :"],
    # RFC 9309 robots matching: rules arrive as ONE broadcast row per host;
    # the decision is a higher-order projection — the frontier side never
    # shuffles and nothing crosses into Python (NEG)
    "robots_rfc": ["BroadcastHashJoin", "[codegen id :"],
    # DUST param-policy mining: one higher-order projection (distinct-key
    # explode Generate) + two map-side-combinable hash aggs — no join, no
    # window, no Python, no single-partition exchange (NEG)
    "param_policy": ["Generate", "HashAggregate", "partial_count", "[codegen id :"],
    # learned-policy application: the strip sets arrive as ONE broadcast
    # row per host — the URL side never shuffles for the rewrite
    "param_apply": ["BroadcastHashJoin", "[codegen id :"],
    # recall@k eval: the hit join + per-query aggregate over two top-k
    # result sets — map-side partials. The LSH side's bucket encode is the
    # Arrow kernel at the default table count (r6, the ann_pq precedent —
    # literal hyperplane dots defeat codegen), positively asserted;
    # row-at-a-time Python stays forbidden (NEG)
    "ann_recall": ["ArrowEvalPython", "HashAggregate", "[codegen id :"],
    # (triangle_count has no entry: its output is eagerly
    # localCheckpointed inside the operator, the hits/minhash discipline,
    # so the formatted plan is an RDD scan)
    # BM25: df_t and dl arrive as BROADCAST equi-joins on the query-filtered
    # tf stream; N and avgdl as 1-row broadcast crossJoins (the accepted
    # BNLJ-Cross idiom); every aggregate map-side-combinable; no Python
    # (NEG). label_prop / trust_rank have no entry: their outputs are
    # eagerly localCheckpointed per iteration inside the operator (the
    # hits/pagerank discipline), so the formatted plan is an RDD scan.
    "bm25_rank": ["BroadcastHashJoin", "HashAggregate", "partial_count", "[codegen id :"],
    # count-min: the d×w grid (≤1024 cells, a config constant) broadcasts
    # to the distinct-key probe; exact counts are one map-side-combinable
    # hash agg; no Python, no sort-merge, no cartesian (NEG)
    "heavy_hitters": ["BroadcastHashJoin", "HashAggregate", "partial_count", "[codegen id :"],
    # postings build: tf + sorted position list in ONE ObjectHashAggregate
    # over (term, doc); df via a term-PARTITIONED window (never global —
    # NEG forbids SinglePartition); no Python anywhere
    "postings_build": ["ObjectHashAggregate", "Window", "[codegen id :"],
    # PQ ANN: queries broadcast (BNLJ cross, the brute_force/ivf idiom);
    # ADC is pure element_at column math; both rank windows are
    # query-partitioned. r6: encoding runs through ONE Arrow kernel per
    # side against broadcast codebooks (ArrowEvalPython — the
    # _cell_assign_udfs precedent; the literal-plan form defeated codegen
    # at 14.9 s/leg), so exactly one vectorized Python crossing per side
    # is the asserted shape (NEG still forbids row-at-a-time Python and
    # SinglePartition)
    "ann_pq": ["ArrowEvalPython", "BroadcastNestedLoopJoin", "Window", "[codegen id :"],
    # compaction plan: two PARTITIONED windows, zero joins, zero Python,
    # never a single-partition exchange (NEG)
    "compaction_plan": ["Window", "[codegen id :"],
    # phrase search: vote construction is a filtered Generate; both aggs
    # combine map-side; zero joins, zero Python, no single partition (NEG)
    "phrase_match": ["Generate", "HashAggregate", "partial_count", "[codegen id :"],
    # C4 line cleaning: one posexplode Generate + ONE per-doc aggregate
    # (ObjectHashAggregate — collect_list buffer); zero joins, zero
    # Python, never a single-partition exchange (NEG)
    "c4_clean": ["Generate", "ObjectHashAggregate", "[codegen id :"],
    # n-gram novelty: shingle Generate + gram-keyed min agg (map-side
    # partial_min) + equi join back — no nested-loop, no Python, no
    # global sort (NEG)
    "gram_novelty": ["Generate", "HashAggregate", "partial_min", "[codegen id :"],
    # mirror detection: fp equi self-join + map-side-combinable pair
    # counts — never host×host (NEG forbids nested-loop/cartesian), no
    # Python, no single-partition exchange. r6: the (host, fp) table is
    # eagerly checkpointed after the fp-partitioned guard window (it feeds
    # three consumers; the window now lives inside the RDD scan and is no
    # longer visible in the final plan — the label_prop precedent)
    "mirror_detect": ["HashAggregate", "partial_count", "[codegen id :"],
    # blur detection: exactly ONE Python crossing (the Arrow decode
    # kernel); no join anywhere (NEG)
    "blur_detect": ["MapInPandas"],
    # smart crop: same single-decode map-only shape
    "smart_crop": ["MapInPandas"],
    # channel normalization: ONE Arrow decode crossing + a 3-group hash
    # aggregate with map-side partials; no join (NEG)
    "channel_stats": ["MapInPandas", "HashAggregate", "partial_sum"],
    # rendezvous resharding: the HRW argmax is a pure codegen projection
    # (md5 weights + array_max) — the only exchanges are the move-matrix
    # aggregate and the 1-row totals broadcast (NEG forbids Python/NLJ
    # beyond the accepted 1-row broadcast crossJoin)
    "shard_rebalance": ["md5", "array_max", "HashAggregate"],
    # caption curation: pure column stats + ONE window partitioned by
    # the normalized-caption md5 (NEG: never a global sort / Python)
    "caption_filter": ["md5", "Window"],
    # AIMD fold: one hash aggregate on the host key (collect_list →
    # ObjectHashAggregate) then a codegen'd F.aggregate fold (NEG: no
    # Python, no window, no join)
    "aimd_rate": ["ObjectHashAggregate", "aggregate("],
    # span decontamination: eval grams broadcast (the 100 TB train side
    # never shuffles for the probe), islands windows doc-partitioned
    "contam_spans": ["BroadcastHashJoin", "Window"],
    # counting quantiles: count-per-value agg (map-side partials) + a
    # lang-partitioned cumulative window over the HISTOGRAM + the literal
    # quantile explode (Generate) — the rows themselves are never sorted
    "hist_quantiles": ["HashAggregate", "partial_count", "Window", "Generate"],
    # nDCG: query-partitioned ideal-rank window + map-side-combinable DCG
    # sums; the discount table is a literal array (no join for it)
    "ndcg_eval": ["Window", "HashAggregate"],
    # color histogram: ONE Arrow decode crossing, stats are computed
    # in-kernel — no join, no window, no shuffle beyond the repartition
    "color_stats": ["MapInPandas"],
    # coverage audit: ONE full-outer hash join on (host, url) folded into
    # one aggregate via match flags — no second pass, no window
    "sitemap_coverage": ["FullOuter", "HashAggregate"],
    # deterministic HLL: registers + estimate are two map-side-combinable
    # hash aggregates of pure column math (partial_max proves the register
    # max combines before the shuffle); no Python eval node (NEG_CHECKS)
    "hll_distinct": ["HashAggregate", "partial_max", "[codegen id :"],
    # HyperBall: final leg is the node-partitioned radius window over the
    # per-round estimates + one grouped harmonic sum; registers upstream are
    # localCheckpointed, no Python anywhere (NEG_CHECKS)
    "hyperball": ["Window", "HashAggregate"],
    # CDC chunking: cut detection is a codegen'd explode+filter projection;
    # the only exchanges are the two key-partitioned windows — no Python
    # eval node anywhere (NEG_CHECKS)
    "cdc_chunks": ["[codegen id :", "Window"],
    # RFC 3986 resolution: the whole case tree + §5.2.4 segment fold is ONE
    # codegen projection over the scan — no shuffle, no join, no Python
    "resolve_refs": ["[codegen id :", "ReadSchema: struct<o_orderkey:bigint>"],
    # percent normalization: tokenize + transform + join is one codegen
    # projection — no shuffle, no Python
    "percent_norm": ["[codegen id :", "ReadSchema: struct<o_orderkey:bigint>"],
    # cross-modal conflict audit: md5 fingerprints + two count-distinct
    # hash aggregates, pure JVM (NEG_CHECKS)
    "caption_conflicts": ["HashAggregate", "[codegen id :"],
    # per-URL spam gate: every heuristic (incl. the nested higher-order
    # segment count) is codegen column math — no Python, no Window
    "url_spam": ["[codegen id :"],
}

#: queries whose plan must be rendered with AQE disabled (see dedup_simhash)
NO_AQE = {
    "dedup_simhash", "hamming_neardup", "dedup_incremental",
    "trap_detect",
    "asof_join", "range_join", "skew_join_salted", "rollup_metrics", "rank_delta",
    "negative_pairs", "snapshot_diff", "sketch_distinct",
    "expectations", "winsorize", "ema_score",
    "gopher_signals", "substring_dedup", "robots_rfc",
    "etld1_domain", "anchor_rollup", "template_detect", "canonical_group",
    "capture_novelty", "param_policy", "param_apply", "ann_recall",
    "bm25_rank", "heavy_hitters", "postings_build", "ann_pq",
    "compaction_plan", "phrase_match",
    "c4_clean", "gram_novelty", "mirror_detect",
    "hll_distinct", "cdc_chunks", "caption_conflicts", "url_spam",
}

NEG_CHECKS = {
    # query -> substrings that must NOT appear in the plan
    "caption_conflicts": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
    "url_spam": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Window"],
    "trap_detect": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
    "hll_distinct": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
    "hyperball": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
    "cdc_chunks": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
    "resolve_refs": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange", "Join",
    ],
    "percent_norm": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange", "Join",
    ],
    "dedup_simhash": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
    "hamming_neardup": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
    "dedup_incremental": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas"],
    "aspect_buckets": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange", "Join",
    ],
    "asof_join": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Join",
        "Exchange SinglePartition",
    ],
    "range_join": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "NestedLoop", "Cartesian",
    ],
    "skew_join_salted": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "NestedLoop", "Cartesian",
    ],
    "rollup_metrics": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Join"],
    "zorder_layout": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange", "Join"],
    "rank_delta": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "Join",
    ],
    "negative_pairs": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "NestedLoop", "Cartesian",
    ],
    "snapshot_diff": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "NestedLoop"],
    "sketch_distinct": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Join"],
    "expectations": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Join"],
    "winsorize": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "NestedLoop"],
    "ema_score": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "Join",
    ],
    "gopher_signals": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition",
    ],
    "selfdedup_clean": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange", "Join"],
    "link_extract": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange", "Join"],
    "sitemap_extract": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange", "Join"],
    "surt_key": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Exchange", "Join"],
    "etld1_domain": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "NestedLoop", "Cartesian",
    ],
    "anchor_rollup": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "NestedLoop",
    ],
    "template_detect": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "NestedLoop",
    ],
    "canonical_group": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "Join",
    ],
    "capture_novelty": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "Join",
    ],
    "substring_dedup": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "NestedLoop", "Cartesian",
    ],
    "robots_rfc": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "NestedLoop", "Cartesian",
    ],
    "param_policy": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "Join", "Window",
    ],
    "param_apply": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "NestedLoop", "Cartesian",
    ],
    # both top-k inputs are pure column math; the brute-force side's
    # broadcast-queries crossJoin renders as BroadcastNestedLoopJoin (the
    # accepted broadcast-small-side idiom), so only Cartesian is forbidden
    "ann_recall": ["BatchEvalPython", "MapInPandas", "Cartesian"],
    # bm25: the 1-row totals (N, avgdl) broadcast as BNLJ Cross and their
    # global aggregates are bounded 1-row SinglePartition exchanges (the
    # accepted broadcast-total shapes), so neither is forbidden here
    "bm25_rank": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "SortMergeJoin", "Cartesian",
    ],
    "heavy_hitters": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "SortMergeJoin", "NestedLoop", "Cartesian",
        "Exchange SinglePartition",
    ],
    # postings: window sorts are partition-local by construction; forbid
    # Python, joins (df comes from the window, not a self-join), and any
    # single-partition exchange
    "postings_build": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "SortMergeJoin", "BroadcastHashJoin", "Cartesian",
        "Exchange SinglePartition",
    ],
    "ann_pq": [
        "BatchEvalPython", "MapInPandas",
        "SortMergeJoin", "Exchange SinglePartition",
    ],
    "compaction_plan": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
        "Cartesian", "Exchange SinglePartition",
    ],
    "phrase_match": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
        "Cartesian", "Exchange SinglePartition",
    ],
    "c4_clean": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Join", "Exchange SinglePartition",
    ],
    "gram_novelty": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "NestedLoop", "Cartesian", "Exchange SinglePartition",
    ],
    "mirror_detect": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "NestedLoop", "Cartesian", "Exchange SinglePartition",
    ],
    "blur_detect": ["Join", "Cartesian"],
    "channel_stats": ["Join", "Cartesian", "Exchange SinglePartition"],
    "smart_crop": ["Join", "Cartesian", "Window", "Exchange SinglePartition"],
    # the 1-row totals broadcast is the accepted crossJoin shape; a
    # NESTED-loop over the key table would be the scale-killer
    "shard_rebalance": ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Cartesian"],
    "caption_filter": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "Join",
    ],
    "aimd_rate": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Window", "Join", "Exchange SinglePartition",
    ],
    "contam_spans": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "NestedLoop", "Cartesian", "Exchange SinglePartition",
    ],
    "hist_quantiles": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "Exchange SinglePartition", "Join",
    ],
    "ndcg_eval": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "NestedLoop", "Cartesian", "Exchange SinglePartition",
    ],
    "color_stats": ["Join", "Cartesian", "Window", "Exchange SinglePartition"],
    "sitemap_coverage": [
        "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
        "NestedLoop", "Cartesian", "Window", "Exchange SinglePartition",
    ],
}


def _lambda_spans(plan: str):
    """Yield the balanced-paren argument text of every ``lambdafunction(``
    occurrence in an optimized-plan string (nested lambdas are contained in
    their outer span, so scanning outer spans covers everything)."""
    i = 0
    key = "lambdafunction("
    while True:
        j = plan.find(key, i)
        if j < 0:
            return
        depth, p = 1, j + len(key)
        start = p
        while p < len(plan) and depth:
            c = plan[p]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            p += 1
        yield plan[start : p - 1]
        i = p


#: queries whose plans must not tokenize inside a higher-order-function
#: lambda. Catalyst CSE skips lambda-bearing expressions, so a lambda that
#: captures the tokenization re-runs the regex PER ELEMENT — O(n²) work per
#: document that no node-level plan assert can see (the r5-s10 finding:
#: a text-classifier query went 15.2 s → 1.4 s at sf0.1 from this alone). The fix
#: idiom is text.bind_once / a materialized projection boundary.
LAMBDA_CAPTURE_QUERIES = (
    "gopher_signals",
    "selfdedup_clean",
    "segment_dedup",
    "winnow_fingerprints",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_stats",
    "postings_build",
)


def check_no_lambda_capture(spark, sf_dir: str, qs) -> list[str]:
    """Assert no tokenization/regex expression sits INSIDE any HOF lambda of
    the text-pipeline plans — it would be re-evaluated per array element."""
    forbid = ("regexp_replace(", "regexp_extract_all(", "split(")
    bad = []
    for name in LAMBDA_CAPTURE_QUERIES:
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        hits = sorted({f for span in _lambda_spans(plan) for f in forbid if f in span})
        if hits:
            bad.append(name)
            print(f"FAIL lambda-capture {name}: {hits} inside a lambdafunction")
        else:
            print(f"ok   lambda-capture {name}: no tokenization inside any HOF lambda")
    return bad


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check_no_global_window(spark) -> list[str]:
    """Assert the wave expansion DAG contains NO Window with an empty
    partition spec (a single-task global sort — fatal at 10^10-URL
    expansions). discovery_seq is assigned via per-parent windows +
    driver-side offsets (operators/politeness.py), so every Window in the
    plan must carry a partitionBy."""
    import re

    from amazonwebcrawler_spark.operators import bloom
    from amazonwebcrawler_spark.operators.politeness import assign_discovery_seq
    from amazonwebcrawler_spark.plans.crawler import CrawlConfig, _with_host_shard
    from pyspark.sql import functions as F

    cfg = CrawlConfig(checkpoint_dir="/tmp/unused_explain")
    cand = spark.range(0, 1000).select(
        F.concat(F.lit("https://www.amazon.com/dp/B"), F.col("id").cast("string")).alias("canonical_url"),
        (F.col("id") % 37).alias("parent_seq"),
        (F.col("id") % 11).cast("int").alias("parent_pos"),
    )
    cand = _with_host_shard(cand, cfg)
    keyed = bloom.with_bloom_keys(cand, "canonical_url", bloom.BloomConfig(n_buckets=8, m_bits=1 << 16))
    seq, _n = assign_discovery_seq(keyed, 1000)
    txt = plan_text(seq)
    shutil.rmtree("/tmp/unused_explain", ignore_errors=True)
    # Spark 4 formatted plan renders a window's partition spec inside the
    # Window node arguments: "Arguments: [...], [partition cols], [order]"
    bad = []
    for m in re.finditer(r"\(\d+\) Window[^\n]*\n(?:.*\n)*?Arguments: (.*)", txt):
        args = m.group(1)
        if ", [], [" in args or args.rstrip().endswith(", []"):
            bad.append(args[:120])
    # also: any Sort with a single partition marker would show as Exchange SinglePartition
    if "Exchange SinglePartition" in txt:
        bad.append("Exchange SinglePartition present in expansion plan")
    if bad:
        print("FAIL expansion_no_global_window:", bad)
        print(txt[:2500])
        return ["expansion_no_global_window"]
    print("ok   expansion_no_global_window: every Window is partitioned; no SinglePartition exchange")
    return []


def check_admission_chain(spark) -> list[str]:
    """The wave's admission chain (plans/crawler.admit_candidates: the
    robots step → with_bloom_keys → bloom.admit_into_shards) over
    synthetic candidates must hold exactly ONE FlatMapCoGroupsInPandas —
    the per-bucket cogroup that dedups the wave's candidates, answers
    exact membership from the key set and merges the shards — no
    Aggregate node, and join the robots rules by broadcast (BuildRight:
    the candidate rows stream, never shuffle, for it). A dedup aggregate
    in front of the cogroup (a min_by plans as Sort → SortAggregate on
    both sides of its exchange), a second cogroup for the merge, a
    seen-table anti-join or a shuffled robots join fails here."""
    import re

    from amazonwebcrawler_spark.operators import bloom
    from amazonwebcrawler_spark.plans.crawler import (
        CrawlConfig, _robots_rules, _with_host_shard, admit_candidates,
    )

    cfg = CrawlConfig(checkpoint_dir="/tmp/unused_explain")
    path = F.when(F.col("id") % 4 == 0, F.lit("/gp/private/p")).otherwise(F.lit("/dp/B"))
    cand = spark.range(0, 1000).select(
        F.concat(F.lit("https://www.amazon.com"), path, F.col("id").cast("string")).alias("canonical_url"),
        (F.col("id") % 37).alias("parent_seq"),
        (F.col("id") % 11).cast("int").alias("parent_pos"),
    )
    cand = _with_host_shard(cand, cfg)
    admitted = admit_candidates(
        cand, _robots_rules(spark), bloom.empty_shards(spark, cfg.bloom), cfg.bloom
    )
    txt = plan_text(admitted)
    bad = []
    n_cogroups = len(re.findall(r"^\(\d+\) FlatMapCoGroupsInPandas", txt, re.M))
    if n_cogroups != 1:
        bad.append(f"{n_cogroups} FlatMapCoGroupsInPandas (want 1)")
    aggs = re.findall(r"^\(\d+\) (\w*Aggregate)", txt, re.M)
    if aggs:
        bad.append(f"aggregates {aggs} (want none)")
    joins = re.findall(r"^\(\d+\) (\w*Join)", txt, re.M)
    if joins != ["BroadcastHashJoin"]:
        bad.append(f"joins {joins} (want one BroadcastHashJoin)")
    if "BuildRight" not in txt:
        bad.append("robots join does not build the (rules) right side")
    if bad:
        print("FAIL admission_chain:", bad)
        print(txt[:2500])
        return ["admission_chain"]
    print("ok   admission_chain: one bucket cogroup, no aggregate, robots rules broadcast")
    return []


def check_wave_plan(spark) -> list[str]:
    """The wave's core, built inside the scope every crawl wave runs in
    (plans/crawler.WAVE_CONF, opened by CrawlEngine.run): admit_candidates
    → split_admission → assign_discovery_seq, then the early-stop fold
    (early_stop_flags) and kill (drop_satisfied_serp). Statically planned,
    nothing re-plans a join at run time, so the plan must hold no
    AdaptiveSparkPlan node and no SortMergeJoin, every join (robots rules,
    seq offsets, satisfied seeds) must be a BroadcastHashJoin, and the
    seed_flags fold must be one Exchange. A lost broadcast turns into a
    sort-merge exchange pair here, which is what made AQE-off lose on the
    query legs (_exec.coalesced_stages)."""
    import re

    from amazonwebcrawler_spark.operators import bloom
    from amazonwebcrawler_spark.operators._exec import _scoped_conf
    from amazonwebcrawler_spark.operators.politeness import assign_discovery_seq
    from amazonwebcrawler_spark.plans.crawler import (
        WAVE_CONF, CrawlConfig, _robots_rules, _with_host_shard, admit_candidates,
        drop_satisfied_serp, early_stop_flags,
    )

    cfg = CrawlConfig(checkpoint_dir="unused")  # nothing here reads or writes a store
    serp = F.col("id") % 3 == 0
    path = F.when(F.col("id") % 4 == 0, F.lit("/gp/private/p")).otherwise(F.lit("/dp/B"))
    cand = spark.range(0, 1000).select(
        (F.col("id") % 13).alias("seed_id"),
        F.when(serp, F.lit("serp")).otherwise(F.lit("detail")).alias("kind"),
        F.concat(F.lit("https://www.amazon.com"), path, F.col("id").cast("string")).alias("canonical_url"),
        (F.col("id") % 37).alias("parent_seq"),
        (F.col("id") % 11).cast("int").alias("parent_pos"),
    )
    results = spark.range(0, 200).select(
        (F.col("id") % 13).alias("seed_id"),
        (F.col("id") % 5 != 0).alias("is_own"),
        (F.col("id") % 2 == 0).alias("is_ad"),
    )
    prior = spark.createDataFrame([(1, 1, 0), (2, 0, 1)], "seed_id long, has_ad int, has_nat int")
    with _scoped_conf(spark, WAVE_CONF):
        admitted = admit_candidates(
            _with_host_shard(cand, cfg), _robots_rules(spark),
            bloom.empty_shards(spark, cfg.bloom), cfg.bloom,
        )
        pre, _shards = bloom.split_admission(admitted)
        seq, _n = assign_discovery_seq(pre, 1000)
        flags = early_stop_flags(results, prior)
        done = flags.filter((F.col("has_ad") == 1) & (F.col("has_nat") == 1)).select("seed_id")
        txt = plan_text(drop_satisfied_serp(seq, done))
        flags_txt = plan_text(flags)
    bad = [node for node in ("AdaptiveSparkPlan", "SortMergeJoin") if node in txt + flags_txt]
    joins = re.findall(r"^\(\d+\) (\w*Join)", txt, re.M)
    if len(joins) < 3 or set(joins) != {"BroadcastHashJoin"}:
        bad.append(f"joins {joins} (want robots, offsets and done: BroadcastHashJoin each)")
    n_ex = len(re.findall(r"^\(\d+\) Exchange", flags_txt, re.M))
    if n_ex != 1:
        bad.append(f"seed_flags fold has {n_ex} Exchanges (want 1)")
    if bad:
        print("FAIL wave_plan:", bad)
        print(txt[:2500])
        return ["wave_plan"]
    print("ok   wave_plan: static plan, every join broadcast, seed_flags one Exchange")
    return []


def check_fetch_lineage(spark) -> list[str]:
    """The wave's per-fetch record (plans/crawler.fetch_lineage) over
    synthetic fetched rows must stay a projection of the fetch: no
    Exchange and no aggregate. Per-shard fetch counts are a read-time
    groupBy over ``lineage``; an aggregate folded back into the commit
    fails here."""
    import re

    from amazonwebcrawler_spark.plans.crawler import fetch_lineage

    serp = F.col("id") % 3 == 0
    fetched = spark.range(0, 1000).select(
        F.col("id").alias("seed_id"),
        F.when(serp, F.lit("serp")).otherwise(F.lit("detail")).alias("kind"),
        F.concat(F.lit("https://www.amazon.com/dp/B"), F.col("id").cast("string")).alias("canonical_url"),
        (F.col("id") % 37).alias("parent_seq"),
        F.col("id").alias("discovery_seq"),
        (F.col("id") % 8).cast("int").alias("host_shard"),
        F.when(F.col("id") % 31 == 0, F.lit(-1)).otherwise(F.lit(200)).alias("status"),
        F.lit(0).alias("attempt"),
        F.when(serp, F.lit('{"has_next": true, "items": [{"pos": 1}]}'))
        .otherwise(F.lit('{"kind": "detail"}'))
        .alias("content"),
        F.lit(None).cast("binary").alias("image_bytes"),
    )
    txt = plan_text(fetch_lineage(fetched, 0, max_retries=2))
    bad = [node for node in ("Exchange", "Aggregate") if re.search(rf"^\(\d+\) \w*{node}", txt, re.M)]
    if bad:
        print("FAIL fetch_lineage:", bad)
        print(txt[:2500])
        return ["fetch_lineage"]
    print("ok   fetch_lineage: a projection of the fetch, no exchange, no aggregate")
    return []


def check_bucketed_join(spark, sf_dir: str) -> list[str]:
    """Co-located join via bucketing: write both join sides bucketed+sorted
    on the key, then assert the join plan has NO shuffle exchange on either
    side — the pattern the report joins (detail ⋈ cart, J3) use at scale
    instead of exchanging 10^10 rows."""
    spark.sql("CREATE DATABASE IF NOT EXISTS awc_demo")
    for t in ("orders_b", "cust_b"):
        spark.sql(f"DROP TABLE IF EXISTS awc_demo.{t}")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    (orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
     .mode("overwrite").saveAsTable("awc_demo.orders_b"))
    (cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
     .mode("overwrite").saveAsTable("awc_demo.cust_b"))
    # force a sort-merge join (broadcast would trivially have no exchange)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("awc_demo.orders_b").join(
            spark.table("awc_demo.cust_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        txt = plan_text(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    if "SortMergeJoin" not in txt:
        print("FAIL bucketed_join_no_shuffle: expected SortMergeJoin")
        print(txt[:2000])
        return ["bucketed_join_no_shuffle"]
    if "Exchange" in txt:
        print("FAIL bucketed_join_no_shuffle: Exchange present")
        print(txt[:2000])
        return ["bucketed_join_no_shuffle"]
    print("ok   bucketed_join_no_shuffle: SortMergeJoin over bucketed scans, zero Exchange")
    return []


def check_pagerank_iteration(spark) -> list[str]:
    """One PageRank power iteration must (a) broadcast the 1-row dangling
    mass (BroadcastNestedLoopJoin — never a shuffled join against a scalar)
    and (b) combine the contribution sum map-side (partial_sum) before the
    single dst shuffle. The checkpointed loop result hides this, so the
    split-out _iterate is explained directly, with AQE off (same reason as
    dedup_simhash: an un-executed AdaptiveSparkPlan hides codegen ids)."""
    from amazonwebcrawler_spark.operators import linkrank

    e = spark.range(0, 500).selectExpr("id % 17 AS src", "(id * 3 + 1) % 23 AS dst")
    nodes = e.selectExpr("src AS node").union(e.selectExpr("dst AS node")).distinct()
    deg = e.groupBy(F.col("src").alias("node")).count().withColumnRenamed("count", "outdeg")
    w_edges = e.join(deg.withColumnRenamed("node", "src"), "src").selectExpr(
        "src", "dst", "1.0 / outdeg AS w"
    )
    dangling = nodes.join(deg, "node", "left_anti")
    ranks = nodes.selectExpr("node", "1.0 / 23 AS pr")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        txt = plan_text(linkrank._iterate(nodes, w_edges, dangling, ranks, 23, 0.85))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    missing = [e_ for e_ in ("BroadcastNestedLoopJoin", "partial_sum", "[codegen id :") if e_ not in txt]
    forbidden = [e_ for e_ in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas") if e_ in txt]
    if missing or forbidden:
        print(f"FAIL pagerank_iteration: missing {missing} forbidden-present {forbidden}")
        print(txt[:2500])
        return ["pagerank_iteration"]
    print("ok   pagerank_iteration: mass broadcasts, contrib combines map-side, pure JVM")
    return []


def check_opic_round(spark) -> list[str]:
    """One OPIC cash round must (a) sum the DIV splits map-side
    (partial_sum) before the single dst shuffle and (b) take the 1-row
    root purse as a broadcast (BroadcastNestedLoopJoin — never a shuffled
    join against a scalar), staying pure JVM — the pagerank_iteration
    discipline applied to the online cash model. The checkpointed loop
    hides the shape, so the split-out _opic_round is explained directly
    (union of both returned frames: state build + purse)."""
    from amazonwebcrawler_spark.operators import linkrank

    e = spark.range(0, 500).selectExpr("id % 17 AS src", "(id * 3 + 1) % 23 AS dst")
    nodes = e.selectExpr("src AS node").union(e.selectExpr("dst AS node")).distinct()
    deg = e.groupBy(F.col("src").alias("node")).count().withColumnRenamed("count", "outdeg")
    e_deg = e.join(deg.withColumnRenamed("node", "src"), "src").select("src", "dst", "outdeg")
    node_deg = nodes.join(deg, "node", "left")
    state = nodes.selectExpr("node", "1000000L AS cash", "0L AS hist")
    root = spark.createDataFrame([(0,)], "carry long")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        partial, r_total = linkrank._opic_round(state, root, e_deg, node_deg, 23)
        txt = plan_text(partial) + plan_text(r_total)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    missing = [e_ for e_ in ("BroadcastNestedLoopJoin", "partial_sum", "[codegen id :") if e_ not in txt]
    forbidden = [e_ for e_ in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Cartesian") if e_ in txt]
    if missing or forbidden:
        print(f"FAIL opic_round: missing {missing} forbidden-present {forbidden}")
        print(txt[:2500])
        return ["opic_round"]
    print("ok   opic_round: purse broadcasts, splits combine map-side, pure JVM")
    return []


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    # a per-run warehouse (check_bucketed_join writes tables into it), so
    # two runs never share one; removed on exit
    with tempfile.TemporaryDirectory(prefix="awc_explain_wh_", ignore_cleanup_errors=True) as wh:
        return _run_checks(sf_dir, wh)


def _run_checks(sf_dir: str, warehouse: str) -> int:
    import __spark_entry__ as entrymod
    from amazonwebcrawler_spark.session import get_spark

    spark = get_spark(
        app_name="explain", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    bad = []
    bad += check_no_global_window(spark)
    bad += check_admission_chain(spark)
    bad += check_wave_plan(spark)
    bad += check_fetch_lineage(spark)
    bad += check_no_lambda_capture(spark, sf_dir, qs)
    bad += check_bucketed_join(spark, sf_dir)
    bad += check_pagerank_iteration(spark)
    bad += check_opic_round(spark)
    for name, expected in CHECKS.items():
        if name in NO_AQE:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                txt = plan_text(qs[name](spark, sf_dir))
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", "true")
        else:
            txt = plan_text(qs[name](spark, sf_dir))
        missing = [e for e in expected if e not in txt]
        present = [e for e in NEG_CHECKS.get(name, ()) if e in txt]
        if missing or present:
            bad.append(name)
            print(f"FAIL {name}: missing {missing} forbidden-present {present}")
            print(txt[:2500])
        else:
            print(f"ok   {name}: {', '.join(expected)}")
    print(f"\n{len(bad)} plan-hygiene failures" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
