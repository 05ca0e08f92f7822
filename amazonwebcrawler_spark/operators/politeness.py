"""Per-host politeness + priority dequeue (SURVEY.md C2, W4, §4 skew).

The reference paces itself implicitly — one browser, sequential fetches,
``WebDriverWait(browser, 10)`` between actions (getRank.py:33) and
``time.sleep(3)`` after cart mutations (getStockNumber.py:122). The engine
makes that an explicit **token bucket per host shard**:

* every frontier row carries ``host_shard`` (salted — one hot host like
  amazon.com spreads over up to 2**salt_bits shards, SURVEY.md §4;
  ``plans/crawler.py::_with_host_shard``);
* a wave may fetch at most ``tokens_per_shard`` URLs per shard. Nothing
  divides that budget between a host's salts, so a host's budget per wave
  is ``tokens_per_shard`` times the number of distinct shards its salts
  reach: amazon.com reaches 4 of 16 shards at 2 salt bits, and all 8 of 8
  at 3 salt bits. Hosts that hash to one shard share its budget;
* within a shard, rows are taken in **priority order** — the total order
  ``(depth, priority_score desc, discovery_seq, canonical_url)`` that makes
  wave contents independent of parallelism (north_rule crawl-ordering match).

Everything is a window function — no driver loop, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: the deterministic total order of the frontier (W4), matching
#: ``priority_sort_cols`` exactly (priority_score ranks AHEAD of
#: discovery_seq; score descends, everything else ascends). ``discovery_seq``
#: is a data-defined sequence number assigned at enqueue time, NOT an
#: execution artifact — identical at local[8] and local[32].
PRIORITY_ORDER = ("depth", "priority_score", "discovery_seq", "canonical_url")


def priority_sort_cols() -> list:
    """Queue order: shallow first, then page-rank-like score (in-wave
    in-degree — how many parent links discovered the URL; higher first),
    then discovery order, URL as the total tiebreak. The score sits AHEAD
    of discovery_seq — seq is unique, so anything ranked after it would be
    dead weight. Integer-valued on both engines, so the Python oracle
    reproduces the ordering exactly (no float divergence)."""
    return [F.col("depth").asc(), F.col("priority_score").desc(),
            F.col("discovery_seq").asc(), F.col("canonical_url").asc()]


def select_wave_batch(frontier: DataFrame, tokens_per_shard: int, robots: DataFrame):
    """Split the frontier into (this wave's batch, deferred remainder,
    ranked frontier).

    One shuffle on ``host_shard``; the window ranks each shard's queue and
    the token budget cuts it. Deferred rows keep their priority and win the
    next wave — exactly a token bucket refilled once per wave.

    ``robots`` is (host, crawl_delay seconds): a host with ``crawl_delay >
    1`` gets its per-shard budget divided by the delay (floor, min 1) — the
    wave cadence stands in for wall-clock seconds, the same stand-in the
    reference makes with its fixed sleeps (getStockNumber.py:122). Hosts
    absent from ``robots`` keep the full budget.

    Both the batch and the deferred rows derive from the one ranking
    window, so ``ranked`` is persisted — without the cache the sort+window
    runs twice per wave (under the fetch job and under the next-frontier
    job). The caller owns its unpersist.
    """
    tokens = F.coalesce(
        F.when(
            F.col("crawl_delay") > 1,
            F.greatest(F.floor(F.lit(tokens_per_shard) / F.col("crawl_delay")), F.lit(1)),
        ),
        F.lit(tokens_per_shard),
    )
    frontier = frontier.join(
        F.broadcast(robots.select("host", "crawl_delay")), "host", "left"
    ).withColumn("_tokens", tokens).drop("crawl_delay")
    w = Window.partitionBy("host_shard").orderBy(*priority_sort_cols())
    ranked = frontier.withColumn("_tb_rank", F.row_number().over(w)).persist()
    batch = ranked.filter(F.col("_tb_rank") <= F.col("_tokens")).drop("_tb_rank", "_tokens")
    deferred = ranked.filter(F.col("_tb_rank") > F.col("_tokens")).drop("_tb_rank", "_tokens")
    return batch, deferred, ranked


#: the enqueue-time total order for new URLs (BFS order the reference's
#: sequential loop produces: items in page order getRank.py:173, pages
#: ascending getRank.py:466). canonical_url is unique per wave (in-wave
#: dedup), so the order is strict — no ties for the range partitioner to
#: split nondeterministically.
DISCOVERY_ORDER = ("parent_seq", "parent_pos", "canonical_url")


def assign_discovery_seq(expanded: DataFrame, base_seq: int):
    """Assign data-defined ``discovery_seq`` to newly discovered URLs —
    scalably: NO single-task global sort, no extra sampling pass.

    Plan: rank rows WITHIN each parent's group (Window.partitionBy
    parent_seq — parallel across parents), then add a per-parent cumulative
    offset computed from the parent group sizes. The sizes collect is
    bounded by the number of parents in the wave = the politeness batch
    size (tokens_per_shard × n_shards — a config constant, independent of
    frontier or expansion size), so the driver never holds data-scale
    state. The result is byte-identical to a global row_number over
    (parent_seq, parent_pos, canonical_url): parents are offset in
    parent_seq order and rows rank in (parent_pos, canonical_url) order
    within each parent.

    The ONE job here (the sizes aggregate) doubles as the wave's new-URL
    count — callers need it for next_seq anyway, so seq assignment adds
    zero extra Spark jobs to the wave. Returns (DataFrame, n_rows).
    """
    sizes = {
        r["parent_seq"]: r["n"]
        for r in expanded.groupBy("parent_seq").agg(F.count("*").alias("n")).collect()
    }
    n_rows = sum(sizes.values())
    if not sizes:
        return expanded.withColumn("discovery_seq", F.lit(base_seq).cast("long")), 0
    acc = 0
    offs = []
    for pseq in sorted(sizes):
        offs.append((int(pseq), acc))
        acc += sizes[pseq]
    off_df = expanded.sparkSession.createDataFrame(offs, "parent_seq long, _off long")
    w = Window.partitionBy("parent_seq").orderBy(
        F.col("parent_pos").asc(), F.col("canonical_url").asc()
    )
    out = (
        expanded.join(F.broadcast(off_df), "parent_seq")
        .withColumn(
            "discovery_seq",
            (F.lit(base_seq) + F.col("_off") + F.row_number().over(w)).cast("long"),
        )
        .drop("_off")
    )
    return out, n_rows


def aimd_rate(
    wave_log: DataFrame,
    host_col: str = "host",
    wave_col: str = "wave",
    error_col: str = "had_error",
    initial_rate: int = 4,
    max_rate: int = 64,
) -> DataFrame:
    """AIMD per-host fetch-rate controller — TCP congestion control's
    additive-increase / multiplicative-decrease recurrence applied to the
    politeness budget: after a clean wave a host's tokens-per-wave rate
    grows by +1 (probing for capacity, capped at ``max_rate``); after a
    wave with any throttle/error signal it HALVES (floor, min 1). AIMD is
    the provably-fair control law (Chiu & Jain 1989): it folds the ENTIRE
    wave history into a steady-state rate, so hosts that alternate
    good/bad epochs converge to a fair sustainable budget instead of
    oscillating to the cap.

    The recurrence ``r ← had_error ? max(r DIV 2, 1) : min(r+1, max)`` is
    order-dependent and non-linear, so no window trick linearizes it —
    instead it runs as ONE codegen fold: ``sort_array(collect_list(
    struct(wave, err)))`` per host, then ``F.aggregate`` over the bounded
    wave history (a crawl runs tens of waves — the array is small by
    construction; this is the flagship wave loop's own bound). One hash
    aggregate on the host key, zero Python, zero windows. The DuckDB twin
    replays the identical fold via ``list_reduce`` with the initial rate
    prepended (flag values are 0/1, rates ≥ 1, so the prepended seed is
    unambiguous).

    This is :func:`aimd_rate_resume` from no prior state, so the batch
    and the streaming form share one fold.

    Output: (host, n_waves, n_error_waves, rate) — exact integers.
    """
    return aimd_rate_resume(
        wave_log, None, host_col, wave_col, error_col, initial_rate, max_rate
    ).drop("last_wave")


def politeness_audit(
    fetch_log: DataFrame,
    host_col: str = "host",
    ts_col: str = "ts_ms",
    id_col: str = "fetch_id",
    min_gap_ms: int = 1000,
) -> DataFrame:
    """Compliance audit of the politeness contract over the actual fetch
    log: did any host ever see two fetches closer than ``min_gap_ms``?

    The scheduler's token bucket ENFORCES the budget per wave, but the
    contract that matters to the crawled site is wall-clock spacing — and
    the only trustworthy evidence is the emitted fetch log (the
    ``lineage`` table every wave already commits). This is the audit a
    crawl operator runs before raising rates (and after every scheduler
    change): gaps
    are ``ts − lag(ts)`` per host over the ``(ts, id)``-ordered log
    (the id tiebreak keeps the window deterministic under equal
    timestamps — the r4 temporal-join lesson), violations count gaps
    strictly below the contract.

    Scale shape: ONE host-partitioned window + one host aggregate —
    key-partitioned end to end, the politeness-family plan. All-integer
    output: (host, n_fetches, n_gaps, n_violations, min_gap_obs_ms,
    max_gap_obs_ms); single-fetch hosts report zero gaps and NULL
    min/max.
    """
    w = Window.partitionBy(host_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    gaps = fetch_log.select(
        F.col(host_col).alias("host"),
        (F.col(ts_col) - F.lag(ts_col).over(w)).alias("_gap"),
    )
    return gaps.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.count("_gap").alias("n_gaps"),
        F.sum(
            F.when(F.col("_gap") < min_gap_ms, F.lit(1)).otherwise(F.lit(0)).cast("long")
        ).alias("n_violations"),
        F.min("_gap").cast("long").alias("min_gap_obs_ms"),
        F.max("_gap").cast("long").alias("max_gap_obs_ms"),
    )


def aimd_rate_resume(
    wave_log: DataFrame,
    state: DataFrame | None = None,
    host_col: str = "host",
    wave_col: str = "wave",
    error_col: str = "had_error",
    initial_rate: int = 4,
    max_rate: int = 64,
) -> DataFrame:
    """Incremental :func:`aimd_rate`: fold ONLY the new waves on top of a
    persisted per-host state — the streaming/crawl-time form.

    AIMD is a left fold, so ``fold(fold(seed, old), new) == fold(seed,
    old ++ new)`` EXACTLY when the new waves sort after the old ones:
    the state row ``(host, n_waves, n_error_waves, rate, last_wave)``
    replaces re-reading the whole history. Waves at or before a host's
    ``last_wave`` would silently corrupt the fold — the caller contract
    is append-ordered ingestion (wave logs are generated sequentially),
    and :func:`~amazonwebcrawler_spark.streaming.facade.
    rate_control_stream` enforces it per batch.

    Scale shape: one host aggregate over the BATCH (small), one left
    join against host-cardinality state, the fold itself a codegen
    ``F.aggregate``. Hosts present only in the state pass through the
    caller's union untouched. Output schema == input state schema.
    """
    errs_sorted = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col(wave_col).alias("w"), F.col(error_col).alias("e")))
        ),
        lambda s: s["e"].cast("long"),
    )
    collected = wave_log.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("_n_new"),
        F.sum(F.col(error_col).cast("long")).alias("_e_new"),
        F.max(F.col(wave_col)).cast("long").alias("_w_new"),
        errs_sorted.alias("_errs"),
    )
    if state is None:
        seed = F.lit(initial_rate).cast("long")
        prior_n = prior_e = F.lit(0).cast("long")
        prior_w = F.lit(None).cast("long")
        j = collected
    else:
        j = collected.join(
            state.select(
                "host",
                F.col("n_waves").alias("_pn"),
                F.col("n_error_waves").alias("_pe"),
                F.col("rate").alias("_pr"),
                F.col("last_wave").alias("_pw"),
            ),
            "host",
            "left",
        )
        seed = F.coalesce(F.col("_pr"), F.lit(initial_rate)).cast("long")
        prior_n = F.coalesce(F.col("_pn"), F.lit(0)).cast("long")
        prior_e = F.coalesce(F.col("_pe"), F.lit(0)).cast("long")
        prior_w = F.col("_pw").cast("long")
    folded = F.aggregate(
        F.col("_errs"),
        seed,
        lambda acc, e: F.when(
            e == 1, F.greatest(F.lit(1).cast("long"), F.shiftright(acc, 1))
        ).otherwise(F.least(F.lit(max_rate).cast("long"), acc + 1)),
    )
    return j.select(
        "host",
        (prior_n + F.col("_n_new")).alias("n_waves"),
        (prior_e + F.col("_e_new")).alias("n_error_waves"),
        folded.alias("rate"),
        F.greatest(F.coalesce(prior_w, F.col("_w_new")), F.col("_w_new")).alias("last_wave"),
    )


def host_fairness(
    fetch_log: DataFrame, host_col: str = "host", n_parts: int = 32
) -> DataFrame:
    """Crawl-fairness concentration report over a fetch log — the
    scheduler-health row beside politeness_audit's per-host gaps: a
    frontier whose fetches concentrate on a handful of hosts is either
    trapped (host_trap_stats) or starving the tail its budget was meant
    to cover, and this row's drift between waves is
    the cheapest early alarm.

    - ``gini_micro`` — exact-integer Gini over per-host fetch counts:
      with counts ``x_(1..n)`` ascending, ``G = Σ(2i−n−1)·x_i /
      (n·Σx)``; emitted as a micro DIV (0 = perfectly even, →1 = one
      host takes everything).
    - ``top1pct_share_ppm`` / ``top10pct_share_ppm`` — fetch share of
      the top ``⌈n/100⌉`` / ``⌈n/10⌉`` hosts by count (ties broken
      host-ascending, so the cut is cross-engine deterministic).

    Scale shape: ONE host-keyed count agg collapses the log to host
    cardinality (10^6-10^7 at 10^10 URLs). The global ascending rank
    the Gini needs is NOT an unpartitioned window: the host table is
    ``repartitionByRange(c, host)`` (a distributed sort), ranked within
    each range partition, and offset by cumulative per-partition counts
    — a ≤``n_parts``-row collect, the same bounded-totals discipline as
    politeness.assign_discovery_seq. One final
    map-side aggregate. Returns ONE row: (n_hosts, n_fetches,
    gini_micro, top1pct_share_ppm, top10pct_share_ppm)."""
    counts = fetch_log.groupBy(F.col(host_col).alias("_h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    rp = (
        counts.repartitionByRange(n_parts, F.col("c").asc(), F.col("_h").asc())
        .withColumn("_p", F.spark_partition_id())
        .persist()
    )
    part_rows = sorted(
        (r["_p"], r["cnt"]) for r in rp.groupBy("_p").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )  # bounded: ≤ n_parts rows
    n = sum(c for _, c in part_rows)
    offs, acc = {}, 0
    for p, c in part_rows:
        offs[p] = acc
        acc += c
    off_expr = F.lit(0)
    for p, o in offs.items():
        off_expr = F.when(F.col("_p") == p, F.lit(o)).otherwise(off_expr)
    w = Window.partitionBy("_p").orderBy(F.col("c").asc(), F.col("_h").asc())
    ranked = rp.select(
        "c", (F.row_number().over(w) + off_expr).alias("i"), F.lit(n).alias("n")
    )
    agg = ranked.agg(
        F.max("n").cast("long").alias("n_hosts"),
        F.sum("c").cast("long").alias("n_fetches"),
        F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("c")).alias("_gnum"),
        F.sum(
            F.when(F.col("i") > F.col("n") - F.expr("(n + 99) DIV 100"), F.col("c")).otherwise(0)
        ).alias("_t1"),
        F.sum(
            F.when(F.col("i") > F.col("n") - F.expr("(n + 9) DIV 10"), F.col("c")).otherwise(0)
        ).alias("_t10"),
    )
    return agg.select(
        "n_hosts",
        "n_fetches",
        F.expr("(_gnum * 1000000) DIV (n_hosts * n_fetches)").alias("gini_micro"),
        F.expr("(_t1 * 1000000) DIV n_fetches").alias("top1pct_share_ppm"),
        F.expr("(_t10 * 1000000) DIV n_fetches").alias("top10pct_share_ppm"),
    )


