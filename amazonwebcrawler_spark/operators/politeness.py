"""Per-host politeness + priority dequeue (SURVEY.md C2, W4, §4 skew).

The reference paces itself implicitly — one browser, sequential fetches,
``WebDriverWait(browser, 10)`` between actions (getRank.py:33) and
``time.sleep(3)`` after cart mutations (getStockNumber.py:122). The engine
makes that an explicit **token bucket per host shard**:

* every frontier row carries ``host_shard`` (salted — one hot host like
  amazon.com spreads over 2**salt_bits shards, SURVEY.md §4);
* a wave may fetch at most ``tokens_per_shard`` URLs per shard — globally a
  host's budget is ``tokens_per_shard * 2**salt_bits`` per wave, so salting
  never changes the aggregate rate, only the partition layout;
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


def recrawl_priority(
    observations: DataFrame,
    url_col: str = "url_id",
    ts_col: str = "ts",
    changed_col: str = "changed",
    shard_col=None,
    base_interval_s: int = 86_400,
):
    """Change-rate-driven revisit scheduling (Cho & Garcia-Molina 2003,
    'Effective page refresh policies for web crawlers') over a fetch-
    observation log: per URL, estimate the change rate from observed
    (fetch, changed?) pairs and derive the next-revisit interval —
    frequently-changing pages get short intervals, static pages decay
    toward ``4×base``, and the scheduler drains each politeness shard in
    (interval asc, url) order.

    Output per URL: ``n_fetches``, ``n_changes``,
    ``change_rate_micro = n_changes·1e6 DIV n_fetches`` (exact),
    ``revisit_interval_s = base DIV (1 + 3·rate)`` computed entirely in
    integer micro space (``base·1e6 DIV (1e6 + 3·rate_micro)``, clamped to
    ≥ base/4 — proportional-to-change-rate with a politeness floor), and
    ``priority`` (row_number per shard over (interval asc, url asc)).

    Scale shape: ONE map-side-combinable aggregate on the URL key + one
    window PARTITIONED BY the politeness shard (never global — the shard
    is the unit the token bucket drains anyway). Pure column math, exact
    integer contract; the DuckDB twin mirrors every expression.
    """
    from pyspark.sql import functions as F

    u = F.col(url_col)
    per_url = observations.groupBy(u.alias("url_id")).agg(
        F.count("*").alias("n_fetches"),
        F.sum(F.col(changed_col).cast("long")).alias("n_changes"),
        F.max(ts_col).alias("last_fetch_ts"),
    )
    rate = F.expr("(n_changes * 1000000L) DIV n_fetches")
    interval = F.greatest(
        F.expr(f"({base_interval_s}L * 1000000L) DIV (1000000L + 3L * change_rate_micro)"),
        F.lit(base_interval_s // 4).cast("long"),
    )
    shard = shard_col if shard_col is not None else F.pmod(F.col("url_id"), F.lit(16)).cast("int")
    w = Window.partitionBy("shard").orderBy(
        F.col("revisit_interval_s").asc(), F.col("url_id").asc()
    )
    return (
        per_url.withColumn("change_rate_micro", rate)
        .withColumn("revisit_interval_s", interval)
        .withColumn("shard", shard)
        .withColumn("priority", F.row_number().over(w))
    )


def allocate_budget(
    demand: DataFrame,
    total_budget: int,
    key_col: str = "domain",
    demand_col: str = "demand",
    n_shards: int = 32,
) -> DataFrame:
    """Proportional-fair apportionment of a global fetch budget across
    domains by the largest-remainder (Hamilton) method — the per-epoch
    answer to "10^7 eTLD+1 groups want pages, the cluster fetches B this
    hour": ``quota_d = floor(B·demand_d/D)`` plus one extra fetch for the
    ``B − Σfloor`` largest remainders (ties to domain ascending).
    Integer-exact end to end, so ``Σ quota == B`` by construction and
    every engine agrees on each boundary domain.

    The only global structure is the REMAINDER RANK, and it never builds
    a single-partition window (the classic trap): remainders are range-
    sharded by value (``shard = n_shards−1 − (rem·n_shards) DIV D`` — a
    deterministic function of data, not of partitioning), ranked inside
    each shard, and shifted by per-shard totals collected as ≤
    ``n_shards`` rows (the assign_discovery_seq prefix-sum idiom). Two 1-row
    broadcasts carry D and the leftover; the demand table shuffles once.

    Rows with non-positive demand are dropped (they get no quota and
    would poison the integer division).
    """
    d = (
        demand.filter(F.col(demand_col) > 0)
        .select(
            F.col(key_col).alias("domain"), F.col(demand_col).cast("long").alias("demand")
        )
        # FIVE consumers read this table (D total, leftover, the shard-count
        # collect, the rank window, the final projection) — without a
        # materialization the caller's whole demand pipeline re-executes per
        # consumer (r6: novelty_budget re-ran gram_novelty ~4×, guide §1.2).
        # The table is domain-cardinality and two narrow columns.
        .localCheckpoint(eager=True)
    )
    tot = d.agg(F.sum("demand").alias("_D"))
    b = d.crossJoin(F.broadcast(tot)).select(
        "domain",
        "demand",
        F.expr(f"(demand * {int(total_budget)}L) DIV _D").alias("base_quota"),
        F.expr(f"(demand * {int(total_budget)}L) % _D").alias("_rem"),
        "_D",
    )
    leftover = b.agg((F.lit(int(total_budget)) - F.sum("base_quota")).alias("_leftover"))
    s = b.withColumn(
        "_shard",
        (F.lit(n_shards - 1) - F.expr(f"(_rem * {n_shards}L) DIV _D")).cast("int"),
    )
    # per-shard totals: one map-side-combinable agg, collect bounded by the
    # n_shards config constant (never data-sized)
    counts = {r["_shard"]: r["n"] for r in s.groupBy("_shard").agg(F.count("*").alias("n")).collect()}
    offsets, run = {}, 0
    for shard in sorted(counts):
        offsets[shard] = run
        run += counts[shard]
    off_map = F.create_map(*[F.lit(x) for kv in sorted(offsets.items()) for x in kv])
    w = Window.partitionBy("_shard").orderBy(F.desc("_rem"), F.asc("domain"))
    ranked = s.withColumn(
        "_rank", F.row_number().over(w).cast("long") + off_map[F.col("_shard")]
    )
    return (
        ranked.crossJoin(F.broadcast(leftover))
        .select(
            "domain",
            "demand",
            "base_quota",
            F.when(F.col("_rank") <= F.col("_leftover"), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("extra"),
        )
        .withColumn("quota", F.col("base_quota") + F.col("extra"))
    )


def adaptive_backoff(
    events: DataFrame,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    ok_col: str = "ok",
    base_ms: int = 1000,
    max_exp: int = 6,
) -> DataFrame:
    """Per-host exponential fetch backoff from observed outcomes — the
    adaptive layer on top of the static token bucket (Heritrix-style
    retry-delay doubling; the reference has no failure handling at all —
    a Selenium timeout simply raises, getRank.py:33).

    For every fetch event, computes the politeness delay to apply before
    that host's NEXT fetch: ``base_ms`` after a success (full reset),
    ``base_ms * 2^min(consecutive_errors, max_exp)`` after an error —
    multiplicative increase, bounded by ``2^max_exp`` so one dead host
    never overflows the schedule.

    ``consecutive_errors`` is derived with gaps-and-islands: a running
    success count partitions each host's timeline into error runs, and the
    within-run row number is the run length so far. Both windows are
    HOST-partitioned (never global) and ordered by the full
    ``order_cols`` tuple — include a unique id so equal timestamps cannot
    make two engines disagree (the ema_score lesson). Pure integer column
    math end to end; the DuckDB twin mirrors both windows exactly.

    Returns events + (consec_errors int, next_delay_ms bigint).
    """
    ordering = [F.col(c) for c in order_cols]
    ok = F.col(ok_col)
    w = (
        Window.partitionBy(host_col)
        .orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_run = events.withColumn("_cum_ok", F.sum(ok).over(w))
    wg = Window.partitionBy(host_col, "_cum_ok").orderBy(*ordering)
    rn = F.row_number().over(wg)
    consec = F.when(ok == 1, F.lit(0)).otherwise(
        rn - F.when(F.col("_cum_ok") > 0, 1).otherwise(0)
    )
    # pyspark's shiftleft() only takes a literal bit count — route the
    # column-valued exponent through the SQL form (still pure codegen)
    delay = F.when(ok == 1, F.lit(base_ms).cast("long")).otherwise(
        F.expr(f"shiftleft(CAST({base_ms} AS BIGINT), least(consec_errors, {max_exp}))")
    )
    return (
        with_run.withColumn("consec_errors", consec.cast("int"))
        .withColumn("next_delay_ms", delay)
        .drop("_cum_ok")
    )


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
    the provably-fair control law (Chiu & Jain 1989) — unlike
    ``adaptive_backoff`` (which reacts to the CURRENT error run for the
    next delay), this folds the ENTIRE wave history into a steady-state
    rate, so hosts that alternate good/bad epochs converge to a fair
    sustainable budget instead of oscillating to the cap.

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

    Output: (host, n_waves, n_error_waves, rate) — exact integers.
    """
    errs_sorted = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col(wave_col).alias("w"), F.col(error_col).alias("e")))
        ),
        lambda s: s["e"].cast("long"),
    )
    return wave_log.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_waves"),
        F.sum(F.col(error_col).cast("long")).alias("n_error_waves"),
        F.aggregate(
            errs_sorted,
            F.lit(initial_rate).cast("long"),
            lambda acc, e: F.when(
                e == 1, F.greatest(F.lit(1).cast("long"), F.shiftright(acc, 1))
            ).otherwise(F.least(F.lit(max_rate).cast("long"), acc + 1)),
        ).alias("rate"),
    )


def frontier_size_chao1(
    captures: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """Capture-recapture estimate of each host's UNSEEN URL space.

    A crawl never knows how big a host really is — it only sees the URLs
    its link extraction keeps (re)discovering. Treating every discovery of
    a URL as a "capture" turns frontier sizing into the classic species-
    richness problem: hosts whose discoveries are mostly singletons (f1
    high) are far from exhausted; hosts where every URL has been re-seen
    many times are saturated. The bias-corrected Chao1 estimator
    (Chao 1984) lower-bounds total richness from just the singleton and
    doubleton counts::

        chao1 = s_obs + f1·(f1−1) / (2·(f2+1))

    and Good–Turing sample coverage ``1 − f1/n`` says what fraction of the
    host's discovery mass the crawl has already absorbed. Both feed the
    budget allocator: spending politeness tokens on a saturated host wastes
    the wave (the reference crawls a fixed page budget per keyword,
    getRank.py:472, early-stop only when fewer than 8 result pages exist —
    it cannot know when a keyword is exhausted; this is the
    data-driven replacement).

    Scale shape: TWO hash aggregations, both map-side combinable —
    ``groupBy(host, url).count()`` collapses the capture log (the only
    shuffle proportional to data; at 10^10 URLs this is the same key the
    seen-set already shards on), then ``groupBy(host)`` over the collapsed
    per-URL rows (vocabulary-sized). Pure integer arithmetic end to end —
    ``chao1_est`` uses floor division and ``coverage_micro`` is
    ``(n−f1)·10^6 DIV n`` — so the contract is driver-hash-stable.

    Returns (host, n_captures, s_obs, f1, f2, chao1_est, unseen_est,
    coverage_micro); hosts with zero captures never appear (no rows → no
    estimate, by construction).
    """
    per_url = captures.groupBy(
        F.col(host_col).alias("host"), F.col(url_col).alias("_url")
    ).agg(F.count(F.lit(1)).alias("k"))
    one = F.lit(1).cast("long")
    agg = per_url.groupBy("host").agg(
        F.sum("k").alias("n_captures"),
        F.count(F.lit(1)).alias("s_obs"),
        F.sum(F.when(F.col("k") == 1, one).otherwise(F.lit(0).cast("long"))).alias("f1"),
        F.sum(F.when(F.col("k") == 2, one).otherwise(F.lit(0).cast("long"))).alias("f2"),
    )
    unseen = F.expr("(f1 * (f1 - 1L)) DIV (2L * (f2 + 1L))")
    return agg.select(
        "host",
        "n_captures",
        "s_obs",
        "f1",
        "f2",
        (F.col("s_obs") + unseen).cast("long").alias("chao1_est"),
        unseen.cast("long").alias("unseen_est"),
        F.expr("((n_captures - f1) * 1000000L) DIV n_captures")
        .cast("long")
        .alias("coverage_micro"),
    )


def ucb_host_schedule(
    wave_log: DataFrame,
    host_col: str = "host",
    reward_col: str = "reward",
) -> DataFrame:
    """UCB1 explore/exploit scheduling across hosts (Auer, Cesa-Bianchi &
    Fischer 2002): each (host, wave) observation carries a reward (new
    URLs yielded per fetch batch); the next wave's budget should favor
    hosts with high mean yield — but a host probed once is not KNOWN to
    be bad, so the score adds the confidence radius::

        ucb = mean(reward) + sqrt(2·ln(N) / n_host)

    Under-sampled hosts carry a wide radius and win budget until the
    estimate tightens — the principled version of the "every host gets a
    minimum probe" heuristics crawl schedulers hand-tune, and the
    exploration counterpart to :func:`frontier_size_chao1`'s exhaustion
    estimate (Chao1 says "how much is left", UCB1 says "who to probe
    next given uncertainty").

    Exactness: the mean is integer micro DIV; the radius is the one
    honestly-irrational term (``sqrt``/``ln``) — emitted micro-rounded
    under the repo's ln-mean discipline (IEEE sqrt is correctly rounded;
    the double ``ln`` of the same integer agrees across engines to 1 ulp,
    orders of magnitude inside a micro cell). Scale shape: ONE map-side-
    combinable host aggregate + a broadcast 1-row total — the identical
    plan as every politeness aggregate; no window, no data-side join.

    Returns (host, n_waves, sum_reward, mean_micro, explore_micro,
    ucb_micro), all BIGINT.
    """
    per_host = wave_log.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_waves"),
        F.sum(F.col(reward_col).cast("long")).alias("sum_reward"),
    )
    total = wave_log.select(F.count(F.lit(1)).alias("_n_total"))
    explore = F.round(
        F.sqrt(F.lit(2.0) * F.log(F.col("_n_total")) / F.col("n_waves")) * 1_000_000
    ).cast("long")
    return (
        per_host.crossJoin(F.broadcast(total))
        .select(
            "host",
            "n_waves",
            "sum_reward",
            F.expr("(sum_reward * 1000000L) DIV n_waves").alias("mean_micro"),
            explore.alias("explore_micro"),
            (F.expr("(sum_reward * 1000000L) DIV n_waves") + explore).alias("ucb_micro"),
        )
    )


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
    the only trustworthy evidence is the emitted fetch log (the metrics
    table every wave already commits). This is the audit a crawl operator
    runs before raising rates (and after every scheduler change): gaps
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
    to cover (allocate_budget), and this row's drift between waves is
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


def drain_plan(
    frontier: DataFrame,
    rates: DataFrame,
    host_col: str = "host",
    rate_col: str = "tokens_per_wave",
    default_rate: int = 32,
) -> DataFrame:
    """Frontier drain forecast — the scheduling arithmetic behind "how
    many waves until host X is exhausted, and which hosts gate the
    crawl's tail": per host, ``n_waves = ⌈queued / rate⌉`` under the
    politeness budget (the AIMD/token-bucket rate table), plus each
    host's share of the globally slowest drain. A host with 10^7 queued
    URLs at 32/wave needs ~312 k waves — the number that justifies
    raising its budget (aimd_rate), splitting its shard (salted
    sharding), or truncating its queue (budget_allocate) BEFORE the
    crawl runs, not after.

    Exact integers: ``n_waves = (n_queued + rate − 1) DIV rate``;
    ``is_bottleneck`` marks the max-wave hosts (ties all flagged —
    they jointly gate the tail). Scale shape: one host-keyed count
    collapses the frontier; the rate table is host-cardinality and
    joins broadcast; the global max arrives via a 1-row broadcast
    cross join — the frontier itself is never joined or shuffled
    beyond the one count agg. Hosts absent from ``rates`` take
    ``default_rate``. Returns (host, n_queued, tokens_per_wave,
    n_waves, is_bottleneck)."""
    q = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queued")
    )
    r = rates.select(
        F.col(host_col).alias("host"),
        F.col(rate_col).cast("long").alias("tokens_per_wave"),
    )
    j = q.join(F.broadcast(r), "host", "left").select(
        "host",
        "n_queued",
        F.coalesce("tokens_per_wave", F.lit(default_rate)).alias("tokens_per_wave"),
    ).select(
        "*",
        F.expr("(n_queued + tokens_per_wave - 1) DIV tokens_per_wave").alias("n_waves"),
    )
    mx = j.agg(F.max("n_waves").alias("_mx"))
    return j.crossJoin(F.broadcast(mx)).select(
        "host",
        "n_queued",
        "tokens_per_wave",
        "n_waves",
        (F.col("n_waves") == F.col("_mx")).alias("is_bottleneck"),
    )
