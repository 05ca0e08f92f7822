"""Corpus-curation operators for training-data pipelines.

* decontaminate — flag training documents that share word n-grams with a
  held-out evaluation/benchmark set (the standard "test-set leakage" guard
  run before every LLM pretraining job).
* hash_sample   — deterministic hash-based row sampling; reproducible on
  any engine (md5, not rand()), so sampled pipelines stay oracle-checkable
  and re-runs see the same sample without persisting a sample table.

Scale notes: the eval set in decontamination is a benchmark suite — a few
MB against a 100 TB corpus — so its distinct gram set is broadcast and the
whole pass is one map-side semi-join over the training shingles; no
shuffle of the big side at all. hash_sample is a pure projection+filter
(pushed to the scan where the format allows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from amazonwebcrawler_spark.functions.text import normalize_text
from amazonwebcrawler_spark.operators.dedup import shingle_rows


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-training-doc contamination report: how many of its distinct word
    n-grams appear anywhere in the eval set.

    Returns (doc_id, n_contaminated_grams, n_grams, contamination_micro)
    for contaminated docs ONLY (inner semi-structure) — the caller
    anti-joins this against the corpus to drop or quarantine.
    ``contamination_micro`` is the exact integer ``(hits·1e6) DIV grams``
    (bit-stable across engines; threshold comparisons move to micro
    space, exactly equivalent for integral-micro thresholds).

    Plan: shingle both sides (codegen explode, see shingle_rows), distinct
    the eval grams, broadcast them, inner-join + count per doc. The big
    side is never shuffled when the eval side broadcasts.
    """
    train_sh = shingle_rows(train, text_col, id_col, n)
    eval_grams = (
        shingle_rows(eval_df, text_col, id_col, n)
        .select("_s")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    # ONE pass over the training shingles (r6): the former sizes/hits
    # branches each re-derived the train-side scan + shingle distinct —
    # for a composed caller (corpus_pipeline feeds the post-dedup
    # SURVIVOR cascade in here) that doubled the expensive upstream. A
    # left join against the broadcast eval grams + one per-doc aggregate
    # computes both counts in a single scan and ONE doc-keyed exchange;
    # `count(_hit)` skips nulls, so the pair (n_grams,
    # n_contaminated_grams) — and the contaminated-only inner semantics
    # via the > 0 filter — are value-identical to the two-branch form.
    agg = (
        train_sh.join(eval_grams, "_s", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_contaminated_grams"),
        )
    )
    return (
        agg.filter(F.col("n_contaminated_grams") > 0)
        .select(
            F.col("_id").alias(id_col),
            "n_contaminated_grams",
            "n_grams",
            F.expr("(n_contaminated_grams * 1000000L) DIV n_grams").alias("contamination_micro"),
        )
    )


def gram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: of a document's DISTINCT word n-grams,
    how many occur for the FIRST time in this document, scanning the corpus
    in ``id_col`` order (discovery order in a crawl — the same
    ``discovery_seq`` discipline the frontier uses). The curve of
    ``novelty_micro`` over discovery order is the standard "is wave k still
    finding new content?" crawl-observability signal, and per-document it
    is a curriculum/dedup score (near-zero novelty ≈ recombined
    boilerplate).

    Returns ``(doc_id, n_distinct_grams, n_new_grams, novelty_micro)``
    with ``novelty_micro = (new·1e6) DIV distinct`` — exact integers only.

    Plan shape: distinct shingles (one shuffle on ``(doc, gram)``), a
    gram-keyed ``min(doc)`` aggregate (map-side combinable), then one join
    back on the gram key and a per-doc count — every stage key-partitioned,
    nothing quadratic, no global sort. At 100 TB the gram-key shuffle is
    the dedup-family cost already paid by MinHash/ExactSubstr; skewed
    mega-grams are impossible because shingles are per-doc DISTINCT and
    the min-aggregate collapses them before the join."""
    sh = shingle_rows(df, text_col, id_col, n)  # distinct (_id, _s)
    first = sh.groupBy("_s").agg(F.min("_id").alias("_first"))
    per_doc = sh.join(first, "_s").groupBy("_id").agg(
        F.count("*").alias("n_distinct_grams"),
        F.sum((F.col("_id") == F.col("_first")).cast("long")).alias("n_new_grams"),
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_distinct_grams",
        "n_new_grams",
        F.expr("(n_new_grams * 1000000L) DIV n_distinct_grams").alias("novelty_micro"),
    )


def hash_bucket(key: Column, n_buckets: int = 10_000, salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets): first 8 md5 hex chars of
    (salt || key) as an int, mod n_buckets. Engine-portable (md5 semantics
    are universal; xxhash64 is Spark-only)."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8), 16, 10)
    return (h.cast("long") % n_buckets).cast("int")


def hash_sample(
    df: DataFrame, key_col: str, rate: float, salt: str = "", n_buckets: int = 10_000
) -> DataFrame:
    """Keep rows whose key hashes into the first ``rate`` fraction of
    buckets. Unlike ``df.sample()`` this is stable across runs, engines,
    partitionings and row order — the property a resumable pipeline needs
    (re-running a failed stage must re-select the same rows)."""
    return df.filter(hash_bucket(F.col(key_col), n_buckets, salt) < int(rate * n_buckets))


def stratified_sample(
    df: DataFrame, strata_col: str, key_col: str, n_per_stratum: int, salt: str = ""
) -> DataFrame:
    """Deterministic equal-quota sampling: keep the ``n_per_stratum`` rows
    with the smallest md5 hash order inside each stratum — the standard
    rebalancing move for skewed corpora (cap the dominant language/source
    instead of sampling it proportionally).

    Like :func:`hash_sample` the selection is a pure function of the data
    (md5 of salt||key, ties impossible for distinct keys), so re-runs,
    repartitions and other engines select the SAME rows. The cut is a
    window per stratum — strata are the partition key, so the sort never
    goes global; a hot stratum degrades to one partition's sort, bounded
    by that stratum's row count.

    Returns the input columns plus ``sample_rank`` (1-based within the
    stratum).
    """
    from pyspark.sql import Window

    order = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(order.asc(), F.col(key_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


def weighted_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling without replacement, ``k`` rows per
    stratum (Efraimidis–Spirakis A-ES): each row draws a reproducible
    uniform ``u`` from its key's md5 and is ranked by ``ln(u) / w`` —
    the top-k per stratum is an exact weighted sample without
    replacement. Rows with non-positive weight are excluded.

    Like every sampler here the draw is a pure function of the data (no
    ``rand()``): re-runs, repartitions and other engines select the SAME
    rows — and the selection shifts smoothly as weights change, which is
    what curriculum reweighting between training runs needs.

    Plan: a pure projection + one window per stratum (the same bounded
    shape as :func:`stratified_sample`). Returns the input columns plus
    ``es_key_micro`` (micro-unit BIGINT — ``ln`` drift across engines is
    ≤1 ulp, far inside a micro cell; the integer hashes identically
    everywhere) and ``sample_rank``. Ranking uses the raw double key —
    both engines compute the identical expression over the same data.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 32))  # (0, 1), never exactly 0/1
    es = F.ln(u) / F.col(weight_col).cast("double")  # maximize ⇔ u^(1/w)
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(F.col("_es").desc(), F.col(key_col).asc())
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_es", es)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .withColumn("es_key_micro", F.round(F.col("_es") * 1_000_000).cast("long"))
        .drop("_es")
    )


def c_not_null(col: str, tol: float = 0.0):
    """Expectation: null fraction of ``col`` ≤ ``tol``."""
    return (
        f"not_null({col})",
        F.coalesce(F.avg(F.col(col).isNull().cast("double")), F.lit(0.0)),
        lambda m: m <= tol,
    )


def c_unique(col: str):
    """Expectation: ``col`` has no duplicate values (metric = dup rows)."""
    return (
        f"unique({col})",
        (F.count(col) - F.count_distinct(F.col(col))).cast("double"),
        lambda m: m == 0.0,
    )


def c_in_set(col: str, values: tuple[str, ...]):
    """Expectation: every non-null value of ``col`` is in ``values``
    (metric = violating rows)."""
    return (
        f"in_set({col})",
        F.sum((~F.col(col).isin(*values) & F.col(col).isNotNull()).cast("double")),
        lambda m: m == 0.0,
    )


def c_min_ge(col: str, bound: float):
    """Expectation: min(col) ≥ bound (metric = the min)."""
    return (f"min_ge({col},{bound:g})", F.min(col).cast("double"), lambda m: m >= bound)


def c_max_le(col: str, bound: float):
    """Expectation: max(col) ≤ bound (metric = the max)."""
    return (f"max_le({col},{bound:g})", F.max(col).cast("double"), lambda m: m <= bound)


def c_count_between(lo: int, hi: int):
    """Expectation: lo ≤ row count ≤ hi (metric = the count)."""
    return (
        f"count_between({lo},{hi})",
        F.count(F.lit(1)).cast("double"),
        lambda m: (m >= lo) & (m <= hi),
    )


def expectations_report(df: DataFrame, checks) -> DataFrame:
    """Deequ-style data-quality gate: evaluate a set of declared
    expectations (``c_not_null`` / ``c_unique`` / ``c_in_set`` /
    ``c_min_ge`` / ``c_max_le`` / ``c_count_between``) and emit one row
    per constraint: ``(constraint, metric, passed)`` — the report a
    training pipeline checks before admitting a new crawl drop into the
    corpus.

    Scale shape: ALL metrics evaluate in ONE aggregation pass over the
    table (a single global hash-agg with map-side partials — the multiple
    ``count_distinct``s expand to one extra shuffle each, the rest
    combine); the per-constraint rows then come from exploding a literal
    struct array over that single-row result. Never one job per
    constraint.
    """
    metric_cols = [m.alias(f"_m{i}") for i, (_n, m, _p) in enumerate(checks)]
    agg = df.groupBy().agg(*metric_cols)
    structs = [
        F.struct(
            F.lit(name).alias("constraint"),
            F.round(F.col(f"_m{i}") * 1_000_000).cast("long").alias("metric_micro"),
            passed(F.col(f"_m{i}")).alias("passed"),
        )
        for i, (name, _m, passed) in enumerate(checks)
    ]
    return agg.select(F.explode(F.array(*structs)).alias("_c")).select("_c.*")


def winsorize(
    df: DataFrame, group_col: str, value_col: str, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Per-group outlier clipping: values outside the group's exact
    [lo, hi] percentiles are clamped to the boundary and flagged — the
    standard length/score normalization before loss weighting or bucketed
    batching (one 10M-char document must not dominate its batch).

    Exact interpolated ``percentile`` (NOT ``percentile_approx``: the
    sketch is partitioning-sensitive, see q_sketch_distinct) — identical
    interpolation formula (hence bit-identical IEEE doubles) to DuckDB's
    ``quantile_cont``; ``clipped_micro`` is the micro-unit BIGINT value
    contract.

    Plan: one hash-agg for the per-group bounds (groups ≪ rows), broadcast
    join back, pure column clamp — the big side never shuffles.
    """
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lo})").alias("_lo"),
        F.expr(f"percentile({value_col}, {hi})").alias("_hi"),
    )
    clipped = F.least(F.greatest(F.col(value_col).cast("double"), F.col("_lo")), F.col("_hi"))
    return (
        df.join(F.broadcast(bounds), group_col)
        .withColumn("clipped_micro", F.round(clipped * 1_000_000).cast("long"))
        .withColumn(
            "is_outlier", (F.col(value_col) < F.col("_lo")) | (F.col(value_col) > F.col("_hi"))
        )
        .drop("_lo", "_hi")
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, id_col: str, content_cols: list[str]
) -> DataFrame:
    """CDC between two corpus snapshots: per id, ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` — the report an incremental re-training
    decision reads (how much of the corpus actually moved since the last
    run; which docs need re-embedding/re-deduping).

    Content equality is md5 over the content columns joined with a unit
    separator (``\\x1f``) — engine-portable, and comparing 32-byte digests
    instead of multi-KB documents keeps the shuffle narrow: the join
    carries (id, digest), never the payloads. NULL content cells are
    skipped by ``concat_ws`` (a NULL and an empty string compare equal) —
    normalize upstream if that distinction matters.

    Plan: two digest projections + ONE full-outer hash join on id. At
    100 TB both sides shuffle once on the id — the minimum for any diff —
    and AQE handles the skewless id distribution.
    """
    def digest(df: DataFrame, out: str) -> DataFrame:
        cols = [F.col(c).cast("string") for c in content_cols]
        return df.select(F.col(id_col), F.md5(F.concat_ws("\x1f", *cols)).alias(out))

    j = digest(old, "_ho").join(digest(new, "_hn"), id_col, "full_outer")
    status = (
        F.when(F.col("_ho").isNull(), "added")
        .when(F.col("_hn").isNull(), "removed")
        .when(F.col("_ho") != F.col("_hn"), "changed")
        .otherwise("unchanged")
    )
    return j.select(id_col, status.alias("status"))


def corpus_stats(df: DataFrame, strata_col: str, text_col: str, chars_col: str) -> DataFrame:
    """Per-stratum corpus shape report: document count, total token count,
    mean and exact median document length — the rollup a curation run
    prints before/after every filter stage.

    One map-side-combinable aggregate per stratum. Both length stats are
    emitted as exact BIGINTs so the cross-engine value hash is
    environment-proof (r4's driver gate flipped on a last-ulp rounded
    DOUBLE): ``avg_chars_micro`` is pure integer arithmetic
    (``sum*1_000_000 DIV count`` — floor semantics, no float ever built;
    overflows BIGINT only past ~9e12 total chars per stratum, at which
    point switch the sum to DECIMAL), and ``median_chars_x2`` is
    ``2 × median`` — exactly integral for integer lengths because the
    interpolated median is either a data value or the midpoint of two, so
    ``round()`` only strips float noise, never decides a half-boundary.
    """
    from amazonwebcrawler_spark.functions.text import token_count

    return (
        df.groupBy(strata_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(F.col(text_col))).alias("total_tokens"),
            F.sum(F.col(chars_col).cast("long")).alias("_sum_chars"),
            F.median(chars_col).alias("_median"),
        )
        .select(
            strata_col,
            "n_docs",
            "total_tokens",
            F.expr("(_sum_chars * 1000000L) DIV n_docs").alias("avg_chars_micro"),
            F.round(F.col("_median") * 2).cast("long").alias("median_chars_x2"),
        )
    )


def host_template_stats(
    df: DataFrame,
    host_col: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_frac_micro: int = 500_000,
) -> DataFrame:
    """Per-host boilerplate/template detection via shingle document
    frequency — the curation signal that separates a page's CONTENT from
    its site chrome (nav bars, footers, cookie banners repeat on every
    page of a host; prose doesn't). Standard pre-training practice:
    shingles carried by ≥ ``min_frac`` of a host's documents are
    template, and a host whose shingle space is mostly template is a
    thin/boilerplate site the quality gate should down-weight.

    A shingle counts as template on a host when its document frequency
    ≥ ceil(min_frac · n_docs), computed in EXACT integer arithmetic from
    the micro-unit fraction: ``thr = (min_frac_micro·n_docs + 999_999)
    DIV 1_000_000`` — for rational min_frac with denominator ≤ 1e6 this
    is exactly the real ceil, so both engines decide every boundary doc
    identically. Emits per host: ``n_docs``, ``n_shingles`` (distinct),
    ``n_template``, ``template_ratio_micro`` (floor micro of
    template/shingles; 0 for hosts with no shingled doc).

    Scale shape: one explode (shingle_rows, whole-stage codegen) + one
    (host, shingle) hash agg (map-side combinable — the only big
    shuffle) + one host-keyed rollup; the threshold join is
    host-cardinality vs host-cardinality, never shingle-sized.
    """
    sh = shingle_rows(df, text_col, id_col, n)
    hosts = df.select(F.col(id_col).alias("_id"), F.col(host_col).alias("host"))
    per_host_docs = df.groupBy(F.col(host_col).alias("host")).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    df_s = (
        sh.join(hosts, "_id")
        .groupBy("host", "_s")
        .agg(F.count("*").alias("_df"))  # shingle_rows is distinct per (_id,_s)
    )
    thr = per_host_docs.select(
        "host",
        "n_docs",
        F.expr(f"(n_docs * {min_frac_micro}L + 999999L) DIV 1000000L").alias("_thr"),
    )
    agg = (
        df_s.join(thr, "host")
        .groupBy("host")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("_df") >= F.col("_thr"), 1).otherwise(0)).cast("long").alias("n_template"),
        )
    )
    return (
        per_host_docs.join(agg.drop("n_docs"), "host", "left")
        .select(
            "host",
            "n_docs",
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias("n_shingles"),
            F.coalesce("n_template", F.lit(0).cast("long")).alias("n_template"),
        )
        .withColumn(
            "template_ratio_micro",
            F.when(
                F.col("n_shingles") > 0,
                F.expr("(n_template * 1000000L) DIV n_shingles"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )


def countmin_certify(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch heavy-hitter estimation WITH exact certification
    (Cormode & Muthukrishnan 2005) — the frequency companion to the
    distinct-count sketch (`sketch_distinct`): a crawl scheduler tracks
    per-host fetch counts in a d×w integer grid whose size is a config
    constant, merges grids across executors by cell-wise addition, and
    reads ``est(k) = min_i grid[i][h_i(k)]``, which can only OVERcount
    (every collision adds). This operator builds the sketch relationally,
    reads every key back through it, and joins the exact counts beside
    the estimate so the one-sided error bound is value-checked row by
    row — the same certify-the-sketch discipline as q_sketch_distinct.

    Hashes are md5-derived (engine-portable, never xxhash64): row ``i``
    buckets by the first 8 hex chars of ``md5('cms' || i || '|' || key)``
    mod ``width``, so the DuckDB twin reproduces the grid bit-for-bit.

    Plan shape: one explode to d rows per observation, one (row, bucket)
    groupBy — d·w cells max, a config constant — then the distinct keys
    re-hash and broadcast-join the tiny grid; exact counts are one
    map-side-combinable groupBy. Nothing driver-side, no window. Returns
    ``(key, exact_cnt, cms_est, overcount)`` — all BIGINT, and
    ``overcount = cms_est - exact_cnt >= 0`` always (the certification).
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")
    keys = df.select(F.col(key_col).cast("string").alias("key"))

    def bucket(row: Column) -> Column:
        h = F.md5(F.concat(F.lit("cms"), row.cast("string"), F.lit("|"), F.col("key")))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width).cast("int")

    rows = keys.select(
        "key", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    ).select("key", "row", bucket(F.col("row")).alias("bucket"))
    grid = rows.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cell"))
    probe = (
        keys.distinct()
        .select("key", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row"))
        .select("key", "row", bucket(F.col("row")).alias("bucket"))
        .join(F.broadcast(grid), ["row", "bucket"])
        .groupBy("key")
        .agg(F.min("cell").cast("long").alias("cms_est"))
    )
    exact = keys.groupBy("key").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return exact.join(probe, "key").select(
        "key",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


def countmin_oracle_sql(keys_sql: str, depth: int = 4, width: int = 256) -> str:
    """DuckDB twin of :func:`countmin_certify`: the same md5 grid,
    re-built cell by cell. ``keys_sql`` must yield one ``key`` VARCHAR
    row per observation."""
    rows = " UNION ALL ".join(f"SELECT {i} AS row" for i in range(depth))
    return f"""
WITH obs AS ({keys_sql}),
d AS ({rows}),
hashed AS (
  SELECT obs.key, d.row,
    CAST(CAST(('0x' || substr(md5('cms' || d.row::VARCHAR || '|' || obs.key), 1, 8))
      AS UBIGINT) % {width} AS INT) AS bucket
  FROM obs CROSS JOIN d
),
grid AS (SELECT row, bucket, COUNT(*) AS cell FROM hashed GROUP BY 1, 2),
est AS (
  SELECT p.key, MIN(g.cell) AS cms_est
  FROM (SELECT DISTINCT key, row, bucket FROM hashed) p
  JOIN grid g ON g.row = p.row AND g.bucket = p.bucket
  GROUP BY 1
),
exact AS (SELECT key, COUNT(*) AS exact_cnt FROM obs GROUP BY 1)
SELECT e.key, CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
  CAST(s.cms_est AS BIGINT) AS cms_est,
  CAST(s.cms_est - e.exact_cnt AS BIGINT) AS overcount
FROM exact e JOIN est s USING (key)
"""


def contam_spans(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Span-level decontamination — the FineWeb/"exact-substring" refinement
    of :func:`decontaminate`: instead of dropping a whole training document
    that shares n-grams with the eval set, locate the contaminated TOKEN
    SPANS so the pipeline can trim them and keep the clean remainder. (A
    10-word eval leak inside a 10k-word document should cost 10 words, not
    the document.)

    Per matching n-gram occurrence the hit covers tokens [i, i+n-1] (0-based
    positions over the SAME normalized tokenization the dedup family uses);
    overlapping or adjacent hits merge into maximal spans via the classic
    islands window: a hit starts a new island iff its start exceeds the
    running max end + 1 of all earlier hits (doc-partitioned window, never
    global). Output one row per merged span — (doc_id, span_start,
    span_end, span_words, n_spans, n_tokens, removed_milli) with
    ``removed_milli = (Σ span words · 1000) DIV n_tokens`` repeated per the
    doc's rows — exact integers only.

    Scale shapes: eval grams are DISTINCT + broadcast (the 100 TB train
    side never shuffles for the probe); positional shingles are the same
    codegen explode as ``shingle_rows`` WITHOUT the distinct (positions
    matter); the islands pass is two doc-keyed windows — cost bounded by
    hits, not corpus size, because the probe join filters first.
    """
    from pyspark.sql import Window

    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = train.select(
        F.col(id_col).alias("_id"), toks.alias("_toks"), F.size(toks).alias("n_tokens")
    ).filter(F.size("_toks") >= n)
    pos = base.select(
        "_id",
        "n_tokens",
        "_toks",
        F.explode(F.sequence(F.lit(0), F.size("_toks") - n)).alias("_i"),
    )
    gram = F.concat_ws(" ", *[F.get(F.col("_toks"), F.col("_i") + j) for j in range(n)])
    hits = pos.select("_id", "n_tokens", F.col("_i").alias("_start"), gram.alias("_s"))

    eval_grams = shingle_rows(eval_df, text_col, id_col, n).select("_s").distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    matched = hits.join(eval_grams, "_s").select(
        "_id", "n_tokens", "_start", (F.col("_start") + (n - 1)).alias("_end")
    )

    w_scan = Window.partitionBy("_id").orderBy("_start")
    prev_max_end = F.max("_end").over(
        w_scan.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = matched.withColumn(
        "_new", (prev_max_end.isNull() | (F.col("_start") > prev_max_end + 1)).cast("long")
    ).withColumn("_island", F.sum("_new").over(w_scan.rowsBetween(Window.unboundedPreceding, 0)))
    spans = flagged.groupBy("_id", "n_tokens", "_island").agg(
        F.min("_start").alias("span_start"),
        F.max("_end").alias("span_end"),
    )
    w_doc = Window.partitionBy("_id")
    span_words = (F.col("span_end") - F.col("span_start") + 1).cast("long")
    return (
        spans.withColumn("span_words", span_words)
        .withColumn("n_spans", F.count(F.lit(1)).over(w_doc).cast("long"))
        .withColumn("_removed", F.sum("span_words").over(w_doc))
        .select(
            F.col("_id").alias(id_col),
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            "span_words",
            "n_spans",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.expr("(_removed * 1000L) DIV n_tokens").alias("removed_milli"),
        )
    )


def hist_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps_milli: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """Exact per-group quantiles by COUNTING — the 100 TB alternative to a
    per-group sort: for bounded-domain integer statistics (document
    lengths, token counts, status codes) the distinct-value histogram is
    tiny even when the row count is astronomical, so the exact quantile is
    a count-per-value aggregate (map-side combinable, one shuffle on
    (group, value)) + a cumulative sum over the DISTINCT VALUES (the
    window sorts the histogram, never the rows) + a min-value pick per
    requested quantile.

    Definition (type-1 / inverted-CDF, the integer-exact one): the
    p-quantile is the smallest value whose cumulative count satisfies
    ``cum · 1000 ≥ p_milli · n`` — pure integer comparison, no
    interpolation, bit-stable on every engine. (``winsorize`` keeps the
    interpolated form for clipping; this is the reporting/monitoring
    shape where the answer must be a VALUE THAT EXISTS in the data.)

    Output: one row per (group, p_milli) — (group, p_milli, q_value,
    n_rows). Window is group-partitioned (never global); the quantile
    pick is a groupBy min over the ≤|ps| surviving rows per value.
    """
    from pyspark.sql import Window

    if not ps_milli or any(not 0 < p <= 1000 for p in ps_milli):
        raise ValueError(f"ps_milli must be in (0, 1000], got {ps_milli}")
    hist = df.groupBy(F.col(group_col).alias("grp"), F.col(value_col).alias("val")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("grp").orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy("grp")
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn("n", F.sum("cnt").over(wn))
    ps = F.explode(F.array(*[F.lit(int(p)) for p in ps_milli])).alias("p_milli")
    return (
        cum.select("grp", "val", "cum", "n", ps)
        .filter(F.col("cum") * 1000 >= F.col("p_milli") * F.col("n"))
        .groupBy("grp", "p_milli")
        .agg(F.min("val").alias("q_value"), F.first("n").alias("n_rows"))
        .select(
            F.col("grp").alias(group_col),
            F.col("p_milli").cast("int").alias("p_milli"),
            "q_value",
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    score_col: str = "score_milli",
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between two score snapshots — the
    standard distribution-drift alarm for a deployed quality/keep model
    (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 retrain — the credit-
    scoring rule of thumb the LLM-curation stacks inherited). PSI needs
    no labels at all — it compares the scored population between
    crawls, which is why it's the metric that runs every wave.

    Scores arrive as milli units (0..1000, the house classifier
    contract); equal-width binning into ``n_bins`` cells (p = 1000
    lands in the last bin). Per bin with
    +1/+n_bins Laplace smoothing on BOTH sides (a bin empty in one
    snapshot must not blow up the log):
    ``psi_b = (p_b − q_b) · ln(p_b / q_b)``, p/q smoothed shares.
    Each bin's term and the Σ total are micro-rounded BIGINTs (the
    unigram_nll/bm25 discipline — one IEEE log per bin, round once).

    Scale shape: each snapshot collapses through ONE map-side-
    combinable bin count; everything after runs on the ≤n_bins-row
    join of the two histograms with 1-row broadcast totals. Returns
    n_bins rows: (bin, n_old, n_new, psi_term_micro, psi_total_micro
    — the total repeated per row, corpus_stats-style)."""
    def hist(df, alias):
        b = F.least(F.expr(f"({score_col} * {n_bins}) DIV 1001"), F.lit(n_bins - 1)).cast("int")
        return df.select(b.alias("bin")).groupBy("bin").agg(
            F.count(F.lit(1)).alias(alias)
        )
    bins = old.sparkSession.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    h = (
        bins.join(hist(old, "n_old"), "bin", "left")
        .join(hist(new, "n_new"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
    )
    tot = h.agg(
        F.sum("n_old").alias("_to"), F.sum("n_new").alias("_tn")
    )
    smoothed = h.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_old",
        "n_new",
        ((F.col("n_old") + F.lit(1.0) / n_bins) / (F.col("_to") + 1)).alias("_p"),
        ((F.col("n_new") + F.lit(1.0) / n_bins) / (F.col("_tn") + 1)).alias("_q"),
    )
    term = F.round((F.col("_p") - F.col("_q")) * F.log(F.col("_p") / F.col("_q")) * 1_000_000).cast("long")
    out = smoothed.select("bin", "n_old", "n_new", term.alias("psi_term_micro"))
    total = out.agg(F.sum("psi_term_micro").cast("long").alias("psi_total_micro"))
    return out.crossJoin(F.broadcast(total)).select(
        "bin", "n_old", "n_new", "psi_term_micro", "psi_total_micro"
    )


def drop_reasons(
    flags: DataFrame, reason_cols: list, id_col: str = "doc_id"
) -> DataFrame:
    """Generic drop-reason bitmask combiner — the audit column every
    production curation pipeline logs beside its keep decision: ONE
    integer that says WHY a document fell (bit i set ⇔
    ``reason_cols[i]`` fired), so the per-reason rollup, the
    reasons-co-occurrence matrix, and the "what would keeping
    reason-X-only docs add back" counterfactual are all one groupBy
    over the mask — no re-running the gates. A keep/drop boolean alone
    loses exactly this (two gates firing together vs either alone is
    the difference between "tighten the gate" and "fix the crawler").

    Pure column math over already-computed flags (the gates themselves
    ran upstream — this op never recomputes them): ``reason_mask =
    Σ 2^i·flag_i``, ``keep = mask == 0``. Bit order is the caller's
    list order — stable, documented, append-only by convention."""
    mask = F.lit(0)
    for i, c in enumerate(reason_cols):
        mask = mask + F.coalesce(F.col(c).cast("int"), F.lit(0)) * (1 << i)
    return flags.select(
        id_col,
        *reason_cols,
        mask.cast("long").alias("reason_mask"),
        (mask.cast("long") == 0).alias("keep"),
    )
