"""Text-analysis kernels for training-data pipelines over ``documents``.

Language-ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting — each a pure column expression so Catalyst keeps it
inside whole-stage codegen, and each mirrored 1:1 by ANSI SQL in
``__spark_entry__.oracle_sql`` (DuckDB cross-check).

The reference repo has no text pipeline — these are the ⊕ operators the
north star adds for 100 TB training-data curation (brief: 'the operations a
large-scale training-data pipeline would need').
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

#: tiny public stopword lists — enough for a deterministic heuristic
STOPWORDS_EN = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
STOPWORDS_DE = ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "nicht")
STOPWORDS_FR = ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour")


def normalize_text(text: Column) -> Column:
    """lowercase + collapse whitespace — the canonical text form."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def tokens(text: Column) -> Column:
    """Whitespace tokenization of the normalized text (empty → empty array)."""
    t = normalize_text(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, " "))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bind_once(col: Column, body) -> Column:
    """Evaluate ``col`` ONCE and pass the value to ``body`` as a bound
    lambda variable — Spark's missing ``let``, emulated with a one-element
    array transform. Use whenever a non-trivial expression (a regex
    tokenize, an array build) would otherwise be captured inside a
    higher-order-function lambda: Catalyst's subexpression elimination
    skips any expression containing a lambda variable, so an outer capture
    re-evaluates the whole tree per element — O(n²) work for a per-index
    slice over a tokenization (measured 10× on a hashed-feature scorer before
    this idiom). ``F.get(..., 0)`` keeps NULL inputs NULL-propagating
    exactly as direct evaluation would."""
    return F.get(F.transform(F.array(col), body), 0)


def word_tokens(text: Column) -> Column:
    """BPE-ish word/punct split: runs of word chars OR single non-space
    non-word chars — a closer proxy for subword tokenizers than whitespace."""
    return F.regexp_extract_all(F.lower(text), F.lit(r"(\w+|[^\w\s])"), 1)


def punct_ratio(text: Column) -> Column:
    """Fraction of non-space characters that are punctuation."""
    nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    punct = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    return F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))


#: PII patterns — deliberately lookahead-free so the SAME pattern strings
#: run identically under Java regex (Spark) and RE2 (DuckDB); the oracle
#: twin is generated from this dict, keeping both engines in lockstep.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}[\- .]\d{3}[\- .]\d{4}",
    "ipv4": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts — the detect half of a scrub stage."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def pii_scrub(text: Column, placeholder: str = "<PII>") -> Column:
    """Replace every PII match with a placeholder — the scrub half.
    Patterns apply in dict order (email before phone before ipv4) so
    nested/overlapping matches resolve deterministically on both engines."""
    out = text
    for pat in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, placeholder)
    return out


def repetition_ratio(text: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token —
    1 - distinct/total. The classic cheap junk/template signal for
    training-data filtering (boilerplate and keyword-stuffed pages score
    high). 0.0 for empty docs."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(toks))) / n
    ).otherwise(F.lit(0.0))


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))


def stopword_ratio(text: Column, words: tuple[str, ...] = STOPWORDS_EN) -> Column:
    n = token_count(text)
    return F.when(n > 0, _stopword_hits(tokens(text), words) / n).otherwise(F.lit(0.0))


def quality_score_raw(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: rewards mid-length docs with
    normal punctuation and some stopwords (boilerplate/code/gibberish score
    low). Weights are fixed and the expression order is mirrored term for
    term by the DuckDB oracle, so the double is bit-identical across
    engines (pure IEEE arithmetic over integer-derived ratios). Emit it
    through ``round(x·1e6)::BIGINT`` in value contracts."""
    n = token_count(text)
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4)
    stop_score = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return len_score * 0.4 + punct_pen * 0.3 + stop_score * 0.3


def quality_filter(text: Column) -> Column:
    """Gopher-style composite keep/drop policy over the cheap signals:
    struct(keep boolean, reasons string). Rules (fixed order, thresholds
    calibrated on the documents corpus so keep AND drop are both
    populated): too_short (<16 tokens), repetitive (repetition>0.65),
    low_stopword (best-language stopword ratio <0.01 — greatest of EN/DE/FR
    so non-English docs aren't punished), high_punct (punct>0.2). Pure
    column math; the DuckDB twin re-derives it expression for expression."""
    n = token_count(text)
    rep = repetition_ratio(text)
    stop = F.greatest(
        stopword_ratio(text, STOPWORDS_EN),
        stopword_ratio(text, STOPWORDS_DE),
        stopword_ratio(text, STOPWORDS_FR),
    )
    punct = punct_ratio(text)
    reasons = F.concat_ws(
        ",",
        F.when(n < 16, F.lit("too_short")),
        F.when(rep > 0.65, F.lit("repetitive")),
        F.when(stop < 0.01, F.lit("low_stopword")),
        F.when(punct > 0.2, F.lit("high_punct")),
    )
    return F.struct((reasons == "").alias("keep"), reasons.alias("reasons"))


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID over {en, de, fr}; 'unknown' when no list
    scores ≥ 2 hits. Ties break en > de > fr (the when-chain order)."""
    toks = tokens(text)
    en = _stopword_hits(toks, STOPWORDS_EN)
    de = _stopword_hits(toks, STOPWORDS_DE)
    fr = _stopword_hits(toks, STOPWORDS_FR)
    best = F.greatest(en, de, fr)
    return (
        F.when(best < 2, "unknown")
        .when(en == best, "en")
        .when(de == best, "de")
        .otherwise("fr")
    )


def winnow_fingerprint_rows(df, text_col: str, id_col: str, k: int = 8, w: int = 4):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03): hash
    every character k-gram of the normalized text, keep the minimum hash of
    each sliding window of ``w`` consecutive positions; the DISTINCT
    selected hashes are the fingerprint set → rows (id, fp).

    Shape: explode positions → md5 per k-gram (computed ONCE per position)
    → window min over (pos..pos+w-1). The tempting all-array form
    (transform over windows of array_min(slice(hashes)))) inlines the whole
    hash array per window under projection collapse — O(n·w·n) md5 calls,
    measured minutes vs seconds at sf0.001.

    Guarantee: any shared substring of length ≥ k+w-1 between two docs
    yields at least one shared fingerprint.
    """
    from pyspark.sql import Window

    # normalized text bound ONCE (bind_once) — captured directly, the
    # regex normalization would re-run per k-gram position (no CSE across
    # lambda-bearing expressions): O(n²) regex work per document
    def grams_of(t: Column) -> Column:
        return F.when(
            F.length(t) - k + 1 >= 1,
            F.transform(
                F.sequence(F.lit(1), F.length(t) - k + 1),
                lambda i: F.md5(t.substr(i, F.lit(k))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(bind_once(normalize_text(F.col(text_col)), grams_of)).alias("pos", "h"),
    )
    win = Window.partitionBy("_id").orderBy("pos").rowsBetween(0, w - 1)
    n_win = Window.partitionBy("_id")
    selected = (
        grams.withColumn("_n", F.count("*").over(n_win))
        .withColumn("fp", F.when(F.col("_n") < w, F.col("h")).otherwise(F.min("h").over(win)))
        # full windows only (unless the doc is shorter than one window)
        .filter((F.col("_n") < w) | (F.col("pos") <= F.col("_n") - w))
        .select(F.col("_id").alias(id_col), "fp")
        .distinct()
    )
    return selected


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text. md5 (not xxhash64)
    so DuckDB computes the identical value for the oracle check."""
    return F.md5(normalize_text(text))


def tfidf_top_terms(df, text_col: str, id_col: str, k: int = 5):
    """Per-document top-``k`` terms by TF-IDF — the classic corpus-analytics
    rollup (keyword extraction, index pruning, topic drift monitoring).

    ``score = tf × ln(n_docs / df_t)`` over whitespace tokens of the
    normalized text; ties broken by term ascending so the cut is total and
    cross-engine deterministic. The score is emitted (and ranked) as a
    micro-unit BIGINT — cross-engine ``ln`` drift is ≤1 ulp (~1e-16
    relative), so the odds of a value straddling a micro rounding
    boundary are ~1e-10 per row, vs certain-failure-class hashing of
    engine-rounded DOUBLEs. Returns (doc_id, term, tf, score_micro,
    rank).

    Scale shape: term frequencies and document frequencies are both
    map-side-combinable groupBys on natural keys; the corpus size joins in
    as a broadcast one-row aggregate (no collect); the top-k cut is a
    window partitioned by document — never global. Every expression is JVM
    column math mirrored 1:1 by the DuckDB twin.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")) * 1_000_000
            ).cast("long").alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_micro").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bm25_scores(
    df,
    text_col: str,
    id_col: str,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
):
    """Okapi BM25 document scoring against a fixed query-term set — the
    retrieval primitive behind anchor-text search, seed expansion ("find
    more pages like these trusted ones") and relevance-weighted sampling
    of a crawled corpus. Lucene's non-negative idf formulation:

        idf(t)  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        s(d, t) = idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
        bm25(d) = Σ_{t ∈ q ∩ d} s(d, t)

    Scale shape: document length and df are map-side-combinable groupBys;
    N and avgdl join in as broadcast one-row aggregates (no collect);
    the query-term filter lands BEFORE the (doc, term) tf aggregate so
    only matching tokens shuffle. Pure JVM column math; the DuckDB twin
    mirrors the arithmetic 1:1. Emits ``(doc_id, n_hit_terms,
    bm25_micro)`` for documents hitting ≥1 query term — micro-unit
    BIGINT (the tfidf_top_terms drift argument: cross-engine ``ln``/
    division drift is ~1e-15 relative, seven orders inside a micro cell).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    avgdl = dl.select(F.avg("dl").alias("avgdl"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    tf = (
        toks.filter(F.col("term").isin(list(query_terms)))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    term_score = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(df_t, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(avgdl))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit_terms"),
            F.round(F.sum(term_score) * 1_000_000).cast("long").alias("bm25_micro"),
        )
    )


def unigram_nll(df, text_col: str, id_col: str):
    """CCNet-style language-model quality signal with no model artifact:
    train a unigram LM on the corpus itself (one aggregate) and score each
    document by the mean negative log-likelihood of its tokens —
    ``nll = -avg(ln(count(t) / total_tokens))``. Low = built from the
    corpus's common vocabulary (fluent/typical); high = rare-token soup
    (gibberish, boilerplate IDs, wrong-language fragments). The standard
    perplexity-filter stage of corpus curation, here as pure relational
    algebra: in production the "train" aggregate runs on a held-out slice
    and broadcasts exactly like the eval grams in decontamination.

    Returns (doc_id, n_tokens, nll_micro) — micro-unit BIGINT; the mean
    of per-token ``ln`` terms carries summation-order drift ~1e-13
    relative, far inside a micro cell. Scale shape: one explode + term
    groupBy (map-side combinable) trains the LM; the corpus total joins as
    a broadcast one-row aggregate; scoring is toks ⋈ term-counts (shuffle
    on the term key, the LM side is vocabulary-sized) + one per-doc
    aggregate. Every expression is JVM column math, mirrored by the twin.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    total = toks.select(F.count("*").alias("total"))
    return (
        toks.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(-F.avg(F.log(F.col("cnt") / F.col("total"))) * 1_000_000)
            .cast("long").alias("nll_micro"),
        )
    )


# --------------------------------------------------------------- repetition
def _token_chunks(toks: Column, chunk: int) -> Column:
    """Non-overlapping ``chunk``-token segments of a token array, each
    re-joined with single spaces (the short tail stays a segment). The
    segment is the unit of line/paragraph-style repetition analysis for
    documents that carry no newlines — the analogue of Gopher's
    duplicate-line rule over a normalized token stream.

    ``toks`` is bound ONCE via :func:`bind_once` — captured directly in
    the slice lambda it would re-evaluate per chunk index (quadratic when
    ``toks`` is a tokenization expression rather than a column)."""

    def chunks_of(t: Column) -> Column:
        n = F.size(t)
        n_chunks = F.ceil(n / F.lit(chunk)).cast("int")
        return F.when(n == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice(t, i * chunk + 1, F.lit(chunk)), " "),
            )
        )

    return bind_once(toks, chunks_of)


def gopher_repetition_signals(df, text_col: str, id_col: str, chunk: int = 10):
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1 —
    duplicate line / paragraph fractions and most-common-2-gram character
    fraction), adapted to newline-free token streams: the "line" is a
    non-overlapping ``chunk``-token segment.

    Per document:

    * ``n_tokens``, ``n_chunks`` — sizes.
    * ``dup_chunk_frac_micro`` — fraction of segments that repeat an
      earlier segment, ``(n_chunks - n_distinct) · 1e6 DIV n_chunks``.
    * ``dup_chunk_char_frac_micro`` — fraction of segment characters
      inside repeated occurrences (Gopher's char-weighted variant).
    * ``top_bigram``, ``top_bigram_count`` — the most frequent adjacent
      token pair (ties → lexicographically smallest).
    * ``top_bigram_char_frac_micro`` — characters covered by occurrences
      of that bigram over the normalized text length.

    Scale shape: the segment statistics are PURE ARRAY MATH in one
    projection — zero shuffles, whole-stage codegen. Only the top-bigram
    mode needs an explode + (doc, bigram) hash aggregate + a window
    partitioned by doc — one shuffle on doc_id, never global. All
    fractions are exact integer floor-division micro units (the r4
    corpus_stats lesson: integers hash identically on every engine).
    """
    from pyspark.sql import Window

    # Materialize the token array, then the chunk/distinct arrays, behind
    # projection boundaries: the chunk builder contains lambdas, which
    # excludes it from Catalyst subexpression elimination — referencing the
    # raw expression 4× in one projection re-tokenizes the document 4×.
    # CollapseProject keeps each boundary (non-cheap aliases, multiply
    # referenced).
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(normalize_text(F.col(text_col))).cast("long").alias("_n_text_chars"),
        tokens(F.col(text_col)).alias("_toks"),
    ).select(
        "doc_id",
        "_n_text_chars",
        "_toks",
        _token_chunks(F.col("_toks"), chunk).alias("_chunks"),
    ).select(
        "doc_id",
        "_n_text_chars",
        "_toks",
        "_chunks",
        F.array_distinct("_chunks").alias("_distinct"),
    )
    base = staged.select(
        "doc_id",
        F.size("_toks").alias("n_tokens"),
        F.size("_chunks").alias("n_chunks"),
        "_n_text_chars",
        F.aggregate("_chunks", F.lit(0).cast("long"), lambda a, c: a + F.length(c)).alias(
            "_chunk_chars"
        ),
        F.aggregate("_distinct", F.lit(0).cast("long"), lambda a, c: a + F.length(c)).alias(
            "_distinct_chars"
        ),
        F.size("_distinct").alias("_n_distinct"),
        "_toks",
    )
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_toks") - 1),
                    lambda i: F.concat(
                        F.element_at("_toks", i), F.lit(" "), F.element_at("_toks", i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("_c").desc(), F.col("bigram").asc())
    top = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("_c"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("bigram").alias("top_bigram"), F.col("_c").alias("top_bigram_count"))
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_chunks",
            F.when(
                F.col("n_chunks") > 0,
                F.expr("((n_chunks - _n_distinct) * 1000000L) DIV n_chunks"),
            ).otherwise(F.lit(0)).cast("long").alias("dup_chunk_frac_micro"),
            F.when(
                F.col("_chunk_chars") > 0,
                F.expr("((_chunk_chars - _distinct_chars) * 1000000L) DIV _chunk_chars"),
            ).otherwise(F.lit(0)).cast("long").alias("dup_chunk_char_frac_micro"),
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            F.coalesce("top_bigram_count", F.lit(0).cast("long")).alias("top_bigram_count"),
            F.when(
                F.col("_n_text_chars") > 0,
                F.expr(
                    "(coalesce(top_bigram_count, 0L) * length(coalesce(top_bigram, ''))"
                    " * 1000000L) DIV _n_text_chars"
                ),
            ).otherwise(F.lit(0)).cast("long").alias("top_bigram_char_frac_micro"),
        )
    )


def self_dedup_chunks(df, text_col: str, id_col: str, chunk: int = 10):
    """Intra-document repetition removal (the self-dedup half of
    'Deduplicating Training Data Makes Language Models Better', Lee et al.
    2022): drop every ``chunk``-token segment that exactly repeats an
    earlier segment of the SAME document, keeping first occurrences in
    order, and re-join the survivors.

    Returns (doc_id, n_chunks, n_kept, clean_text).

    Scale shape: pure array math — ``array_distinct`` preserves
    first-occurrence order, so the whole operator is ONE projection with
    zero shuffles and zero Python; at 100 TB it pipelines behind the scan.
    """
    # chunk array materialized once, then bound once more for the kept
    # array — direct capture would rebuild the (lambda-bearing, so never
    # CSE'd) chunk expression per reference
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        _token_chunks(tokens(F.col(text_col)), chunk).alias("_chunks"),
    ).select("doc_id", "_chunks", F.array_distinct("_chunks").alias("_kept"))
    return staged.select(
        "doc_id",
        F.size("_chunks").alias("n_chunks"),
        F.size("_kept").alias("n_kept"),
        F.array_join("_kept", " ").alias("clean_text"),
    )


def build_postings(
    df,
    text_col: str,
    id_col: str,
    min_df: int = 2,
    max_df: int | None = None,
):
    """Positional inverted-index postings — the retrieval structure behind
    BM25 / phrase search, built relationally: one row per (term, doc)
    with term frequency and the in-document positions DELTA-encoded
    (gap list, the standard index compression: gaps are small ints where
    absolute positions grow with document length — Manning et al., IIR
    ch. 5). Emitted as ``(term, doc_id, tf, df, gaps)``:

    - ``tf``: occurrences of term in doc (BIGINT),
    - ``df``: documents containing the term (BIGINT, window over term),
    - ``gaps``: ``'|'``-joined first-position + successive gaps — a string
      so the twin contract hashes identically (array renderings differ
      across engines).

    ``min_df`` drops hapax terms (index noise); ``max_df`` drops
    stopword-grade terms whose posting lists would be as long as the
    corpus (the classic index skew: at 10^10 docs 'the' is a posting
    list nobody scans — BM25 idf already scores it ≈ 0). Both bounds are
    evaluated on the windowed df, so the plan is: one posexplode, ONE
    (term, doc) aggregation (tf + sorted position list in the same
    ObjectHashAggregate), one term-partitioned window — never a global
    window, never a second pass over the token stream.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    )
    pos = toks.select(
        "doc_id", F.posexplode("_toks").alias("_pos", "term")
    )
    agg = pos.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_list("_pos")).alias("_parr"),
    )
    w = Window.partitionBy("term")
    out = (
        agg.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") >= min_df)
    )
    if max_df is not None:
        out = out.filter(F.col("df") <= max_df)
    gaps = F.array_join(
        bind_once(
            F.col("_parr"),
            lambda p: F.transform(
                F.sequence(F.lit(1), F.size(p)),
                lambda i: F.when(i == 1, F.get(p, 0)).otherwise(
                    F.get(p, i - 1) - F.get(p, i - 2)
                ),
            ),
        ),
        "|",
    )
    return out.select("term", "doc_id", "tf", "df", gaps.alias("gaps"))


def phrase_match(df, text_col: str, id_col: str, phrase: tuple[str, ...] | list[str]):
    """Exact positional phrase matching — the retrieval capability a
    bag-of-words scorer (``bm25_scores``) structurally lacks and the
    reason :func:`build_postings` stores positions: find every document
    containing the tokens of ``phrase`` CONSECUTIVELY, with the
    occurrence count and first position.

    Relational form (no joins at all): a token at position ``p`` matching
    ``phrase[i]`` votes for a candidate start ``p − i``; a start that
    collects all ``len(phrase)`` votes is an occurrence. Per (doc, start)
    each vote index arises from a distinct position, so a plain count
    equals the distinct-slot count — ONE map-side-combinable aggregation
    over the (already filtered) token stream, then one per-doc rollup.
    Tokens not in the phrase vocabulary are filtered BEFORE the shuffle,
    so a 100 TB corpus moves only its phrase-term tokens. Overlapping
    occurrences count separately ('a a a' contains 'a a' twice);
    repeated-word phrases work because one token may vote for several
    slots (the explode below).

    Returns ``(doc_id, n_occurrences, first_pos)`` — all exact integers.
    """
    terms = list(phrase)
    if not terms:
        raise ValueError("phrase_match: phrase must be non-empty")
    m = len(terms)
    pos = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("_pos", "_term"),
    ).filter(F.col("_term").isin(terms))
    # one token may fill several slots of a repeated-word phrase
    slots = pos.select(
        "doc_id",
        "_pos",
        F.explode(
            F.array(*[F.lit(i) for i in range(m)])
        ).alias("_i"),
        "_term",
    ).filter(
        F.col("_term")
        == F.element_at(F.array(*[F.lit(t) for t in terms]), F.col("_i") + 1)
    )
    starts = (
        slots.select("doc_id", (F.col("_pos") - F.col("_i")).alias("_start"))
        .filter(F.col("_start") >= 0)
        .groupBy("doc_id", "_start")
        .agg(F.count(F.lit(1)).alias("_votes"))
        .filter(F.col("_votes") == m)
    )
    return starts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("_start").alias("first_pos"),
    )


def crossdoc_segment_dedup(df, text_col: str, id_col: str, chunk: int = 10):
    """Cross-document segment dedup, FIRST occurrence kept (the CCNet /
    RefinedWeb paragraph-dedup rule: one copy of every duplicated
    paragraph survives, at its earliest position). The complement of
    ``dedup.duplicated_span_profile`` (ExactSubstr, which removes ALL
    occurrences) and of ``self_dedup_chunks`` (intra-document only).
    Segments are the same ``chunk``-token units as the Gopher signals —
    the paragraph analogue for newline-free token streams; on real HTML
    text, substitute ``split(text, '\\n')`` for the chunker and nothing
    else changes.

    Returns (doc_id, n_chunks, n_kept, clean_text); the winner of each
    distinct segment is the globally smallest (doc_id, position), so the
    result is independent of partitioning and arrival order.

    Scale shape: positional segment explode → ONE segment-keyed
    partitioned window (min-rank election; the shuffle key is the
    segment hash — high cardinality, no skew pile-up) → doc-keyed
    re-assembly agg. No Python, no global sort; both shuffles are on
    natural keys.
    """
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    seg = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_token_chunks(toks, chunk)).alias("pos", "segment"),
    )
    w = Window.partitionBy("segment").orderBy("doc_id", "pos")
    kept = seg.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos").alias("pos"), F.col("segment").alias("s")))
                ),
                lambda x: x["s"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = df.select(
        F.col(id_col).alias("doc_id"), F.size(_token_chunks(toks, chunk)).alias("n_chunks")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def c4_line_clean(
    df,
    text_col: str,
    id_col: str,
    min_words: int = 3,
    min_lines: int = 2,
):
    """C4-style line-level boilerplate cleaning (Raffel et al. 2020, §2.2
    "Colossal Clean Crawled Corpus" heuristics): a line survives iff it

    - ends in a terminal punctuation mark (``. ! ? "``),
    - has at least ``min_words`` whitespace tokens,
    - does not mention ``javascript`` (the enable-JS boilerplate),
    - contains no curly brace (code/templating), and
    - does not contain the ``lorem ipsum`` placeholder,

    and a document is kept iff at least ``min_lines`` lines survive. The
    reference scraper has no cleaning stage — this is the canonical first
    pass of a crawl→training-corpus pipeline, applied line-wise so one
    nav-bar line doesn't kill a good page.

    Returns ``(doc_id, n_lines, n_kept, kept_chars, clean_md5, keep)``;
    ``clean_md5`` digests the surviving lines re-joined with ``\\n`` in
    original order, so the twin value-checks the reassembled content
    without shipping text. Plan shape: one codegen ``posexplode`` over the
    line split, pure column predicates, one per-doc hash aggregate (the
    only shuffle, on the document key) — linear at 100 TB, no cross-doc
    edges. The collect_list is per-document and bounded by document size,
    same bound as reading the document itself."""
    lines = F.split(F.col(text_col), "\n")
    ex = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(lines).alias("pos", "line")
    )
    ltrim = F.trim(F.col("line"))
    lword = F.lower(F.col("line"))
    n_words = F.size(tokens(F.col("line")))
    kept = (
        ltrim.rlike(r'[.!?"]$')
        & (n_words >= min_words)
        & ~lword.contains("javascript")
        & ~F.col("line").contains("{")
        & ~F.col("line").contains("}")
        & ~lword.contains("lorem ipsum")
    )
    marked = ex.select(
        "doc_id",
        "pos",
        "line",
        kept.alias("_keep"),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_lines"),
        F.sum(F.col("_keep").cast("int")).cast("int").alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("_keep"), F.length("line"))), F.lit(0)
        ).cast("long").alias("kept_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            )
        ).alias("clean_md5"),
        (F.sum(F.col("_keep").cast("int")) >= min_lines).alias("keep"),
    )


def caption_quality(
    df,
    caption_col: str = "caption",
    min_chars: int = 5,
    min_words: int = 2,
    max_digit_milli: int = 300,
    min_alpha_milli: int = 500,
    max_dup: int = 10,
):
    """LAION/DataComp-style caption curation over the image+caption table
    (the input_hint's exact shape): per row, exact-integer caption stats
    and a keep/drop decision with the FIRST failing rule named — the
    standard pre-CLIP-filter pass that removes alt-text noise before any
    model ever scores the pair.

    Rules, in fixed precedence (mirrors the published LAION-5B prefilter
    family): ``too_short`` (< min_chars after trim), ``filename`` (the
    caption is a camera filename or bare image path — 'IMG_1234.jpg' alt
    text; checked before the word count because filenames ARE single
    words), ``too_few_words``, ``digit_heavy`` (digit ratio > 30%),
    ``low_alpha`` (letters < 50% — emoji/markup soup), ``boilerplate_dup``
    (the SAME normalized caption on > max_dup images — 'No image
    available' style placeholders; near-dup captions are the job of
    dedup_minhash_lsh, this rule is the exact-string fanout cut).

    Shapes: every stat is pure codegen column math; the only shuffle is
    ONE window COUNT partitioned by the normalized-caption md5 (never
    global, key cardinality ≈ distinct captions). Ratios are exact
    integers (``·1000 DIV chars``), so the contract is bit-stable.
    """
    t = F.trim(F.col(caption_col))
    norm = F.lower(t)
    chars = F.length(t)
    words = F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    digits = chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    alpha = F.length(F.regexp_replace(norm, r"[^a-z]", ""))
    digit_milli = F.when(chars > 0, F.expr(f"(_cq_digits * 1000L) DIV _cq_chars")).otherwise(
        F.lit(0).cast("long")
    )
    alpha_milli = F.when(chars > 0, F.expr(f"(_cq_alpha * 1000L) DIV _cq_chars")).otherwise(
        F.lit(0).cast("long")
    )
    filename_like = norm.rlike(r"^(img|dsc|dcim|pxl)[-_]?[0-9]+\.(jpg|jpeg|png|gif|webp)$") | (
        norm.rlike(r"^[a-z0-9_\-]+\.(jpg|jpeg|png|gif|webp)$") & (words == 1)
    )
    w = Window.partitionBy(F.md5(norm))
    staged = (
        df.withColumn("_cq_chars", chars)
        .withColumn("_cq_words", words)
        .withColumn("_cq_digits", digits)
        .withColumn("_cq_alpha", alpha)
        .withColumn("caption_chars", F.col("_cq_chars").cast("int"))
        .withColumn("caption_words", F.col("_cq_words").cast("int"))
        .withColumn("digit_milli", digit_milli)
        .withColumn("alpha_milli", alpha_milli)
        .withColumn("is_filename", filename_like)
        .withColumn("dup_count", F.count(F.lit(1)).over(w).cast("long"))
    )
    reason = (
        F.when(F.col("caption_chars") < min_chars, F.lit("too_short"))
        .when(F.col("is_filename"), F.lit("filename"))
        .when(F.col("caption_words") < min_words, F.lit("too_few_words"))
        .when(F.col("digit_milli") > max_digit_milli, F.lit("digit_heavy"))
        .when(F.col("alpha_milli") < min_alpha_milli, F.lit("low_alpha"))
        .when(F.col("dup_count") > max_dup, F.lit("boilerplate_dup"))
    )
    return (
        staged.withColumn("drop_reason", reason)
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_cq_chars", "_cq_words", "_cq_digits", "_cq_alpha")
    )


#: cp1252-mojibake artifact sequences: UTF-8 bytes of common Latin-1
#: accented chars / smart punctuation decoded as cp1252 produce exactly
#: these 2-3 char sequences ("café" → "cafÃ©", U+2019 → "â€™"). Literal
#: alternation (no classes, no metachars) so Java regex and RE2 count
#: identically. The ftfy tool documents this corruption family; the list
#: here is the high-frequency core, not an attempt at completeness.
MOJIBAKE_SEQS = (
    "Ã©", "Ã¨", "Ã¼", "Ã¶", "Ã¤", "Ã±", "Ã§", "Ã¯", "Ã³", "Ãº",
    "â€™", "â€œ", "â€“", "â€”", "Â°", "Â·", "Â«", "Â»",
)


def mojibake_stats(df, text_col: str, id_col: str, min_hits: int = 2):
    """Encoding-corruption (mojibake) detection — the crawl-side text
    hazard the quality/lang-id stages upstream assume away: a page served
    as UTF-8 but labeled (or sniffed) as Latin-1/cp1252 decodes into
    characteristic artifact sequences. One such document poisons
    tokenizer vocab training (phantom "Ã©" merges) and quality scoring,
    so curation pipelines gate on artifact density before anything else
    reads the text.

    Pure JVM: one ``regexp_count`` over a literal alternation of
    :data:`MOJIBAKE_SEQS` (identical Java-regex/RE2 semantics — no
    classes, no quantifiers), exact integer density
    ``hits·10⁶ DIV max(chars,1)`` and a ``min_hits`` verdict — single
    hits stay unflagged (genuine French text quoting a corrupted word
    shouldn't be dropped). Map-only: no shuffle, no Python, pipelines
    behind the scan.

    Returns (id, n_chars, n_hits, hit_ratio_micro, is_mojibake).
    """
    pat = "|".join(MOJIBAKE_SEQS)
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias("n_hits"),
    ).select(
        id_col,
        "n_chars",
        "n_hits",
        F.expr("(n_hits * 1000000L) DIV greatest(n_chars, 1L)").alias("hit_ratio_micro"),
        (F.col("n_hits") >= min_hits).alias("is_mojibake"),
    )


#: block-level HTML closers that delimit content blocks for boilerplate
#: analysis (case-insensitive; the split keeps trailing empties on both
#: engines, so block counts are engine-portable)
BLOCK_SPLIT_RE = r"(?i)</(?:p|div|li|h[1-6]|td|article|section)>"
ANCHOR_TEXT_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
TAG_RE = r"(?s)<[^>]*>"


def extract_main_text(
    df,
    html_col: str,
    id_col: str,
    min_chars: int = 30,
    max_link_milli: int = 333,
):
    """Boilerplate removal by block link density (the Boilerpipe /
    jusText family's core signal, Kohlschütter et al. WSDM'10): split
    the page at block-level tag closers, strip tags per block, and keep
    blocks that are long enough AND not link-dominated — navigation
    bars, footers, related-product rails and tag clouds are short and
    almost-all-anchor-text, while main content is long and link-sparse.
    The single highest-leverage text transform a web corpus applies:
    C4-style line rules (c4_clean) assume boilerplate is already gone.

    Everything is codegen column math — one regex split, two
    higher-order transforms over the block array (tag strip + anchor-
    text length sum via regexp_extract_all inside the lambda), a
    filter, and one concat: no shuffle, no Python, pipelines at scan
    rate. Regexes are RE2-compatible (no backrefs; (?is) flags) so the
    DuckDB twin replays them with identical semantics.

    Returns (id, n_blocks, n_kept, total_chars, main_chars, main_text)
    — ``main_text`` is the kept blocks joined with single spaces in
    page order."""
    blocks = F.split(F.col(html_col), BLOCK_SPLIT_RE)

    def clean(b: Column) -> Column:
        return F.trim(F.regexp_replace(F.regexp_replace(b, TAG_RE, " "), r"\s+", " "))

    def link_chars(b: Column) -> Column:
        return F.aggregate(
            F.regexp_extract_all(b, F.lit(ANCHOR_TEXT_RE), 1),
            F.lit(0),
            lambda acc, x: acc + F.length(clean(x)),
        )

    stats = F.transform(
        blocks,
        lambda b: F.struct(
            clean(b).alias("t"),
            F.length(clean(b)).alias("n"),
            link_chars(b).alias("lc"),
        ),
    )
    kept = F.filter(
        stats,
        lambda s: (s["n"] >= min_chars)
        & ((s["lc"] * 1000) <= F.lit(max_link_milli) * F.greatest(s["n"], F.lit(1))),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(blocks).alias("n_blocks"),
        F.size(kept).alias("n_kept"),
        F.aggregate(stats, F.lit(0), lambda a, s: a + s["n"]).alias("total_chars"),
        F.aggregate(kept, F.lit(0), lambda a, s: a + s["n"]).alias("main_chars"),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("main_text"),
    )
