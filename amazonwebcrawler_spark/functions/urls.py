"""URL canonicalization + hashing (SURVEY.md P14/P15).

The reference concatenates raw hrefs and keeps tracking params
(getStockNumber.py:67 builds ``'https://www.amazon.com' + item.a['href']``;
its seed URL getRank.py:507 carries ``ref=``/``qid=`` params), so the same
logical page can be fetched many times under different spellings. The
canonical form below is the dedup key for the URL-seen filter.

Canonicalization rule (applied identically by the engine and the DuckDB
oracle SQL, so it must stay expressible in portable SQL built-ins):

1. drop the ``#fragment``
2. lowercase the ``scheme://host`` part (path and query stay case-sensitive)
3. strip an Amazon-style ``/ref=...`` suffix from the path
4. strip trailing ``/`` from the path
5. drop tracking query params: ``ref qid ie sr tag psc spIA rnid keywords``
   (``keywords`` is the SERP query a ``/dp/`` link was listed under — one
   product page under every keyword that lists it)
6. sort surviving ``k=v`` query params lexicographically and rejoin

Everything is built from `pyspark.sql.functions` column expressions —
no UDF, fully inside whole-stage codegen, pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

#: query parameters that never change page identity (P14)
TRACKING_PARAMS = ("ref", "qid", "ie", "sr", "tag", "psc", "spIA", "rnid", "keywords")


def _strip_fragment(url: Column) -> Column:
    return F.regexp_replace(url, "#.*$", "")


def canonicalize_url(url: Column) -> Column:
    """Canonical spelling of ``url`` per the rule above. Pure column math."""
    u = _strip_fragment(url)
    base = F.substring_index(u, "?", 1)
    # query string: everything after the first '?' ('' when absent)
    query = F.when(
        F.instr(u, "?") > 0,
        F.substring(u, F.instr(u, "?") + F.lit(1), F.length(u)),
    ).otherwise(F.lit(""))

    scheme_host = F.lower(F.regexp_extract(base, r"^(https?://[^/]*)", 1))
    path = F.regexp_replace(base, r"^https?://[^/]*", "")
    path = F.regexp_replace(path, r"/+$", "")
    path = F.regexp_replace(path, r"/ref=[^/]*$", "")  # Amazon path-embedded ref

    tracking = F.array(*[F.lit(p) for p in TRACKING_PARAMS])
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~F.array_contains(tracking, F.split(p, "=")[0]),
    )
    sorted_q = F.array_join(F.array_sort(kept), "&")
    return F.concat(
        scheme_host,
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
    )


def url_host(url: Column) -> Column:
    """Lowercased host of ``url``."""
    return F.lower(F.regexp_extract(url, r"^https?://([^/?#]*)", 1))


def host_trap_stats(
    df,
    url_col: str = "canonical_url",
    ratio_threshold: float = 5.0,
    depth_threshold: int = 8,
    entropy_threshold: float = 2.5,
):  # thresholds are converted to micro units internally (see docstring)
    """Per-host crawler-trap detection over a URL table.

    At 10^10 frontier URLs the scheduler's worst enemy is an infinite URL
    space: calendar pages, session ids in query strings, faceted-search
    explosions. The reference never needs this (it walks one site's fixed
    SERP pagination, getRank.py:24-60); a general frontier must starve such
    hosts before they eat the politeness budget. Signals, all classic:

    * ``url_path_ratio`` — distinct URLs per distinct path. A calendar
      trap has ONE path and thousands of query spellings → ratio explodes.
    * ``max_depth`` — path segment depth; infinite-recursion traps grow
      unbounded directory nesting.
    * ``key_entropy`` — Shannon entropy (nats) of the query-parameter KEY
      distribution; session-id/faceted traps mint many distinct keys while
      a healthy catalog reuses a handful (``page``, ``ref``).

    ``is_trap`` ORs the three thresholds, compared in micro space.
    Everything is one pass of pure column math + two hash aggregations
    shuffling on ``host`` (the param explode re-aggregates to host before
    the join, so the join is host-cardinality vs host-cardinality — never
    URL-sized). No UDFs; the DuckDB twin mirrors every expression 1:1
    (split_part ↔ substring_index, string_split ↔ split, ln ↔ log).

    Value contract: the ratio stats are EXACT integer micro values
    (floor division of integer counts — for rational r with denominator
    ≤ 1e6, ``floor(r·1e6) > t·1e6`` ⟺ ``r > t``, so the integer
    thresholds preserve the float semantics exactly); ``key_entropy`` is
    ``round(H·1e6)`` whose cross-engine ``ln`` drift (~1e-15) sits far
    inside a micro cell. Integers hash identically on every engine —
    rounded DOUBLEs don't (the r4 corpus_stats lesson).
    """
    u = F.col(url_col)
    base = F.substring_index(u, "?", 1)
    path = F.regexp_replace(base, r"^https?://[^/]*", "")
    query = F.when(
        F.instr(u, "?") > 0, F.substring(u, F.instr(u, "?") + F.lit(1), F.length(u))
    ).otherwise(F.lit(""))
    parsed = df.select(
        url_host(u).alias("host"),
        path.alias("_path"),
        (F.length(path) - F.length(F.replace(path, F.lit("/"), F.lit("")))).alias("_depth"),
        F.filter(F.split(query, "&"), lambda p: p != F.lit("")).alias("_params"),
    )
    per_host = parsed.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("_path").alias("n_paths"),
        F.max("_depth").alias("max_depth"),
        F.sum(F.size("_params")).alias("_n_params"),
    ).select(
        "host", "n_urls", "n_paths", "max_depth",
        F.expr("(_n_params * 1000000L) DIV n_urls").alias("avg_params_micro"),
        F.expr("(n_urls * 1000000L) DIV n_paths").alias("url_path_ratio_micro"),
    )
    keys = parsed.select("host", F.explode("_params").alias("_p")).select(
        "host", F.split("_p", "=")[0].alias("_key")
    )
    key_counts = keys.groupBy("host", "_key").agg(F.count("*").alias("_c"))
    ent = (
        key_counts.withColumn("_tot", F.sum("_c").over(Window.partitionBy("host")))
        .groupBy("host")
        .agg(
            F.round(
                -F.sum((F.col("_c") / F.col("_tot")) * F.log(F.col("_c") / F.col("_tot")))
                * 1_000_000
            ).cast("long").alias("key_entropy_micro")
        )
    )
    return (
        per_host.join(ent, "host", "left")
        .withColumn("key_entropy_micro", F.coalesce("key_entropy_micro", F.lit(0).cast("long")))
        .withColumn(
            "is_trap",
            (F.col("url_path_ratio_micro") > F.lit(int(round(ratio_threshold * 1_000_000))))
            | (F.col("max_depth") > F.lit(depth_threshold))
            | (F.col("key_entropy_micro") > F.lit(int(round(entropy_threshold * 1_000_000)))),
        )
    )


def param_policy(df, url_col: str = "url", digest_col: str = "digest", min_tested: int = 2):
    """DUST-style URL-parameter significance mining over (url, digest) pairs.

    The static ``TRACKING_PARAMS`` list above is Amazon lore baked into
    P14 (the reference hardcodes the same spellings it wants stripped,
    getRank.py:507). A general 10^10-URL frontier cannot hand-curate that
    list per site — it must LEARN which query parameters change content
    and which are tracking noise, from the (url, content-digest)
    observations the fetcher already produces. That is the DUST problem
    ("Do not crawl in the DUST: different URLs with similar text",
    Bar-Yossef et al., WWW 2007): every learned ``strip`` rule collapses
    a whole family of duplicate spellings BEFORE fetch, saving politeness
    budget and URL-seen state.

    Relational form (value-irrelevance test, no pairwise comparison):

    1. parse each observed URL into ``host``, ``scheme_host+path``, and
       its raw ``k=v`` param list (raw spellings — this op is upstream of
       canonicalization, it learns the strip list);
    2. for each distinct param key ``k`` in the URL, build the group key
       ``residual`` = base + all OTHER params sorted, and the tested
       value ``val`` = all instances of ``k`` sorted (dup keys supported);
    3. first hash-agg on ``(host, k, residual)``: a group is *tested*
       when ≥2 distinct ``val``s were observed against the same residual;
       it votes *irrelevant* when all its digests are equal;
    4. second hash-agg on ``(host, k)``: ``strip`` iff every tested group
       voted irrelevant and at least ``min_tested`` groups were tested,
       ``keep`` iff any tested group saw the digest move, else
       ``insufficient``.

    Scale shape: one projection (pure higher-order column math — the
    param explode fans out by distinct-keys-per-URL, a small constant),
    then two map-side-combinable hash aggregations; no window, no join,
    no Python. Unlike pairwise DUST rule mining (|pairs| = O(n²) per
    dup-cluster), the residual grouping is linear in observations.
    Output counts are BIGINTs (hash-stable on every engine — the r4
    corpus_stats lesson); the decision is a string enum.
    """
    u = _strip_fragment(F.col(url_col))
    base = F.substring_index(u, "?", 1)
    query = F.when(
        F.instr(u, "?") > 0, F.substring(u, F.instr(u, "?") + F.lit(1), F.length(u))
    ).otherwise(F.lit(""))
    scheme_host = F.lower(F.regexp_extract(base, r"^(https?://[^/]*)", 1))
    path = F.regexp_replace(base, r"^https?://[^/]*", "")
    parr = F.filter(F.split(query, "&"), lambda p: p != F.lit(""))

    parsed = df.select(
        url_host(u).alias("host"),
        F.concat(scheme_host, path).alias("_base"),
        parr.alias("_parr"),
        F.col(digest_col).alias("_digest"),
    ).where(F.size("_parr") > 0)

    k = F.col("param")
    key_of = lambda p: F.substring_index(p, "=", 1)  # noqa: E731
    exploded = parsed.select(
        "host",
        F.explode(F.array_distinct(F.expr("transform(_parr, p -> substring_index(p, '=', 1))"))).alias("param"),
        "_base",
        "_parr",
        "_digest",
    ).select(
        "host",
        "param",
        F.concat(
            F.col("_base"),
            F.lit("?"),
            F.array_join(F.array_sort(F.filter("_parr", lambda p: key_of(p) != k)), "&"),
        ).alias("_residual"),
        F.array_join(F.array_sort(F.filter("_parr", lambda p: key_of(p) == k)), "&").alias("_val"),
        "_digest",
    )

    groups = exploded.groupBy("host", "param", "_residual").agg(
        F.countDistinct("_val").alias("_n_vals"),
        F.countDistinct("_digest").alias("_n_digests"),
        F.count("*").alias("_n_obs"),
    )
    tested = F.col("_n_vals") >= 2
    per_param = groups.groupBy("host", "param").agg(
        F.count("*").alias("n_groups"),
        F.sum(tested.cast("long")).alias("n_tested"),
        F.sum((tested & (F.col("_n_digests") == 1)).cast("long")).alias("n_irrelevant"),
        F.sum(F.when(tested, F.col("_n_obs")).otherwise(F.lit(0))).alias("support"),
    )
    return per_param.withColumn(
        "decision",
        F.when(F.col("n_tested") < F.lit(min_tested), F.lit("insufficient"))
        .when(F.col("n_irrelevant") == F.col("n_tested"), F.lit("strip"))
        .otherwise(F.lit("keep")),
    )


def apply_param_policy(df, policy, url_col: str = "url"):
    """Apply learned ``param_policy`` rules to a URL table.

    The production loop: ``param_policy`` learns per-(host,param)
    decisions from fetch observations; this applies them to the frontier
    BEFORE the URL-seen probe, so every proven-irrelevant spelling
    collapses to one key and is fetched once. Conservative by
    construction — only ``decision = 'strip'`` params are removed
    (``keep`` and ``insufficient`` both survive), so an under-trained
    policy can never merge two genuinely different pages.

    Scale shape: the policy is host×param-sized (tiny vs a 10^10-URL
    frontier) and arrives pre-folded to ONE sorted strip-array row per
    host, then BROADCAST — the frontier side is a single map-side join +
    one higher-order projection; no shuffle of URL-sized data, no Python.

    Returns the input columns plus ``learned_url`` (fragment dropped,
    scheme://host lowercased, stripped params removed, survivors
    sorted — the same spelling discipline as :func:`canonicalize_url`,
    with the learned list in place of the static ``TRACKING_PARAMS``).
    """
    strip_sets = (
        policy.where(F.col("decision") == "strip")
        .groupBy("host")
        .agg(F.array_sort(F.collect_set("param")).alias("_strip"))
    )
    u = _strip_fragment(F.col(url_col))
    base = F.substring_index(u, "?", 1)
    query = F.when(
        F.instr(u, "?") > 0, F.substring(u, F.instr(u, "?") + F.lit(1), F.length(u))
    ).otherwise(F.lit(""))
    scheme_host = F.lower(F.regexp_extract(base, r"^(https?://[^/]*)", 1))
    path = F.regexp_replace(base, r"^https?://[^/]*", "")
    parr = F.filter(F.split(query, "&"), lambda p: p != F.lit(""))

    joined = (
        df.withColumn("_host", url_host(u))
        .withColumn("_sh", scheme_host)
        .withColumn("_path", path)
        .withColumn("_parr", parr)
        .join(F.broadcast(strip_sets), F.col("_host") == strip_sets.host, "left")
        .drop(strip_sets.host)
    )
    strip = F.coalesce(F.col("_strip"), F.array().cast("array<string>"))
    kept = F.array_sort(
        F.filter(
            F.col("_parr"),
            lambda p: ~F.array_contains(strip, F.substring_index(p, "=", 1)),
        )
    )
    learned = F.concat(
        F.col("_sh"),
        F.col("_path"),
        F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
            F.lit("")
        ),
    )
    return joined.withColumn("learned_url", learned).drop(
        "_host", "_sh", "_path", "_parr", "_strip"
    )


def _lower_scheme(h: Column) -> Column:
    # 'HTTPS://Host/x' → 'https://Host/x' (host case is canonicalize's
    # job; the scheme must be lowercase for its anchored regexes)
    return F.concat(
        F.lower(F.substring_index(h, "://", 1)),
        F.lit("://"),
        F.substring(h, F.instr(h, "://") + F.lit(3), F.length(h)),
    )


def _resolve_href(h: Column, base_scheme_host: Column) -> Column:
    """Root-relative hrefs resolve against the page host; absolute
    ``http(s)://`` pass through; anything else (mailto:, javascript:,
    bare fragments) maps to NULL for the caller to filter."""
    return (
        F.when(h.rlike("^(?i)https?://"), _lower_scheme(h))
        .when(h.startswith("/"), F.concat(base_scheme_host, h))
        .otherwise(F.lit(None))
    )


def surt_key(canonical_url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key of a canonical
    URL — ``com,amazon)/dp/B1?page=2`` — the web-archive CDX index
    ordering (public Wayback/OpenWayback convention). Reversed host
    labels make one registrable domain's URLs CONTIGUOUS under a plain
    lexicographic sort, so range-partitioning the frontier by SURT
    co-locates each site's URLs (per-host politeness reads one
    partition) while a raw-URL sort scatters subdomains. Leading
    ``www.`` is dropped (canonicalize keeps it for fetch identity; the
    archive key folds it). Pure column math, zero UDF."""
    host = F.regexp_replace(url_host(canonical_url), r"^www\.", "")
    rest = F.regexp_replace(canonical_url, r"^https?://[^/?#]*", "")
    return F.concat(F.array_join(F.reverse(F.split(host, r"\.")), ","), F.lit(")"), rest)


def extract_anchor_pairs(html: Column, base_scheme_host: Column) -> Column:
    """(target-URL, anchor-text) pairs of a page's ``<a>`` tags, in
    document order — ``array<struct<url:string, anchor:string>>``.

    Anchor text is the classic off-page relevance signal (it describes
    the TARGET, not the page it sits on); a crawl that feeds a ranking
    or training pipeline aggregates it per target URL. Same extraction
    discipline as :func:`extract_links`: one vectorized
    ``regexp_extract_all`` for whole ``<a href="...">text</a>`` blocks
    (group 0), per-block field pulls, resolution, canonicalization —
    never an HTML parser in the hot path."""
    blocks = F.regexp_extract_all(html, F.lit(r'<a href="[^"]*"[^>]*>[^<]*</a>'), 0)
    resolved = F.transform(
        blocks,
        lambda b: F.struct(
            _resolve_href(F.regexp_extract(b, r'href="([^"]*)"', 1), base_scheme_host).alias("url"),
            F.regexp_extract(b, r">([^<]*)</a>", 1).alias("anchor"),
        ),
    )
    return F.transform(
        F.filter(resolved, lambda p: p["url"].isNotNull()),
        lambda p: F.struct(canonicalize_url(p["url"]).alias("url"), p["anchor"].alias("anchor")),
    )


def rel_canonical_href(html: Column) -> Column:
    """The page's ``<link rel="canonical" href="...">`` target ('' when
    absent) — the publisher-declared dedup key a crawler honors BEFORE
    content fingerprinting (one regexp, attribute order as emitted by
    the page generator)."""
    return F.regexp_extract(html, r'<link rel="canonical" href="([^"]*)"', 1)


def registered_domain(df, suffixes, host_col: str = "host", max_labels: int = 3):
    """eTLD+1 (registrable domain) per host via a broadcast
    public-suffix join — the key crawl budgets, robots caches, and
    politeness buckets actually group by (``a.img.shop.example.co.uk``
    and ``www.example.co.uk`` are ONE crawl citizen).

    ``suffixes`` is a ``(suffix string)`` dimension (the public-suffix
    list — thousands of rows in production, always broadcastable). Each
    host generates its last ``1..max_labels`` label suffixes as
    candidates (≤ ``max_labels`` rows per DISTINCT host — the explode
    runs on the deduped host dimension, never the URL table), the
    longest candidate present in the list wins, and eTLD+1 = one label
    + that suffix. Hosts matching no suffix, or equal to a bare suffix,
    yield NULL. Returns ``(host, public_suffix, etld1)``.
    """
    labels = F.split(F.col(host_col), r"\.")
    n = F.size(labels)
    cands = F.filter(
        F.array(
            *[
                F.when(n >= k, F.array_join(F.slice(labels, -k, k), "."))
                for k in range(1, max_labels + 1)
            ]
        ),
        lambda c: c.isNotNull(),
    )
    hosts = df.select(F.col(host_col).alias("host")).distinct()
    ex = hosts.select("host", F.explode(cands).alias("cand"))
    best = (
        ex.join(F.broadcast(suffixes), ex.cand == suffixes.suffix)
        .groupBy("host")
        .agg(F.max_by("cand", F.size(F.split("cand", r"\."))).alias("public_suffix"))
    )
    lb = F.split(F.col("host"), r"\.")
    k_sfx = F.size(F.split("public_suffix", r"\."))
    return (
        hosts.join(best, "host", "left")
        .select(
            "host",
            "public_suffix",
            F.when(
                F.col("public_suffix").isNotNull() & (F.size(lb) > k_sfx),
                F.array_join(F.slice(lb, -(k_sfx + F.lit(1)), k_sfx + F.lit(1)), "."),
            ).alias("etld1"),
        )
    )


def extract_links(df, html: Column, base_scheme_host: Column, keep=()):
    """One row per href of each page's HTML, resolved and canonicalized —
    the frontier-feeding link extraction step (reference
    getStockNumber.py:67 concatenates ``'https://www.amazon.com' +
    item.a['href']``; this is the declarative form over a page-HTML
    column).

    * ``href="..."`` values are pulled with one vectorized
      ``regexp_extract_all`` — never an HTML parser in the hot path.
    * root-relative links (``/path``) resolve against
      ``base_scheme_host``; absolute ``http(s)://`` links pass through;
      anything else (mailto:, javascript:, fragments) is dropped.
    * every survivor is canonicalized by :func:`canonicalize_url`, so the
      output is directly usable as the URL-seen / frontier key.

    Returns ``(*keep, link_pos, canonical_url)`` rows, ``link_pos`` the
    0-based document-order position among the page's surviving links.
    Explodes BEFORE canonicalizing, so the regex-heavy ``canonicalize_url``
    compiles into the codegen stage instead of running interpreted inside
    an array ``transform`` lambda. Pure column math, no UDF; the DuckDB
    twin mirrors the same regex + resolution rules 1:1.
    """
    resolved = F.filter(
        F.transform(
            F.regexp_extract_all(html, F.lit(r'href="([^"]*)"'), 1),
            lambda h: _resolve_href(h, base_scheme_host),
        ),
        lambda u: u.isNotNull(),
    )
    return df.select(*keep, F.posexplode(resolved).alias("link_pos", "_raw")).select(
        *keep, "link_pos", canonicalize_url(F.col("_raw")).alias("canonical_url")
    )


def parse_sitemap_entries(xml: Column) -> Column:
    """Sitemap-protocol entries of an XML string column —
    ``array<struct<loc:string, lastmod:string>>`` in document order.

    The standard frontier-seeding source a large crawl reads before (and
    instead of) expensive page fetches: ``<url>`` blocks are pulled with
    one vectorized non-greedy ``regexp_extract_all``, then ``<loc>`` /
    optional ``<lastmod>`` per block — no XML parser in the hot path,
    pure codegen (sitemaps are machine-generated and regular; a real
    deployment would fall back to an XML reader only for the malformed
    tail). ``lastmod`` is the raw string ('' when absent) so the caller
    owns date parsing / recrawl policy."""
    blocks = F.regexp_extract_all(xml, F.lit(r"<url>(.*?)</url>"), 1)
    return F.transform(
        blocks,
        lambda b: F.struct(
            # plain greedy capture + trim — identical under Java regex and
            # RE2 (non-greedy-with-boundary patterns are where they drift)
            F.trim(F.regexp_extract(b, r"<loc>([^<]+)</loc>", 1)).alias("loc"),
            F.regexp_extract(b, r"<lastmod>([^<]+)</lastmod>", 1).alias("lastmod"),
        ),
    )


def remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 ``remove_dot_segments`` as ONE codegen fold.

    The stack algorithm runs as ``F.aggregate`` over the split segment
    array — ``.`` drops, ``..`` pops, anything else (including the empty
    segments of ``//`` runs) pushes; a trailing ``.``/``..`` first gains a
    ``/`` so the RFC's "re-append the slash" branch becomes a plain final
    empty segment. ``..`` above root is ignored (RFC: pop of an empty
    output buffer). Empty input stays empty (authority-only URLs); any
    other input is treated as an absolute path (the resolver only feeds
    merged absolute paths here). Pure column math, no UDF.
    """
    p = F.when(path.rlike(r"(^|/)\.\.?$"), F.concat(path, F.lit("/"))).otherwise(path)
    segs = F.split(p, "/")
    body = F.slice(segs, 2, F.greatest(F.size(segs) - 1, F.lit(0)))
    stack = F.aggregate(
        body,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(s == ".", acc)
        .when(
            s == "..",
            F.when(F.size(acc) == 0, acc).otherwise(
                F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0)))
            ),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    return F.when(path == "", F.lit("")).otherwise(
        F.concat(F.lit("/"), F.array_join(stack, "/"))
    )


def resolve_reference(href: Column, base: Column) -> Column:
    """Full RFC 3986 §5.2.2 reference resolution against an absolute
    http(s) base — the piece :func:`extract_links`' fast path skips:
    ``../``-relative hrefs, ``./`` same-directory links, query-only
    references, network-path ``//host`` references, and empty hrefs (=
    the page itself) are everywhere in real markup, and resolving them
    wrong either loses frontier URLs or mints phantom ones that poison
    the URL-seen set. (Reference getStockNumber.py:67 string-concats the
    host onto root-relative hrefs only.)

    Semantics: fragments strip on both sides; hrefs with a non-web scheme
    (mailto:, javascript:, data:, …) resolve to NULL for the caller to
    filter; absolute http(s) hrefs pass through with scheme lowercased
    and their path dot-normalized (RFC strict mode); everything else
    takes the base's scheme/authority and the §5.3 merge +
    remove_dot_segments path. Pure column math end to end — the entire
    case tree is one codegen projection; the only array op is the
    bounded per-URL segment fold. Returns the resolved absolute URL
    WITHOUT canonicalization (compose with canonicalize_url for the
    frontier key).
    """
    h = _strip_fragment(href)
    b = _strip_fragment(base)
    b_scheme = F.lower(F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    b_auth = F.regexp_extract(b, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    b_path = F.regexp_extract(b, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    b_query = F.when(
        F.instr(b, "?") > 0, F.substring(b, F.instr(b, "?") + F.lit(1), F.length(b))
    ).otherwise(F.lit(""))

    h_path = F.substring_index(h, "?", 1)
    h_query = F.when(
        F.instr(h, "?") > 0, F.substring(h, F.instr(h, "?") + F.lit(1), F.length(h))
    ).otherwise(F.lit(""))

    # §5.3 merge: empty base path ⇒ '/' + R.path, else replace the last
    # base segment
    b_dir = F.regexp_replace(b_path, "[^/]*$", "")
    merged = F.concat(
        F.when(b_path == "", F.lit("/")).otherwise(b_dir), h_path
    )

    def _assemble(scheme, auth, path, query):
        return F.concat(
            scheme,
            F.lit("://"),
            auth,
            remove_dot_segments(path),
            F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
        )

    abs_h = _lower_scheme(h)
    a_auth = F.regexp_extract(abs_h, r"^https?://([^/?#]*)", 1)
    a_path = F.regexp_extract(abs_h, r"^https?://[^/?#]*([^?#]*)", 1)
    n_auth = F.regexp_extract(h, r"^//([^/?#]*)", 1)
    n_path = F.regexp_extract(h, r"^//[^/?#]*([^?#]*)", 1)

    return (
        F.when(h == "", _assemble(b_scheme, b_auth, b_path, b_query))
        .when(h.rlike("^(?i)https?://"), _assemble(b_scheme, a_auth, a_path, h_query))
        .when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), F.lit(None).cast("string"))
        .when(h.startswith("//"), _assemble(b_scheme, n_auth, n_path, h_query))
        .when(h.startswith("/"), _assemble(b_scheme, b_auth, h_path, h_query))
        .when(h.startswith("?"), _assemble(b_scheme, b_auth, b_path, h_query))
        .otherwise(_assemble(b_scheme, b_auth, merged, h_query))
    )


def percent_normalize(url: Column) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization — the equivalence
    class :func:`canonicalize_url` (syntax-based) and
    :func:`resolve_reference` (reference resolution) don't cover:
    ``%7Euser`` and ``~user`` are the SAME URI, and ``%2f`` / ``%2F``
    differ only in hex case. Without this, one logical URL multiplies
    into several frontier keys (wasted politeness tokens) or — worse —
    the seen-filter misses a revisit.

    Two rules, both from the RFC: percent-escapes of UNRESERVED
    characters (ALPHA / DIGIT / ``-._~``) decode to the character;
    every other escape keeps its bytes but uppercases the hex digits
    (``%2f`` → ``%2F``). Reserved escapes are NEVER decoded — ``%2F`` in
    a path segment is data, not a slash.

    Pure column math: the URL splits into ``%XX`` / literal-run tokens
    with one vectorized ``regexp_extract_all``, each token maps through
    a codegen ``transform`` (hex → code point via ``conv`` + ``char``),
    and ``array_join`` reassembles — no UDF, mirrored 1:1 by the DuckDB
    twin. Malformed escapes (``%`` not followed by two hex digits) pass
    through untouched (they're literal-run tokens).
    """
    toks = F.regexp_extract_all(url, F.lit(r"(%[0-9A-Fa-f]{2}|%|[^%]+)"), 1)

    def norm_tok(t):
        is_esc = t.rlike("^%[0-9A-Fa-f]{2}$")
        c = F.conv(F.substring(t, 2, 2), 16, 10).cast("int")
        decoded = F.char(c)
        unreserved = (
            ((c >= 0x41) & (c <= 0x5A))
            | ((c >= 0x61) & (c <= 0x7A))
            | ((c >= 0x30) & (c <= 0x39))
            | c.isin(0x2D, 0x2E, 0x5F, 0x7E)
        )
        return F.when(~is_esc, t).when(unreserved, decoded).otherwise(F.upper(t))

    return F.array_join(F.transform(toks, norm_tok), "")


def extract_links_rel(html: Column, base_url: Column) -> Column:
    """Anchor extraction that keeps the ``rel`` semantics the frontier
    must respect: ``array<struct<url, nofollow>>`` in document order.

    ``rel="nofollow"`` (and microformats like ``rel="nofollow noopener"``)
    is the publisher telling crawlers NOT to treat a link as an
    endorsement — a polite crawler excludes such links from frontier
    expansion and link-graph signals (PageRank/OPIC would otherwise be
    spammable through comment sections; that is WHY the attribute
    exists). :func:`extract_links` ignores ``rel`` entirely; this variant
    parses the full ``<a ...>`` attribute string per anchor and resolves
    each href through :func:`resolve_reference` (the complete RFC 3986
    path), so callers split the result into frontier candidates
    (``NOT nofollow``) and seen-only URLs.

    Anchors without an href (or with a non-web scheme) yield a NULL url —
    filter after exploding. Pure column math: one vectorized
    ``regexp_extract_all`` over the page, per-anchor regex + the resolver
    expression inside a codegen ``transform``; anchors per page are
    bounded, so the per-element regex is a constant factor, the same
    budget :func:`extract_anchor_pairs` already spends.
    """
    tags = F.regexp_extract_all(html, F.lit(r"<a\s+([^>]*)>"), 1)

    def parse(t):
        href = F.regexp_extract(t, r'href="([^"]*)"', 1)
        url = F.when(href != "", resolve_reference(href, base_url))
        nofollow = t.rlike(r'rel="[^"]*\bnofollow\b[^"]*"')
        return F.struct(url.alias("url"), nofollow.alias("nofollow"))

    return F.transform(tags, parse)


def url_spam_signals(
    df,
    url_col: str = "url",
    max_len: int = 512,
    max_params: int = 8,
    max_depth: int = 12,
    digit_milli_t: int = 400,
    seg_repeat_t: int = 3,
):
    """Per-URL spam/trap heuristics — the URL-level filter a frontier
    applies BEFORE spending a fetch token (host_trap_stats is the
    host-level aggregate view; this is its row-level complement, the
    gopher_signals of URLs). Classic signals, every one pure codegen
    column math over the string — no parse UDF, no shuffle, pipelines
    into frontier admission like robots filtering:

    - ``url_len``         — oversized URLs (tracking blobs, serialized
      state) blow past ``max_len``.
    - ``path_depth``      — unbounded directory recursion.
    - ``n_params``        — faceted-search explosions mint params.
    - ``digit_milli``     — digit fraction ‰ (exact DIV): session ids
      and hashes are digit-dense where human paths are not.
    - ``max_seg_repeat``  — the most-repeated path segment (``/a/b/a/
      b/a`` loop traps), via a nested higher-order count — O(d²) on a
      ≤dozens-segment array, still JVM codegen.
    - ``n_pct_encoded``   — %XX density (double-encoding spam).

    ``is_spam`` ORs the thresholds. Returns (url, url_len, path_depth,
    n_params, digit_milli, max_seg_repeat, n_pct_encoded, is_spam)."""
    u = F.col(url_col)
    path = F.regexp_replace(F.split(u, r"\?").getItem(0), r"^https?://[^/]*", "")
    query = F.when(
        F.instr(u, "?") > 0, F.expr(f"substring({url_col}, instr({url_col}, '?') + 1)")
    ).otherwise(F.lit(""))
    n_params = F.size(F.filter(F.split(query, "&"), lambda p: p != ""))
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    url_len = F.length(u)
    digit_milli = F.expr(
        f"((length({url_col}) - length(regexp_replace({url_col}, '[0-9]', ''))) * 1000) "
        f"DIV length({url_col})"
    )
    max_rep = F.when(F.size(segs) == 0, F.lit(0)).otherwise(
        F.array_max(F.transform(segs, lambda s: F.size(F.filter(segs, lambda x: x == s))))
    )
    out = df.select(
        u.alias("url"),
        url_len.cast("int").alias("url_len"),
        F.size(segs).alias("path_depth"),
        n_params.alias("n_params"),
        digit_milli.alias("digit_milli"),
        max_rep.alias("max_seg_repeat"),
        F.regexp_count(u, F.lit(r"%[0-9A-Fa-f]{2}")).alias("n_pct_encoded"),
    )
    return out.select(
        "*",
        (
            (F.col("url_len") > max_len)
            | (F.col("n_params") > max_params)
            | (F.col("path_depth") > max_depth)
            | (F.col("digit_milli") >= digit_milli_t)
            | (F.col("max_seg_repeat") >= seg_repeat_t)
        ).alias("is_spam"),
    )
