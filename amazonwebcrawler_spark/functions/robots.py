"""RFC 9309 (Robots Exclusion Protocol) path matching as pure column math.

This is the crawl's one robots matcher: the wave loop
(plans/crawler.admit_candidates, via :func:`keep_allowed`) and the
``robots_filter``/``robots_rfc`` queries all decide through
:func:`robots_match`. It implements the full REP: ``*`` wildcards, ``$``
end anchors, Allow groups, and the longest-match precedence rule
(RFC 9309 §2.2.2: the most specific match — most octets — wins; Google's
documented tiebreak: the least restrictive rule, i.e. Allow, wins ties).
The synthetic world's plain Disallow prefixes are the special case of
rules without wildcards; ``synthetic_world.robots_allowed`` stays their
pure-Python twin for the crawl oracle.

Scale shape: the rules side of a robots decision is tiny (one robots.txt
per host) while the URL side is the 10^10-row frontier — so the rules are
pre-grouped to ONE row per host, broadcast, and the entire match/precedence
computation happens in a higher-order-function projection on the frontier
side: zero shuffles of frontier rows, no per-URL aggregation, no Python.
Pattern→regex conversion is a deterministic regexp_replace chain that
produces regexes valid (and identical in meaning) in both Java regex
(Spark RLIKE) and RE2 (DuckDB regexp_matches), so the DuckDB twin
re-derives every decision.

Reference behavior cited: AmazonWebCrawler fetches without consulting
robots.txt at all (getRank.py:24-60 drives Selenium straight to the URL);
the politeness/robots layer is the PySpark engine's addition per the
north rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: regex metacharacters escaped in robots patterns ('*' and a TRAILING '$'
#: carry REP meaning and are handled separately; an inner '$' is literal)
_META = r"([\\.\[\]{}()+?^$|])"


def robots_pattern_regex(pattern: Column) -> Column:
    """RFC 9309 path pattern → anchored regex string.

    ``*`` matches any character run; a trailing ``$`` anchors the match to
    the end of the path; everything else is literal. The output regex is
    always prefix-anchored with ``^`` (REP patterns match from the first
    path octet). The same regexp_replace chain exists verbatim in the
    DuckDB twin, so conversions are value-checked cross-engine.
    """
    has_anchor = pattern.endswith("$")
    body = F.when(has_anchor, pattern.substr(F.lit(1), F.length(pattern) - 1)).otherwise(
        pattern
    )
    escaped = F.regexp_replace(body, _META, r"\\$1")
    wild = F.regexp_replace(escaped, r"\*", ".*")
    return F.concat(F.lit("^"), wild, F.when(has_anchor, F.lit("$")).otherwise(F.lit("")))


def url_path_query(url: Column) -> Column:
    """Path+query of a URL (the string REP patterns match against);
    '/' when the URL has no path."""
    p = F.regexp_replace(url, r"^https?://[^/]*", "")
    return F.when(p == "", F.lit("/")).otherwise(p)


def group_rules_by_host(rules: DataFrame) -> DataFrame:
    """(host, allow, pattern) rows → one row per host with a
    deterministically ordered rule array ready to broadcast
    (:func:`compile_rules` over the per-host lists)."""
    return compile_rules(
        rules.groupBy("host").agg(
            F.collect_list(F.struct("pattern", "allow")).alias("rules")
        )
    )


def compile_rules(per_host: DataFrame) -> DataFrame:
    """(host, rules array<struct<pattern, allow>>), one row per host → the
    broadcast form :func:`keep_allowed` takes. Rules with an empty pattern
    are dropped (RFC 9309: an empty pattern matches nothing for Allow and
    means 'allow all' for Disallow — both reduce to no-op here). The regex
    is precompiled per RULE (not per URL×rule). A pure projection: no
    aggregate, so no shuffle, whenever the rules are broadcast."""
    compiled = F.transform(
        F.filter("rules", lambda r: r["pattern"] != ""),
        lambda r: F.struct(
            r["pattern"].alias("pattern"),
            r["allow"].cast("int").alias("allow"),
            robots_pattern_regex(r["pattern"]).alias("rx"),
            F.length(r["pattern"]).cast("int").alias("plen"),
        ),
    )
    return per_host.select("host", F.array_sort(compiled).alias("rules"))


def robots_match(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "canonical_url",
    host_col: str = "host",
) -> DataFrame:
    """Decide fetchability of every URL under RFC 9309 longest-match.

    ``rules``: (host, allow int/bool, pattern string) — the parsed robots
    group for each host. Returns ``urls`` plus:

    * ``allowed``     int 0/1 — the REP decision (no matching rule, or no
                      rules for the host at all → 1, crawl-by-default)
    * ``match_len``   length of the winning pattern (0 when none matched)
    * ``match_pattern`` the winning pattern ('' when none) — ties on
                      (length, allow) break to the lexicographically
                      greatest pattern so the report column is total

    Precedence: longest pattern wins; equal lengths → Allow wins
    (max over struct(plen, allow, pattern) encodes exactly that order).

    Plan shape: one BROADCAST hash join host→rules (the frontier side
    never shuffles) + one codegen'd higher-order projection. regexp_like
    with a per-rule pattern column is evaluated per (URL, matching-host
    rule) — rules per host are O(10), so the work is ~10 regex probes per
    frontier row, all JVM-side.
    """
    return _decide(urls, group_rules_by_host(rules), url_col, host_col)


def _decide(urls: DataFrame, grouped: DataFrame, url_col: str, host_col: str) -> DataFrame:
    """:func:`robots_match` over rules already in
    :func:`compile_rules` form."""
    path = url_path_query(F.col(url_col))
    matches = F.filter(
        F.col("_rules"), lambda r: F.regexp_like(F.col("_path"), r["rx"])
    )
    winner = F.array_max(
        F.transform(
            matches,
            lambda r: F.struct(
                r["plen"].alias("plen"), r["allow"].alias("allow"), r["pattern"].alias("pattern")
            ),
        )
    )
    return (
        urls.withColumn("_path", path)
        .join(F.broadcast(grouped.withColumnRenamed("rules", "_rules")), on=host_col, how="left")
        .withColumn("_w", winner)
        .select(
            *urls.columns,
            F.col("_path").alias("path"),
            F.coalesce(F.col("_w.allow"), F.lit(1)).cast("int").alias("allowed"),
            F.coalesce(F.col("_w.plen"), F.lit(0)).cast("int").alias("match_len"),
            F.coalesce(F.col("_w.pattern"), F.lit("")).alias("match_pattern"),
        )
    )


def keep_allowed(urls: DataFrame, grouped: DataFrame) -> DataFrame:
    """The rows of ``urls`` (``canonical_url``, ``host``) that RFC 9309
    allows, with the columns of ``urls`` only (C7: disallowed URLs never
    enter the frontier). ``grouped`` is the output of
    :func:`group_rules_by_host` or :func:`compile_rules`, so a caller that
    decides batch after batch against the same rules groups them once, not
    per batch."""
    return (
        _decide(urls, grouped, "canonical_url", "host")
        .filter(F.col("allowed") == 1)
        .select(*urls.columns)
    )


def sitemap_refs(robots_text: Column) -> Column:
    """``Sitemap:`` directives of a robots.txt column, in file order —
    RFC 9309 §2.2.4 allows any number, anywhere in the file,
    case-insensitive, outside any user-agent group. One vectorized
    ``regexp_extract_all`` (pattern valid and identical under Java regex
    and RE2: character classes only, no lookaround); the value is taken
    to end-of-token so comments after whitespace don't leak in.

    This is the missing half of crawl discovery: robots names the
    sitemaps, sitemaps name the URLs (``urls.parse_sitemap_entries``),
    and the coverage audit (``webgraph.sitemap_coverage``) closes the
    loop against the URL-seen state."""
    return F.regexp_extract_all(
        robots_text, F.lit(r"(?i)sitemap:[ \t]*([^\s#]+)"), 1
    )


def robots_delta(
    urls: DataFrame,
    rules_old: DataFrame,
    rules_new: DataFrame,
    url_col: str = "canonical_url",
    host_col: str = "host",
) -> DataFrame:
    """Robots-policy CHANGE impact over the frontier — the audit a
    scheduler runs when a refetched robots.txt differs from the cached
    one: how many queued URLs just became unfetchable (purge them
    before they burn politeness tokens) and how many opened up (the
    recrawl planner's new inventory). Per-URL allow/deny under BOTH
    rule snapshots in ONE pass: two host-keyed broadcast rule joins +
    one higher-order projection — the frontier never shuffles until
    the final host-keyed rollup (host cardinality, not URL cardinality).

    Same RFC 9309 longest-match precedence as :func:`robots_match`
    (longest pattern wins, ties → Allow), rule-less host → crawl by
    default on that side of the diff.

    Returns per host: (host, n_urls, n_blocked_old, n_blocked_new,
    n_newly_blocked, n_newly_allowed, policy_changed)."""
    def decision(rules_col):
        matches = F.filter(rules_col, lambda r: F.regexp_like(F.col("_path"), r["rx"]))
        winner = F.array_max(
            F.transform(
                matches,
                lambda r: F.struct(
                    r["plen"].alias("plen"),
                    r["allow"].alias("allow"),
                    r["pattern"].alias("pattern"),
                ),
            )
        )
        return F.coalesce(winner["allow"], F.lit(1)).cast("int")

    go = group_rules_by_host(rules_old).withColumnRenamed("rules", "_ro")
    gn = group_rules_by_host(rules_new).withColumnRenamed("rules", "_rn")
    u = (
        urls.withColumn("_path", url_path_query(F.col(url_col)))
        .join(F.broadcast(go), host_col, "left")
        .join(F.broadcast(gn), host_col, "left")
        .select(
            host_col,
            decision(F.col("_ro")).alias("_ao"),
            decision(F.col("_rn")).alias("_an"),
        )
    )
    return u.groupBy(host_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.sum(1 - F.col("_ao")).cast("long").alias("n_blocked_old"),
        F.sum(1 - F.col("_an")).cast("long").alias("n_blocked_new"),
        F.sum(F.col("_ao") * (1 - F.col("_an"))).cast("long").alias("n_newly_blocked"),
        F.sum((1 - F.col("_ao")) * F.col("_an")).cast("long").alias("n_newly_allowed"),
        (F.sum(F.col("_ao") * (1 - F.col("_an")) + (1 - F.col("_ao")) * F.col("_an")) > 0
         ).alias("policy_changed"),
    )
