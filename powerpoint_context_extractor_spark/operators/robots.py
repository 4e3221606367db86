"""robots.txt disallow filtering — crawl politeness applied corpus-side
(drop pages a well-behaved fetcher should never have kept).

Contract subset (frozen for the oracle): ONLY groups whose
``User-agent`` set includes ``*`` contribute ``Disallow:`` rules
(ADVICE r3: other agents' groups no longer leak in); a group is one or
more consecutive User-agent lines followed by its directives, per RFC
9309 §2.1. Lines split on ``\\r?\\n`` so CRLF bodies parse. A page is
blocked when any non-empty rule is a PREFIX of its path. Parsing is a
pure HOF state machine (``aggregate`` over lines) and the prefix probe
is ``exists`` — JVM codegen end to end; the rules table is tiny (one
row per host) so the pages join broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _star_group_fold(body_col: str, init, update):
    """Fold ``update(value, line, lower_line, in_star)`` over the
    ``\\r?\\n``-split lines of ``body_col`` from ``init``; ``line`` is
    trimmed and ``in_star`` says whether it sits in a ``User-agent: *``
    group. Returns the final value column.

    State per line: (in_ua = previous line was a User-agent line,
    star = current group's UA set includes '*', value). Consecutive
    User-agent lines OR into one group; any other directive closes the
    UA block but keeps the group; a later User-agent line starts a new
    group (resets star).

    Directive KEYS match case-insensitively (RFC 9309 §2.1 — r4 ADVICE
    #3: lowercase ``user-agent: *`` files are very common in real
    crawls and their rules must not be silently ignored); rule TARGETS
    keep their case (URL paths are case-sensitive)."""
    lines = F.split(F.col(body_col), r"\r?\n")
    start = F.struct(
        F.lit(False).alias("in_ua"),
        F.lit(False).alias("star"),
        init.alias("value"))

    def step(acc, ln):
        t = F.trim(ln)
        tl = F.lower(t)
        is_ua = tl.startswith("user-agent:")
        ua_star = F.trim(t.substr(F.lit(12), F.length(t))) == "*"
        star = (F.when(is_ua & acc["in_ua"], acc["star"] | ua_star)
                .when(is_ua, ua_star)
                .otherwise(acc["star"]))
        return F.struct(is_ua.alias("in_ua"), star.alias("star"),
                        update(acc["value"], t, tl, acc["star"])
                        .alias("value"))

    return F.aggregate(lines, start, step, lambda acc: acc["value"])


def parse_disallow_rules(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) -> (host, rules array<string>): the trimmed
    ``Disallow:`` targets of every ``User-agent: *`` group, empty rules
    (allow-all markers) removed — :func:`parse_access_rules`' entries
    with ``allow`` false, projected to ``rule``."""
    rules = F.filter(F.col("rules"), lambda r: ~r["allow"])
    return parse_access_rules(robots).select(
        F.col("host"),
        F.transform(rules, lambda r: r["rule"]).alias("rules"))


def apply_robots(pages: DataFrame, robots: DataFrame) -> DataFrame:
    """Left-broadcast-join pages to per-host rules; ``allowed`` = 1 iff
    no rule prefixes the path (hosts without robots allow everything)."""
    rules = parse_disallow_rules(robots)
    joined = pages.join(F.broadcast(rules), "host", "left")
    blocked = F.exists(
        F.coalesce(F.col("rules"), F.array().cast("array<string>")),
        lambda r: F.col("path").startswith(r))
    return joined.withColumn(
        "allowed", (~blocked).cast("long")).drop("rules")


def parse_access_rules(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) -> (host, rules array<struct<rule, allow>>):
    BOTH ``Allow:`` and ``Disallow:`` targets of every
    ``User-agent: *`` group (r7 — the full RFC 9309 §2.2.2 access
    model). Empty targets are dropped from both kinds (an empty
    Disallow is the allow-all marker, an empty Allow is a no-op)."""

    def update(rules, t, tl, in_star):
        is_dis = tl.startswith("disallow:")
        is_alw = tl.startswith("allow:")
        target = F.when(
            is_dis, F.trim(t.substr(F.lit(10), F.length(t)))).otherwise(
            F.trim(t.substr(F.lit(7), F.length(t))))
        entry = F.struct(target.alias("rule"), is_alw.alias("allow"))
        return (F.when((is_dis | is_alw) & in_star & (target != ""),
                       F.concat(rules, F.array(entry)))
                .otherwise(rules))

    init = F.array().cast("array<struct<rule:string,allow:boolean>>")
    return robots.select(F.col("host"), _star_group_fold(
        "robots_txt", init, update).alias("rules"))


def apply_robots_v2(pages: DataFrame, robots: DataFrame) -> DataFrame:
    """RFC 9309 §2.2.2 access verdict (r7): among the group's Allow +
    Disallow rules that MATCH the path, the LONGEST rule wins and an
    Allow beats a Disallow of equal length; no matching rule (or no
    robots.txt) means allowed. Rules may carry the §2.2.3 special
    characters — ``*`` matches any span, a trailing ``$`` anchors the
    match to the path end — compiled to an anchored regex IN-PLAN
    (regexp_replace chain at parse time, ``rlike`` in the fold);
    plain rules stay prefix probes. Precedence length is the rule's
    LITERAL length (the de-facto crawler convention for wildcard
    rules). One HOF fold per page over the tiny broadcast rules
    array — JVM codegen, zero shuffle."""
    rules = parse_access_rules(robots)
    # compile each rule once, parse-side: escape regex metachars,
    # then '*' -> '.*'; a trailing '$' (already escaped to '\$')
    # re-anchors; anchored at start
    esc = lambda c: F.regexp_replace(  # noqa: E731
        c, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    rules = rules.withColumn(
        "rules",
        F.transform(F.col("rules"), lambda r: F.struct(
            r["rule"].alias("rule"),
            F.concat(
                F.lit("^"),
                F.regexp_replace(
                    F.regexp_replace(esc(r["rule"]), r"\*", ".*"),
                    r"\\\$$", r"\$")).alias("pat"),
            (r["rule"].contains("*")
             | r["rule"].endswith("$")).alias("wild"),
            r["allow"].alias("allow"))))
    joined = pages.join(F.broadcast(rules), "host", "left")
    init = F.struct(F.lit(0).alias("best_len"),
                    F.lit(True).alias("best_allow"))

    def fold(acc, r):
        m = F.when(r["wild"],
                   F.call_function("regexp_like",
                                   F.col("path"), r["pat"])) \
            .otherwise(F.col("path").startswith(r["rule"]))
        ln = F.length(r["rule"])
        better = m & (ln > acc["best_len"])
        tie_allow = m & (ln == acc["best_len"]) & r["allow"]
        return F.struct(
            F.when(better, ln).otherwise(acc["best_len"])
            .alias("best_len"),
            F.when(better, r["allow"])
            .when(tie_allow, F.lit(True))
            .otherwise(acc["best_allow"]).alias("best_allow"))

    verdict = F.aggregate(
        F.coalesce(F.col("rules"),
                   F.array().cast(
                       "array<struct<rule:string,pat:string,"
                       "wild:boolean,allow:boolean>>")),
        init, fold, lambda acc: acc["best_allow"])
    return joined.withColumn(
        "allowed", verdict.cast("long")).drop("rules")


def parse_sitemap_directives(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) -> (host, sitemap_url) per ``Sitemap:`` line.
    RFC 9309 §2.3: sitemap directives are GROUP-INDEPENDENT (they
    apply regardless of any User-agent group), so this is a flat
    line filter — key matched case-insensitively, URL kept verbatim.
    Pure HOF filter/transform + explode, JVM codegen, zero Python;
    feeds parse_sitemaps (weblinks.py) for crawl seeding."""
    lines = F.split(F.col("robots_txt"), r"\r?\n")
    maps = F.filter(
        lines, lambda ln: F.lower(F.trim(ln)).startswith("sitemap:"))
    urls = F.transform(
        maps,
        lambda ln: F.trim(F.trim(ln).substr(F.lit(9), F.length(ln))))
    return (robots.select(F.col("host"),
                          F.explode(urls).alias("sitemap_url"))
            .filter(F.col("sitemap_url") != ""))


def parse_crawl_delay(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) -> (host, crawl_delay, has_delay): the
    ``Crawl-delay:`` seconds from ``User-agent: *`` groups — the same
    group-scoping state machine as parse_access_rules (the
    directive is de-facto, not RFC 9309, but the grouping rules it
    obeys in the wild are); the LAST in-scope value wins; non-numeric
    values are ignored; hosts without one get crawl_delay 0 /
    has_delay 0. Pure HOF aggregate, JVM codegen."""

    def update(delay, t, tl, in_star):
        target = F.trim(t.substr(F.lit(13), F.length(t)))
        return (F.when(tl.startswith("crawl-delay:") & in_star
                       & target.rlike(r"^[0-9]+$"), target.cast("long"))
                .otherwise(delay))

    agg = _star_group_fold("robots_txt", F.lit(-1).cast("long"), update)
    return robots.select(
        F.col("host"),
        F.greatest(agg, F.lit(0)).cast("long").alias("crawl_delay"),
        (agg >= 0).cast("long").alias("has_delay"))
