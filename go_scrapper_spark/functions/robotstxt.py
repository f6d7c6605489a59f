"""robots.txt → politeness-policy table, JVM-side (crawl tier).

The reference DISABLES robots handling (colly `IgnoreRobotsTxt`,
reference collyfunc.go:68); the north rule makes enforcement a
first-class requirement, and the engine consumes an explicit policy
table (ROBOTS_SCHEMA → operators/politeness.py). This module closes
the gap between the two: it parses RAW robots.txt bodies into that
table with pure Spark SQL expressions — posexplode over lines, one
host-partitioned window to assign user-agent GROUPS, then a
conditional aggregate per host. No Python in the parse path, so a
10^7-host robots corpus parses as one codegen'd plan with a single
shuffle (the per-host window/agg).

Semantics implemented (the subset crawlers actually obey, per
RFC 9309):
- groups: one or more consecutive ``User-agent:`` lines start a group;
  the rules that follow (until the next group) apply to those agents.
- only the ``*`` group is extracted (the engine crawls with one UA
  family); Allow/Disallow values become the policy's prefix arrays.
- ``Crawl-delay: <seconds>`` (fractional ok) → crawl_delay_ms.
- comments (#...) stripped; blank/unknown lines ignored; keys are
  case-insensitive; an empty ``Disallow:`` value (= allow all) is
  dropped rather than kept as a '' prefix that would match everything.
- hosts with no ``*`` group get the permissive default (no allow
  rules, no disallow rules) — per RFC 9309 §2.2.1, no applicable
  group means no restrictions. Allow rules are never synthesized:
  a fabricated ``Allow: /`` would tie (and beat, via allow-wins-on-
  tie) a real ``Disallow: /``, turning a block-all robots.txt into
  an allow-all one.

``max_parallel`` is not a robots.txt concept: the engine default (the
reference's colly Parallelism 10, collyfunc.go:179) is attached here
so the output is directly joinable by operators/politeness.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_CRAWL_DELAY_MS = 3000  # colly LimitRule Delay 3s (collyfunc.go:115-119)
DEFAULT_MAX_PARALLEL = 10      # colly Parallelism (collyfunc.go:179)


def robots_sitemaps(
    robots_bodies: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """(host, body) → (host, sitemap_url): the ``Sitemap:`` directives
    of each robots.txt. Per RFC 9309 §2.3 / sitemaps.org these lines
    live OUTSIDE user-agent groups and apply globally, so this is a
    plain line filter — no group window needed. Values must be
    absolute URLs; relative values are dropped (the spec requires
    absolute). Feeds functions/sitemap.py's urlset/sitemapindex
    ingestion: robots → sitemap URLs → fetch → seed frontier, the
    standard crawl bootstrapping chain the reference lacks entirely
    (it ignores robots.txt, collyfunc.go:68).

    Scale shape: one codegen'd projection + a distinct (single
    shuffle); 10^7 hosts parse as one plan."""
    lines = robots_bodies.select(
        F.col(host_col).alias("host"),
        F.explode(F.split(F.col(body_col), "\n")).alias("raw"),
    ).select(
        "host",
        F.trim(F.regexp_replace("raw", "#.*", "")).alias("line"),
    )
    key = F.lower(F.trim(F.substring_index("line", ":", 1)))
    val = F.trim(F.expr("substring(line, instr(line, ':') + 1)"))
    return (
        lines.filter(F.col("line").contains(":"))
        .select("host", key.alias("key"), val.alias("sitemap_url"))
        .filter(
            (F.col("key") == "sitemap")
            & (
                F.col("sitemap_url").startswith("http://")
                | F.col("sitemap_url").startswith("https://")
            )
        )
        .select("host", "sitemap_url")
        .distinct()
    )


def parse_robots_txt(
    robots_bodies: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    default_delay_ms: int = DEFAULT_CRAWL_DELAY_MS,
    default_max_parallel: int = DEFAULT_MAX_PARALLEL,
) -> DataFrame:
    """(host, body) → ROBOTS_SCHEMA-shaped policy rows.

    Every line of a host's policy comes from that host's ONE body row,
    so the whole parse — group assignment, star-group selection, rule
    aggregation — is per-row-local. Round 7 rewrote it as higher-order
    array expressions in a single projection: ZERO exchanges, where the
    round-6 shape paid five (posexplode → host window for group ids →
    star-group distinct → left_semi join → per-host agg → all-hosts
    join). Semantics are unchanged (same RFC 9309 subset, fuzz-tested
    against the pure-Python model). Inputs carry one body per host: a
    second body yields a second policy row for that host, which
    ``CrawlEngine.__init__`` rejects with a ``ValueError``.

    The group-id prefix scan is an ``aggregate`` fold appending to an
    array accumulator — O(lines²) per host worst-case, irrelevant at
    robots.txt sizes and embarrassingly parallel either way."""
    # cleaned, ':'-bearing (key, val) lines in document order, spelled
    # in SQL so the lambda variable binds once for both the
    # substring_index key and the instr() val. A user-agent line starts
    # a NEW group unless the previous parsed line was also user-agent
    # (consecutive UA lines share one group, RFC 9309 §2.2.1); the gid
    # fold below carries (gid, prev_was_ua) and appends each line's gid.
    kv = F.expr(
        "transform("
        f"  filter(transform(split({body_col}, '\\n'),"
        "          l -> trim(regexp_replace(l, '#.*', ''))),"
        "         l -> l != '' AND contains(l, ':')),"
        "  l -> struct("
        "    lower(trim(substring_index(l, ':', 1))) AS key,"
        "    trim(substring(l, instr(l, ':') + 1)) AS val))"
    )
    gids = F.expr(
        "aggregate(_kv,"
        "  struct(0 AS gid, false AS prev_ua,"
        "         cast(array() as array<int>) AS gids),"
        "  (acc, x) -> struct("
        "    acc.gid + IF(x.key = 'user-agent' AND NOT acc.prev_ua, 1, 0)"
        "      AS gid,"
        "    x.key = 'user-agent' AS prev_ua,"
        "    concat(acc.gids, array(acc.gid +"
        "      IF(x.key = 'user-agent' AND NOT acc.prev_ua, 1, 0)))"
        "      AS gids),"
        "  acc -> acc.gids)"
    )
    # rules = (key, val, gid); star_gids = groups whose agent set has '*'
    rules = F.expr(
        "zip_with(_kv, _gids, (x, g) ->"
        " struct(x.key AS key, x.val AS val, g AS gid))"
    )
    star_rules = F.expr(
        "filter(_rules, r -> array_contains("
        "  transform(filter(_rules, s -> s.key = 'user-agent'"
        "                              AND s.val = '*'), s -> s.gid),"
        "  r.gid))"
    )
    prefix_of = (
        "array_sort(array_distinct(transform("
        "  filter(_star, r -> r.key = '{k}' AND r.val != ''),"
        "  r -> r.val)))"
    )
    delay = (
        "cast(round(array_max(transform("
        "  filter(_star, r -> r.key = 'crawl-delay'),"
        # try_cast, not cast: under ANSI mode (Spark 4 default) a
        # malformed value like "10s" in ONE untrusted robots.txt would
        # otherwise throw CAST_INVALID_INPUT and abort the whole parse
        # job; NULL is skipped by array_max and falls through to
        # default_delay_ms.
        "  r -> try_cast(r.val AS double) * 1000))) AS long)"
    )
    # each intermediate is materialized as a real column (one
    # evaluation per row) instead of being re-inlined by projection
    # collapse into every consumer
    return (
        robots_bodies.select(
            F.col(host_col).alias("host"), F.col(body_col).alias(body_col)
        )
        .withColumn("_kv", kv)
        .withColumn("_gids", gids)
        .withColumn("_rules", rules)
        .withColumn("_star", star_rules)
        .select(
            "host",
            # NO synthetic Allow rules: when a star group has no Allow
            # lines (or the host has no star group at all) the array
            # stays EMPTY. RFC 9309's allow-wins-on-tie applies to
            # actual rules only — synthesizing ["/"] here would tie a
            # real ``Disallow: /`` at length 1 and admit the whole host
            # (a block-all robots.txt would be fully crawled). The
            # permissive default is already implied downstream:
            # apply_robots admits when no disallow prefix matches
            # (allow_len 0 >= disallow_len 0).
            F.expr(prefix_of.format(k="allow")).alias("allow_prefixes"),
            F.expr(prefix_of.format(k="disallow")).alias("disallow_prefixes"),
            F.coalesce(
                F.expr(delay), F.lit(default_delay_ms).cast("long")
            ).alias("crawl_delay_ms"),
            F.lit(default_max_parallel).alias("max_parallel"),
        )
    )
