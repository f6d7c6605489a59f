"""robots.txt parsing (functions/robotstxt.py): raw bodies → the
engine's ROBOTS_SCHEMA policy table, with RFC 9309 group semantics.
The reference ignores robots entirely (collyfunc.go:68); the north
rule makes enforcement first-class, so the parser must honor exactly
the subset crawlers obey: star-group selection, consecutive-UA-line
groups, comments, case-insensitive keys, crawl-delay, and the
permissive no-group default."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_scrapper_spark.functions.robotstxt import parse_robots_txt
from go_scrapper_spark.operators.politeness import apply_robots

FULL = """# robots for h1
User-agent: googlebot
Disallow: /google-only/

User-agent: *
Allow: /public/
Disallow: /private/
Disallow: /tmp/
Crawl-delay: 2.5
"""

SHARED_GROUP = """User-agent: badbot
User-agent: *
Disallow: /x/
"""

NO_STAR = """User-agent: googlebot
Disallow: /g/
"""

EMPTY_DISALLOW = """User-agent: *
Disallow:
"""

MIXED_CASE = """uSeR-AgEnT: *
DISALLOW: /Upper/
crawl-DELAY: 1
"""


@pytest.fixture(scope="module")
def parsed(spark):
    rows = [
        ("h1", FULL),
        ("h2", SHARED_GROUP),
        ("h3", NO_STAR),
        ("h4", EMPTY_DISALLOW),
        ("h5", MIXED_CASE),
    ]
    df = spark.createDataFrame(rows, "host string, body string")
    return {r["host"]: r for r in parse_robots_txt(df).collect()}


def test_star_group_rules_extracted(parsed):
    r = parsed["h1"]
    assert r["allow_prefixes"] == ["/public/"]
    assert r["disallow_prefixes"] == ["/private/", "/tmp/"]
    assert r["crawl_delay_ms"] == 2500
    # the googlebot-only rule must NOT leak into the star policy
    assert "/google-only/" not in r["disallow_prefixes"]


def test_consecutive_ua_lines_share_one_group(parsed):
    assert parsed["h2"]["disallow_prefixes"] == ["/x/"]


def test_no_star_group_is_permissive(parsed):
    r = parsed["h3"]
    # no synthetic Allow rules: permissive = BOTH arrays empty (a
    # fabricated '/' would tie-beat a real 'Disallow: /' downstream)
    assert r["allow_prefixes"] == []
    assert r["disallow_prefixes"] == []
    assert r["crawl_delay_ms"] == 3000  # engine default (colly 3 s)


def test_empty_disallow_means_allow_all(parsed):
    assert parsed["h4"]["disallow_prefixes"] == []


def test_keys_case_insensitive(parsed):
    r = parsed["h5"]
    assert r["disallow_prefixes"] == ["/Upper/"]  # values keep case
    assert r["crawl_delay_ms"] == 1000


def test_defaults_attached_for_engine_join(parsed):
    assert all(r["max_parallel"] == 10 for r in parsed.values())


def _model_parse(body: str) -> tuple[list[str], list[str], int]:
    """Pure-Python reference of the parser's RFC 9309 subset: returns
    (allow, disallow, crawl_delay_ms) for the '*' group(s)."""
    groups: list[tuple[list[str], list[tuple[str, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, str]] = []
    in_agents = False
    for raw in body.split("\n"):
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_agents:  # a new group begins
                if cur_agents:
                    groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
                in_agents = True
            cur_agents.append(val)
        else:
            in_agents = False
            cur_rules.append((key, val))
    if cur_agents:
        groups.append((cur_agents, cur_rules))
    allow: set[str] = set()
    disallow: set[str] = set()
    delay = 3000
    saw_delay = False
    for agents, rules in groups:
        if "*" not in agents:
            continue
        for k, v in rules:
            if k == "allow" and v:
                allow.add(v)
            elif k == "disallow" and v:
                disallow.add(v)
            elif k == "crawl-delay":
                try:
                    ms = round(float(v) * 1000)
                except ValueError:
                    continue
                delay = max(delay if saw_delay else -1, ms)
                saw_delay = True
    return sorted(allow), sorted(disallow), delay


def test_parser_matches_model_on_generated_bodies(spark):
    """Property check: randomized robots bodies (shuffled groups,
    comments, junk lines, UA placement edge cases) parse identically
    to the pure-Python model — one Spark batch for all cases, seeded
    so failures reproduce."""
    import random

    rng = random.Random(42)
    pool = (
        [f"User-agent: {a}" for a in ("*", "googlebot", "yandex", "Mozilla")]
        + [f"Disallow: {p}" for p in ("/a/", "/b", "/private/", "/x y/", "")]
        + [f"Allow: {p}" for p in ("/a/", "/b", "/private/", "")]
        + ["Crawl-delay: 2", "Crawl-delay: 0.5", "crawl-delay: 10"]
        # malformed delays from the untrusted web: must become NULL
        # (try_cast) and fall through to the default, never abort the
        # job under ANSI mode
        + ["Crawl-delay: 10s", "Crawl-delay: fast", "Crawl-delay:"]
        + ["# comment", "", "junk line no colon", "Sitemap: https://x/s.xml",
           "Disallow: /c/ # trailing comment"]
    )
    cases = [
        "\n".join(rng.choice(pool) for _ in range(rng.randrange(0, 15)))
        for _ in range(60)
    ]
    # include targeted edge cases the fuzz might miss
    cases += [
        "Disallow: /before-any-group/\nUser-agent: *\nDisallow: /in-group/",
        "User-agent: *\nUser-agent: googlebot\nDisallow: /shared/",
        "User-agent: *\nDisallow: /g1/\nUser-agent: *\nDisallow: /g2/\nCrawl-delay: 7",
    ]
    df = spark.createDataFrame(
        [(f"h{i}", b) for i, b in enumerate(cases)], "host string, body string"
    )
    got = {r["host"]: r for r in parse_robots_txt(df).collect()}
    for i, body in enumerate(cases):
        allow, disallow, delay = _model_parse(body)
        r = got[f"h{i}"]
        assert sorted(r["disallow_prefixes"]) == disallow, body
        assert r["crawl_delay_ms"] == delay, body
        assert sorted(r["allow_prefixes"]) == allow, body


def test_parsed_policy_drives_apply_robots(spark):
    robots = parse_robots_txt(
        spark.createDataFrame([("h1", FULL)], "host string, body string")
    )
    cand = spark.createDataFrame(
        [
            ("https://h1/private/x", "h1"),
            ("https://h1/public/ok", "h1"),
            ("https://unknown/ok", "unknown"),
        ],
        "url string, host string",
    )
    kept = [r["url"] for r in apply_robots(cand, robots).collect()]
    assert kept == ["https://h1/public/ok"]  # disallow + allow-list enforced


def test_allow_overrides_disallow_longest_match(spark):
    """RFC 9309 §2.2.2: the most specific (longest) matching rule wins,
    and allow wins ties — 'Allow: /public/' under 'Disallow: /' admits
    /public/* while everything else stays blocked."""
    body = "User-agent: *\nAllow: /public/\nDisallow: /\nDisallow: /public/private/"
    robots = parse_robots_txt(
        spark.createDataFrame([("h1", body)], "host string, body string")
    )
    cand = spark.createDataFrame(
        [
            ("https://h1/public/ok", "h1"),        # allow(8) > disallow(1)
            ("https://h1/public/", "h1"),          # tie(8): allow wins
            ("https://h1/other", "h1"),            # disallow(1) > allow(0)
            ("https://h1/public/private/x", "h1"), # disallow(16) > allow(8)
        ],
        "url string, host string",
    )
    kept = sorted(r["url"] for r in apply_robots(cand, robots).collect())
    assert kept == ["https://h1/public/", "https://h1/public/ok"]


def test_block_all_robots_blocks_everything(spark):
    """Regression (round-5 ADVICE): 'User-agent: *' + 'Disallow: /'
    with NO Allow lines must block the entire host. The parser used to
    synthesize allow_prefixes=['/'] for allow-less groups; under
    longest-match that synthetic rule tied the real 'Disallow: /' and
    allow-wins-on-tie admitted every URL."""
    body = "User-agent: *\nDisallow: /"
    robots = parse_robots_txt(
        spark.createDataFrame([("h1", body)], "host string, body string")
    )
    cand = spark.createDataFrame(
        [("https://h1/", "h1"), ("https://h1/any/page", "h1")],
        "url string, host string",
    )
    assert apply_robots(cand, robots).count() == 0


def test_null_body_is_permissive(spark):
    """A NULL robots body (fetch failed, no file) parses to the
    permissive default: apply_robots admits every URL of that host."""
    robots = parse_robots_txt(
        spark.createDataFrame([("h1", None)], "host string, body string")
    )
    cand = spark.createDataFrame(
        [("https://h1/", "h1"), ("https://h1/private/x", "h1")],
        "url string, host string",
    )
    kept = sorted(r["url"] for r in apply_robots(cand, robots).collect())
    assert kept == ["https://h1/", "https://h1/private/x"]


def test_robots_sitemaps_discovery(spark):
    """Sitemap: directives live outside groups, dedupe, honor case-
    insensitive keys, strip comments, and drop relative URLs (the
    spec requires absolute)."""
    from go_scrapper_spark.functions.robotstxt import robots_sitemaps

    body1 = "User-agent: *\nSitemap: https://h1/a.xml\nsitemap: https://h1/b.xml # c\nSitemap: https://h1/a.xml"
    body2 = "SITEMAP: http://h2/s.xml\nSitemap: /relative.xml"
    df = spark.createDataFrame(
        [("h1", body1), ("h2", body2), ("h3", "User-agent: *\nDisallow: /")],
        "host string, body string",
    )
    got = sorted((r["host"], r["sitemap_url"]) for r in robots_sitemaps(df).collect())
    assert got == [
        ("h1", "https://h1/a.xml"),
        ("h1", "https://h1/b.xml"),
        ("h2", "http://h2/s.xml"),
    ]
