"""Deterministic synthetic web (seed=42) — pages/seeds/robots generators.

The crawl engine's input is an immutable table of Common-Crawl-style
pages ``(url, warc_ts, html, text, lang)`` (BASELINE.json input_hint).
This module generates a synthetic web whose page types mirror the
three document shapes the reference consumes (SURVEY.md §3.3):

- business **profile** HTML: ``meta[name="yelp-biz-id"]`` (main.go:494),
  ``script[type="application/ld+json"]`` with aggregateRating/
  reviewCount (main.go:528-553), generic anchors (north-rule outlinks);
- review **feed** JSON pages matching the ``Reviews`` struct
  (main.go:54-101), paginated ``&start=i`` step 10 (main.go:572);
- **not_recommended** HTML pages matching the CSS selectors of
  main.go:830-931, paginated ``?not_recommended_start=i`` (main.go:808).

Everything is a pure function of (seed, biz_id, idx): the Spark
generator (mapInPandas), the golden-fixture tests, and the pure-Python
scheduling model all call the same code, so expected values agree
byte-for-byte. The ``text`` column of each page row is the *expected
extracted text* — the byte-identical-per-url oracle.
"""

from __future__ import annotations

import hashlib
import html as htmllib
import json
from dataclasses import dataclass

from go_scrapper_spark.functions.gojson import go_marshal_string_list  # noqa: F401 (API surface)


@dataclass(frozen=True)
class WebConfig:
    n_biz: int = 20
    n_hosts: int = 5
    seed: int = 42
    max_reviews: int = 35  # normal reviews per business, 0..max
    max_nonrec: int = 12  # not-recommended reviews per business, 0..max
    cross_links: int = 2  # generic profile→profile outlinks
    flaky_mod: int = 13  # md5(url)%mod==0 → first 2 fetch attempts 503
    dead_link_every: int = 7  # every k-th business links one 404 target
    # politeness policy knobs (robots table values; defaults mirror the
    # reference's colly LimitRule — collyfunc.go:115-119, 179)
    max_parallel: int = 10
    crawl_delay_ms: int = 3000
    # review text length scale: word count = text_words + h % (2*text_words).
    # Default 3 keeps the small golden fixtures; benches use ~40 for
    # realistic multi-KB page bodies.
    text_words: int = 3
    # skew exercise (bench + tests): pin this fraction of businesses to
    # host0 on top of the quadratic Zipf head, producing a single host
    # with ~100x the median host's pages. 0.0 = unchanged distribution.
    skew_head_frac: float = 0.0


# --- deterministic primitives ------------------------------------------------

def _h(cfg: WebConfig, *parts) -> int:
    key = f"{cfg.seed}|" + "|".join(str(p) for p in parts)
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")


_WORDS = (
    "amber brick cedar delta ember frost grove harbor iris juniper "
    "kelp lumen maple nectar onyx pine quartz ridge slate timber"
).split()

_NAMES = (
    "Ana Bo Chen Dara Eli Fox Gila Hugo Ira Jun Kai Lea Mo Nia Ode "
    "Pia Quin Rey Sol Tess"
).split()


def host_of_biz(cfg: WebConfig, biz: int) -> str:
    if cfg.skew_head_frac > 0 and (
        (_h(cfg, "skewpin", biz) % 1_000_000) / 1_000_000 < cfg.skew_head_frac
    ):
        return "www.host0.example"
    # quadratic skew: low host ids get the Zipf head (skew exercise)
    r = (_h(cfg, "host", biz) % 1_000_000) / 1_000_000
    return f"www.host{int(cfg.n_hosts * r * r)}.example"


def business_id(cfg: WebConfig, biz: int) -> str:
    return f"bid-{biz:05d}"


def business_name(cfg: WebConfig, biz: int) -> str:
    return f"The {_WORDS[_h(cfg, 'nm', biz) % len(_WORDS)].title()} Spot {biz}"


def review_count(cfg: WebConfig, biz: int) -> int:
    return _h(cfg, "rc", biz) % (cfg.max_reviews + 1)


def nonrec_count(cfg: WebConfig, biz: int) -> int:
    return _h(cfg, "nc", biz) % (cfg.max_nonrec + 1)


def agg_score(cfg: WebConfig, biz: int) -> float:
    return round(1.0 + (_h(cfg, "sc", biz) % 40) / 10.0, 1)


# --- URLs (already RFC-3986 canonical: lowercase, sorted query) --------------

def profile_url(cfg: WebConfig, biz: int) -> str:
    return f"https://{host_of_biz(cfg, biz)}/biz/the-spot-{biz}"


def feed_url(cfg: WebConfig, biz: int, start: int) -> str:
    bid = business_id(cfg, biz)
    return (
        f"https://{host_of_biz(cfg, biz)}/biz/{bid}/review_feed"
        f"?rl=en&sort_by=date_desc&start={start}"
    )


def nonrec_root_url(cfg: WebConfig, biz: int) -> str:
    return f"https://{host_of_biz(cfg, biz)}/not_recommended_reviews/{business_id(cfg, biz)}"


def nonrec_page_url(cfg: WebConfig, biz: int, start: int) -> str:
    return f"{nonrec_root_url(cfg, biz)}?not_recommended_start={start}"


SEARCH_HOST = "www.search.example"


def needs_search(cfg: WebConfig, biz: int) -> bool:
    """Every 3rd task ships without a profile_key and goes through the
    search → hovercard → match resolution phase (main.go:263-267)."""
    return biz % 3 == 1


def search_url(cfg: WebConfig, biz: int) -> str:
    """Search URL built like main.go:427-430 (QueryEscape name + loc),
    then RFC-3986-canonicalized (query params sorted)."""
    from urllib.parse import quote_plus

    s = seed_address(cfg, biz)
    address = f"{s['street']} {s['state']} {s['city']} {s['zip']}"
    name = business_name(cfg, biz)
    return (
        f"https://{SEARCH_HOST}/search"
        f"?find_desc={quote_plus(name)}&find_loc={quote_plus(address)}"
    )


def seed_address(cfg: WebConfig, biz: int) -> dict:
    return {
        "street": f"{100 + biz} Main St",
        "city": "Springfield",
        "state": "OR",
        "zip": f"97{biz % 100:03d}",
    }


def search_candidates(cfg: WebConfig, biz: int) -> list[dict]:
    """Hovercard candidates: the true business, a decoy, and an ad
    (filtered by F3, main.go:401). Flat objects only — the reference's
    non-greedy island regex (main.go:366) requires no nested '}}'
    before the end of the hovercard map."""
    decoy = (biz + 7) % cfg.n_biz
    addr = seed_address(cfg, biz)
    return [
        {
            "key": f"c{biz}a",
            "name": business_name(cfg, biz) + " Annex",
            "addressLines": [f"{900 + biz} Side St", "Springfield"],
            "businessUrl": profile_url(cfg, decoy),
            "numReviews": float(review_count(cfg, decoy)),
            "isAd": False,
        },
        {
            "key": f"c{biz}b",
            "name": business_name(cfg, biz),
            "addressLines": [addr["street"], f"Springfield, OR {addr['zip']}"],
            "businessUrl": profile_url(cfg, biz),
            "numReviews": float(review_count(cfg, biz)),
            "isAd": False,
        },
        {
            "key": f"c{biz}c",
            "name": "Sponsored " + business_name(cfg, biz),
            "addressLines": ["1 Ad Way"],
            "businessUrl": profile_url(cfg, (biz + 3) % cfg.n_biz),
            "numReviews": 999.0,
            "isAd": True,
        },
    ]


def search_page_html(cfg: WebConfig, biz: int) -> tuple[str, str]:
    """Search result page with the hovercardData JSON island inside a
    script[type="application/json"] (main.go:364-372)."""
    cands = search_candidates(cfg, biz)
    hover = {
        c["key"]: {
            "name": c["name"],
            "addressLines": c["addressLines"],
            "businessUrl": c["businessUrl"],
            "numReviews": c["numReviews"],
            "isAd": c["isAd"],
        }
        for c in cands
    }
    island = json.dumps({"hovercardData": hover}, separators=(",", ":"))
    page = (
        "<html><body>"
        f'<script type="application/json">{island}</script>'
        f"<h2>results for {_esc(business_name(cfg, biz))}</h2>"
        "</body></html>"
    )
    return page, f"results for {business_name(cfg, biz)}"


def fail_attempts_for(cfg: WebConfig, url: str) -> int:
    """Transient-failure injection: first N fetch attempts return 503.
    Deterministic from the url — computed identically by the engine's
    fetch stage (native-expression twin below) and the reference model."""
    v = int(hashlib.md5(url.encode()).hexdigest()[:8], 16)
    return 2 if v % cfg.flaky_mod == 0 else 0


def fail_attempts_col(cfg: WebConfig):
    """JVM-native twin of fail_attempts_for — keeps the fetch stage free
    of Python (md5 hex prefix → int, same arithmetic)."""
    from pyspark.sql import functions as F

    v = F.conv(F.substring(F.md5(F.col("url").cast("binary")), 1, 8), 16, 10).cast("long")
    return F.when(v % cfg.flaky_mod == 0, F.lit(2)).otherwise(F.lit(0))


# --- review content -----------------------------------------------------------

def _display_text(cfg: WebConfig, biz: int, idx: int, non_rec: bool, prev: bool) -> str:
    """Human text; every 5th contains & < > to exercise the unescape +
    Go-JSON-escape paths (main.go:687, 1029-1031)."""
    kind = f"{'n' if non_rec else 'r'}{'p' if prev else ''}"
    words = [
        _WORDS[_h(cfg, "w", biz, idx, kind, j) % len(_WORDS)]
        for j in range(cfg.text_words + _h(cfg, "tl", biz, idx, kind) % (2 * cfg.text_words))
    ]
    base = " ".join(words)
    m = _h(cfg, "sp", biz, idx, kind) % 5
    if m == 0:
        base += " & <great>"
    return f"{base} ({kind}{idx})"


def _author(cfg: WebConfig, biz: int, idx: int, non_rec: bool) -> str:
    nm = _NAMES[_h(cfg, "an", biz, idx, non_rec) % len(_NAMES)]
    suffix = " & Co." if _h(cfg, "as", biz, idx, non_rec) % 7 == 0 else ""
    return f"{nm} {chr(65 + idx % 26)}.{suffix}"


def _date(cfg: WebConfig, biz: int, idx: int, non_rec: bool) -> str:
    """M/D/YYYY without zero padding (Go layout 1/2/2006, main.go:676).
    idx//3 grouping creates equal-date ties (W1 tiebreak exercise)."""
    g = idx // 3
    m = 1 + _h(cfg, "dm", biz, g, non_rec) % 12
    d = 1 + _h(cfg, "dd", biz, g, non_rec) % 28
    y = 2019 + _h(cfg, "dy", biz, g, non_rec) % 6
    return f"{m}/{d}/{y}"


def make_review(cfg: WebConfig, biz: int, idx: int, non_rec: bool = False) -> dict:
    """The logical review record (display form, pre-escape/pre-b64)."""
    h = _h(cfg, "rv", biz, idx, non_rec)
    rev = {
        "review_id": f"{'N' if non_rec else 'R'}{biz}-{idx}",
        "author_id": f"U{biz}-{idx}{'n' if non_rec else ''}",
        "author_name": _author(cfg, biz, idx, non_rec),
        "text": _display_text(cfg, biz, idx, non_rec, prev=False),
        "rating": 1 + h % 5,
        "source_date": _date(cfg, biz, idx, non_rec),
        "photos": [
            f"https://{host_of_biz(cfg, biz)}/photo/{biz}/{idx}/{j}.jpg"
            for j in range(h % 3 if not non_rec else min(h % 3, 1))
        ],
        "owner_reply": None,
        "previous": None,
    }
    if idx % 3 == 0:
        rev["owner_reply"] = {
            "author_name": _author(cfg, biz, idx + 100, non_rec),
            "text": _display_text(cfg, biz, idx + 100, non_rec, prev=False) + " (reply)",
            "posted_at": _date(cfg, biz, idx + 100, non_rec),
        }
    if idx % 4 == 1:
        p = {
            "review_id": f"{'NP' if non_rec else 'RP'}{biz}-{idx}",
            "author_id": rev["author_id"] if non_rec else f"U{biz}-{idx}p",
            "author_name": rev["author_name"] if non_rec else _author(cfg, biz, idx + 200, non_rec),
            "text": _display_text(cfg, biz, idx, non_rec, prev=True),
            "rating": 1 + _h(cfg, "pr", biz, idx, non_rec) % 5,
            "source_date": _date(cfg, biz, idx + 1000, non_rec),
            "photos": [],
            "owner_reply": None,
            # trailing-text fallback path (main.go:908-913) for every 8th
            "fallback_text": non_rec and (idx % 8 == 1),
        }
        rev["previous"] = p
    return rev


# --- page bodies --------------------------------------------------------------

def _esc(s: str) -> str:
    return htmllib.escape(s, quote=False)


def feed_page_json(cfg: WebConfig, biz: int, start: int) -> tuple[str, str]:
    """(json_body, expected_text) for the review_feed endpoint page.
    JSON shape = the Reviews struct (main.go:54-101); text fields carry
    HTML entities that the consumer unescapes (main.go:687)."""
    n = review_count(cfg, biz)
    out = []
    texts: list[str] = []
    for i in range(start, min(start + 10, n)):
        r = make_review(cfg, biz, i, non_rec=False)
        obj = {
            "comment": {"text": _esc(r["text"])},
            "rating": r["rating"],
            "photos": [{"src": s} for s in r["photos"]],
            "userId": r["author_id"],
            "id": r["review_id"],
            "localizedDate": r["source_date"],
            "user": {"markupDisplayName": r["author_name"]},
            "businessOwnerReplies": [],
            "previousReviews": [],
        }
        if r["owner_reply"]:
            obj["businessOwnerReplies"] = [
                {
                    "owner": {"displayName": r["owner_reply"]["author_name"]},
                    "comment": _esc(r["owner_reply"]["text"]),
                    "localizedDate": r["owner_reply"]["posted_at"],
                }
            ]
        if r["previous"]:
            p = r["previous"]
            obj["previousReviews"] = [
                {
                    "comment": {"text": _esc(p["text"])},
                    "rating": p["rating"],
                    "photos": [],
                    "userId": p["author_id"],
                    "id": p["review_id"],
                    "localizedDate": p["source_date"],
                    "user": {"markupDisplayName": p["author_name"]},
                    "businessOwnerReplies": [],
                }
            ]
            texts.append(p["text"])
        texts.append(r["text"])
        out.append(obj)
    return json.dumps({"reviews": out}, ensure_ascii=False), "\n".join(texts)


def profile_page_html(cfg: WebConfig, biz: int) -> tuple[str, str]:
    """(html, expected_text) for the business profile page."""
    bid = business_id(cfg, biz)
    name = business_name(cfg, biz)
    rc = review_count(cfg, biz)
    score = agg_score(cfg, biz)
    links: list[str] = []
    for k in range(cfg.cross_links):
        other = _h(cfg, "xl", biz, k) % cfg.n_biz
        if other != biz:
            links.append(f'<a href="{profile_url(cfg, other)}">also try</a>')
    links.append('<a href="/private/admin">internal</a>')  # robots-disallowed
    links.append('<a href="https://www.offsite.example/x">offsite</a>')  # host filter
    if biz % cfg.dead_link_every == 0:
        links.append(f'<a href="/missing/{biz}">gone</a>')  # 404 target
    ld = json.dumps(
        {"aggregateRating": {"ratingValue": score, "reviewCount": rc}},
        separators=(",", ":"),
    )
    page = (
        "<html><head>"
        f'<meta name="yelp-biz-id" content="{bid}">'
        f'<script type="application/ld+json">{ld}</script>'
        "</head><body>"
        f"<h1>{_esc(name)}</h1>"
        f'<div class="links">{"".join(links)}</div>'
        "</body></html>"
    )
    return page, name


def nonrec_root_html(cfg: WebConfig, biz: int) -> tuple[str, str]:
    n = nonrec_count(cfg, biz)
    h3 = f"{n} reviews that are not currently recommended"
    page = f"<html><body><h3>{h3}</h3></body></html>"
    return page, h3


def _nonrec_li(cfg: WebConfig, biz: int, idx: int) -> str:
    r = make_review(cfg, biz, idx, non_rec=True)
    photos_html = "".join(
        f'<ul class="photo-box-grid"><div class="photo-box">'
        f'<img class="photo-box-img" data-async-src="{s}"></div></ul>'
        for s in r["photos"]
    )
    reply_html = ""
    if r["owner_reply"]:
        rp = r["owner_reply"]
        reply_html = (
            '<div class="biz-owner-reply">'
            f'<div class="biz-owner-reply-header"><strong>Comment from {_esc(rp["author_name"])}</strong></div>'
            f'<span class="bullet-after">{rp["posted_at"]}</span>'
            f'<span class="js-content-toggleable hidden">{_esc(rp["text"])}</span>'
            "</div>"
        )
    prev_html = ""
    if r["previous"]:
        p = r["previous"]
        if p["fallback_text"]:
            body = f"\n{_esc(p['text'])}\n"
        else:
            body = (
                f'<span class="js-expandable-comment">'
                f'<span class="js-content-toggleable">{_esc(p["text"])}</span></span>'
            )
        prev_html = (
            '<div class="previous-review">'
            f'<span class="rating-qualifier">{p["source_date"]} earlier</span>'
            f'<div class="biz-rating"><i class="i-stars regular-{p["rating"]}"></i></div>'
            f"{body}"
            "</div>"
        )
    return (
        "<li>"
        f'<div class="review--with-sidebar" data-review-id="{r["review_id"]}">'
        '<div class="review-sidebar">'
        f'<a class="user-display-name" href="/user?\'userid={r["author_id"]}">{_esc(r["author_name"])}</a>'
        "</div>"
        '<div class="review-wrapper">'
        '<div class="review-content">'
        f"<p>{_esc(r['text'])}</p>"
        f'<span class="rating-qualifier">{r["source_date"]} via web</span>'
        "</div>"
        f'<div class="biz-rating"><i class="i-stars regular-{r["rating"]}"></i></div>'
        f"{reply_html}"
        "</div>"
        f"{photos_html}"
        f"{prev_html}"
        "</div>"
        "</li>"
    )


def nonrec_page_html(cfg: WebConfig, biz: int, start: int) -> tuple[str, str]:
    n = nonrec_count(cfg, biz)
    lis = []
    texts: list[str] = []
    for i in range(start, min(start + 10, n)):
        lis.append(_nonrec_li(cfg, biz, i))
        r = make_review(cfg, biz, i, non_rec=True)
        if r["previous"]:
            texts.append(r["previous"]["text"])
        texts.append(r["text"])
    page = (
        "<html><body>"
        '<div class="not-recommended-reviews"><ul class="reviews">'
        + "".join(lis)
        + "</ul></div></body></html>"
    )
    return page, "\n".join(texts)


# --- page enumeration ---------------------------------------------------------

_WARC_EPOCH = 1700000000  # fixed; warc_ts = epoch + biz (determinism: P11)


def pages_for_biz(cfg: WebConfig, biz: int) -> list[tuple[str, int, bytes, str, str]]:
    """All stored pages for one business:
    (url, warc_ts_unix, html_bytes, expected_text, lang)."""
    rows = []
    ts = _WARC_EPOCH + biz
    lang = ("en", "es", "de", "fr")[_h(cfg, "lg", biz) % 4]

    if needs_search(cfg, biz):
        h, t = search_page_html(cfg, biz)
        rows.append((search_url(cfg, biz), ts, h.encode(), t, lang))

    h, t = profile_page_html(cfg, biz)
    rows.append((profile_url(cfg, biz), ts, h.encode(), t, lang))

    rc = review_count(cfg, biz)
    for start in range(0, rc, 10):
        b, t = feed_page_json(cfg, biz, start)
        rows.append((feed_url(cfg, biz, start), ts, b.encode(), t, lang))

    h, t = nonrec_root_html(cfg, biz)
    rows.append((nonrec_root_url(cfg, biz), ts, h.encode(), t, lang))

    nc = nonrec_count(cfg, biz)
    for start in range(0, nc, 10):
        h, t = nonrec_page_html(cfg, biz, start)
        rows.append((nonrec_page_url(cfg, biz, start), ts, h.encode(), t, lang))
    return rows


def all_hosts(cfg: WebConfig) -> list[str]:
    return sorted({host_of_biz(cfg, b) for b in range(cfg.n_biz)})


def robots_rows(cfg: WebConfig) -> list[dict]:
    """Politeness policy per host (FIXTURES.md §3): /private/ disallowed
    everywhere; delay/parallel mirror the reference's colly LimitRule
    (Delay 3s, Parallelism 10 — collyfunc.go:115-119, 179)."""
    return [
        {
            "host": h,
            "allow_prefixes": ["/"],
            "disallow_prefixes": ["/private/"],
            "crawl_delay_ms": cfg.crawl_delay_ms,
            "max_parallel": cfg.max_parallel,
        }
        for h in all_hosts(cfg)
    ]


def seed_rows(cfg: WebConfig, last_hashes: dict[int, list[str]] | None = None) -> list[dict]:
    """One crawl task per business (Spider struct mirror). Tasks with an
    empty profile_key take the search→match resolution path
    (main.go:263-267). ``last_hashes`` (biz → review hashes) marks
    tasks as incremental (G3 probe-window mode)."""
    out = []
    for b in range(cfg.n_biz):
        addr = seed_address(cfg, b)
        out.append(
            {
                "task_id": b,
                "profile_key": "" if needs_search(cfg, b) else profile_url(cfg, b),
                "business_name": business_name(cfg, b),
                **addr,
                "last_review_hashes": list((last_hashes or {}).get(b, [])),
                "first_page_only": 1 if b % 5 == 4 else 0,
                "proxy": "",
                "business_id": b,
                "client_id": 1,
                "batch_id": 1,
                "additional_cookies": None,
                "other_proxies": [],
                "seq": b,
            }
        )
    return out


def robots_df(spark, cfg: WebConfig):
    from go_scrapper_spark.schemas import ROBOTS_SCHEMA
    from go_scrapper_spark.session import local_table

    return local_table(spark, robots_rows(cfg), ROBOTS_SCHEMA)


def seeds_df(spark, cfg: WebConfig, last_hashes: dict[int, list[str]] | None = None):
    from go_scrapper_spark.schemas import SEEDS_SCHEMA
    from go_scrapper_spark.session import local_table

    return local_table(spark, seed_rows(cfg, last_hashes), SEEDS_SCHEMA)


# --- Spark-side generator ------------------------------------------------------

def generate_pages_df(spark, cfg: WebConfig, n_partitions: int | None = None):
    """Distributed pages-table build: spark.range over biz ids →
    mapInPandas (Arrow-batched) page synthesis. At 100 TB scale the
    pages table is a pre-existing Iceberg/Parquet corpus; this generator
    exists to materialize a deterministic stand-in of the same shape."""
    import pandas as pd  # local import: runs on executors

    n_partitions = n_partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(it):
        for pdf in it:
            out = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
            for biz in pdf["id"]:
                for url, ts, body, text, lang in pages_for_biz(cfg, int(biz)):
                    out["url"].append(url)
                    out["warc_ts"].append(pd.Timestamp(ts, unit="s"))
                    out["html"].append(body)
                    out["text"].append(text)
                    out["lang"].append(lang)
            yield pd.DataFrame(out)

    return (
        spark.range(0, cfg.n_biz, numPartitions=n_partitions)
        .mapInPandas(gen, schema="url string, warc_ts timestamp, html binary, text string, lang string")
    )
