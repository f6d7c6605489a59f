"""Vectorized page extraction (SURVEY.md P1-P21, G1-G4, §2.10).

One ``mapInPandas`` pass per fetched wave: each page's html is read
once and yields a tagged union of rows — ``review`` records,
``outlink`` frontier candidates, ``pagemeta`` (business_id /
review_count / histogram), and ``pagetext`` (the page-level extracted
text, the byte-identical-per-url invariant). This mirrors the
reference's OnHTML/OnResponse callbacks (main.go:355-931) but runs as
Arrow-batched columnar Python — never per-row Python through the JVM
boundary.

Page-type dispatch (by URL shape, as the reference dispatches by
collector):
- ``/review_feed?`` → JSON decode of the Reviews struct (main.go:671-744)
- ``/not_recommended_reviews/...?not_recommended_start=`` → per-<li>
  CSS extraction (main.go:830-931)
- ``/not_recommended_reviews/...`` (no query) → count bootstrap + fanout
  (main.go:771-815)
- otherwise → profile page: biz-id, histogram, review-feed fanout,
  non-rec bootstrap link, generic outlinks (main.go:491-598 + north rule G4)
"""

from __future__ import annotations

import html as htmllib
import json
import re
from typing import Iterator

import pandas as pd

from go_scrapper_spark.functions import htmlmini
from go_scrapper_spark.functions.gojson import review_hash
from go_scrapper_spark.functions.urltools import canonicalize_url, resolve_url

# seq-space offsets for discovered URLs, relative to the parent's seq.
# Encodes the reference's issue order (profile → feed 0,10,… → non-rec
# root → non-rec 0,10,…; main.go:572-576, 584-594, 808-812).
SEQ_FEED = 1_000
SEQ_NONREC_ROOT = 500_000
SEQ_NONREC_PAGE = 10
SEQ_GENERIC = 2_000_000

_RE_REVIEW_COUNT = re.compile(r"\"reviewCount\":(\d*)")  # main.go:550
_RE_BUSINESS_ID = re.compile(r"\"business_id\":([^],].)+")  # main.go:500
_RE_NONREC_COUNT = re.compile(r"(\d+)")  # main.go:776
_RE_RATING = re.compile(r"regular-\s*(\d+)")  # main.go:852
_RE_AUTHOR_ID = re.compile(r"'userid=(.*)")  # main.go:840


def _dom_text(node) -> str:
    """goquery .Text() equivalent: our DOM keeps entities raw, so one
    unescape reproduces goquery's decoded text."""
    return htmllib.unescape(node.text())


_UNION_COLS = [
    "kind", "url", "out_url", "out_depth", "out_seq", "out_fpo",
    "business_id", "review_count", "non_rec_count", "agg_score",
    "parent_id", "review_id", "author_id", "author_name", "text",
    "rating", "source_date", "not_recommended", "photos", "responses",
    "review_hash", "arrival_idx",
]

EXTRACT_UNION_DDL = (
    "kind string, url string, out_url string, out_depth int, out_seq long, out_fpo int, "
    "business_id string, review_count int, non_rec_count int, agg_score double, "
    "parent_id string, review_id string, author_id string, author_name string, "
    "text string, rating int, source_date string, not_recommended boolean, "
    "photos array<string>, "
    "responses array<struct<author_name:string,text:string,posted_at:string>>, "
    "review_hash string, arrival_idx long"
)


def _row(kind: str, url: str, **kw) -> dict:
    base = {c: None for c in _UNION_COLS}
    base["kind"] = kind
    base["url"] = url
    base.update(kw)
    return base


def _review_row(url: str, seq: int, idx: int, *, parent_id, review_id, author_id,
                author_name, text, rating, source_date, not_recommended,
                photos, responses) -> dict:
    first_resp = responses[0]["text"] if responses else None
    return _row(
        "review", url,
        parent_id=parent_id, review_id=review_id, author_id=author_id,
        author_name=author_name, text=text, rating=rating,
        source_date=source_date, not_recommended=not_recommended,
        photos=photos, responses=responses or None,
        review_hash=review_hash(text, author_name, first_resp, review_id),
        arrival_idx=seq * 100 + idx,
    )


# --- per-page extractors ------------------------------------------------------

def _extract_feed(url: str, body: bytes, depth: int, seq: int, fpo: int = 0) -> list[dict]:
    """JSON review-feed page → review rows (main.go:671-744).
    Previous reviews are emitted before their parent, mirroring the
    reference's safeReviewAdd arrival order (main.go:735-738)."""
    data = json.loads(body.decode("utf-8"))
    rows: list[dict] = []
    texts: list[str] = []
    idx = 0
    for obj in data.get("reviews") or []:
        parent_replies = [
            {
                "author_name": (r.get("owner") or {}).get("displayName"),
                "text": htmllib.unescape(r.get("comment") or ""),
                "posted_at": r.get("localizedDate"),
            }
            for r in obj.get("businessOwnerReplies") or []
        ]
        for p in obj.get("previousReviews") or []:
            p_replies = [
                {
                    "author_name": (r.get("owner") or {}).get("displayName"),
                    "text": htmllib.unescape(r.get("comment") or ""),
                    "posted_at": r.get("localizedDate"),
                }
                for r in p.get("businessOwnerReplies") or []
            ]
            p_text = htmllib.unescape((p.get("comment") or {}).get("text") or "")
            texts.append(p_text)
            rows.append(
                _review_row(
                    url, seq, idx,
                    parent_id=obj.get("id"), review_id=p.get("id"),
                    author_id=p.get("userId"),
                    author_name=(p.get("user") or {}).get("markupDisplayName"),
                    text=p_text, rating=p.get("rating"),
                    source_date=p.get("localizedDate"), not_recommended=None,
                    photos=[ph["src"] for ph in p.get("photos") or []] or None,
                    responses=p_replies,
                )
            )
            idx += 1
        text = htmllib.unescape((obj.get("comment") or {}).get("text") or "")
        texts.append(text)
        rows.append(
            _review_row(
                url, seq, idx,
                parent_id=None, review_id=obj.get("id"), author_id=obj.get("userId"),
                author_name=(obj.get("user") or {}).get("markupDisplayName"),
                text=text, rating=obj.get("rating"),
                source_date=obj.get("localizedDate"), not_recommended=None,
                photos=[ph["src"] for ph in obj.get("photos") or []] or None,
                responses=parent_replies,
            )
        )
        idx += 1
    rows.append(_row("pagetext", url, text="\n".join(texts)))
    return rows


def _extract_profile(url: str, body: bytes, depth: int, seq: int, fpo: int = 0) -> list[dict]:
    """Profile page (main.go:491-598): biz-id via meta tag else regex,
    histogram via ld+json, feed-page fanout (G1), non-rec bootstrap
    (G2), generic outlinks (G4, north rule)."""
    dom = htmlmini.parse_html(body.decode("utf-8"))
    rows: list[dict] = []

    bid = htmlmini.child_attr(dom, 'meta[name="yelp-biz-id"]', "content")
    if bid:
        bid = bid.split("\n")[0]
    if not bid:
        # fallback regex path (main.go:497-509)
        scripts = htmlmini.child_texts(dom, "script:contains(business_id)")
        if scripts:
            m = _RE_BUSINESS_ID.search(scripts[0])
            if m and "," in m.group(0):
                bid = re.sub('"|]', "", m.group(0).split(",")[1])

    agg = None
    review_count = None
    ld_text = htmlmini.child_text(dom, 'script[type="application/ld+json"]')
    if ld_text:
        m = _RE_REVIEW_COUNT.search(ld_text)
        if m and m.group(1):
            review_count = int(m.group(1))
        try:
            agg = float(
                json.loads(ld_text).get("aggregateRating", {}).get("ratingValue")
            )
        except (ValueError, TypeError, json.JSONDecodeError):
            agg = None

    rows.append(
        _row("pagemeta", url, business_id=bid or None,
             review_count=review_count, agg_score=agg)
    )
    h1 = htmlmini.select(dom, "h1")
    rows.append(_row("pagetext", url, text=_dom_text(h1[0]).strip() if h1 else ""))

    if bid:
        if review_count:
            feed_base = resolve_url(
                url, f"/biz/{bid}/review_feed?rl=en&sort_by=date_desc"
            )
            # FirstPageOnly: a single start=0 request (main.go:568-571)
            stops = range(0, 1 if fpo else review_count, 10)
            for i in stops:
                rows.append(
                    _row("outlink", url,
                         out_url=canonicalize_url(f"{feed_base}&start={i}"),
                         out_depth=depth + 1, out_seq=seq + SEQ_FEED + i,
                         out_fpo=fpo)
                )
        rows.append(
            _row("outlink", url,
                 out_url=canonicalize_url(
                     resolve_url(url, f"/not_recommended_reviews/{bid}")
                 ),
                 out_depth=depth + 1, out_seq=seq + SEQ_NONREC_ROOT,
                 out_fpo=fpo)
        )

    k = 0
    for a in htmlmini.select(dom, "a"):
        href = a.attrs.get("href")
        if not href or href.startswith(("/biz/" + (bid or "§"),)):
            continue
        rows.append(
            _row("outlink", url,
                 out_url=canonicalize_url(resolve_url(url, href)),
                 out_depth=depth + 1, out_seq=seq + SEQ_GENERIC + k,
                 out_fpo=fpo)
        )
        k += 1
    return rows


def _extract_nonrec_root(url: str, body: bytes, depth: int, seq: int, fpo: int = 0) -> list[dict]:
    """Non-recommended bootstrap page (main.go:771-815): parse the h3
    count, fan out ?not_recommended_start=i pages step 10."""
    dom = htmlmini.parse_html(body.decode("utf-8"))
    rows: list[dict] = []
    count = None
    for v in htmlmini.child_texts(dom, "h3"):
        if "recommended" in v:
            m = _RE_NONREC_COUNT.search(v)
            if m:
                count = int(m.group(1))
    rows.append(_row("pagemeta", url, non_rec_count=count))
    h3 = htmlmini.select(dom, "h3")
    rows.append(_row("pagetext", url, text=_dom_text(h3[0]).strip() if h3 else ""))
    if count:
        for i in range(0, 1 if fpo else count, 10):
            rows.append(
                _row("outlink", url,
                     out_url=canonicalize_url(f"{url}?not_recommended_start={i}"),
                     out_depth=depth + 1, out_seq=seq + SEQ_NONREC_PAGE + i,
                     out_fpo=fpo)
            )
    return rows


def _extract_nonrec_page(url: str, body: bytes, depth: int, seq: int, fpo: int = 0) -> list[dict]:
    """Per-<li> CSS extraction of not-recommended reviews
    (main.go:836-931), including the reference's quirks:
    - author_id keeps the ``'userid=`` prefix (FindStringSubmatch()[0],
      main.go:841);
    - previous-review photos use ChildText on <img> → always empty
      (main.go:903-906);
    - trailing-text fallback for previous reviews (main.go:908-913)."""
    dom = htmlmini.parse_html(body.decode("utf-8"))
    rows: list[dict] = []
    texts: list[str] = []
    idx = 0
    for li in htmlmini.select(dom, "div.not-recommended-reviews > ul.reviews > li"):
        href = htmlmini.child_attr(li, "div.review-sidebar .user-display-name", "href")
        author_id = None
        if href:
            m = _RE_AUTHOR_ID.search(href)
            if m:
                author_id = m.group(0)  # full match incl. 'userid= (Go quirk)
        author_name = htmllib.unescape(
            htmlmini.child_text(li, "div.review-sidebar .user-display-name")
        )
        raw_text = htmlmini.child_text(li, "div.review-wrapper div.review-content p")
        # ChildText already decoded once by goquery; reference unescapes again
        text = htmllib.unescape(htmllib.unescape(raw_text))
        qual = htmlmini.child_text(
            li, "div.review-wrapper div.review-content .rating-qualifier"
        )
        source_date = qual.split()[0] if qual.split() else None
        rev_id = htmlmini.child_attr(li, "div.review--with-sidebar", "data-review-id")
        m = _RE_RATING.search(htmlmini.child_attr(li, ".biz-rating .i-stars", "class"))
        rating = int(m.group(1)) if m else None
        photos = None
        p = htmlmini.child_attr(
            li, "ul.photo-box-grid div.photo-box img.photo-box-img", "data-async-src"
        )
        if p:
            photos = [p]
        responses = []
        if htmlmini.child_text(li, "div.review-wrapper div.biz-owner-reply span.bullet-after"):
            responses = [
                {
                    "author_name": htmllib.unescape(
                        htmlmini.child_text(li, "div.biz-owner-reply-header strong")
                    ).replace("Comment from ", ""),
                    "text": htmllib.unescape(htmllib.unescape(
                        htmlmini.child_text(li, "span.js-content-toggleable.hidden")
                    )),
                    "posted_at": htmlmini.child_text(
                        li, "div.biz-owner-reply span.bullet-after"
                    ),
                }
            ]

        prev_rows = []
        for elem in htmlmini.select(li, "div.previous-review"):
            pq = htmlmini.child_text(elem, ".rating-qualifier").split()
            p_date = pq[0] if pq else None
            pm = _RE_RATING.search(
                htmlmini.child_attr(elem, ".biz-rating .i-stars", "class")
            )
            p_rating = int(pm.group(1)) if pm else None
            p_photo = htmlmini.child_text(
                elem, "ul.photo-box-grid div.photo-box img.photo-box-img"
            )
            p_photos = [p_photo] if p_photo else None
            p_raw = htmlmini.child_text(
                elem, "span.js-expandable-comment span.js-content-toggleable"
            )
            if p_raw == "" and len(elem.text()) > 1:
                # trailing-text fallback (main.go:908-913)
                last_text = _dom_text(elem).rstrip("\t \n")
                parts = last_text.split("\n")
                p_raw = parts[-1].strip()
                p_text = htmllib.unescape(p_raw)
            else:
                p_text = htmllib.unescape(htmllib.unescape(p_raw))
            texts.append(p_text)
            prev_rows.append(
                dict(parent_id=rev_id, review_id=None, author_id=author_id,
                     author_name=author_name, text=p_text, rating=p_rating,
                     source_date=p_date, not_recommended=True,
                     photos=p_photos, responses=[])
            )
        for pr in prev_rows:
            rows.append(_review_row(url, seq, idx, **pr))
            idx += 1
        texts.append(text)
        rows.append(
            _review_row(
                url, seq, idx,
                parent_id=None, review_id=rev_id or None, author_id=author_id,
                author_name=author_name, text=text, rating=rating,
                source_date=source_date, not_recommended=True,
                photos=photos, responses=responses,
            )
        )
        idx += 1
    rows.append(_row("pagetext", url, text="\n".join(texts)))
    return rows


_RE_HOVERCARD = re.compile(r"\"hovercardData\":{(.*?)}}")  # main.go:366


def extract_search_candidates(url: str, body: bytes) -> list[dict]:
    """Search-page hovercard extraction (main.go:355-412):
    - only scripts containing both 'hovercardData' and 'addressLines' (F2);
    - the JSON island is carved with the reference's non-greedy regex
      and re-wrapped in braces (main.go:366-369);
    - addressLines reproduces Go's fmt.Sprintf("%v", []) + bracket-strip
      formatting (main.go:386-388): lines joined by single spaces;
    - ads dropped (F3, main.go:401).
    Candidates are returned sorted by key for determinism (Go map
    iteration order is random — a documented determinized divergence,
    same class as S11)."""
    dom = htmlmini.parse_html(body.decode("utf-8"))
    out: list[dict] = []
    for v in htmlmini.child_texts(dom, 'script[type="application/json"]'):
        if "hovercardData" not in v or "addressLines" not in v:
            continue
        m = _RE_HOVERCARD.search(v)
        if not m:
            continue
        data = json.loads("{" + m.group(0) + "}")
        hover = data.get("hovercardData") or {}
        for key in sorted(hover):
            c = hover[key]
            if not isinstance(c, dict) or c.get("isAd", True):
                continue
            lines = c.get("addressLines") or []
            s = "[" + " ".join(str(x) for x in lines) + "]"
            text = s[1 : s.index("]")]
            out.append(
                {
                    "cand_name": c.get("name") or "",
                    "cand_text": text,
                    "cand_url": c.get("businessUrl") or "",
                    "cand_reviews": float(c.get("numReviews") or 0.0),
                }
            )
    return out


def _extract_search_page(url: str, body: bytes) -> list[dict]:
    """Search pages are consumed by the resolution pre-phase
    (plans/search.py); in a bulk extraction pass they contribute only
    their page text (no outlinks — the reference never crawls outward
    from search results, main.go:355-425)."""
    dom = htmlmini.parse_html(body.decode("utf-8"))
    h2 = htmlmini.select(dom, "h2")
    return [_row("pagetext", url, text=_dom_text(h2[0]).strip() if h2 else "")]


def extract_page(url: str, body: bytes, depth: int = 0, seq: int = 0,
                 fpo: int = 0) -> list[dict]:
    """Dispatch one page to its extractor. Pure function — shared by the
    Spark operator below and the pure-Python reference model. ``fpo``
    is the task's FirstPageOnly flag, inherited down the discovery
    chain (main.go:568-571, 803-806)."""
    if "/review_feed?" in url:
        return _extract_feed(url, body, depth, seq, fpo)
    if "/not_recommended_reviews/" in url:
        if "not_recommended_start=" in url:
            return _extract_nonrec_page(url, body, depth, seq, fpo)
        return _extract_nonrec_root(url, body, depth, seq, fpo)
    if "/search?" in url:
        return _extract_search_page(url, body)
    return _extract_profile(url, body, depth, seq, fpo)


def extract_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (url, html, depth, seq) batches → union rows."""
    for pdf in it:
        out: list[dict] = []
        for url, body, depth, seq, fpo in zip(
            pdf["url"], pdf["html"], pdf["depth"], pdf["seq"], pdf["fpo"]
        ):
            out.extend(extract_page(url, bytes(body), int(depth), int(seq), int(fpo)))
        yield pd.DataFrame(out, columns=_UNION_COLS)


def extract_pages(fetched_df):
    """DataFrame[url, html, depth, seq, ...] → tagged-union DataFrame.
    Arrow-batched; html is read exactly once per page."""
    return fetched_df.select("url", "html", "depth", "seq", "fpo").mapInPandas(
        extract_batches, schema=EXTRACT_UNION_DDL
    )
