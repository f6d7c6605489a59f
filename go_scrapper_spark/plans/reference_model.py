"""Executable pure-Python model of the crawl scheduling semantics.

The Go reference has no tests and cannot run here; its scheduling
semantics are fully specified in SURVEY.md §2-§3 (issue order G1-G3,
retry ledger F5 with 5 total attempts, politeness budget A5, seen-set
U2/J3). This model implements those semantics directly — single
process, explicit loops — and serves as the oracle for the Spark
engine: given the same synthetic web, seeds, and politeness budget,
the engine must reproduce the model's exact fetch log
(wave, host, url, attempt, status) and final frontier, whose keys are
the seen set.

The model reuses the *same* pure functions as the engine's executors
(extract_page, canonicalize_url, fail_attempts_for), so any divergence
observed in tests is a defect in the engine's distributed plumbing
(windows, joins, anti-joins, merge), which is exactly what the test
must catch.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

from go_scrapper_spark.functions.extract import extract_page, extract_search_candidates
from go_scrapper_spark.functions.strdist import levenshtein
from go_scrapper_spark.functions.urltools import canonicalize_url
from go_scrapper_spark.sources import synthetic_web as sw

SEED_SEQ_STRIDE = 10_000_000

_RE_START = re.compile(r"[?&](?:not_recommended_)?start=(\d+)")


def probe_window_of(url: str) -> int | None:
    """G3 probe-window tag (mirror of CrawlEngine._probe_window_col):
    pagination pages → floor(start/50); non-rec bootstrap → -1 barrier;
    else None. Applied only to incremental tasks' outlinks."""
    m = _RE_START.search(url)
    if m and ("/review_feed?" in url or "not_recommended_start=" in url):
        return int(m.group(1)) // 50
    if "/not_recommended_reviews/" in url and "not_recommended_start=" not in url:
        return -1
    return None


class ModelCrawl:
    def __init__(self, web_cfg: sw.WebConfig, max_attempts: int = 5,
                 window_ms: int = 30_000, default_k: int = 10,
                 last_hashes: dict[int, list[str]] | None = None,
                 cookies: bool = False):
        # per-host cookie jar (mirror of CrawlEngine cfg.cookies): each
        # wave's requests attach the pre-wave state; the last successful
        # response per host (by within-host issue order) writes the next
        # value = md5('ck-' + url)[:8]
        self.cookies = cookies
        self.cookie_state: dict[str, str] = {}
        self.web_cfg = web_cfg
        self.max_attempts = max_attempts
        self.pages: dict[str, bytes] = {}
        for biz in range(web_cfg.n_biz):
            for url, _ts, body, _t, _l in sw.pages_for_biz(web_cfg, biz):
                self.pages[url] = body
        self.robots = {r["host"]: r for r in sw.robots_rows(web_cfg)}
        self.budgets = {
            h: min(r["max_parallel"], window_ms // r["crawl_delay_ms"])
            for h, r in self.robots.items()
        }
        self.default_k = default_k
        self.frontier: dict[str, dict] = {}
        self.fetch_log: list[tuple] = []
        # G3 incremental state, keyed by seed seq (= engine task_key)
        self.last_hashes = {
            k: set(v) for k, v in (last_hashes or {}).items() if v
        }
        self.inc_state = {
            k: {"unlocked": 0, "done": False, "started": False,
                "hit": False, "n_reviews": 0}
            for k in self.last_hashes
        }
        self.reviews: list[dict] = []  # raw review union rows (for tests)

    def resolve_profile_key(self, s: dict) -> str:
        """Search → hovercard → deterministic match (mirrors
        plans/search.py exactly; §3.2)."""
        url = sw.search_url(self.web_cfg, s["task_id"])
        body = self.pages.get(url)
        if body is None:
            return ""
        cands = extract_search_candidates(url, body)
        if not cands:
            return ""
        t_name = s["business_name"]
        t_text = f"{s['street']}, {s['city']}, {s['state']} {s['zip']}"
        best = min(
            cands,
            key=lambda c: (
                levenshtein(t_name, c["cand_name"])
                + levenshtein(t_text, c["cand_text"]),
                c["cand_url"],
            ),
        )
        return best["cand_url"]

    def seed(self):
        seeds = sw.seed_rows(
            self.web_cfg, {k: sorted(v) for k, v in self.last_hashes.items()}
        )
        for s in seeds:
            key = s["profile_key"] or self.resolve_profile_key(s)
            if not key:
                continue
            url = canonicalize_url(key)
            inc = s["seq"] in self.last_hashes
            if url and url not in self.frontier:
                self.frontier[url] = {
                    "url": url,
                    "host": (urlsplit(url).hostname or "").lower(),
                    "depth": 0,
                    "seq": s["seq"] * SEED_SEQ_STRIDE,
                    # incremental overrides FirstPageOnly (main.go:563-571)
                    "fpo": 0 if inc else (s.get("first_page_only") or 0),
                    "attempt": 0,
                    "state": "pending",
                    "pw": None,
                }

    def _allowed(self, url: str, host: str) -> bool:
        r = self.robots.get(host)
        if r is None:
            return False
        path = urlsplit(url).path
        # RFC 9309 longest-match: most specific rule wins, allow on tie
        # (mirror of operators/politeness.py apply_robots)
        allow_len = max(
            (len(p) for p in r.get("allow_prefixes") or [] if path.startswith(p)),
            default=0,
        )
        disallow_len = max(
            (len(p) for p in r["disallow_prefixes"] if path.startswith(p)),
            default=0,
        )
        return allow_len >= disallow_len

    def _admitted(self, r: dict) -> bool:
        """G3 probe-window admission (mirror of the engine's gated
        pending filter)."""
        pw = r.get("pw")
        if pw is None:
            return True
        st = self.inc_state.get(r["seq"] // SEED_SEQ_STRIDE)
        if st is None:
            return True
        return not st["done"] and pw <= st["unlocked"]

    def run(self, max_supersteps: int = 1000) -> dict:
        self.seed()
        for wave_id in range(1, max_supersteps + 1):
            pending = [
                r for r in self.frontier.values()
                if r["state"] == "pending" and r["attempt"] < self.max_attempts
                and self._admitted(r)
            ]
            if not pending:
                break
            by_host: dict[str, list[dict]] = {}
            for r in pending:
                by_host.setdefault(r["host"], []).append(r)
            wave: list[dict] = []
            for host, rows in by_host.items():
                rows.sort(key=lambda r: (r["depth"], r["seq"], r["url"]))
                wave.extend(rows[: self.budgets.get(host, self.default_k)])

            candidates: dict[str, tuple[int, int, int, str]] = {}
            for r in wave:
                url = r["url"]
                body = self.pages.get(url)
                # in-wave retry loop mirroring the reference's immediate
                # r.Request.Retry() (main.go:333-354, 1079-1099): the URL
                # either succeeds or exhausts its 5-attempt budget inside
                # the politeness slot that dequeued it
                fa = sw.fail_attempts_for(self.web_cfg, url)
                succ = body is not None and fa < self.max_attempts - r["attempt"]
                n_attempts = (
                    fa + 1 - r["attempt"] if succ else self.max_attempts - r["attempt"]
                )
                for i in range(r["attempt"], r["attempt"] + n_attempts):
                    if i < fa:
                        status = 503
                    elif body is not None:
                        status = 200
                    else:
                        status = 404
                    row = (wave_id, r["host"], url, r["depth"], r["seq"], i, status)
                    if self.cookies:
                        # attach the PRE-wave jar (state mutates only at
                        # the wave boundary below)
                        row += (self.cookie_state.get(r["host"]),)
                    self.fetch_log.append(row)
                r["attempt"] += n_attempts
                if succ:
                    r["state"] = "fetched"
                    for row in extract_page(url, body, r["depth"], r["seq"], r["fpo"]):
                        if row["kind"] == "review":
                            self.reviews.append(row)
                            st = self.inc_state.get(r["seq"] // SEED_SEQ_STRIDE)
                            if st is not None:
                                st["n_reviews"] += 1
                                tk = r["seq"] // SEED_SEQ_STRIDE
                                if row["review_hash"] in self.last_hashes[tk]:
                                    st["hit"] = True
                        if row["kind"] != "outlink":
                            continue
                        ourl = row["out_url"]
                        host = (urlsplit(ourl).hostname or "").lower()
                        if not self._allowed(ourl, host):
                            continue
                        key = (row["out_depth"], row["out_seq"], row["out_fpo"], host)
                        if ourl not in candidates or key < candidates[ourl]:
                            candidates[ourl] = key
                else:
                    r["state"] = "failed"
            if self.cookies:
                # wave boundary: last successful response per host (max
                # within-host issue key) writes the host's next cookie
                import hashlib

                by_h: dict[str, tuple] = {}
                for r2 in wave:
                    if r2["state"] == "fetched":
                        k2 = (r2["depth"], r2["seq"], r2["url"])
                        if r2["host"] not in by_h or k2 > by_h[r2["host"]]:
                            by_h[r2["host"]] = k2
                for h2, (_d2, _s2, u2) in by_h.items():
                    self.cookie_state[h2] = hashlib.md5(
                        ("ck-" + u2).encode()
                    ).hexdigest()[:8]
            for ourl, (depth, seq, fpo, host) in candidates.items():
                if ourl in self.frontier:
                    continue
                pw = (
                    probe_window_of(ourl)
                    if seq // SEED_SEQ_STRIDE in self.last_hashes
                    else None
                )
                self.frontier[ourl] = {
                    "url": ourl, "host": host, "depth": depth, "seq": seq,
                    "fpo": fpo, "attempt": 0, "state": "pending", "pw": pw,
                }
            self._inc_bookkeeping()
        return {
            "fetch_log": self.fetch_log,
            "frontier": self.frontier,
            "reviews": self.reviews,
            "inc_state": self.inc_state,
        }

    def _inc_bookkeeping(self):
        """Window-boundary bookkeeping (mirror of
        CrawlEngine._update_inc_state; main.go:615-641). Review counts
        and hits were accumulated during extraction."""
        mp: dict[int, int] = {}
        for r in self.frontier.values():
            pw = r.get("pw")
            if (
                pw is not None
                and r["state"] == "pending"
                and r["attempt"] < self.max_attempts
            ):
                tk = r["seq"] // SEED_SEQ_STRIDE
                mp[tk] = pw if tk not in mp else min(mp[tk], pw)
        for tk, st in self.inc_state.items():
            if st["done"]:
                continue
            m = mp.get(tk)
            if m is not None:
                st["started"] = True
            if not st["started"]:
                continue
            if m is not None and m <= st["unlocked"]:
                continue
            if st["n_reviews"] == 0 or st["hit"] or m is None:
                st["done"] = True
            else:
                st["unlocked"] = m
