"""URL canonicalization + hashing (SURVEY.md P13-P15, north rule).

The reference's canonicalizer is business-specific (scheme→https,
host→www.yelp.com, trim trailing newline — main.go:273-291); the north
rule generalizes it to full RFC-3986 canonicalization before the
xxhash64 seen-key. Implemented as pure Python (shared with the
reference model) wrapped in a vectorized pandas UDF — never per-row
Python through the JVM boundary.

URL hashing uses Spark-native ``xxhash64`` (JVM-side, codegen'd) in
the engine; the pure-Python model matches it via the interop helper in
``plans.reference_model`` (it asks Spark once, cached) or simply by
using the same canonical string as the key.
"""

from __future__ import annotations

from urllib.parse import quote, unquote, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": "80", "https": "443"}
# RFC 3986 §2.3 unreserved characters — percent-decoded during canonicalization
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _canon_pct(segment: str, safe: str) -> str:
    """Percent-decode unreserved chars, re-encode the rest uppercase."""
    return quote(unquote(segment), safe=safe)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
        else:
            out.append(seg)
    res = "/".join(out)
    if path.startswith("/") and not res.startswith("/"):
        res = "/" + res
    if path.endswith(("/.", "/..")) and not res.endswith("/"):
        res += "/"
    return res


def canonicalize_url(url: str) -> str:
    """RFC-3986 canonical form: lowercase scheme/host, strip default port
    and fragment, normalize percent-encoding, remove dot segments, sort
    the query string, default empty path to '/'.

    Idempotent: canonicalize_url(canonicalize_url(u)) == canonicalize_url(u)
    (property-tested).
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return url
    parts = urlsplit(url)
    scheme = (parts.scheme or "https").lower()
    host = (parts.hostname or "").lower()
    port = parts.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = _canon_pct(parts.path, safe="/%:@!$&'()*+,;=~-._")
    path = _remove_dot_segments(path) or "/"
    query = parts.query
    if query:
        pairs = query.split("&")
        pairs = [_canon_pct(p, safe="=%:@!$&'()*+,;/?~-._") for p in pairs if p != ""]
        query = "&".join(sorted(pairs))
    return urlunsplit((scheme, netloc, path, query, ""))


def resolve_url(base: str, href: str) -> str:
    """Relative→absolute resolution (reference main.go:584-589,
    ``e.Request.URL.ResolveReference``)."""
    return urljoin(base, href)


def reference_profile_fixup(url: str) -> str | None:
    """The reference's yelp-specific URL fixup (main.go:273-291):
    trim trailing newline, force http(s) scheme, force www.yelp.com host
    for yelp.* URLs; return None for search?/adredir? redirects (F1 —
    caller maps None to status NO_BUSINESS_PAGE)."""
    if url is None:
        return None
    u = url.rstrip("\n")
    if "yelp." in u:
        parts = urlsplit(u)
        scheme = parts.scheme if parts.scheme in ("http", "https") else "https"
        host = parts.hostname or ""
        if host not in ("yelp.com", "www.yelp.com"):
            host = "www.yelp.com"
        netloc = host if parts.port is None else f"{host}:{parts.port}"
        u = urlunsplit((scheme, netloc, parts.path, parts.query, parts.fragment))
        if "search?" in u or "adredir?" in u:
            return None
    return u


# --- vectorized wrappers ---------------------------------------------------

@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_url, na_action="ignore")
