"""Canonicalizer unit + property tests (SURVEY.md P13, §5.2-4)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from go_scrapper_spark.functions.urltools import (
    canonicalize_url,
    reference_profile_fixup,
    resolve_url,
)


def test_lowercase_scheme_host():
    assert canonicalize_url("HTTPS://WWW.Example.COM/Biz") == "https://www.example.com/Biz"


def test_default_port_stripped():
    assert canonicalize_url("https://a.com:443/x") == "https://a.com/x"
    assert canonicalize_url("http://a.com:80/x") == "http://a.com/x"
    assert canonicalize_url("http://a.com:8080/x") == "http://a.com:8080/x"


def test_fragment_stripped():
    assert canonicalize_url("https://a.com/x#frag") == "https://a.com/x"


def test_query_sorted():
    assert canonicalize_url("https://a.com/x?b=2&a=1") == "https://a.com/x?a=1&b=2"


def test_empty_path_becomes_root():
    assert canonicalize_url("https://a.com") == "https://a.com/"


def test_dot_segments_removed():
    assert canonicalize_url("https://a.com/x/./y/../z") == "https://a.com/x/z"


def test_percent_decode_unreserved():
    assert canonicalize_url("https://a.com/%7Euser") == "https://a.com/~user"


def test_idempotent_examples():
    for u in [
        "https://a.com/x?b=2&a=1",
        "https://www.host3.example/biz/bid-00001/review_feed?rl=en&sort_by=date_desc&start=0",
        "http://A.com:80/%7e/./x/../y?z=%41#f",
    ]:
        once = canonicalize_url(u)
        assert canonicalize_url(once) == once


@given(
    st.builds(
        lambda h, p, q: f"https://{h}.example/{p}?{q}",
        st.text("abcdefgh", min_size=1, max_size=8),
        st.text("abcdefgh/._~%41", max_size=12),
        st.text("abcdefgh=&", max_size=12),
    )
)
@settings(max_examples=200, deadline=None)
def test_idempotence_property(url):
    once = canonicalize_url(url)
    assert canonicalize_url(once) == once


def test_resolve_relative():
    # main.go:584-589 ResolveReference semantics
    assert (
        resolve_url("https://h.example/biz/key", "/not_recommended_reviews/b1")
        == "https://h.example/not_recommended_reviews/b1"
    )


def test_reference_fixup_scheme_host():
    # main.go:273-291: force https + www.yelp.com for yelp URLs
    assert (
        reference_profile_fixup("ftp://biz.yelp.ca/biz/x\n")
        == "https://www.yelp.com/biz/x"
    )


def test_reference_fixup_rejects_search_redirects():
    # F1: search?/adredir? → NO_BUSINESS_PAGE (None)
    assert reference_profile_fixup("https://www.yelp.com/search?find=x") is None
    assert reference_profile_fixup("https://www.yelp.com/adredir?u=x") is None
    assert reference_profile_fixup("https://other.example/search?q") is not None
