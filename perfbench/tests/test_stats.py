from fractions import Fraction
import math

from stats import digest, supported_percentile


def test_supported_percentile_needs_ten_samples_beyond():
    assert supported_percentile(19) is None
    assert supported_percentile(20) == 50
    assert supported_percentile(39) == 74
    assert supported_percentile(100) == 90
    assert supported_percentile(1000) == 99


def test_supported_percentile_really_leaves_ten_beyond():
    def beyond(n, q):  # samples above the nearest-rank q-th percentile
        return n - math.ceil(Fraction(q * n, 100))

    for n in range(20, 400):
        q = supported_percentile(n)
        assert beyond(n, q) >= 10
        assert q == 99 or beyond(n, q + 1) < 10


def test_digest_ignores_row_order_not_content():
    a = [(1, "u", 200), (2, "v", 503)]
    assert digest(a) == digest(list(reversed(a)))
    assert digest(a) != digest([(1, "u", 200), (2, "v", 200)])
    assert digest(a) != digest(a[:1])
