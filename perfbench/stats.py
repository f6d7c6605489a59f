"""Order statistics and output digests shared by the workloads."""

from __future__ import annotations

import hashlib
import json
import statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def supported_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest whole percentile q >= 50 whose nearest-rank sample (rank
    ceil(q/100 * n)) leaves at least ``min_beyond`` of ``n`` samples
    beyond it, or None when even the median does not (n < 20 for 10)."""
    best = None
    for q in range(50, 100):
        if n - -(-q * n // 100) >= min_beyond:  # integer ceil(q*n/100)
            best = q
    return best


def digest(rows) -> str:
    """sha256 of the canonical JSON of ``rows`` sorted — the order a
    distributed engine emits rows in is not part of its output."""
    canon = sorted(json.dumps(list(r), separators=(",", ":")) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()
