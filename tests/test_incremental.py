"""Incremental truncation semantics (F4/W2, main.go:950-960): the
list is cut at the FIRST seen hash in output order — seen row and
everything after dropped; no seen hash → nothing dropped. Every
fixture row belongs to task 0 (arrival_idx < 100 · stride)."""

import pytest

from go_scrapper_spark.operators.incremental import truncate_per_task
from go_scrapper_spark.session import local_table


@pytest.fixture(scope="module")
def extracted(spark):
    rows = [
        # (url, review_hash, posted_at, wave_id, arrival_idx)
        ("u1", "h-new-1", 500, 1, 1),
        ("u1", "h-new-2", 400, 1, 2),
        ("u1", "h-seen-a", 300, 1, 3),  # first seen hash in order
        ("u1", "h-old-1", 200, 1, 4),
        ("u1", "h-seen-b", 100, 2, 5),
    ]
    return local_table(
        spark, rows,
        "url string, review_hash string, posted_at long, wave_id long, arrival_idx long",
    )


def test_cut_at_first_seen(extracted):
    cut = truncate_per_task(extracted, {0: ("h-seen-a", "h-seen-b")})
    assert sorted(r["review_hash"] for r in cut.collect()) == ["h-new-1", "h-new-2"]
    # the hash table is a local relation: the cut runs no Python task
    assert "PythonRDD" not in cut._jdf.queryExecution().toRdd().toDebugString()


def test_no_seen_hash_keeps_all(extracted):
    assert truncate_per_task(extracted, {0: ("nope",)}).count() == 5


def test_empty_hash_list_is_noop(extracted):
    assert truncate_per_task(extracted, {0: ()}).count() == 5


def test_seen_only_later_in_order(extracted):
    # only the last row's hash is seen → cut keeps the first four
    got = truncate_per_task(extracted, {0: ("h-seen-b",)}).count()
    assert got == 4
