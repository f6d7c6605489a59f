"""Partitioned cuckoo seen-filter: no false negatives ever, exactness
of the two-phase filter vs a plain anti-join, incremental merge, and
deletion (the recrawl/seen-expiry primitive)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_scrapper_spark.operators import cuckoofilter as cf

N_BUCKETS = 8


@pytest.fixture(scope="module")
def seen(spark):
    return (
        spark.range(0, 2000)
        .select(
            F.xxhash64(F.concat(F.lit("seen-url-"), F.col("id"))).alias("url_hash")
        )
        .withColumn("bucket", F.pmod("url_hash", F.lit(N_BUCKETS)).cast("int"))
        .persist()
    )


@pytest.fixture(scope="module")
def cuckoos(spark, seen):
    return cf.build_cuckoos(seen, expected_per_bucket=300).persist()


def _hits(cuckoos_df, probe_df):
    """probe_df(url_hash, bucket) → url_hash list that tests positive."""
    rows = {r["bucket"]: r for r in cuckoos_df.collect()}
    out = []
    for r in probe_df.collect():
        row = rows.get(r["bucket"])
        if row is None:
            continue
        table, stash, m = cf._load(row)
        if cf._contains(
            table,
            np.asarray(stash, dtype=np.uint16),
            np.asarray([r["url_hash"]], dtype=np.int64),
            m,
        )[0]:
            out.append(r["url_hash"])
    return out


def test_no_false_negatives(spark, seen, cuckoos):
    """Every member hash must test positive in its bucket's filter."""
    assert len(_hits(cuckoos, seen)) == 2000


def test_fpp_reasonable(spark, cuckoos):
    """Non-members should mostly test negative (16-bit fingerprints →
    fpp well under 1%)."""
    outsiders = (
        spark.range(10_000, 30_000)
        .select(F.xxhash64(F.concat(F.lit("other-"), F.col("id"))).alias("url_hash"))
        .withColumn("bucket", F.pmod("url_hash", F.lit(N_BUCKETS)).cast("int"))
    )
    assert len(_hits(cuckoos, outsiders)) / 20_000 < 0.01


def test_filter_unseen_cuckoo_join_equals_plain_antijoin(spark, seen, cuckoos):
    """The table-cogroup two-phase filter must return exactly the plain
    anti-join result — same rows, nothing dropped, nothing extra."""
    cands = spark.range(0, 4000).select(
        F.when(
            F.col("id") < 1000, F.concat(F.lit("seen-url-"), F.col("id"))
        ).otherwise(F.concat(F.lit("new-url-"), F.col("id"))).alias("url")
    )
    got = sorted(
        r["url"]
        for r in cf.filter_unseen_cuckoo_join(
            cands, seen, cuckoos, N_BUCKETS
        ).collect()
    )
    exp = sorted(
        r["url"]
        for r in cands.join(
            seen.select(F.col("url_hash").alias("_sh")),
            F.xxhash64(cands["url"]) == F.col("_sh"),
            "left_anti",
        ).collect()
    )
    assert got == exp
    assert len(got) == 3000


def test_merge_delta_then_no_false_negatives(spark, seen, cuckoos):
    """Folding a wave delta in must keep every old AND new key positive
    (the per-wave incremental path)."""
    delta = (
        spark.range(5000, 5500)
        .select(
            F.xxhash64(F.concat(F.lit("delta-url-"), F.col("id"))).alias("url_hash")
        )
        .withColumn("bucket", F.pmod("url_hash", F.lit(N_BUCKETS)).cast("int"))
    )
    merged = cf.merge_cuckoo_delta(cuckoos, delta, expected_per_bucket=300)
    assert len(_hits(merged, seen)) == 2000
    assert len(_hits(merged, delta)) == 500


def test_merge_keeps_stored_size_of_existing_buckets(spark, seen):
    """Resume-with-different-config safety: merging with a different
    expected_per_bucket must keep each existing bucket at its stored
    m_slots (no out-of-bounds, no false negatives) while buckets new
    to the table take the new size."""
    base = seen.filter(F.col("bucket") < N_BUCKETS // 2)
    delta = seen.filter(F.col("bucket") >= N_BUCKETS // 2 - 1)
    old_m, new_m = cf.cuckoo_params(300), cf.cuckoo_params(5000)
    assert old_m != new_m
    merged = cf.merge_cuckoo_delta(
        cf.build_cuckoos(base, expected_per_bucket=300),
        delta,
        expected_per_bucket=5000,
    ).persist()
    sizes = {int(r["bucket"]): int(r["m_slots"]) for r in merged.collect()}
    assert sizes == {
        b: old_m if b < N_BUCKETS // 2 else new_m for b in range(N_BUCKETS)
    }
    assert len(_hits(merged, seen)) == 2000


def test_delete_reopens_urls_for_recrawl(spark, seen, cuckoos):
    """Deleting keys (recrawl/expiry) must drop them from the filter
    while every remaining key stays positive — the no-false-negative
    contract survives deletion."""
    doomed = seen.filter(F.pmod(F.abs(F.col("url_hash")), F.lit(5)) == 0).persist()
    kept = seen.join(doomed.select("url_hash"), "url_hash", "left_anti")
    n_doomed = doomed.count()
    n_kept = 2000 - n_doomed
    assert 0 < n_doomed < 2000

    after = cf.delete_hashes(cuckoos, doomed).persist()
    # every survivor still positive (exact, not probabilistic)
    assert len(_hits(after, kept)) == n_kept
    # the deleted set is mostly negative now (a few may share a
    # (slot, fingerprint) pair with a survivor — that is the documented
    # cuckoo semantics, false-POSITIVES only)
    assert len(_hits(after, doomed)) < n_doomed * 0.05
    # …and the two-phase unseen filter now re-admits deleted URLs
    reopened = (
        spark.range(0, 2000)
        .select(F.concat(F.lit("seen-url-"), F.col("id")).alias("url"))
        .withColumn("url_hash", F.xxhash64("url"))
        .join(doomed.select("url_hash"), "url_hash", "left_semi")
        .drop("url_hash")
    )
    seen_after = seen.join(doomed.select("url_hash"), "url_hash", "left_anti")
    got = cf.filter_unseen_cuckoo_join(reopened, seen_after, after, N_BUCKETS)
    assert got.count() == n_doomed


def test_build_is_deterministic(spark, seen):
    """Same input → byte-identical filter rows (kick order is
    deterministic; resume/rebuild equivalence depends on this)."""
    a = {r["bucket"]: (bytes(r["table"]), bytes(r["stash"]))
         for r in cf.build_cuckoos(seen, expected_per_bucket=300).collect()}
    b = {r["bucket"]: (bytes(r["table"]), bytes(r["stash"]))
         for r in cf.build_cuckoos(seen, expected_per_bucket=300).collect()}
    assert a == b


def test_overload_fills_stash_not_false_negatives(spark):
    """Shove 4x the sized capacity into one bucket: inserts must not
    lose a single key (stash absorbs kick failures)."""
    hot = (
        spark.range(0, 2000)
        .select(
            F.xxhash64(F.concat(F.lit("hot-"), F.col("id"))).alias("url_hash")
        )
        .withColumn("bucket", F.lit(0))
    )
    filt = cf.build_cuckoos(hot, expected_per_bucket=500)
    assert len(_hits(filt, hot)) == 2000
