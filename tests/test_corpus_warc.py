"""WARC-in front end of the corpus pipeline (jobs/corpus.py
warc_front_end) and the WET export leg: raw archives → boilerplate
strip → paragraph dedup → documents shape → (via build_corpus)
training corpus → WET interchange files and back."""

import os
import sys

import pytest
from pyspark.sql import functions as F

from go_scrapper_spark.operators import dedupe
from go_scrapper_spark.sources import warc as w

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
from corpus import build_corpus, warc_front_end  # noqa: E402

BOILER_NAV = ('<nav><a href="/">home</a> <a href="/a">section one</a>'
              ' <a href="/b">section two</a></nav>')
FOOTER = "<footer>(c) corp legal</footer>"
BANNER = ("We use cookies on this site to improve your browsing"
          " experience and analyze traffic patterns.")


def _page(i, n_paras=3):
    paras = "".join(
        f"<p>Document {i} paragraph {j} carries its own unique prose with"
        f" plenty of characters to clear the threshold.</p>"
        for j in range(n_paras)
    )
    # the cookie banner repeats VERBATIM on every page → paragraph
    # dedup must keep exactly one copy corpus-wide
    return (f"<html><body>{BOILER_NAV}<p>{BANNER}</p>"
            f"{paras}{FOOTER}</body></html>")


@pytest.fixture(scope="module")
def warc_files(spark):
    pages = spark.createDataFrame(
        [(f"https://site{i % 3}.example.com/doc/{i}",
          "2024-06-01T00:00:00", bytearray(_page(i).encode()))
         for i in range(24)],
        "url string, ts string, html binary",
    ).select("url", F.to_timestamp("ts").alias("warc_ts"), "html")
    return w.pages_to_warc(pages, n_files=4).persist()


def test_front_end_strips_boilerplate_and_dedups_banner(spark, warc_files):
    docs = warc_front_end(warc_files).persist()
    rows = docs.collect()
    assert len(rows) == 24
    texts = {r["url"]: r["text"] for r in rows}
    assert all("home" not in t and "corp legal" not in t
               for t in texts.values())
    # cookie banner survives exactly once across the whole batch
    n_banner = sum(t.count(BANNER) for t in texts.values())
    assert n_banner == 1
    # unique prose intact, in order
    t0 = texts["https://site0.example.com/doc/0"]
    assert "Document 0 paragraph 0" in t0 and "Document 0 paragraph 2" in t0
    assert t0.index("paragraph 0") < t0.index("paragraph 2")


def test_front_end_doc_ids_deterministic(spark, warc_files):
    a = {r["doc_id"] for r in warc_front_end(warc_files).collect()}
    b = {r["doc_id"] for r in
         warc_front_end(warc_files.repartition(7)).collect()}
    assert a == b and len(a) == 24
    # full 64-bit xxhash64(url) — no modular narrowing (r6: pmod 2^43
    # birthday-collides at ~2^21 urls); negatives are expected
    assert any(d < 0 for d in a)
    expect = {r["h"] for r in warc_files.sparkSession.createDataFrame(
        [(f"https://site{i % 3}.example.com/doc/{i}",) for i in range(24)],
        "url string").select(F.xxhash64("url").alias("h")).collect()}
    assert a == expect


def test_warc_to_corpus_to_wet_roundtrip(spark, warc_files, tmp_path):
    docs = warc_front_end(warc_files)
    result, counts = build_corpus(spark, docs, min_tokens=5,
                                  near_dup_matches=6, verbose_counts=True)
    final = result.persist()
    assert counts["after_near_dup"] > 0
    wet = w.pages_to_wet(
        final.select("url", "warc_ts", "text"), n_files=2)
    back = {r["url"]: r["text"] for r in w.wet_to_docs(wet).collect()}
    want = {r["url"]: r["text"] for r in final.collect()}
    assert back == want


def test_front_end_host_template_mode_removes_banner_entirely(spark,
                                                              warc_files):
    docs = warc_front_end(warc_files, host_template_den=2)
    texts = [r["text"] for r in docs.collect()]
    # with per-host template strip ON, the cookie banner (present on
    # every page of every host) vanishes entirely — no canonical copy
    assert sum(t.count(BANNER) for t in texts) == 0
    assert all("Document" in t for t in texts)  # unique prose intact


@pytest.mark.parametrize("den", [0, 2])
def test_front_end_parses_each_file_once(spark, warc_files, den):
    """Front end plus build_corpus parse every WARC file once: the
    parsed, boilerplate-stripped documents are checkpointed, so the
    host template strip, paragraph dedup and join-backs read the
    checkpoint. A lazy front end re-ran the parse under each of their
    exchanges: 3 reads of each file, more with the host strip."""
    reads = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tap(file_id):
        reads.add(1)
        return file_id

    docs = warc_front_end(warc_files.withColumn("file_id", tap("file_id")),
                          host_template_den=den)
    result, _ = build_corpus(spark, docs, min_tokens=5)
    assert result.count() > 0
    dedupe.free_local_checkpoint(result)
    dedupe.free_local_checkpoint(docs)
    assert reads.value == warc_files.count()


def test_front_end_releases_its_checkpoint(spark, warc_files):
    """Freeing the front end's frame once build_corpus has read it, and
    then the result, leaves no persisted RDD behind."""
    jsc = spark.sparkContext._jsc
    warc_files.count()
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(2):
        docs = warc_front_end(warc_files, host_template_den=2)
        result, _ = build_corpus(spark, docs, min_tokens=5)
        dedupe.free_local_checkpoint(docs)
        assert result.count() > 0
        dedupe.free_local_checkpoint(result)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
