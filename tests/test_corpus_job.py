"""End-to-end corpus-build pipeline (jobs/corpus.py): quality gate →
exact dedup → near-dup prune → language-partitioned output. Counts
must be monotone non-increasing, survivors contain no exact dups, and
the output is partitioned by lang_guess."""

import glob
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
import corpus  # noqa: E402
from corpus import build_corpus  # noqa: E402
from go_scrapper_spark.operators import dedupe  # noqa: E402

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = spark.read.parquet(DOCS)
    result, counts = build_corpus(spark, docs, min_tokens=5, near_dup_matches=6,
                                  verbose_counts=True)
    out = str(tmp_path_factory.mktemp("corpus") / "out")
    result.write.mode("overwrite").partitionBy("lang_guess").parquet(out)
    return spark, counts, out


def test_stage_counts_monotone(built):
    _spark, counts, _out = built
    seq = [counts["input"], counts["after_quality"],
           counts["after_exact_dedup"], counts["after_near_dup"]]
    assert seq == sorted(seq, reverse=True)
    assert counts["after_near_dup"] > 0


def test_no_exact_dups_survive(built):
    spark, _counts, out = built
    df = spark.read.parquet(out)
    dups = (
        df.groupBy(F.md5(F.col("text").cast("binary")))
        .count()
        .filter(F.col("count") > 1)
    )
    assert dups.count() == 0


def test_output_partitioned_by_lang(built):
    spark, counts, out = built
    parts = glob.glob(out + "/lang_guess=*")
    assert parts, "expected lang_guess partition directories"
    assert spark.read.parquet(out).count() == counts["after_near_dup"]


def test_decontam_stage_drops_eval_overlap(spark):
    docs = spark.read.parquet(DOCS)
    evals = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_id"), "text")
    base, c0 = build_corpus(spark, docs, min_tokens=5, near_dup_matches=6,
                            verbose_counts=True)
    clean, c1 = build_corpus(spark, docs, min_tokens=5, near_dup_matches=6,
                             eval_df=evals, decontam_n=5,
                             verbose_counts=True)
    assert "after_decontam" in c1
    assert c1["after_decontam"] < c0["after_near_dup"]
    # every eval doc that survived the upstream stages must be gone
    # (it shares all its own n-grams with itself)
    survivors = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert not any(d % 10 == 0 for d in survivors
                   if d in {r["doc_id"] for r in base.select("doc_id").collect()})


def test_incremental_semantics(spark):
    docs = spark.read.parquet(DOCS)
    base, _ = build_corpus(spark, docs.filter(F.col("doc_id") < 60),
                           min_tokens=5, near_dup_matches=6)
    existing = base.persist()
    n0 = existing.count()
    assert n0 > 0

    # the new segment: exact copies of standing docs (shifted ids) +
    # genuinely new docs
    copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text",
        "lang", "source", "n_chars")
    fresh = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 90))
    segment = copies.unionByName(fresh)

    delta, counts = build_corpus(spark, segment, min_tokens=5,
                                 near_dup_matches=6, existing=existing,
                                 verbose_counts=True)
    out = delta.persist()
    delta_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    # every exact copy of a standing doc is gone
    assert not any(d >= 100000 for d in delta_ids)
    # the delta introduces no content hash the corpus already holds
    merged = existing.select("text").union(out.select("text"))
    dup = (merged.groupBy(F.md5(F.col("text").cast("binary"))).count()
           .filter(F.col("count") > 1).count())
    assert dup == 0
    assert counts["after_exact_dedup"] <= counts["after_quality"]
    assert "lang_guess" in out.columns and len(delta_ids) > 0


def test_incremental_drops_near_dups_of_existing(spark):
    base_rows = [(i, f"the standing corpus document number {i} talks about "
                     f"topic {i} in enough detail to pass every filter with "
                     f"plenty of ordinary words here")
                 for i in range(5)]
    existing = spark.createDataFrame(
        base_rows, "doc_id long, text string")
    # near-dup of standing doc 3 (one word changed), plus a fresh doc
    seg_rows = [
        (900, base_rows[3][1].replace("detail", "depth")),
        (901, "an entirely different new document with completely other "
              "content and themes that overlap nothing of what is already "
              "in the collection at all for any reader"),
    ]
    segment = spark.createDataFrame(seg_rows, "doc_id long, text string")
    delta, counts = build_corpus(spark, segment, min_tokens=5,
                                 near_dup_matches=4, existing=existing)
    ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
    assert ids == {901}  # near-dup dropped (4/6 sig match), fresh kept
    # default counts never scan the standing corpus (verbose only)
    assert "existing" not in counts
    _, vc = build_corpus(spark, segment, min_tokens=5, near_dup_matches=4,
                         existing=existing, verbose_counts=True)
    assert vc["existing"] == 5


def test_cross_lsh_sigs_path_equals_docs_path(spark):
    """minhash_lsh_pairs_cross(existing_sigs=stored table) — the
    production nightly mode where the standing corpus is never
    re-shingled — must produce exactly the pairs the raw-docs path
    produces."""
    from go_scrapper_spark.operators import dedupe

    docs = spark.read.parquet(DOCS)
    existing = docs.filter(F.col("doc_id") < 40)
    segment = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text")

    via_docs = {(r["doc_new"], r["doc_old"], r["sig_matches"])
                for r in dedupe.minhash_lsh_pairs_cross(
                    segment, existing).collect()}
    sigs = dedupe.minhash_signatures(existing)
    via_sigs = {(r["doc_new"], r["doc_old"], r["sig_matches"])
                for r in dedupe.minhash_lsh_pairs_cross(
                    segment, existing_sigs=sigs).collect()}
    assert via_docs == via_sigs and len(via_docs) >= 15

    with pytest.raises(ValueError):
        dedupe.minhash_lsh_pairs_cross(segment)
    with pytest.raises(ValueError):
        dedupe.minhash_lsh_pairs_cross(segment, existing,
                                       existing_sigs=sigs)


def test_incremental_with_stored_sigs_matches_raw(spark):
    docs = spark.read.parquet(DOCS)
    existing = docs.filter(F.col("doc_id") < 50).select("doc_id", "text")
    segment = docs.filter(
        (F.col("doc_id") >= 40) & (F.col("doc_id") < 70)
    ).select((F.col("doc_id") + 1000).alias("doc_id"), "text")

    from go_scrapper_spark.operators.dedupe import minhash_signatures
    sigs = minhash_signatures(existing)
    raw, _ = build_corpus(spark, segment, min_tokens=5,
                          near_dup_matches=6, existing=existing)
    via, _ = build_corpus(spark, segment, min_tokens=5, near_dup_matches=6,
                          existing=existing, existing_sigs=sigs)
    assert ({r["doc_id"] for r in raw.select("doc_id").collect()}
            == {r["doc_id"] for r in via.select("doc_id").collect()})


@pytest.mark.parametrize("mode", ["batch", "incremental"])
def test_substring_k_stage_strips_planted_spans(spark, mode):
    """build_corpus(substring_k=K): a K-token span planted across docs
    keeps exactly one copy (the (doc_id, pos)-first), the stage count
    lands in counts/stage_secs, and a doc that is entirely the span
    drops from the corpus. In incremental mode (the same docs as the
    segment, an unrelated one-doc standing corpus) the stage works
    within the segment."""
    # every doc needs >= 20 tokens and >= 2% function words to clear
    # the quality keep-band; the span carries its own stopwords so the
    # span-only doc reaches the substring stage and empties THERE
    span = "the quick brown fox and seven"
    docs = spark.createDataFrame([
        (1, "this is a unique opening with plenty of words to pass "
            "the gate " + span + " and some more unique trailing words"),
        (2, "another document that has its own very different words "
            "in it " + span + " with extra trailing content for the gate"),
        (3, " ".join([span] * 4)),
        (4, "an independent document with enough tokens and function "
            "words to pass the quality gate easily on its own good merits"),
    ], "doc_id long, text string")
    existing = None if mode == "batch" else spark.createDataFrame(
        [(100, "a standing corpus page about gardening tools and how "
               "to keep them sharp through the long winter months")],
        "doc_id long, text string")
    result, counts = build_corpus(spark, docs, min_tokens=5, verbose_counts=True,
                                  near_dup_matches=6, substring_k=6,
                                  existing=existing)
    rows = {r["doc_id"]: r["text"] for r in result.collect()}
    assert counts["after_substring_dedup"] < counts["after_near_dup"]
    assert "substring_dedup" in counts["stage_secs"]
    assert span in rows[1]            # canonical copy survives in doc 1
    assert span not in rows[2] and "very different words" in rows[2]
    assert 3 not in rows              # span-only doc empties and drops
    assert rows[4].startswith("an independent")


@pytest.mark.parametrize("mode", ["batch", "incremental"])
def test_build_corpus_releases_its_caches(spark, mode):
    """Freeing each result releases its survivors checkpoint, and the
    near-dup stage releases the signature tables the LSH operators
    persisted: repeated calls leave no persisted RDD behind."""
    jsc = spark.sparkContext._jsc
    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    existing = None
    segment = docs.filter(F.col("doc_id") < 30)
    if mode == "incremental":
        existing = docs.filter(F.col("doc_id") < 50)
        segment = docs.filter(
            (F.col("doc_id") >= 40) & (F.col("doc_id") < 70)
        ).select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(2):
        result, _ = build_corpus(spark, segment, min_tokens=5,
                                 existing=existing)
        assert result.count() > 0
        dedupe.free_local_checkpoint(result)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_incremental_reads_standing_sigs_once(spark):
    """One incremental call runs the cross-corpus band join once. That
    plan scans existing_sigs twice (band join and match join), and the
    tap's Python UDF is evaluated twice per scan, so a single pass reads
    it 4x its row count; a lazy cross anti-join re-runs under each
    later read."""
    docs = spark.read.parquet(DOCS)
    existing = docs.filter(F.col("doc_id") < 50).select("doc_id", "text")
    sigs = dedupe.minhash_signatures(existing)
    sigs = spark.createDataFrame(sigs.collect(), sigs.schema)
    n = sigs.count()
    reads = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tap(d):
        reads.add(1)
        return d

    segment = docs.filter(
        (F.col("doc_id") >= 40) & (F.col("doc_id") < 70)
    ).select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    result, _ = build_corpus(spark, segment, min_tokens=5, existing=existing,
                             existing_sigs=sigs.withColumn("doc", tap("doc")))
    assert result.count() > 0
    dedupe.free_local_checkpoint(result)
    assert n == 50 and 0 < reads.value <= 4 * n


def test_incremental_shingles_segment_once(spark, monkeypatch):
    """One incremental call shingles the exact-deduped segment once.
    The cross band join persists its signature table, and the
    within-segment pairs are that set's pairs with both ends kept by
    the cross prune, so their signature persist hits the cached table
    instead of shingling the pruned subset again."""
    docs = spark.read.parquet(DOCS)
    existing = docs.filter(F.col("doc_id") < 50).select("doc_id", "text")
    sigs = dedupe.minhash_signatures(existing)
    sigs = spark.createDataFrame(sigs.collect(), sigs.schema)
    reads = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tap(text):
        reads.add(1)
        return text

    signatures = dedupe.minhash_signatures
    monkeypatch.setattr(
        dedupe, "minhash_signatures",
        lambda d, *a, **kw: signatures(d.withColumn("text", tap("text")),
                                       *a, **kw))
    segment = docs.filter(
        (F.col("doc_id") >= 40) & (F.col("doc_id") < 70)
    ).select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    result, counts = build_corpus(spark, segment, min_tokens=5,
                                  existing=existing, existing_sigs=sigs,
                                  verbose_counts=True)
    assert result.count() > 0
    dedupe.free_local_checkpoint(result)
    assert reads.value == counts["after_exact_dedup"] > 0


def test_cli_rejects_sigs_without_update_existing(monkeypatch, capsys):
    """--sigs only means something against a standing corpus: argparse
    rejects it before any Spark session starts, and build_corpus
    rejects existing_sigs without existing before it reads anything."""
    import go_scrapper_spark.session as session

    def no_spark(**_kw):
        raise AssertionError("Spark started before the argument check")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", [
        "corpus", "--docs", "d.parquet", "--out", "o", "--sigs", "s"])
    with pytest.raises(SystemExit) as exc:
        corpus.main()
    assert exc.value.code == 2
    assert "--update-existing" in capsys.readouterr().err
    with pytest.raises(ValueError):
        build_corpus(None, None, existing_sigs=object())
