"""Corpus-build pipeline (training-data tier, end-to-end composition).

    spark-submit --py-files dist/go_scrapper_spark.zip jobs/corpus.py \
        --docs /data/documents.parquet --out /corpus [--min-tokens 20]
        [--near-dup-matches 6]
    spark-submit ... jobs/corpus.py --warc /archive/segments.parquet \
        --out /corpus [--wet-out /corpus-wet] ...

With ``--update-existing /corpus`` the job runs in INCREMENTAL mode:
the input (either --docs or --warc) is treated as a new crawl segment
and goes through the same pipeline, which then also deduplicates it
against the standing corpus (exact content hashes + cross-corpus
MinHash LSH — the standing corpus always wins); --out receives only
the appendable delta. Substring dedup (--substring-k) then works
within the segment: the standing corpus's spans are not read.

With ``--warc`` the pipeline starts from raw web archives — the
Common-Crawl access pattern — and runs two extra front stages:

0a. archive parse   — sources/warc.py parse_warc → 200-response pages
0b. main content    — functions/boilerplate.py extract_main_content
                      (block + link-density boilerplate strip),
                      checkpointed once so every later stage reads
                      each parsed record once (the CLI frees it once
                      build_corpus has read it), then the optional
                      per-host template strip and paragraph-level
                      exact dedup (dedupe.paragraph_dedup, CCNet
                      line-dedup) — doc_id = xxhash64(url)
                      (content-addressed, partition-independent)

``--wet-out`` additionally ships the final per-language corpus as WET
files (WARC conversion records, pages_to_wet) — the interchange shape
text-only consumers read.

Stages (each a native declarative plan; one JSON summary line printed):

1. quality gate    — textstats.text_quality keep-band (C4/Gopher shape)
2. exact dedup     — md5 content-hash group-by, canonical = min doc_id
                     (incremental: after an anti-join against the
                     standing corpus's content hashes)
3. near-dup prune  — (incremental: first an anti-join against the
                     cross-corpus LSH pairs, dedupe.minhash_lsh_pairs_cross)
                     MinHash+LSH candidate pairs with
                     >= --near-dup-matches matching signature
                     components → connected components (min-label
                     propagation, dedupe.connected_components) → keep
                     the min doc_id of each transitive cluster
3b. decontamination (with --decontam-eval) — drop training docs that
                     share a word n-gram with any benchmark doc
                     (operators/decontam.py, broadcast eval shingles)
4. language split  — textstats.lang_id; output parquet partitioned by
                     lang_guess (the layout a per-language training
                     mix reads back with partition pruning)

Scale notes: stages 1/4 are row-local (codegen), stage 2 one shuffle,
stage 3 the LSH band join plus component rounds bounded by cluster
diameter (near-dup clusters are shallow) — nothing quadratic, nothing
driver-side beyond the O(1) fixpoint counter.
"""

from __future__ import annotations

import argparse
import json


def warc_front_end(files_df, host_template_den: int = 0):
    """Raw WARC blobs → documents-shaped frame (doc_id, text, url,
    warc_ts): parse, keep 200-responses, strip boilerplate,
    optionally strip per-host template paragraphs (den > 0: drop any
    paragraph in ≥ 1/den of a host's docs — runs BEFORE the global
    paragraph dedup, the production ordering), then paragraph-dedup
    across the batch. doc_id is xxhash64(url) — deterministic under
    any partitioning, no global row numbering.

    The parsed, boilerplate-stripped documents are checkpointed once,
    eagerly, and every later stage reads that checkpoint: host
    template strip, paragraph dedup and the doc_id join-backs read
    them under different exchanges, and a lazy frame re-ran the WARC
    parse and the boilerplate scoring under each (3 reads of every
    file, 6 with the host strip). The returned frame is lazy over the
    checkpoint and carries it as ``_ckpt_origin``: once the frame's
    consumer has read it (``build_corpus`` reads its input once),
    ``dedupe.free_local_checkpoint(docs)`` releases it."""
    from pyspark.sql import functions as F

    from go_scrapper_spark.functions.boilerplate import extract_main_content
    from go_scrapper_spark.operators.dedupe import (host_template_strip,
                                                    local_checkpoint_no_stats,
                                                    paragraph_dedup)
    from go_scrapper_spark.sources.warc import warc_to_pages

    pages = warc_to_pages(files_df)
    # carry warc_ts through the (now joinless) boilerplate projection:
    # the old pages ⋈ main join-back double-scanned the html-bearing
    # page set — measured at 10M docs as the dominant front-end term
    # (~295 s vs 59 s for this shape; BASELINE.md round 7)
    main = extract_main_content(pages, id_col="url",
                                carry_cols=("warc_ts",))
    docs = local_checkpoint_no_stats(
        main.filter(F.col("n_good") > 0)
        .select(
            # full 64-bit content-addressed id (r6: the previous
            # pmod(·, 2^43) narrowing birthday-collides at ~2^21 urls,
            # silently interleaving two documents' paragraphs —
            # paragraph_dedup's decimal pack now takes any signed long)
            F.xxhash64("url").alias("doc_id"),
            F.col("main_text").alias("text"), "url", "warc_ts",
        )
    )
    ckpt = getattr(docs, "_ckpt_origin", docs)
    if host_template_den > 0:
        hosted = docs.withColumn(
            "host", F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)
        )
        stripped = host_template_strip(
            hosted, min_docs=2, num=1, den=host_template_den
        )
        docs = (
            docs.select("doc_id", "url", "warc_ts")
            .join(stripped.filter(F.col("n_kept") > 0), "doc_id")
            .select("doc_id", F.col("clean_text").alias("text"),
                    "url", "warc_ts")
        )
    cleaned = paragraph_dedup(docs, sep="\n")
    out = (
        docs.select("doc_id", "url", "warc_ts")
        .join(cleaned, "doc_id")
        .select("doc_id", F.col("clean_text").alias("text"), "url", "warc_ts")
    )
    out._ckpt_origin = ckpt
    return out


def build_corpus(spark, docs, min_tokens: int = 20, near_dup_matches: int = 6,
                 eval_df=None, decontam_n: int = 8,
                 decontam_broadcast: bool = True,
                 substring_k: int = 0, verbose_counts: bool = False,
                 existing=None, existing_sigs=None):
    """Returns (result_df, stage_counts). Pure plan construction plus
    the stage-count actions; ``counts["stage_secs"]`` carries the wall
    seconds of each stage's materializing action (the eager stats-free
    checkpoint), so the CLI summary and bench double as a stage
    profile. ``verbose_counts`` (round 7, VERDICT r6 item 6) gates the
    per-stage ``after_*`` row counts: each is a redundant re-scan of an
    already-materialized checkpoint — one extra action per stage in
    the default batch path — kept available for the CLI summary and
    the pipeline tests.

    ``substring_k`` > 0 adds the Lee-et-al ExactSubstr stage
    (dedupe.substring_dedup) AFTER document-level dedup and
    decontamination — the RefinedWeb ordering: removing spans first
    would change content hashes under the exact/near-dup stages.
    Documents whose text empties (every token inside some repeated
    span) drop from the corpus.

    INCREMENTAL mode (``existing`` = the standing corpus): ``docs`` is
    a new crawl segment, cleaned and deduplicated against the standing
    corpus without re-processing it — the nightly operation of a
    continuously-crawling pipeline. The result holds only the rows to
    append; ``existing`` is never modified. Deliberately
    corpus-stable, NOT identical to a full rebuild: the standing
    corpus always wins. On top of the batch rules, a new doc drops
    when its content hash is already in the standing corpus, or when
    it near-dups a standing doc (cross LSH ≥ near_dup_matches).
    Substring dedup works within the segment only: the standing
    corpus's spans are not read. Pass ``existing_sigs`` (a stored
    ``minhash_signatures`` table, ``--sigs`` in the CLI) and the
    10^9-doc side is never re-shingled — the production nightly mode;
    the standing corpus then contributes one content-hash anti-join
    and the cross band join, materialized once. The segment is
    shingled once: the in-segment pairs are those of the cross band
    join's cached signature table with both ends surviving the cross
    prune. ``verbose_counts``
    also counts the standing corpus (``counts["existing"]``, a full
    scan).

    The result carries its survivors checkpoint: once nothing reads it
    any more, ``dedupe.free_local_checkpoint(result)`` releases it."""
    import time

    from pyspark.sql import functions as F

    from go_scrapper_spark.functions import textstats
    from go_scrapper_spark.operators import dedupe

    if existing is None and existing_sigs is not None:
        raise ValueError("existing_sigs needs the standing corpus (existing)")
    docs = docs.persist()
    counts = {"input": docs.count()}
    if verbose_counts and existing is not None:
        counts["existing"] = existing.count()
    secs: dict = {}
    counts["stage_secs"] = secs

    t0 = time.time()
    quality = textstats.text_quality(docs, text_col="text").filter(
        (F.col("quality_band") == "keep") & (F.col("n_tokens") >= min_tokens)
    )
    # CHECKPOINT each surviving set (stats-free), don't chain persists:
    # a cached frame's plan embeds its whole upstream lineage, so five
    # chained stages make every later action re-analyze (and render,
    # for the SQL-listener event) a plan containing the full front-end
    # expression trees — measured as tens of driver-seconds per action
    # at depth 5+. The checkpoint truncates the plan to a scan; the
    # count it needs anyway doubles as the materializer.
    kept = dedupe.local_checkpoint_no_stats(
        docs.join(quality.select("doc_id"), "doc_id", "left_semi"))
    if verbose_counts:
        counts["after_quality"] = kept.count()
    secs["quality"] = round(time.time() - t0, 2)
    docs.unpersist()
    t0 = time.time()

    # exact dedup: canonical doc per content hash (incremental: after
    # dropping the content hashes the standing corpus already holds)
    fresh = kept
    if existing is not None:
        h = lambda c: F.md5(F.col(c).cast("binary"))  # noqa: E731
        fresh = kept.join(
            existing.select(h("text").alias("_h")).distinct(),
            h("text") == F.col("_h"), "left_anti",
        )
    canon = dedupe.exact_dedup_groups(fresh).select(
        F.col("canonical_id").alias("doc_id")
    )
    deduped = dedupe.local_checkpoint_no_stats(
        fresh.join(canon, "doc_id", "left_semi"))
    if verbose_counts:
        counts["after_exact_dedup"] = deduped.count()
    secs["exact_dedup"] = round(time.time() - t0, 2)
    dedupe.free_local_checkpoint(kept)
    t0 = time.time()

    # the frame whose signature table the LSH operators persist
    shingled = deduped
    if existing is not None:
        # near-dup vs the standing corpus, which always wins. The
        # anti-join is checkpointed so the cross band join runs once,
        # not again under each later read; the standing signature
        # table it persisted is then dead
        cross = dedupe.minhash_lsh_pairs_cross(
            deduped,
            existing_docs=None if existing_sigs is not None else existing,
            existing_sigs=existing_sigs,
        ).filter(F.col("sig_matches") >= near_dup_matches)
        deduped = dedupe.local_checkpoint_no_stats(shingled.join(
            cross.select(F.col("doc_new").alias("doc_id")).distinct(),
            "doc_id", "left_anti",
        ))
        if existing_sigs is None:
            dedupe.minhash_signatures(existing).unpersist()

    # near-dup prune: strong candidate pairs → connected components →
    # keep exactly one doc (the min id) per TRANSITIVE cluster. A pure
    # pairwise drop-the-higher-id rule over-keeps on chains discovered
    # through a middle document (pairs (a,c),(b,c) with no (a,b) would
    # keep both a and b); component labeling closes the transitivity.
    pairs = dedupe.minhash_lsh_pairs(shingled).filter(
        F.col("sig_matches") >= near_dup_matches
    )
    if shingled is not deduped:
        # a doc's signature does not depend on the other docs, so the
        # pairs among the cross-pruned docs are the pre-prune pairs with
        # both ends kept: the segment is shingled once, its signature
        # persist hitting the table the cross band join cached
        kept_ids = deduped.select("doc_id")
        pairs = pairs.join(
            kept_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a",
            "left_semi",
        ).join(
            kept_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b",
            "left_semi",
        )
    # persist: the LSH candidate join feeds BOTH the endpoint vertex
    # set and the component loop's symmetrized edge checkpoint
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).persist()
    # label only the docs that appear in some near-dup pair — a doc in
    # no edge is trivially its own cluster and survives, so iterating
    # the component loop over the WHOLE corpus (10^9 vertices for a
    # near-dup graph of maybe 10^6 endpoints) would pay a full-corpus
    # join per iteration for rows whose label can never change. The
    # keep rule is unchanged: min doc id per transitive cluster.
    endpoints = (
        edges.select(F.col("src").alias("doc"))
        .unionByName(edges.select(F.col("dst").alias("doc")))
        .distinct()
    )
    clusters = dedupe.connected_components(endpoints, edges)
    losers = clusters.filter(F.col("doc") != F.col("cluster_id")).select(
        F.col("doc").alias("doc_id")
    )
    survivors = dedupe.local_checkpoint_no_stats(deduped.join(
        losers.hint("shuffle_hash"), "doc_id", "left_anti"
    ))
    dedupe.free_local_checkpoint(clusters)
    if verbose_counts:
        counts["after_near_dup"] = survivors.count()
    edges.unpersist()
    # the LSH operators persisted shingled's signature table; a rebuilt
    # minhash_signatures(shingled) names it (DataFrame.unpersist finds
    # the cached plan by sameResult)
    dedupe.minhash_signatures(shingled).unpersist()
    secs["near_dup"] = round(time.time() - t0, 2)
    dedupe.free_local_checkpoint(deduped)
    if shingled is not deduped:
        dedupe.free_local_checkpoint(shingled)

    if eval_df is not None:
        # eval-set decontamination (operators/decontam.py): drop any
        # training doc sharing an n-gram with the benchmark set —
        # broadcast eval shingles, corpus side never shuffles
        from go_scrapper_spark.operators.decontam import decontaminate

        t0 = time.time()
        pre = survivors
        survivors = dedupe.local_checkpoint_no_stats(decontaminate(
            survivors, eval_df, n=decontam_n,
            broadcast_eval=decontam_broadcast))
        if verbose_counts:
            counts["after_decontam"] = survivors.count()
        secs["decontam"] = round(time.time() - t0, 2)
        dedupe.free_local_checkpoint(pre)

    if substring_k > 0:
        t0 = time.time()
        sd = dedupe.substring_dedup(survivors, k=substring_k)
        pre = survivors
        survivors = dedupe.local_checkpoint_no_stats(
            survivors.drop("text").join(
                sd.filter(F.col("n_kept") > 0).select(
                    "doc_id", F.col("clean_text").alias("text")),
                "doc_id",
            )
        )
        if verbose_counts:
            counts["after_substring_dedup"] = survivors.count()
        secs["substring_dedup"] = round(time.time() - t0, 2)
        dedupe.free_local_checkpoint(pre)

    lang = textstats.lang_id(survivors).select("doc_id", "lang_guess")
    result = survivors.join(lang, "doc_id")
    result._ckpt_origin = getattr(survivors, "_ckpt_origin", survivors)
    return result, counts


def main() -> None:
    ap = argparse.ArgumentParser(prog="corpus")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--docs", help="documents parquet path")
    src.add_argument("--warc", help="parquet of (file_id, warc) blobs")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--wet-out", help="also export the corpus as WET files")
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--near-dup-matches", type=int, default=6)
    ap.add_argument("--decontam-eval",
                    help="parquet of (eval_id, text) benchmark docs: drop "
                         "training docs sharing an n-gram with any of them")
    ap.add_argument("--decontam-ngram", type=int, default=8)
    ap.add_argument("--substring-k", type=int, default=0,
                    help="k>0 adds substring-level exact dedup (Lee et "
                         "al. ExactSubstr at word granularity) after "
                         "doc-level dedup: k-token spans repeated "
                         "anywhere keep only their first occurrence "
                         "(under --update-existing: within the new "
                         "segment)")
    ap.add_argument("--host-template-den", type=int, default=0,
                    help="with --warc: drop paragraphs appearing in "
                         ">= 1/DEN of a host's documents (0 = off)")
    ap.add_argument("--update-existing",
                    help="incremental mode: parquet of the standing "
                         "corpus; --out receives only the cleaned, "
                         "corpus-deduped DELTA to append")
    ap.add_argument("--sigs",
                    help="incremental mode: parquet of the standing "
                         "corpus's MinHash signature table (doc, "
                         "s0..s5) — the standing corpus is then never "
                         "re-shingled")
    ap.add_argument("--sigs-out",
                    help="write the MinHash signature table of this "
                         "run's output rows (full corpus in build "
                         "mode, the delta in incremental mode — "
                         "append it to the standing --sigs table for "
                         "the next nightly run)")
    ap.add_argument("--decontam-shuffle", action="store_true",
                    help="join eval shingles with a shuffle-hash join "
                         "instead of a broadcast (eval suites too "
                         "large to broadcast)")
    ap.add_argument("--verbose-counts", action="store_true",
                    help="also count the rows after each stage, and "
                         "in incremental mode the standing corpus (a "
                         "full extra scan) — diagnostics only")
    args = ap.parse_args()
    if args.sigs and not args.update_existing:
        ap.error("--sigs needs --update-existing")

    from go_scrapper_spark.session import get_spark

    spark = get_spark(app_name="corpus-build")
    if args.warc:
        docs = warc_front_end(spark.read.parquet(args.warc),
                              host_template_den=args.host_template_den)
    else:
        docs = spark.read.parquet(args.docs)
    eval_df = (spark.read.parquet(args.decontam_eval)
               if args.decontam_eval else None)
    result, counts = build_corpus(
        spark, docs, args.min_tokens, args.near_dup_matches,
        eval_df=eval_df, decontam_n=args.decontam_ngram,
        substring_k=args.substring_k,
        decontam_broadcast=not args.decontam_shuffle,
        verbose_counts=args.verbose_counts,
        existing=(spark.read.parquet(args.update_existing)
                  if args.update_existing else None),
        existing_sigs=spark.read.parquet(args.sigs) if args.sigs else None,
    )
    if args.warc:
        # build_corpus has read the front end's documents checkpoint
        # into its own; nothing reads it any more
        from go_scrapper_spark.operators.dedupe import free_local_checkpoint

        free_local_checkpoint(docs)
    n_final = result.count()
    result.write.mode("overwrite").partitionBy("lang_guess").parquet(args.out)
    # a fully-filtered corpus is a legitimate outcome: an empty
    # partitioned parquet dir cannot be schema-inferred back, so only
    # read-verify when something was written
    counts["written"] = spark.read.parquet(args.out).count() if n_final else 0
    if args.sigs_out and n_final:
        # the next nightly run reads this back via --sigs (appended to
        # the standing table), so the growing corpus is shingled
        # exactly once per document across its lifetime
        from go_scrapper_spark.operators.dedupe import minhash_signatures

        minhash_signatures(spark.read.parquet(args.out)).write.mode(
            "overwrite"
        ).parquet(args.sigs_out)
        counts["sigs_written"] = spark.read.parquet(args.sigs_out).count()
    if args.wet_out and n_final:
        from pyspark.sql import functions as F

        from go_scrapper_spark.sources.warc import pages_to_wet

        final = spark.read.parquet(args.out)
        wet_src = final.select(
            (F.col("url") if "url" in final.columns else F.concat(
                F.lit("urn:doc:"), F.col("doc_id").cast("string")
            )).alias("url"),
            (F.col("warc_ts") if "warc_ts" in final.columns
             else F.timestamp_seconds(F.lit(0))).alias("warc_ts"),
            "text",
        )
        n_files = max(1, min(64, counts["written"] // 256 + 1))
        pages_to_wet(wet_src, n_files=n_files).write.mode(
            "overwrite"
        ).parquet(args.wet_out)
        counts["wet_files"] = spark.read.parquet(args.wet_out).count()
    print(json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    main()
