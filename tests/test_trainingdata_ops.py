"""Unit tests for the training-data pipeline operators (dedup,
similarity, text stats, multimodal plumbing) on hand-built inputs with
known answers. The cross-engine exactness of the same operators is
separately enforced by the DuckDB oracle (tools/check_oracle.py)."""

import pytest
from pyspark.sql import functions as F

from go_scrapper_spark.functions import textstats
from go_scrapper_spark.operators import dedupe, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a sleepy dog"),  # near dup of 0
        (3, "completely different words entirely here now"),
        (4, "a a a the the the a a the tokens"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = dedupe.exact_dedup_groups(docs).collect()
    by_canon = {r["canonical_id"]: r["n_dups"] for r in groups}
    assert by_canon[0] == 2  # docs 0 and 1 collapse
    assert by_canon[2] == 1
    assert len(groups) == 4


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["uni"])
        for r in dedupe.ngram_jaccard_pairs(docs, n=3, num=1, den=5).collect()
    }
    assert (0, 1) in pairs
    inter, uni = pairs[(0, 1)]
    assert inter == uni  # identical docs: jaccard 1
    assert (0, 2) in pairs  # near dup shares most 3-grams
    assert (0, 3) not in pairs


def test_minhash_identical_docs_full_band_match(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["sig_matches"]
        for r in dedupe.minhash_lsh_pairs(docs, k=6, n=3, bands=3).collect()
    }
    assert pairs[(0, 1)] == 6  # identical → all signature components equal


def test_connected_components_transitive_clusters(spark):
    # a~b, b~c chain plus an isolated d: components must be transitive
    # ({a,b,c} one cluster) and total (d labels itself)
    verts = spark.createDataFrame([(10,), (11,), (12,), (13,), (14,)], "doc long")
    edges = spark.createDataFrame(
        [(11, 10), (11, 12), (13, 14)], "src long, dst long"
    )
    labels = {
        r["doc"]: r["cluster_id"]
        for r in dedupe.connected_components(verts, edges).collect()
    }
    assert labels == {10: 10, 11: 10, 12: 10, 13: 13, 14: 13}


def test_connected_components_long_chain_converges(spark):
    # a 9-node path needs multiple propagation rounds (diameter 8)
    n = 9
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    labels = dedupe.connected_components(verts, edges).collect()
    assert {r["cluster_id"] for r in labels} == {0}
    assert len(labels) == n


def test_connected_components_releases_its_caches(spark):
    """Freeing the returned labels releases the last round's label
    checkpoint: repeated calls leave no persisted RDD behind."""
    jsc = spark.sparkContext._jsc
    verts = spark.createDataFrame([(i,) for i in range(6)], "doc long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "src long, dst long"
    )
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(2):
        labels = dedupe.connected_components(verts, edges)
        assert {r["doc"]: r["cluster_id"] for r in labels.collect()} == {
            0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}
        dedupe.free_local_checkpoint(labels)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_repetition_signals(spark):
    rows = [
        (0, "spam spam spam spam spam spam"),       # all dup tokens, one bigram
        (1, "all fresh words appear exactly once"),  # no repetition
        (2, "x"),                                    # single token: no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.repetition_signals(df).collect()}
    assert out[0]["dup_token_permille"] == 833  # floor(5/6 * 1000)
    assert out[0]["top_bigram_permille"] == 1000
    assert out[0]["repetition_band"] == "drop"
    assert out[1]["dup_token_permille"] == 0
    assert out[1]["top_bigram_permille"] == 200  # 1 of 5 bigrams
    assert out[2]["top_bigram_permille"] == 0  # no bigrams → 0, not null


def test_tfidf_topk_ranks_rare_terms(spark):
    rows = [
        (0, "common common rare0"),
        (1, "common rare1 rare1"),
        (2, "common other other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.tfidf_topk(df, k=1).collect()
    top = {r["doc"]: r for r in out}
    # 'common' has df=3 → idf 333333; each doc's rare term (df=1,
    # idf 1000000) outranks it even at equal tf
    assert top[0]["term"] == "rare0" and top[0]["score"] == 1_000_000
    assert top[1]["term"] == "rare1" and top[1]["score"] == 2_000_000
    assert top[2]["term"] == "other"
    assert all(r["rank"] == 1 for r in out)


def test_simhash_identical_docs_equal(docs):
    fps = {r["doc"]: r["simhash"] for r in dedupe.simhash(docs).collect()}
    assert fps[0] == fps[1]
    assert 0 <= fps[0] < 2 ** 16
    assert fps[0] != fps[3]


@pytest.fixture(scope="module")
def emb(spark):
    def vec(*hot):
        v = [0.0] * 64
        for i, val in hot:
            v[i] = val
        return v

    rows = [
        (0, vec((0, 1.0))),                 # query 0
        (1, vec((1, 1.0))),                 # query 1
        (5, vec((0, 0.9), (1, 0.1))),       # closest to q0
        (6, vec((0, 0.5))),
        (7, vec((1, 0.8))),                 # closest to q1
        (8, vec((2, 1.0))),                 # orthogonal
        (9, vec((0, 0.9), (1, 0.1))),       # identical to 5
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_topk_dot(emb):
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.topk_dot(emb, k=2, n_queries=2).collect()
    }
    # q0: 5 and 9 tie at dot=900000 → id tiebreak; then 6
    assert got[(0, 1)] == 5 and got[(0, 2)] == 9
    assert got[(1, 1)] == 7


def test_cosine_near_dup(emb):
    pairs = {(r["id_a"], r["id_b"]) for r in
             similarity.cosine_near_dup_pairs(emb, num=99, den=100).collect()}
    assert (5, 9) in pairs  # identical vectors, cos = 1
    assert (0, 8) not in pairs  # orthogonal


def test_cosine_near_dup_rejects_zero_max_blocks(emb):
    with pytest.raises(ValueError, match="max_blocks"):
        similarity.cosine_near_dup_pairs(emb, max_blocks=0)


def test_lsh_bucket_neighbors_subset_of_bruteforce(emb):
    lsh = similarity.lsh_bucketed_neighbors(emb, k=3, n_queries=2)
    brute = similarity.topk_dot(emb, k=10, n_queries=2)
    lsh_pairs = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    brute_pairs = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    assert lsh_pairs <= brute_pairs


def test_ivf_topk_searches_probed_cells_only(emb):
    """IVF with nprobe == n_centroids degrades to exact brute force
    (every cell probed); smaller nprobe returns a subset of it."""
    full = similarity.ivf_topk(emb, k=3, n_queries=2, n_centroids=3, nprobe=3)
    brute = similarity.topk_dot(emb, k=3, n_queries=2)
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["dot"])  # noqa: E731
    assert sorted(map(key, full.collect())) == sorted(map(key, brute.collect()))
    narrow = similarity.ivf_topk(emb, k=3, n_queries=2, n_centroids=3, nprobe=1)
    narrow_pairs = {(r["query_id"], r["neighbor_id"]) for r in narrow.collect()}
    brute_pairs = {(r["query_id"], r["neighbor_id"]) for r in
                   similarity.topk_dot(emb, k=10, n_queries=2).collect()}
    assert narrow_pairs <= brute_pairs


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! a1b2 --- x")], "doc_id long, text string"
    )
    row = textstats.text_quality(df).collect()[0]
    # letter runs: Hello world a b x (5) + digit runs: 1 2 (2) +
    # punctuation chars: , ! - - - (5) = 12
    assert row["n_bpe_tokens"] == 12
    assert row["n_tokens"] == 5  # whitespace words


def test_text_quality_and_langid(docs):
    q = {r["doc_id"]: r for r in textstats.text_quality(docs).collect()}
    assert q[0]["n_tokens"] == 9
    assert q[0]["n_func_words"] == 2  # 'the' twice... plus none else in stoplist
    lang = {r["doc_id"]: r for r in textstats.lang_id(docs).collect()}
    assert lang[4]["lang_guess"] == "en"  # function-word salad
    assert lang[3]["lang_guess"] == "und"  # no function words at all
    assert lang[3]["lang_score"] == 0


def test_lang_id_detects_five_languages(spark):
    """The profile-table lang-ID must separate all five profile
    languages on real sentences (the oracle entry
    ``lang_id_multilingual`` gates the same corpus cross-engine)."""
    from go_scrapper_spark.oracle_queries import MULTILINGUAL_CORPUS

    df = spark.createDataFrame(
        [(i, t) for i, _lang, t in MULTILINGUAL_CORPUS],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_guess"] for r in textstats.lang_id(df).collect()}
    for i, expected, _t in MULTILINGUAL_CORPUS:
        assert got[i] == expected, (i, expected, got[i])
    assert len(set(lang for _i, lang, _t in MULTILINGUAL_CORPUS)) == 6  # 5 + und


def test_fingerprint_stable(docs):
    fp = {r["doc_id"]: r for r in textstats.fingerprint(docs).collect()}
    assert fp[0]["doc_md5"] == fp[1]["doc_md5"]
    assert fp[0]["min_gram_md5"] == fp[1]["min_gram_md5"]
    assert fp[0]["doc_md5"] != fp[3]["doc_md5"]


def test_multimodal_stub_plumbing(docs):
    meta = {
        r["doc_id"]: r
        for r in multimodal.image_meta(multimodal.attach_payload(docs)).collect()
    }
    text0 = "the quick brown fox jumps over the lazy dog"
    assert meta[0]["n_bytes"] == len(text0.encode())
    assert meta[0]["fake_width"] == len(text0.encode()) % 640
    assert meta[0]["mode"] == "stub"


def test_multimodal_audio_video_plumbing(spark):
    df = spark.createDataFrame(
        [(1, "x" * 100), (2, "short"), (3, "")],  # 10 frames / 0 / 0
        "doc_id long, text string",
    )
    paid = multimodal.attach_payload(df)
    feats = {}
    for r in multimodal.audio_features(paid).collect():
        feats.setdefault(r["doc_id"], []).append(r)
    # exploded shape: one scalar row per window (array-typed output
    # columns are banned from oracle-gated queries)
    assert len(feats[1]) == 4 and feats[1][0]["n_units"] == 100
    assert sorted(r["window_idx"] for r in feats[1]) == [0, 1, 2, 3]
    assert all(isinstance(r["energy"], int) for r in feats[1])
    assert feats[3][0]["n_units"] == 0  # empty clip still yields rows
    assert len(feats[3]) == 4
    frames = multimodal.video_frame_sample(paid, frame_chars=10, stride=7).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert sorted(by_doc[1]) == [0, 7]  # 10 frames sampled at stride 7
    assert 2 not in by_doc and 3 not in by_doc  # too short → no frames


def test_multimodal_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"\x89PNG")


def test_quantize_int8_symmetric_truncation(spark):
    rows = [
        (0, [1.0, -0.5, 0.0, 0.25]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector → all q=0, scale 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["vec_id"], r["dim_idx"]): (r["q"], r["maxabs_milli"])
           for r in similarity.quantize_int8(df).collect()}
    # maxabs element maps to ±127; -0.5 → -(500*127 div 1000) = -63
    # (truncation toward zero on BOTH engines via the |x| decomposition)
    assert out[(0, 0)] == (127, 1000)
    assert out[(0, 1)] == (-63, 1000)
    assert out[(0, 2)] == (0, 1000)
    assert out[(0, 3)] == (31, 1000)  # 250*127 div 1000 = 31 (31.75 truncated)
    assert all(out[(1, d)] == (0, 0) for d in range(4))
    assert all(-127 <= q <= 127 for q, _ in out.values())


def test_pagerank_lite_hand_computed(spark):
    from go_scrapper_spark.operators.linkrank import pagerank_lite

    # A(1)→B(2), B→A, A→C(3); C dangling. By hand at 850‰ damping:
    # iter1: A=150k+850k=1_000_000, B=C=150k+850*500k div 1000=575_000
    # iter2: A=150k+(850*575_000) div 1000=638_750, B=C unchanged
    verts = spark.createDataFrame([(1,), (2,), (3,)], "v long")
    edges = spark.createDataFrame([(1, 2), (2, 1), (1, 3)], "src long, dst long")
    r = {row["v"]: row["rank"] for row in pagerank_lite(verts, edges, iters=2).collect()}
    assert r == {1: 638_750, 2: 575_000, 3: 575_000}


def test_pagerank_lite_releases_its_caches(spark):
    """pagerank_lite frees its persisted edge and vertex frames and its
    round checkpoint once the ranks are materialized: repeated calls
    leave no persisted RDD behind, and the returned ranks are a local
    table that no downstream read runs through Python."""
    from go_scrapper_spark.operators.linkrank import pagerank_lite

    jsc = spark.sparkContext._jsc
    verts = spark.createDataFrame([(1,), (2,), (3,)], "v long")
    edges = spark.createDataFrame([(1, 2), (2, 1), (1, 3)], "src long, dst long")
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(2):
        # checkpoint_every=2 takes a round checkpoint after iteration 2
        ranks = pagerank_lite(verts, edges, iters=3, checkpoint_every=2)
        # iter3: B = C = 150k + (850 * (638_750 div 2)) div 1000
        assert {r["v"]: r["rank"] for r in ranks.collect()} == {
            1: 638_750, 2: 421_468, 3: 421_468}
        assert "PythonRDD" not in ranks._jdf.queryExecution().toRdd().toDebugString()
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_stratified_sample_deterministic_hash(spark):
    import hashlib

    from go_scrapper_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "xx") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(df, rates={"en": 300}, stratum_col="lang")
    got = {r["doc_id"] for r in out.collect()}
    expected = {
        i
        for i, lang in rows
        if lang == "en"
        and int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1000 < 300
    }
    assert got == expected and expected  # exact membership, non-empty
    # rerun yields the identical sample (hash, not rand)
    again = {r["doc_id"] for r in stratified_sample(
        df, rates={"en": 300}, stratum_col="lang").collect()}
    assert again == got


def test_pack_shards_budget_boundaries(spark):
    from go_scrapper_spark.operators.sampling import pack_shards

    rows = [
        (0, "en", 400), (1, "en", 400),  # start offsets 0, 400 → shard 0
        (2, "en", 400),                   # starts at 800 (< budget) → shard 0
        (3, "en", 2500),                  # starts at 1200 → shard 1 (oversized, alone)
        (4, "en", 10),                    # starts at 3700 → shard 3
        (5, "de", 10),                    # separate stratum restarts at 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = {r["doc_id"]: r["shard_id"] for r in pack_shards(
        df, budget_tokens=1000, stratum_col="lang").collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 1, 4: 3, 5: 0}


def test_pii_scrub_counts_and_hash(spark):
    import hashlib

    rows = [
        (0, "mail me at bob@example.com or alice@test.org today"),
        (1, "call 555-867-5309 now"),
        (2, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.pii_scrub(df).collect()}
    assert out[0]["n_emails"] == 2 and out[0]["n_phones"] == 0
    assert out[1]["n_phones"] == 1
    assert out[2]["n_emails"] == 0 and out[2]["n_phones"] == 0
    expected = hashlib.md5(b"mail me at <EMAIL> or <EMAIL> today").hexdigest()
    assert out[0]["scrubbed_md5"] == expected
    assert out[1]["scrubbed_md5"] == hashlib.md5(b"call <PHONE> now").hexdigest()


def test_content_sniffing_magic_bytes(spark):
    """Magic-byte sniffing routes every signature class correctly and
    falls back printable→text/plain, other→octet-stream (the oracle
    entry mm_content_sniff gates the same corpus cross-engine)."""
    from pyspark.sql import functions as F

    from go_scrapper_spark.functions.contentsniff import sniff_content_types
    from go_scrapper_spark.oracle_queries import CONTENT_SNIFF_CORPUS

    df = spark.createDataFrame(
        CONTENT_SNIFF_CORPUS, "doc_id long, hx string"
    ).select("doc_id", F.unhex("hx").alias("payload"))
    got = {r["doc_id"]: r["content_type"] for r in sniff_content_types(df).collect()}
    expected = {
        0: "image/png", 1: "image/jpeg", 2: "image/gif", 3: "image/gif",
        4: "application/pdf", 5: "application/zip", 6: "application/gzip",
        7: "audio/riff", 8: "audio/ogg", 9: "audio/flac", 10: "video/mp4",
        11: "application/warc", 12: "text/html", 13: "text/html",
        14: "text/plain", 15: "application/octet-stream", 16: "empty",
    }
    assert got == expected


# ---------------------------------------------------------------- real decode
# Skip-marked feature-detection tests (round-5 VERDICT item 8): the
# round a decoder library lands in the image these activate with zero
# code changes; until then the stub path above is the tested surface.
import pytest as _pytest

from go_scrapper_spark.operators.multimodal import HAS_PIL, decode_image_real


@_pytest.mark.skipif(not HAS_PIL, reason="PIL not installed in this image")
def test_decode_image_real_reads_actual_dimensions():
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (12, 7)).save(buf, format="PNG")
    meta = decode_image_real(buf.getvalue())
    assert (meta["width"], meta["height"], meta["mode"]) == (12, 7, "RGB")
    assert meta["n_bytes"] == len(buf.getvalue())


@_pytest.mark.skipif(HAS_PIL, reason="decoder present — real path active")
def test_decode_image_real_raises_without_decoder():
    with _pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG\r\n")


def test_paragraph_dedup_first_vs_unique(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta\ncookie banner\nunique zero"),
         (1, "cookie banner\nmiddle one\ncookie banner"),
         (2, "  cookie banner \n\nunique two"),
         (3, "")],
        "doc_id long, text string")
    first = {r["doc_id"]: r for r in
             dedupe.paragraph_dedup(docs, keep="first").collect()}
    # globally first occurrence (doc 0, idx 1) survives; later ones drop
    assert first[0]["clean_text"] == "alpha beta\ncookie banner\nunique zero"
    assert first[1]["clean_text"] == "middle one"
    assert (first[1]["n_paras"], first[1]["n_kept"]) == (3, 1)
    # whitespace-only paragraph dropped, repeated one trimmed+matched
    assert first[2]["clean_text"] == "unique two"
    # a document with no non-empty paragraphs disappears (documented)
    assert 3 not in first

    uniq = {r["doc_id"]: r for r in
            dedupe.paragraph_dedup(docs, keep="unique").collect()}
    assert uniq[0]["clean_text"] == "alpha beta\nunique zero"
    assert uniq[1]["clean_text"] == "middle one"


def test_paragraph_dedup_order_preserved_and_idempotent(spark):
    text = "\n".join(f"para {i}" for i in range(50))
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string") \
        .repartition(5)
    out = dedupe.paragraph_dedup(docs).collect()[0]
    assert out["clean_text"] == text  # all unique → identity, in order
    again = dedupe.paragraph_dedup(
        spark.createDataFrame([(7, out["clean_text"])],
                              "doc_id long, text string")).collect()[0]
    assert again["clean_text"] == text


def test_paragraph_dedup_idx_overflow_raises(spark):
    # 2^20 + 1 paragraphs in one document crosses the idx pack budget
    docs = spark.createDataFrame(
        [(1, "\n".join(f"p{i}" for i in range((1 << 20) + 1)))],
        "doc_id long, text string")
    with pytest.raises(Exception, match="pack overflow"):
        dedupe.paragraph_dedup(docs).collect()


def test_paragraph_dedup_full_64bit_doc_ids(spark):
    """Content-addressed ids (xxhash64) span the full signed-long
    range; the decimal pack must order them exactly — the negative id
    is the globally first occurrence and keeps the canonical copy
    (the r5 2^43 pack bound rejected these outright)."""
    docs = spark.createDataFrame(
        [(-(1 << 62) - 17, "shared boiler\nneg unique"),
         ((1 << 62) + 23, "pos unique\nshared boiler"),
         (1 << 43, "over the old doc-id bound\nshared boiler")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"]
           for r in dedupe.paragraph_dedup(docs).collect()}
    assert out[-(1 << 62) - 17] == "shared boiler\nneg unique"
    assert out[(1 << 62) + 23] == "pos unique"
    assert out[1 << 43] == "over the old doc-id bound"


def test_paragraph_dedup_rejects_bad_mode(spark):
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedupe.paragraph_dedup(docs, keep="all")


def test_decontamination_flags_and_removes(spark):
    from go_scrapper_spark.operators import decontam

    docs = spark.createDataFrame(
        [(0, "The   Quick brown fox jumps over the lazy dog tonight"),
         (1, "completely unrelated training prose with no overlap here at all"),
         (2, "prefix words then the quick brown fox JUMPS over something"),
         (3, "tiny doc")],
        "doc_id long, text string")
    evals = spark.createDataFrame(
        [(100, "the quick brown fox jumps over a fence")],
        "eval_id long, text string")

    rep = {r["doc_id"]: r for r in
           decontam.contamination_report(docs, evals, n=5).collect()}
    # doc 0: case/whitespace-normalized 5-grams "the quick brown fox
    # jumps" + "quick brown fox jumps over" both hit; doc 2 the same
    assert set(rep) == {0, 2}
    assert rep[0]["n_hits"] == 2 and rep[0]["n_eval_docs"] == 1
    assert rep[2]["n_hits"] == 2

    clean = decontam.decontaminate(docs, evals, n=5)
    assert {r["doc_id"] for r in clean.collect()} == {1, 3}

    # the shuffle-join fallback (huge eval suites) is result-identical
    rep2 = {r["doc_id"]: (r["n_hits"], r["n_eval_docs"]) for r in
            decontam.contamination_report(
                docs, evals, n=5, broadcast_eval=False).collect()}
    assert rep2 == {d: (r["n_hits"], r["n_eval_docs"])
                    for d, r in rep.items()}
    # ...and reachable end-to-end through decontaminate() (r6: a huge
    # eval suite previously had no knob to flip off the broadcast)
    clean2 = decontam.decontaminate(docs, evals, n=5, broadcast_eval=False)
    assert {r["doc_id"] for r in clean2.collect()} == {1, 3}


def test_decontamination_short_docs_never_explode(spark):
    from go_scrapper_spark.operators import decontam

    docs = spark.createDataFrame(
        [(0, "one two three"), (1, None), (2, "")],
        "doc_id long, text string")
    evals = spark.createDataFrame([(9, "one two")],
                                  "eval_id long, text string")
    # every doc (and the eval) is shorter than n → empty report, no
    # descending-sequence garbage
    assert decontam.contamination_report(docs, evals, n=8).count() == 0
    assert decontam.decontaminate(docs, evals, n=8).count() == 3


def test_paragraph_dedup_matches_python_model_randomized(spark):
    """One seeded random corpus (repeated boilerplate lines mixed with
    unique prose), one Spark batch, compared field-for-field against a
    direct pure-Python implementation of the contract."""
    import random

    rng = random.Random(20260817)
    boiler = [f"boiler line {b} repeated across the corpus" for b in range(5)]
    docs = []
    for d in range(60):
        paras = []
        for _ in range(rng.randint(0, 8)):
            if rng.random() < 0.4:
                paras.append(rng.choice(boiler))
            else:
                paras.append(f"unique {d} {rng.randint(0, 10**9)}")
            if rng.random() < 0.2:
                paras.append("   ")  # whitespace-only, must vanish
        docs.append((d, "\n".join(paras)))

    # python model: first occurrence by (doc, original split idx)
    first = {}
    for d, text in docs:
        for i, raw in enumerate(text.split("\n")):
            p = raw.strip()
            if p and p not in first:
                first[p] = (d, i)
    expect = {}
    for d, text in docs:
        kept, n_paras = [], 0
        for i, raw in enumerate(text.split("\n")):
            p = raw.strip()
            if not p:
                continue
            n_paras += 1
            if first[p] == (d, i):
                kept.append(p)
        if n_paras:
            expect[d] = ("\n".join(kept), n_paras, len(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(7)
    got = {r["doc_id"]: (r["clean_text"], r["n_paras"], r["n_kept"])
           for r in dedupe.paragraph_dedup(df).collect()}
    assert got == expect


def test_decontamination_matches_python_model_randomized(spark):
    import random

    from go_scrapper_spark.operators import decontam

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    evals = [(e, " ".join(rng.choice(vocab) for _ in range(12)))
             for e in range(3)]
    n = 4
    docs = []
    for d in range(80):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 20))]
        if rng.random() < 0.3 and words:  # plant an eval substring
            ew = rng.choice(evals)[1].split()
            k = rng.randint(0, len(ew) - n)
            span = ew[k:k + rng.randint(n, len(ew) - k)]
            at = rng.randint(0, len(words))
            words = words[:at] + span + words[at:]
        docs.append((d, " ".join(words)))

    def grams(t):
        ws = t.lower().split()
        return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

    eg = {}  # ngram -> set(eval_id)
    for e, t in evals:
        for g in grams(t):
            eg.setdefault(g, set()).add(e)
    expect = {}
    for d, t in docs:
        hit = {g for g in grams(t) if g in eg}
        if hit:
            expect[d] = (len(hit),
                         len(set().union(*(eg[g] for g in hit))))
    assert expect, "seeded corpus must actually overlap"

    got = {r["doc_id"]: (r["n_hits"], r["n_eval_docs"])
           for r in decontam.contamination_report(
               spark.createDataFrame(docs, "doc_id long, text string"),
               spark.createDataFrame(evals, "eval_id long, text string"),
               n=n).collect()}
    assert got == expect


def test_host_template_strip_per_host_scope(spark):
    docs = spark.createDataFrame(
        [(0, "a.com", "cookie banner\nunique zero text"),
         (1, "a.com", "cookie banner\nunique one text"),
         (2, "a.com", "unique two text"),
         (3, "b.com", "cookie banner\nunique three")],
        "doc_id long, host string, text string")
    out = {r["doc_id"]: r for r in
           dedupe.host_template_strip(docs, min_docs=2, num=1, den=2)
           .collect()}
    # banner in 2/3 of a.com docs → stripped from BOTH (no canonical
    # copy survives, unlike paragraph_dedup); b.com df=1 → untouched
    assert out[0]["clean_text"] == "unique zero text"
    assert out[1]["clean_text"] == "unique one text"
    assert out[2]["clean_text"] == "unique two text"
    assert out[3]["clean_text"] == "cookie banner\nunique three"
    assert (out[0]["n_paras"], out[0]["n_kept"]) == (2, 1)


def test_host_template_strip_thresholds(spark):
    # banner in 2 of 5 docs: below 1/2 → kept; at 2/5 → stripped
    docs = spark.createDataFrame(
        [(i, "h", ("tmpl line\n" if i < 2 else "") + f"own {i} prose")
         for i in range(5)],
        "doc_id long, host string, text string")
    half = {r["doc_id"]: r["clean_text"] for r in
            dedupe.host_template_strip(docs, min_docs=2, num=1, den=2)
            .collect()}
    assert half[0] == "tmpl line\nown 0 prose"  # 2*2 >= 5 is False
    fifth = {r["doc_id"]: r["clean_text"] for r in
             dedupe.host_template_strip(docs, min_docs=2, num=2, den=5)
             .collect()}
    assert fifth[0] == "own 0 prose"  # 2*5 >= 2*5 is True
    # all-template docs stay, with empty text
    docs2 = spark.createDataFrame(
        [(0, "h", "only tmpl"), (1, "h", "only tmpl")],
        "doc_id long, host string, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_kept"]) for r in
           dedupe.host_template_strip(docs2, min_docs=2, num=1, den=2)
           .collect()}
    assert got == {0: ("", 0), 1: ("", 0)}


def test_local_checkpoint_no_stats_bounds_plan_statistics(spark):
    """The round-6 driver-stall fix: plain localCheckpoint PRESERVES
    the origin plan's computed statistics, and an iterative
    self-join (the crawl frontier's shape) then SQUARES the carried
    sizeInBytes per round — its digit count doubles until the driver
    spends minutes multiplying million-digit BigIntegers. The
    stats-free checkpoint must (a) return identical rows and (b) keep
    the estimate's digit count CONSTANT across rounds."""
    from pyspark.sql import functions as F

    from go_scrapper_spark.operators.dedupe import local_checkpoint_no_stats

    def digits(df):
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return len(str(sz))

    df = local_checkpoint_no_stats(
        spark.range(100).select("id", F.lit("x").alias("s")))
    d0 = digits(df)
    for _ in range(4):
        upd = df.select("id", F.lit("y").alias("s2"))
        df = local_checkpoint_no_stats(
            df.join(upd, "id", "left").select("id", "s"))
    assert digits(df) == d0, "stats must not grow across checkpoint rounds"
    rows = df.orderBy("id").collect()
    assert len(rows) == 100 and rows[0]["s"] == "x"

    # the control: the plain checkpoint really does square (digit
    # count strictly grows) — if Spark ever stops inheriting stats,
    # this documents that the wrapper became unnecessary
    plain = spark.range(100).select("id", F.lit("x").alias("s")) \
        .localCheckpoint(eager=True)
    g0 = digits(plain)
    for _ in range(3):
        upd = plain.select("id", F.lit("y").alias("s2"))
        plain = plain.join(upd, "id", "left").select("id", "s") \
            .localCheckpoint(eager=True)
    assert digits(plain) > g0, (
        "plain localCheckpoint no longer inherits stats on this Spark "
        "— local_checkpoint_no_stats can be retired")


def test_free_local_checkpoint_releases_wrapped_blocks(spark):
    """free_local_checkpoint must reach THROUGH the stats-free wrapper
    to the raw checkpoint frame that actually owns the persisted
    blocks (the wrapper's own plan holds a derived, unpersisted
    RDD)."""
    from pyspark.sql import functions as F

    from go_scrapper_spark.operators.dedupe import (
        free_local_checkpoint, local_checkpoint_no_stats)

    df = local_checkpoint_no_stats(
        spark.range(1000).select("id", F.md5(F.col("id").cast("string")).alias("h")))
    assert df.count() == 1000
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    before = jsc.getRDDStorageInfo()
    assert len(before) > 0, "checkpoint should hold cached blocks"
    free_local_checkpoint(df)
    after = [i for i in jsc.getRDDStorageInfo() if i.numCachedPartitions() > 0]
    assert len(after) < len([i for i in before if i.numCachedPartitions() > 0]), \
        "free must release the raw checkpoint's blocks"


def test_substring_dedup_canonical_copy_survives(spark):
    """Lee-et-al ExactSubstr semantics at word granularity: a k-gram
    repeated anywhere keeps exactly its globally-first occurrence
    ((doc, pos) order); later occurrences' tokens are removed, other
    tokens untouched; a doc that is entirely repeated spans empties."""
    from go_scrapper_spark.operators.dedupe import substring_dedup

    docs = spark.createDataFrame([
        (1, "alpha beta gamma delta unique one tail"),
        (2, "start words alpha beta gamma delta more stuff"),
        (3, "totally different text with no repeats at all"),
        (4, "alpha beta gamma delta alpha beta gamma delta"),
        (5, None),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_dedup(docs, k=4).collect()}
    assert out[1]["clean_text"] == "alpha beta gamma delta unique one tail"
    assert out[2]["clean_text"] == "start words more stuff"
    assert out[3]["n_kept"] == out[3]["n_tokens"] == 8
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0
    assert out[5]["clean_text"] == ""  # null text degrades to empty
    # determinism: the canonical copy is (doc,pos)-min, so doc 1 wins
    assert out[1]["n_kept"] == 7 and out[2]["n_kept"] == 4
