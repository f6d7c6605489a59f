"""Text analysis for corpus building (training-data pipeline tier).

Language-ID heuristic, quality scoring, token counting, document
fingerprinting — all native Spark SQL expressions (codegen'd, no
Python), integer/string-exact so the DuckDB oracle verifies them
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# function-word list for the density heuristic (the synthetic corpus
# vocabulary contains 'the' and 'a'; real deployments swap per-language
# stopword tables here)
FUNC_WORDS = ("the", "a")


def token_count(text_col) -> F.Column:
    return F.size(F.split(text_col, r"\s+"))


# GPT-2-style pretokenizer approximation: letter runs and digit runs
# each become one token; every punctuation CHARACTER is its own token.
# The DuckDB oracle interpolates this same constant (SQL_TEXT_QUALITY),
# so engine and oracle cannot drift.
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def bpe_ish_token_count(text_col_name: str) -> F.Column:
    """Token count under the BPE-ish pretokenizer regex (the unit an
    LLM-data pipeline budgets by, vs whitespace words)."""
    return F.expr(
        f"size(regexp_extract_all({text_col_name}, '{BPE_ISH_PATTERN}', 0))"
    )


def func_word_count(text_col) -> F.Column:
    arr = F.split(text_col, " ")
    return F.size(F.filter(arr, lambda w: w.isin(*FUNC_WORDS)))


def text_quality(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Integer quality features + a coarse keep/drop band, the
    C4/Gopher-style filter shape."""
    t = F.col(text_col)
    n_tok = token_count(t)
    n_stop = func_word_count(t)
    return docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        n_tok.alias("n_tokens"),
        bpe_ish_token_count(text_col).cast("long").alias("n_bpe_tokens"),
        n_stop.alias("n_func_words"),
        # mean token length in milli-chars: exact integer division
        F.floor(F.length(t) * 1000 / n_tok).cast("long").alias("milli_chars_per_token"),
        F.when((n_tok >= 20) & (n_stop * 100 >= n_tok * 2), F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("quality_band"),
    )


# Per-language function-word profiles: the ~40 highest-frequency
# function words of each language, from public frequency lists (these
# are the standard "stopword" sets any NLP toolkit ships). Function
# words are the classic language-ID signal — they are closed-class,
# extremely frequent (30-50% of running text), and language-specific.
# Kept the same length per language so raw hit counts are comparable
# without normalization; the one curation choice: ambiguous single
# letters ('a' en/es, 'e' it/pt) are assigned to ONE language only.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "was",
           "for", "on", "are", "with", "as", "at", "be", "this", "have",
           "from", "or", "by", "not", "but", "what", "all", "were", "we",
           "when", "your", "can", "there", "an", "which", "she", "do",
           "how", "their", "if", "will"),
    "de": ("der", "die", "das", "und", "ist", "ich", "nicht", "sie", "es",
           "ein", "eine", "zu", "den", "mit", "auf", "für", "im", "dem",
           "sich", "des", "war", "wie", "einer", "aber", "aus", "durch",
           "wenn", "nur", "noch", "nach", "bei", "einem", "über", "auch",
           "als", "an", "haben", "oder", "vom", "werden"),
    "fr": ("le", "la", "les", "de", "des", "du", "et", "est", "en", "un",
           "une", "que", "qui", "dans", "pour", "pas", "sur", "ne", "se",
           "ce", "il", "elle", "au", "aux", "avec", "son", "ses", "mais",
           "ou", "où", "donc", "car", "cette", "être", "sont", "nous",
           "vous", "je", "tu", "y"),
    "es": ("el", "los", "las", "del", "y", "es", "por", "para", "con",
           "no", "su", "al", "lo", "como", "más", "pero", "sus", "ya",
           "o", "este", "sí", "porque", "esta", "entre", "cuando", "muy",
           "sin", "sobre", "también", "me", "hasta", "hay", "donde",
           "quien", "desde", "todo", "nos", "durante", "todos", "uno"),
    "it": ("il", "lo", "i", "gli", "di", "che", "della", "e", "è", "per",
           "non", "si", "da", "anche", "ma", "più", "se", "questo",
           "questa", "tra", "fra", "sono", "ha", "hanno", "come", "alla",
           "nel", "nella", "dei", "delle", "ai", "agli", "loro", "suo",
           "sua", "essere", "stato", "quando", "dove", "perché"),
}


# punctuation stripped before tokenizing (apostrophe too: French
# elision "l'homme" → "l homme" so the article surfaces as a token)
LANG_ID_PUNCT = "[.,!?;:()\"']"


def lang_id(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Profile-table language ID: integer function-word hit counts per
    language, argmax wins (ties broken by language code ascending);
    zero hits anywhere → 'und'.

    Round 7 plan shape: the profiles are compile-time constants, so
    each language's hit count is an in-row, fully codegen'd
    ``regexp_count`` of a 40-way word alternation over the normalized
    text — ZERO shuffles, where the round-6 shape paid a token explode,
    a per-(doc, lang) aggregation exchange, an argmax window sort and a
    join-back regardless of corpus size. Token semantics are preserved
    exactly: the text is space-padded after punctuation-stripping +
    lowercasing, and the pattern ``\\s(?:w1|...|w40)(?=\\s)`` consumes
    the token's leading separator only (lookahead on the trailing one),
    so every whitespace-delimited token occurrence — including
    consecutive hits sharing one separator — counts once, same as the
    old explode+join tally. The argmax is a 5-way fold iterating
    languages ascending with a strict >, which reproduces the
    (score desc, lang asc) tie-break exactly."""
    normed = F.concat(
        F.lit(" "),
        F.lower(F.regexp_replace(F.col(text_col), LANG_ID_PUNCT, " ")),
        F.lit(" "),
    )
    langs = sorted(LANG_PROFILES)

    def profile_hits(lg: str) -> F.Column:
        alt = "|".join(LANG_PROFILES[lg])
        return F.regexp_count(
            F.col("_normed"), F.lit(rf"\s(?:{alt})(?=\s)")
        )

    scores = docs.select(F.col(id_col), normed.alias("_normed")).select(
        id_col,
        *[profile_hits(lg).alias(f"_s_{lg}") for lg in langs],
    )
    best = F.struct(F.lit(-1).alias("score"), F.lit("").alias("lang"))
    for lg in langs:
        sc = F.col(f"_s_{lg}")
        best = (
            F.when(sc > best["score"],
                   F.struct(sc.alias("score"), F.lit(lg).alias("lang")))
            .otherwise(best)
        )
    return scores.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"])
        .otherwise(F.lit("und")).alias("lang_guess"),
        F.when(best["score"] > 0, best["score"])
        .otherwise(F.lit(0)).cast("long").alias("lang_score"),
    )


def repetition_signals(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters: duplicate-token fraction and
    top-bigram mass, both in exact permille (machine-generated or
    boilerplate text scores high on both and gets cut before training).
    Whole-stage-codegen expressions except the bigram mode, which is
    one explode + two-level agg (a single shuffle keyed by doc)."""
    t = F.col(text_col)
    toks = F.split(t, " ")
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    base = docs.select(
        F.col(id_col),
        n_tok.alias("_n"),
        F.floor((n_tok - n_distinct) * 1000 / n_tok).cast("long").alias("dup_token_permille"),
    )
    # guard BEFORE the sequence: for a 1-token doc sequence(0, -1) is
    # the DESCENDING sequence [0, -1], not empty, and words[-1 + 1]
    # then faults under ANSI array indexing
    # the split binds ONCE via the one-element transform lambda — the
    # indexed spelling split(..)[i] re-evaluates the split per access
    # (see dedupe.word_shingles)
    bigrams = docs.filter(F.size(F.split(t, " ")) >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(array(split({text_col}, ' ')), ws -> "
                f"  transform(sequence(1, size(ws) - 1), "
                f"            i -> array_join(slice(ws, i, 2), ' ')))[0]"
            )
        ).alias("bg"),
    )
    top_bg = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count("*").alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.max("cnt").alias("_top_cnt"),
            F.sum("cnt").alias("_total_bg"),
        )
    )
    return (
        base.join(top_bg, id_col, "left")
        .select(
            id_col,
            "dup_token_permille",
            F.coalesce(
                F.floor(F.col("_top_cnt") * 1000 / F.col("_total_bg")), F.lit(0)
            ).cast("long").alias("top_bigram_permille"),
            F.when(
                (F.col("dup_token_permille") < 600)
                & (F.coalesce(F.floor(F.col("_top_cnt") * 1000 / F.col("_total_bg")), F.lit(0)) < 180),
                F.lit("keep"),
            ).otherwise(F.lit("drop")).alias("repetition_band"),
        )
    )


def tfidf_topk(docs: DataFrame, k: int = 3, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Top-k salient terms per document by an integer-exact tf-idf
    surrogate: score = tf * (1_000_000 div df) with integral division
    (cross-engine exact where float ln() is not), ties broken by term.
    Plan: token explode → (doc, term) tf agg → term df agg (broadcast
    back — the term dictionary is tiny next to the corpus) → per-doc
    top-k window partitioned by doc. Two shuffles keyed doc/term, both
    combiner-friendly. (Round 7 measured the tempting "derive df from
    a persisted tf" variant at 1.5x SLOWER: the persist serializes the
    tf and df branches that this shape runs as independent parallel
    stages, and df-via-distinct is the same two-phase aggregate shape
    anyway — left as is, deliberately.)"""
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    tf = tok.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    df_t = tok.select("doc", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(F.broadcast(df_t), "term").withColumn(
        "score", (F.col("tf") * F.expr("1000000 div df")).cast("long")
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc", "term", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "score", "rank")
    )


# PII patterns chosen to parse identically under Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """PII redaction pass (emails, US-style phone numbers): counts per
    doc plus the md5 of the scrubbed text — the shape a compliance
    stage wants (audit counts without retaining the raw match). All
    regexp_replace/regexp_count, codegen'd, no Python."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    # column-form regexp_count, NOT F.expr: a SQL string literal would
    # process the pattern's backslashes before the regex engine sees it
    return docs.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Document fingerprints: whole-text md5 of the normalized text +
    a winnowing-style min-hash over character 16-grams (the rolling-
    hash fingerprint class, exact via md5 ordering)."""
    # the normalized text binds ONCE per row via the one-element
    # transform lambda (the round-6 spelling re-evaluated the
    # lower(regexp_replace(...)) chain inside the per-gram lambda —
    # O(len²) regex work per document; see dedupe.word_shingles)
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    grams = F.expr(
        f"transform(array(lower(regexp_replace({text_col}, '\\\\s+', ' '))), "
        "nw -> transform(sequence(1, greatest(length(nw) - 15, 1)), "
        "                i -> substring(nw, i, 16)))[0]"
    )
    return docs.select(
        F.col(id_col),
        F.md5(norm.cast("binary")).alias("doc_md5"),
        F.array_min(F.transform(grams, lambda g: F.md5(g.cast("binary")))).alias("min_gram_md5"),
    )
