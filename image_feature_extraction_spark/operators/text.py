"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language identification, document fingerprinting.

All computations are expressible in both Spark and ANSI-ish SQL (DuckDB
oracle): integer counts, md5-derived hashes, and exact divisions of
integers — no floating-point accumulation order dependence.

Scale: every operator is a narrow per-row projection (token counts,
quality, langid) or one explode + groupBy(doc_id) (fingerprint) — no
cross-doc shuffle other than the keyed fingerprint aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import md5_long, words_of

# Marker stopwords per language for the n-gram/stopword-hit language-ID
# heuristic. Deterministic tie-break: highest hits, then language asc;
# "und" (unknown) when no marker hits at all.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}

# Stopword list for the quality score (fraction of stopwords is a
# classic fluency proxy).
QUALITY_STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token statistics: whitespace word count, distinct words,
    character count, alpha-word count (BPE-ish regex proxy: words made of
    letters only), mean word length (exact int/int division).

    The split is materialized ONCE as a column (Catalyst does not CSE a
    repeated words_of(...) across projection aliases since SPARK-36718
    keeps non-cheap aliases un-collapsed — measured ~25% on this
    operator)."""
    w = F.col("_w")
    alpha = F.filter(w, lambda x: x.rlike("^[A-Za-z]+$"))
    return df.withColumn("_w", words_of(F.col(text_col))).select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct_words"),
        F.length(F.col(text_col)).alias("n_chars_measured"),
        F.size(alpha).alias("n_alpha_words"),
        (
            F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
            / F.size(w).cast("double")
        ).alias("mean_word_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + a deterministic composite score:
    stopword ratio, type-token ratio, mean word length, length band.
    Score = round(1000 * (0.4*ttr + 0.3*stop_ok + 0.3*len_ok)) where
    stop_ok = 1 if stopword ratio in [0.01, 0.6], len_ok = 1 if
    20 <= n_words <= 1000. Split materialized once (see token_stats)."""
    w = F.col("_w")
    stop_arr = F.array(*[F.lit(s) for s in QUALITY_STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    n_words = F.size(w)
    ttr = F.size(F.array_distinct(w)).cast("double") / n_words.cast("double")
    stop_ratio = n_stop.cast("double") / n_words.cast("double")
    stop_ok = F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.6), 1.0).otherwise(0.0)
    len_ok = F.when((n_words >= 20) & (n_words <= 1000), 1.0).otherwise(0.0)
    score = F.round(F.lit(1000.0) * (F.lit(0.4) * ttr + F.lit(0.3) * stop_ok + F.lit(0.3) * len_ok), 0)
    return df.withColumn("_w", words_of(F.col(text_col))).select(
        "doc_id",
        n_words.alias("n_words"),
        n_stop.alias("n_stopwords"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        score.cast("long").alias("quality_score"),
    )


def langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID: count marker-word hits per language,
    predict the argmax (ties -> language asc), 'und' if zero hits.
    Split materialized once (see token_stats)."""
    w = F.col("_w")
    hits = {}
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        hits[lang] = F.size(F.filter(w, lambda x: F.array_contains(arr, x)))
    # argmax with deterministic tie-break: compare (hits, -ord) via struct max
    best = F.greatest(*[
        F.struct(hits[lang].alias("h"), F.lit(-i).alias("nord"), F.lit(lang).alias("lang"))
        for i, lang in enumerate(sorted(LANG_MARKERS))
    ])
    pred = F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))
    sel = [
        "doc_id",
        pred.alias("predicted_lang"),
        best["h"].alias("marker_hits"),
    ]
    if "lang" in df.columns:
        sel.insert(1, F.col("lang").alias("actual_lang"))
    return df.withColumn("_w", words_of(F.col(text_col))).select(*sel)


def fingerprint(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Document fingerprint from word n-gram hashes (winnowing-lite):
    min-hash, max-hash, xor-reduced hash, and distinct-shingle count —
    a compact content signature robust to local edits at the ends."""
    from .dedup import shingles

    sh = shingles(df, text_col, n)
    h = sh.select("doc_id", md5_long(F.col("shingle")).alias("h"))
    # xor-reduction via sum of bit parities is order-independent; DuckDB
    # mirrors with bit_xor aggregate. Spark has no bit_xor agg function on
    # all versions — emulate order-independently: xor == parity per bit.
    parity_terms = [
        (F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))) % 2 * F.lit(1 << b))
        for b in range(32)
    ]
    xor_expr = None
    for t in parity_terms:
        xor_expr = t if xor_expr is None else xor_expr + t
    return h.groupBy("doc_id").agg(
        F.min("h").alias("min_hash"),
        F.max("h").alias("max_hash"),
        xor_expr.cast("long").alias("xor_hash"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


# GPT-2-style pre-tokenizer pattern (simplified: no unicode categories —
# ASCII classes keep Spark's and DuckDB's regex dialects in exact
# agreement): contractions, optionally-space-prefixed letter runs, digit
# runs, punctuation runs, residual whitespace.
BPE_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"
)


def bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc BPE-ish token count: matches of the GPT-2-style
    pre-tokenizer regex, minus pure-whitespace matches (a BPE vocabulary
    merges within pre-tokens, so the pre-token count is the standard
    upper-bound proxy for the real token count without shipping a
    vocabulary). Also emits the whitespace word count for the classic
    tokens-per-word fertility ratio."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(f"({BPE_PRETOKEN_PATTERN})"))
    nonspace = F.col("_t")
    w = F.col("_w")
    return df.withColumn(
        "_t", F.filter(toks, lambda t: ~t.rlike(r"^\s+$"))
    ).withColumn("_w", words_of(F.col(text_col))).select(
        "doc_id",
        F.size(nonspace).alias("n_bpe_tokens"),
        F.size(w).alias("n_words"),
        (F.size(nonspace).cast("double") / F.size(w).cast("double")).alias(
            "fertility"
        ),
    )
