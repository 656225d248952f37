"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

All JVM-side column expressions except where a pinned Python spec is needed
(then Arrow-batched). These extend the reference's per-record converter layer
(SURVEY.md §2.6) with the ops a web-scale corpus pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# distinctive high-frequency markers per language (matches pagesgen vocab heads)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "that", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "et", "les", "des", "une", "est", "dans"],
    "nl": ["het", "een", "van", "dat", "niet", "zijn"],
}

STOPWORDS_EN = set(LANG_MARKERS["en"]) | {"was", "his", "a", "is", "it"}


def token_count(text_col) -> Column:
    """Whitespace token count (cheap; the analyzer-accurate count is
    size(tokenize_udf(text)))."""
    t = F.trim(text_col)
    return F.when(t == "", 0).otherwise(F.size(F.split(t, r"\s+")))


def lang_id_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/marker-count heuristic language ID. Adds ``lang_pred``.

    Score per language = count of marker words present; prediction = argmax
    (ties → 'und'). Pure column expressions (no UDF).
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
        score_cols.append(score.alias(f"score_{lang}"))
    scored = df.select("*", *score_cols)
    best = F.greatest(*[F.col(f"score_{l}") for l in LANG_MARKERS])
    # earlier langs win ties deterministically: build reversed so the first
    # lang in LANG_MARKERS order has priority
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.withColumn("lang_pred", pred)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword-ratio quality features + a composite score.

    Mirrors common pretraining-corpus filters (C4/Gopher-style rules) as pure
    column math.
    """
    t = F.col(text_col)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    n_tok = F.size(toks)
    n_chars = F.length(t)
    mean_word_len = (n_chars - n_tok + 1).cast("double") / n_tok.cast("double")
    stop_arr = F.array(*[F.lit(s) for s in sorted(STOPWORDS_EN)])
    stop_ratio = (
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("double")
        / n_tok.cast("double")
    )
    punct_ratio = (
        F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", "")).cast("double")
        / F.greatest(n_chars, F.lit(1)).cast("double")
    )
    out = (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_m", n_chars)
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("punct_ratio", punct_ratio)
    )
    quality = (
        F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 10000), 0.4).otherwise(0.0)
        + F.when((F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 12), 0.3).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.2, 0.3).otherwise(0.0)
    )
    return out.withColumn("quality_score", quality)


def fingerprint(text_col) -> Column:
    """Document fingerprint: 16-hex digest of whitespace-normalized, lowered
    text (md5 prefix — stable across engines, SQL-expressible for oracles)."""
    normed = F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")
    return F.substring(F.md5(normed), 1, 16)
