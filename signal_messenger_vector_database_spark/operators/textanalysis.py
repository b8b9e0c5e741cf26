"""Text-analysis operators for the training-data pipeline: language ID,
quality scoring, rolling-hash fingerprinting, corpus stats.

All pure Catalyst expressions (higher-order array functions + regex) —
whole-stage codegen, no Python — and all portable to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import portable_round, whitespace_words

# marker stopwords per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "is", "and", "to"),
    "es": ("el", "la", "de", "es", "y", "que"),
    "fr": ("le", "la", "de", "et", "est", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
}


def _lang_hits(words: Column, lang: str) -> Column:
    markers = list(LANG_MARKERS[lang])
    return F.size(F.filter(words, lambda w: w.isin(markers)))


def language_id(col: Column | str) -> Column:
    """Marker-stopword language heuristic: argmax of marker hits with a
    fixed priority order (en > es > fr > de) on ties; no hits -> 'und'."""
    words = whitespace_words(F.lower(F.col(col) if isinstance(col, str) else col))
    hits = {lang: _lang_hits(words, lang) for lang in LANG_MARKERS}
    best = None
    expr = F.lit("und")
    # build when-cascade in priority order: a language wins if its hits are
    # strictly greater than every earlier language's and > 0.
    langs = list(LANG_MARKERS)
    conds = []
    for lang in langs:
        cond = hits[lang] > 0
        for other in langs:
            if other == lang:
                continue
            if langs.index(other) < langs.index(lang):
                cond = cond & (hits[lang] > hits[other])
            else:
                cond = cond & (hits[lang] >= hits[other])
        conds.append((lang, cond))
    for lang, cond in reversed(conds):
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    _ = best
    return expr


def quality_features(col: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword / digit features + composite score
    (the 'quality scoring' operator of the north star)."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    words = whitespace_words(c)
    n_words = F.size(words)
    n_chars = F.length(c)
    punct = F.size(F.regexp_extract_all(c, F.lit("[^A-Za-z0-9_\\s]"), 0))
    digits = F.size(F.regexp_extract_all(c, F.lit("[0-9]"), 0))
    stop = F.size(F.filter(words, lambda w: F.lower(w).isin(list(LANG_MARKERS["en"]))))
    nz_words = F.greatest(n_words, F.lit(1))
    nz_chars = F.greatest(n_chars, F.lit(1))
    mean_word_len = (n_chars - (n_words - 1)) / nz_words.cast("double")
    punct_ratio = punct / nz_chars.cast("double")
    digit_ratio = digits / nz_chars.cast("double")
    stop_ratio = stop / nz_words.cast("double")
    length_score = F.least(n_words / F.lit(50.0), F.lit(1.0))
    score = (
        F.lit(0.4) * length_score
        + F.lit(0.3) * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return {
        "n_words": n_words,
        "n_chars": n_chars,
        "mean_word_len": portable_round(mean_word_len, 4),
        "punct_ratio": portable_round(punct_ratio, 4),
        "digit_ratio": portable_round(digit_ratio, 4),
        "stop_ratio": portable_round(stop_ratio, 4),
        "quality_score": portable_round(score, 4),
    }


ROLLING_HASH_MOD = 1_000_000_007
ROLLING_HASH_BASE = 31


def rolling_hash(col: Column | str) -> Column:
    """Polynomial rolling hash over the character codes:
    h = fold(h * 31 + code) mod 1e9+7 — the 'document fingerprinting'
    operator; a sequential fold, identical in DuckDB via list_reduce."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    codes = F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.ascii(F.substr(c, i, F.lit(1))),
    )
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(
        F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * ROLLING_HASH_BASE + x) % ROLLING_HASH_MOD,
        )
    ).cast("long")


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus word frequencies: explode -> groupBy(word) -> count.
    Map-side partial aggregation keeps the shuffle at |vocab|, not |tokens|."""
    words = df.select(
        F.explode(whitespace_words(F.lower(F.col(text_col)))).alias("word")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def dataset_datasheet(docs: DataFrame) -> DataFrame:
    """Per-source release datasheet over a (doc_id, source, lang, text)
    frame: volume, mean composite quality, language mode + share, and
    exact-duplicate fraction (whitespace-normalized md5 — the
    fingerprint_md5 twin, so 'a  b' and 'a b' count as duplicates in
    BOTH engines).  See plans/traindata.py::dataset_datasheet for the
    oracle-paired catalog entry; the fixture corpus has zero exact dups,
    so the dup arm is pinned by the planted-corpus test, not the
    oracle."""
    from ..functions.text import fingerprint_md5, portable_round, token_count

    per_doc = docs.select(
        "doc_id",
        "source",
        "lang",
        token_count("text").alias("tokens"),
        quality_features("text")["quality_score"].alias("q"),
        fingerprint_md5(F.col("text")).alias("fp"),
    )
    base = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
        portable_round(F.avg("q"), 4).alias("mean_quality"),
    )
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("lc")
    )
    lang_mode = lang_counts.groupBy("source").agg(
        F.min_by(
            "lang", F.struct((-F.col("lc")).alias("neg"), F.col("lang"))
        ).alias("top_lang"),
        F.max("lc").alias("_top_lc"),
    )
    dup_docs = (
        per_doc.groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
                "n_dup_docs"
            )
        )
    )
    return (
        base.join(lang_mode, "source")
        .join(dup_docs, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "mean_quality",
            "top_lang",
            portable_round(F.col("_top_lc") / F.col("n_docs"), 4).alias(
                "top_lang_share"
            ),
            portable_round(F.col("n_dup_docs") / F.col("n_docs"), 4).alias(
                "exact_dup_frac"
            ),
        )
    )
