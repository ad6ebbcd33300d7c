"""Text analysis operators for training-data pipelines (driver mandate):
language-ID (n-gram/marker heuristic), quality scoring, token counting,
document fingerprinting. All pure column expressions (codegen'd); each
has an exact SQL twin for the DuckDB oracle (see __spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny deterministic marker-word profiles (public-knowledge function
# words); argmax of marker hits decides the language, 'und' when no hits.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "with"),
    "es": ("el", "la", "de", "que", "los", "con", "una"),
    "fr": ("le", "la", "les", "des", "est", "une", "avec"),
    "de": ("der", "die", "und", "das", "ist", "mit", "ein"),
}

STOPWORDS_EN = ("the", "an", "a", "of", "in", "and", "to", "is")


def tokens_expr(text_col: Column) -> Column:
    return F.filter(
        F.split(F.lower(text_col), r"[^a-z0-9]+"), lambda t: t != ""
    )


def token_count_expr(text_col: Column) -> Column:
    """Whitespace-ish token count (driver mandate: whitespace + BPE-ish).

    bpe-ish estimate: ceil(chars/4) is the common public rule of thumb;
    exposed separately below.
    """
    return F.size(tokens_expr(text_col))


def bpe_token_estimate_expr(text_col: Column) -> Column:
    return F.ceil(F.length(text_col) / 4.0).cast("long")


def marker_hits(text_col: Column, markers: tuple[str, ...]) -> Column:
    toks = tokens_expr(text_col)
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def language_id_expr(text_col: Column) -> Column:
    """argmax over marker-word hit counts; deterministic tie-break by
    language code order; 'und' when nothing matches."""
    pairs = [
        F.struct(
            marker_hits(text_col, m).alias("hits"), F.lit(lang).alias("lang")
        )
        for lang, m in sorted(LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*pairs))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score_expr(text_col: Column) -> Column:
    """[0,1] quality heuristic: length band + stopword ratio + mean word
    length band + alpha ratio (driver mandate: length/punct/stopword)."""
    toks = tokens_expr(text_col)
    n = F.size(toks)
    n_chars = F.length(text_col)
    stop_ratio = F.when(
        n > 0, F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN))) / n
    ).otherwise(0.0)
    alpha_chars = F.length(F.regexp_replace(text_col, "[^A-Za-z]", ""))
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(0.0)
    mean_word_len = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n,
    ).otherwise(0.0)
    length_ok = F.when((n >= 5) & (n <= 100000), 1.0).otherwise(0.0)
    word_len_ok = F.when(
        (mean_word_len >= 2.0) & (mean_word_len <= 12.0), 1.0
    ).otherwise(0.0)
    score = (
        0.25 * length_ok
        + 0.25 * word_len_ok
        + 0.25 * F.least(stop_ratio * 4.0, F.lit(1.0))
        + 0.25 * alpha_ratio
    )
    return F.round(score, 6)


def fingerprint_expr(text_col: Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set (the classic 'fingerprint' dedup key)."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens_expr(text_col))), " ")
    )


def text_stats(df: DataFrame) -> DataFrame:
    c = F.col("text")
    return df.withColumn("n_tokens", token_count_expr(c)) \
        .withColumn("n_tokens_bpe", bpe_token_estimate_expr(c)) \
        .withColumn("lang_pred", language_id_expr(c)) \
        .withColumn("quality", quality_score_expr(c)) \
        .withColumn("fingerprint", fingerprint_expr(c))
