"""Context-window slicing for long documents.

Mirrors db/DBTwoStepDisambiguator.scala:46,49-93: documents longer than
MAX_CONTEXT (200) tokens are disambiguated per sliding window; windows
accumulate sentence units until the token count reaches MAX_CONTEXT,
then flush. Spans are the engine's sentence analog (the reference
tokenizes sentences; our documents arrive pre-segmented into spans).

One path for every document, in the JVM: the greedy accumulate-and-flush
is an `aggregate` over the document's sorted (span_idx, n_tok) list. A
document under the cap gets window 0 from the same scan; one with no
text span gives no rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize_expr

_WINDOWED_SPANS = "array<struct<span_idx:int,window_id:int>>"


def span_windows(
    documents: DataFrame, stopwords: list[str], max_context: int
) -> DataFrame:
    """-> (doc_id, span_idx, window_id) for every TEXT span; the window
    advances after the span that takes the running token count to
    >= max_context (DBTwoStepDisambiguator.scala:69-88)."""
    toks_per_span = documents.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "s"),
    ).filter(F.col("s.kind") == "text").select(
        "doc_id",
        F.struct(
            "span_idx",
            F.size(_span_tokens(F.col("s.text"), stopwords)).alias("n_tok"),
        ).alias("span"),
    )
    per_doc = toks_per_span.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("span")).alias("spans")
    )
    start = F.struct(
        F.lit(0).alias("window"),
        F.lit(0).alias("running"),
        F.array().cast(_WINDOWED_SPANS).alias("out"),
    )

    def step(acc, span):
        running = acc["running"] + span["n_tok"]
        full = running >= max_context
        placed = F.struct(span["span_idx"].alias("span_idx"),
                          acc["window"].alias("window_id"))
        return F.struct(
            (acc["window"] + full.cast("int")).alias("window"),
            F.when(full, 0).otherwise(running).alias("running"),
            F.concat(acc["out"], F.array(placed)).alias("out"),
        )

    return per_doc.select(
        "doc_id",
        F.inline(F.aggregate("spans", start, step)["out"]),
    )


def _span_tokens(text_col, stopwords: list[str]):
    toks = tokenize_expr(text_col)
    if stopwords:
        toks = F.filter(toks, lambda t: ~t.isin(*stopwords))
    return toks


def window_token_arrays(
    documents: DataFrame, stopwords: list[str], max_context: int,
    stemmer: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (window_tokens(doc_id, window_id, query_tokens),
                span_map(doc_id, span_idx, window_id)).

    query_tokens = distinct sorted context tokens of the window —
    the reference's per-window `tokensDistinct`
    (DBTwoStepDisambiguator.scala:126). With a stemmer, the flat token
    stream is Porter2-stemmed (stopword filter first, like the model
    build) before the distinct-set aggregation."""
    span_map = span_windows(documents, stopwords, max_context)
    span_toks = documents.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "s")
    ).filter(F.col("s.kind") == "text").select(
        "doc_id",
        "span_idx",
        _span_tokens(F.col("s.text"), stopwords).alias("toks"),
    )
    flat = (
        span_toks.join(span_map, ["doc_id", "span_idx"])
        .select("doc_id", "window_id", F.explode("toks").alias("token"))
    )
    if stemmer == "english":
        from ..functions.stem import stem_tokens

        flat = stem_tokens(flat, "token")
    elif stemmer is not None:
        raise ValueError(f"unsupported stemmer: {stemmer!r}")
    win_tokens = flat.groupBy("doc_id", "window_id").agg(
        F.array_sort(F.collect_set("token")).alias("query_tokens")
    )
    return win_tokens, span_map
