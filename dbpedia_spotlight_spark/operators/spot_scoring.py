"""DBSpotter spot-feature scoring + context narrowing (SURVEY.md §2.3/2.2).

  * spot features (db/DBSpotter.scala:225-237):
      [annotationProbability,
       isAbbreviation (all-upper, len<5, not numeric),
       isNumber,
       bias=1.0]
    dotted with a trained weight vector; the spot is kept iff the score
    clears `confidence` (db/DBSpotter.scala:147-157); with no weight
    vector the score IS the annotation probability with a fixed 0.25
    floor. Pure column expressions over the mention ⋈ sf-stats join.

  * context narrowing (core/.../string/ContextExtractor.scala:48-77):
    keep only ±max_context_words word-window around each mention — an
    array-slice over the doc token array, used when documents are huge
    and per-mention context beats per-window context.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SPOT_WEIGHTS = (1.0, 0.3, -0.6, 0.0)  # (annProb, abbrev, number, bias)


def spot_features(sf_col: Column, ann_prob: Column) -> list[Column]:
    """DBSpotter.spotFeatures (:225-237) as four column expressions."""
    is_abbrev = (
        (F.upper(sf_col) == sf_col)
        & (F.length(sf_col) < 5)
        & ~sf_col.rlike("^[0-9]+$")
    ).cast("double")
    is_number = sf_col.rlike("^[0-9]+$").cast("double")
    return [ann_prob, is_abbrev, is_number, F.lit(1.0)]


def spot_score_filter(
    mentions_with_stats: DataFrame,
    confidence: float,
    weights: tuple[float, ...] | None = None,
) -> DataFrame:
    """Filter spots by feature score (DBSpotter.scala:114-157).

    Input needs annotated_count/total_count columns (joined sf stats).
    weights=None reproduces the no-weights path: annotationProbability
    with the fixed 0.25 floor.
    """
    ann_prob = F.when(
        F.col("total_count") > 0,
        F.col("annotated_count") / F.col("total_count"),
    ).otherwise(F.lit(1.0))
    if weights is None:
        return mentions_with_stats.withColumn(
            "spot_score", ann_prob
        ).filter(F.col("spot_score") >= 0.25)
    feats = spot_features(F.col("sf"), ann_prob)
    score = sum(
        (w * f for w, f in zip(weights, feats)),
        start=F.lit(0.0),
    )
    return mentions_with_stats.withColumn("spot_score", score).filter(
        F.col("spot_score") >= confidence
    )


_OVERLAP_SCHEMA = (
    "mention_key string, doc_id string, begin int, sf string,"
    " spot_prob double, spot_type string"
)


def drop_overlapping_spots(spots: "DataFrame") -> "DataFrame":
    """Overlap conflict resolution (db/DBSpotter.scala:170-221): sort by
    (offset, length); for each intersecting pair prefer the longer spot
    unless the shorter is >2x more probable, break probability ties by
    spotter-type order ("ac" first, any other type after it).
    Sequential per document -> grouped applyInPandas (never parallelize
    within a doc — SURVEY.md §4 hard parts)."""
    import pandas as pd

    order = {"ac": 0}

    def resolve_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.sort_values(
            ["begin", "sf"], key=None
        ).assign(_len=pdf["sf"].str.len())
        rows = rows.sort_values(["begin", "_len"]).reset_index(drop=True)
        remove: set[int] = set()
        last = None  # (index, begin, end, prob, type)
        for i in range(len(rows)):
            b = int(rows.at[i, "begin"])
            ln = int(rows.at[i, "_len"])
            e = b + ln
            prob = float(rows.at[i, "spot_prob"])
            typ = rows.at[i, "spot_type"]
            if last is not None and b < last[2] and e > last[1]:
                li, lb, le, lp, lt = last
                longer = ln > (le - lb)
                better_type = order.get(typ, 99) < order.get(lt, 99)
                if longer and prob > lp / 2.0:
                    remove.add(li)
                    last = (i, b, e, prob, typ)
                elif not longer and not (prob > lp * 2.0):
                    remove.add(i)
                elif prob == lp and better_type:
                    remove.add(li)
                    last = (i, b, e, prob, typ)
                elif prob == lp and not better_type:
                    remove.add(i)
                elif prob > lp:
                    remove.add(li)
                    last = (i, b, e, prob, typ)
                else:
                    remove.add(i)
            else:
                last = (i, b, e, prob, typ)
        keep = rows.drop(index=list(remove)).drop(columns=["_len"])
        return keep

    cols = [c.split(" ")[0] for c in _OVERLAP_SCHEMA.split(", ")]
    return (
        spots.select(*cols)
        .groupBy("doc_id")
        .applyInPandas(lambda _k, pdf: resolve_doc(pdf), _OVERLAP_SCHEMA)
    )


def narrow_context(
    doc_tokens: DataFrame,
    mentions: DataFrame,
    max_context_words: int = 200,
) -> DataFrame:
    """Per-mention token window (ContextExtractor semantics, array form).

    doc_tokens: (doc_id, tokens array<struct<token,begin>>) — tokens with
    char offsets; mentions: (mention_key, doc_id, begin). Returns
    (mention_key, context_tokens) with ±max_context_words/2 tokens around
    the mention position.
    """
    half = max_context_words // 2
    joined = mentions.select(
        "mention_key", "doc_id", F.col("begin").alias("m_begin")
    ).join(doc_tokens, "doc_id")
    # index of the first token at/after the mention begin
    idx = F.size(
        F.filter(F.col("tokens"), lambda t: t["begin"] < F.col("m_begin"))
    )
    lo = F.greatest(idx - half, F.lit(0))
    return joined.select(
        "mention_key",
        F.transform(
            F.slice(F.col("tokens"), lo + 1, max_context_words),
            lambda t: t["token"],
        ).alias("context_tokens"),
    )


def doc_tokens_with_offsets(documents: DataFrame) -> DataFrame:
    """(doc_id, tokens array<struct<token, begin>>) over concatenated
    text spans — offsets are global char positions (span.offset + local)."""
    span_toks = documents.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "s")
    ).filter(F.col("s.kind") == "text").select(
        "doc_id",
        "span_idx",
        F.col("s.offset").alias("span_off"),
        F.split(F.col("s.text"), " ").alias("words"),
    )
    exploded = span_toks.select(
        "doc_id",
        "span_idx",
        "span_off",
        F.posexplode("words").alias("wi", "token"),
        F.col("words"),
    ).withColumn(
        "local_off",
        F.aggregate(
            F.slice(F.col("words"), 1, F.col("wi")),
            F.lit(0),
            lambda acc, w: acc + F.length(w) + 1,
        ),
    )
    return exploded.filter(F.col("token") != "").groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (F.col("span_off") + F.col("local_off")).alias("begin"),
                    F.col("token").alias("token"),
                )
            )
        ).alias("tokens_raw")
    ).select(
        "doc_id",
        F.transform(
            F.col("tokens_raw"),
            lambda t: F.struct(
                t["token"].alias("token"), t["begin"].alias("begin")
            ),
        ).alias("tokens"),
    )
