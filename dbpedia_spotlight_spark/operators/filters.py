"""Result filters — the WHERE-clause family (SURVEY.md §2.6).

Spark recast of core/.../filter/annotations/* and the legacy
util/AnnotationFilter.scala:47-87 chain, applied in the reference's
order: coref → confidence → support → types → uri-list → junk → sort.

All filters are column expressions. Coreference resolution, a backward
scan per document in the reference (AnnotationFilter.scala:89-123), is a
per-(doc, word) donor lookup plus one left join — no Python stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PARAMS, PipelineParams


def confidence_filter(
    scored: DataFrame,
    confidence: float,
    sim_thresholds: list[float] | None = None,
) -> DataFrame:
    """ConfidenceFilter.scala:47-52 + PercentageOfSecondFilter.scala:26-32.

    With no trained threshold list the similarity threshold IS the
    confidence value (ConfidenceFilter.scala:49's length==0 branch).
    """
    if sim_thresholds:
        idx = max(round((len(sim_thresholds) - 1) * confidence), 0)
        sim_threshold = sim_thresholds[idx]
    else:
        sim_threshold = confidence
    return scored.filter(
        (F.col("final_score") >= sim_threshold)
        & (F.col("pct_second_rank") <= (1.0 - confidence * confidence))
    )


def fit_confidence_thresholds(
    scored: DataFrame, score_col: str = "final_score", n: int = 11
) -> list[float]:
    """Fit the ConfidenceFilter's simThresholds list (the reference ships
    a trained `spotterThresholds` file with the model —
    ConfidenceFilter.scala:49 indexes it by round((len-1)·confidence)):
    equal-frequency quantiles of the score distribution, exact
    percentiles (one pass, SQL-expressible)."""
    qs = [i / (n - 1) for i in range(n)]
    row = scored.agg(
        *[F.percentile(score_col, q).alias(f"q{i}") for i, q in enumerate(qs)]
    ).collect()[0]
    return [float(row[f"q{i}"]) for i in range(n)]


def support_filter(scored: DataFrame, support: int) -> DataFrame:
    """SupportFilter.scala:26 — resource.support >= target."""
    return scored.filter(F.col("support") >= support)


def type_filter(
    scored: DataFrame,
    whitelist: tuple[str, ...] = (),
    blacklist: tuple[str, ...] = (),
    keep_untyped: bool = True,
) -> DataFrame:
    """TypeFilter.scala:25 — type-set intersection, UNKNOWN policy."""
    out = scored
    if whitelist:
        cond = F.arrays_overlap(
            F.col("types"), F.array(*[F.lit(t) for t in whitelist])
        )
        if keep_untyped:
            cond = cond | (F.size("types") == 0)
        out = out.filter(cond)
    if blacklist:
        out = out.filter(
            ~F.arrays_overlap(
                F.col("types"), F.array(*[F.lit(t) for t in blacklist])
            )
        )
    return out


def uri_whitelist_filter(scored: DataFrame, uris: tuple[str, ...]) -> DataFrame:
    """SparqlFilter.scala:30 stand-in: the query result is taken as a URI
    list parameter -> broadcast semi-join / isin."""
    if not uris:
        return scored
    return scored.filter(F.col("uri").isin(*uris))


def junk_filter(scored: DataFrame) -> DataFrame:
    """AnnotationFilter.scala:140-143 — drop List_of_ pages."""
    return scored.filter(~F.col("uri").startswith("List_of_"))


_LINK_COLS = ("uri", "final_score", "pct_second_rank")


def coreference_resolution(resolved: DataFrame) -> DataFrame:
    """Later single-word mentions inherit the resource (and scores) of the
    first earlier mention whose capitalized sf word-contains them
    (AnnotationFilter.isCoreferent :89-99, buildCoreferents :101-123).

    Donors are the mentions each word of whose `sf.split(" ")` starts
    with its own upper case (empty words pass). Per (doc_id, word) the
    lookup keeps the smallest struct (begin, uri, final_score,
    pct_second_rank); a mention with no space in its sf left-joins it on
    its word and copies its uri (NULL too) and scores if the donor's
    begin is strictly smaller. A donor at the mention's own begin never
    counts and the struct order breaks ties, so mentions sharing a begin
    (`overlap=True`) get one fixed answer.

    One join equals the reference's sequential scan, which copies the
    donor's current, possibly rewritten, values: the first donor of a
    mention is never itself rewritten, because a rewritten donor is the
    mention's own single word and its donor would be an earlier donor of
    the mention. So no chaining is needed.

    -> (mention_key, doc_id, begin, sf, uri, final_score,
    pct_second_rank), one row per input row."""
    words = F.split("sf", " ")
    capitalized = F.forall(
        words,
        lambda w: F.substring(w, 1, 1) == F.upper(F.substring(w, 1, 1)),
    )
    donors = (
        resolved.filter(capitalized)
        .select(
            "doc_id",
            F.explode(F.array_distinct(words)).alias("word"),
            F.struct("begin", *_LINK_COLS).alias("donor"),
        )
        .groupBy("doc_id", "word")
        .agg(F.min("donor").alias("donor"))
    )
    m, d = resolved.alias("m"), donors.alias("d")
    rewrite = F.col("d.donor.begin") < F.col("m.begin")
    return m.join(
        d,
        (F.col("m.doc_id") == F.col("d.doc_id"))
        & (F.col("m.sf") == F.col("d.word"))
        & ~F.col("m.sf").contains(" "),
        "left",
    ).select(
        "m.mention_key", "m.doc_id", "m.begin", "m.sf",
        *[
            F.when(rewrite, F.col(f"d.donor.{c}"))
            .otherwise(F.col(f"m.{c}")).alias(c)
            for c in _LINK_COLS
        ],
    )


def apply_result_filters(
    scored: DataFrame, params: PipelineParams = DEFAULT_PARAMS
) -> DataFrame:
    """The full chain in reference order (AnnotationFilter.scala:47-87),
    coref excluded (it operates on resolved mentions, see pipeline)."""
    out = scored
    if params.confidence > 0:
        out = confidence_filter(out, params.confidence)
    if params.support > 0:
        out = support_filter(out, params.support)
    if params.type_whitelist or params.type_blacklist:
        out = type_filter(out, params.type_whitelist, params.type_blacklist)
    if params.uri_whitelist:
        out = uri_whitelist_filter(out, params.uri_whitelist)
    if params.drop_list_of_pages:
        out = junk_filter(out)
    # the reference's final offset sort (AnnotationFilter.scala:85) is
    # per-document; a global orderBy would be a full shuffle sort at
    # corpus scale for no consumer — per-doc ordering is applied where a
    # doc-level view is built (corpora.to_annotated_output's sort_array)
    return out
