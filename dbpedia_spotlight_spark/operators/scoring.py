"""Generative context similarity as pure column math (no Python in the loop).

Spark recast of db/similarity/GenerativeContextSimilarity.scala:27-105:

    pLM(t)   = ln(c(t)+1) − ln(totalTokens + vocabSize)          (:36-41)
    p(t|e)   = lnsum( ln(1−λ)+pLM(t), ln(λ)+ln(c(t,e)/c(·,e)) )  (:51-62)
               (ML term dropped when c(t,e)=0)
    P(c|e)   = Σ_t p(t|e) over the doc's distinct tokens          (:83-96)
    NIL(c)   = Σ_t ln(1−λ)+pLM(t)                                 (:99-105)

The reference's sorted-array merge intersect (:64-80) becomes an equi-join
of the exploded per-doc token set against the `context_counts` dimension
on (res_id, token_id); one context query per (doc, resource) — the
two-step collapse of DBTwoStepDisambiguator.scala:126-129 — falls out of
the relational form because (doc_id, res_id) pairs are deduplicated
before the join. lnsum is expressed with greatest/least + log1p(exp(·)),
keeping everything inside whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PARAMS, PipelineParams
from ..plans.model_build import ModelTables


def _lnsum(a, b):
    """log(e^a + e^b), numerically stable, column expression."""
    hi, lo = F.greatest(a, b), F.least(a, b)
    return hi + F.log1p(F.exp(lo - hi))


def _exact_sum(col):
    """Sum of a double column that does not depend on row order. Each
    term is rounded to 18 decimal places and fixed-point addition is
    exact, so the result is the same whichever join AQE picked upstream
    and whatever order the rows arrive in."""
    return F.sum(col.cast("decimal(38,18)")).cast("double")


def doc_token_stats(
    doc_tokens: DataFrame, model: ModelTables,
    keys: list[str] = ("doc_id",),
) -> DataFrame:
    """(*keys, query_tokens) -> exploded (*keys, token, token_id, p_lm).

    Unknown tokens keep a NULL token_id and corpus count 0 — they still
    contribute their LM term, exactly like the UNKNOWN sentinel
    (model/TokenType.scala:26-29).
    """
    ln_norm = math.log(model.total_token_count + model.vocab_size)
    exploded = doc_tokens.select(
        *keys, F.explode("query_tokens").alias("token")
    )
    return exploded.join(
        model.tokens.select("token", "token_id", "count"), "token", "left"
    ).select(
        *keys,
        "token",
        "token_id",
        (F.log(F.coalesce(F.col("count"), F.lit(0)) + 1.0) - ln_norm).alias(
            "p_lm"
        ),
    )


def context_scores(
    mention_candidates: DataFrame,
    doc_tokens: DataFrame,
    model: ModelTables,
    params: PipelineParams = DEFAULT_PARAMS,
    keys: list[str] = ("doc_id",),
) -> tuple[DataFrame, DataFrame]:
    """Returns (ctx_scores(*keys, res_id, ctx_score),
                nil_scores(*keys, nil_ctx_score)).

    `keys` is (doc_id,) for whole-document context or
    (doc_id, window_id) for MAX_CONTEXT window slicing."""
    keys = list(keys)
    lam = params.smoothing_lambda
    ln_lam = math.log(lam)
    ln_1mlam = math.log(1.0 - lam)

    tok = doc_token_stats(doc_tokens, model, keys)

    # NIL context score per context unit
    # (GenerativeContextSimilarity.scala:99-105)
    nil_scores = tok.groupBy(*keys).agg(
        _exact_sum(F.lit(ln_1mlam) + F.col("p_lm")).alias("nil_ctx_score")
    )

    # candidate resources per context unit, deduplicated BEFORE the
    # token fan-out
    doc_res = mention_candidates.select(*keys, "res_id").distinct()

    # per-resource context totals c(·,e)
    res_totals = model.context_counts.groupBy("res_id").agg(
        F.sum("count").alias("res_token_total")
    )

    # a real Wikipedia context table is ~10^9 rows and must not be
    # force-broadcast: the planner and AQE pick each join strategy from
    # the tables' byte sizes
    pairs = (
        tok.join(doc_res, keys)
        .join(model.context_counts, ["res_id", "token_id"], "left")
        .join(res_totals, "res_id", "left")
    )

    lm_term = F.lit(ln_1mlam) + F.col("p_lm")
    ml_ok = (
        F.col("count").isNotNull()
        & (F.col("count") > 0)
        & F.col("res_token_total").isNotNull()
        & (F.col("res_token_total") > 0)
    )
    ml_term = F.lit(ln_lam) + F.log(
        F.col("count") / F.col("res_token_total")
    )
    p_token = F.when(ml_ok, _lnsum(lm_term, ml_term)).otherwise(lm_term)

    ctx = pairs.select(
        *keys, "res_id", p_token.alias("p_token")
    ).groupBy(*keys, "res_id").agg(
        _exact_sum(F.col("p_token")).alias("ctx_score")
    )
    return ctx, nil_scores
