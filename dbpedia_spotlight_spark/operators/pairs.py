"""Pairwise channels between mentions.

  * context channel — TF-ICF cosine between two mentions' document
    contexts (SURVEY.md §7); icf comes from the legacy Lucene scorer
    (lucene/similarity/CachedInvCandFreqSimilarity.java:96-97:
    icf(cf) = ln(maxCf/cf) + 1), with cf = number of resources whose
    context contains the token (document frequency over the resource
    "corpus" in context_counts).
  * resolution channel — min-hub star edges between mentions that
    resolve to the same URI (edges_from_resolution), for callers that
    feed operators/cc.

Everything is joins + aggregations. The resolve pipeline clusters by URI
directly (plans/pipeline.clusters_by_uri) and uses neither channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.model_build import ModelTables


def token_icf(model: ModelTables) -> DataFrame:
    """icf(t) = ln(maxCf / cf) + 1 over resource document frequencies
    (CachedInvCandFreqSimilarity.java:96-97)."""
    df = model.context_counts.groupBy("token_id").agg(
        F.countDistinct("res_id").alias("cf")
    )
    max_cf = df.agg(F.max("cf")).collect()[0][0] or 1
    return df.select(
        "token_id",
        (F.log(F.lit(float(max_cf)) / F.col("cf")) + 1.0).alias("icf"),
    )


def doc_tfidf_vectors(
    documents: DataFrame, model: ModelTables, stopwords: list[str]
) -> DataFrame:
    """(doc_id, token_id, w) sparse tf·icf vectors + per-doc norms.

    tf from the document's token bag; unknown tokens (no vocab id) drop
    out of the cosine — they carry no discriminative signal.
    """
    from ..functions.tokenize import tokenize_expr

    text_concat = F.array_join(
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
        " ",
    )
    toks = tokenize_expr(text_concat)
    if stopwords:
        toks = F.filter(toks, lambda t: ~t.isin(*stopwords))
    bag = documents.select(
        "doc_id", F.explode(toks).alias("token")
    ).groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    icf = token_icf(model)
    vec = (
        bag.join(
            model.maybe_broadcast(
                model.tokens.select("token", "token_id"), "tokens"
            ),
            "token",
        )
        .join(model.maybe_broadcast(icf, "tokens"), "token_id")
        .select("doc_id", "token_id", (F.col("tf") * F.col("icf")).alias("w"))
    )
    norms = vec.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    return vec, norms


def context_cosine_channel(
    pairs: DataFrame, vec: DataFrame, norms: DataFrame
) -> DataFrame:
    """+ ctx_cosine column: cosine of the two docs' tf·icf vectors.

    Sparse dot product via explode + equi-join + groupBy-sum
    (SURVEY.md §2.5 'TF-ICF context cosine' mapping).
    """
    va = vec.select(
        F.col("doc_id").alias("doc_id_a"),
        "token_id",
        F.col("w").alias("w_a"),
    )
    vb = vec.select(
        F.col("doc_id").alias("doc_id_b"),
        "token_id",
        F.col("w").alias("w_b"),
    )
    doc_pairs = pairs.select("doc_id_a", "doc_id_b").distinct()
    dots = (
        doc_pairs.join(va, "doc_id_a")
        .join(vb, ["doc_id_b", "token_id"])
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_id_a"),
                      F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_id_b"),
                      F.col("norm").alias("norm_b"))
    cos = (
        dots.join(na, "doc_id_a").join(nb, "doc_id_b")
        .select(
            "doc_id_a", "doc_id_b",
            F.when(
                (F.col("norm_a") > 0) & (F.col("norm_b") > 0),
                F.col("dot") / (F.col("norm_a") * F.col("norm_b")),
            ).otherwise(0.0).alias("ctx_cosine"),
        )
    )
    return pairs.join(cos, ["doc_id_a", "doc_id_b"], "left").fillna(
        {"ctx_cosine": 0.0}
    )


def edges_from_resolution(resolved: DataFrame) -> DataFrame:
    """Reference-faithful edge set WITHOUT materializing all pairs:
    mentions sharing a resolved URI form a star around the minimum
    mention key per URI. Connected components over these edges equals
    the group-by-URI clustering, in O(n) edges instead of O(n²)."""
    linked = resolved.filter(F.col("uri").isNotNull())
    hubs = linked.groupBy("uri").agg(F.min("mention_key").alias("hub"))
    return (
        linked.join(hubs, "uri")
        .filter(F.col("mention_key") != F.col("hub"))
        .select(
            F.col("hub").alias("src"), F.col("mention_key").alias("dst")
        )
    )
