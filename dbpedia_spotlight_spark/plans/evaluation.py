"""Evaluation harness (SURVEY.md §5).

Spark recast of the reference's corpus evaluators:
  * disambiguation accuracy / MRR / not-found rate —
    eval/.../EvaluateParagraphDisambiguator.scala:44-114 (rank of the
    gold URI within bestK; accuracy = rank-1 fraction :97-99)
  * spotting precision/recall — eval/.../EvalSpotter.scala:76-135
    (gold vs predicted occurrence sets, membership by
    (doc, offset, sf) — SurfaceFormOccurrence.equals semantics)
  * prior-only baseline — eval/.../DBBaselineDisambiguator.scala:16-30
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spotting_pr(predicted: DataFrame, gold: DataFrame) -> dict:
    """EvalSpotter semantics: sets keyed by (doc_id, begin/offset, sf)."""
    p = predicted.select("doc_id", F.col("begin").alias("offset"), "sf")
    g = gold.select("doc_id", "offset", "sf")
    tp = p.join(g, ["doc_id", "offset", "sf"], "left_semi").count()
    n_pred, n_gold = p.count(), g.count()
    return {
        "tp": tp,
        "fp": n_pred - tp,
        "fn": n_gold - tp,
        "precision": tp / n_pred if n_pred else 0.0,
        "recall": tp / n_gold if n_gold else 0.0,
    }


def disambiguation_metrics(scored: DataFrame, gold: DataFrame) -> dict:
    """Accuracy / MRR / not-found over ranked candidates vs gold URIs.

    `scored` = operators/disambiguate output (ranked candidate rows);
    `gold` = (doc_id, offset, uri). A gold occurrence whose URI never
    appears in the mention's bestK (K = 20) counts as not-found
    (EvaluateParagraphDisambiguator.scala:97)."""
    mention_gold = gold.select(
        F.concat_ws(":", "doc_id", F.col("offset").cast("string")).alias(
            "mention_key"
        ),
        F.col("uri").alias("gold_uri"),
    )
    ranked = scored.filter(F.col("rank") <= 20).select(
        "mention_key", "uri", "rank"
    )
    joined = mention_gold.join(ranked, "mention_key", "left")
    hits = joined.filter(F.col("uri") == F.col("gold_uri")).select(
        "mention_key", "rank"
    )
    agg = hits.agg(
        F.count("*").alias("found"),
        F.sum(1.0 / F.col("rank")).alias("rr_sum"),
        F.sum(F.when(F.col("rank") == 1, 1).otherwise(0)).alias("rank1"),
    ).collect()[0]
    n_gold = mention_gold.count()
    found = int(agg["found"] or 0)
    return {
        "n_gold": n_gold,
        "accuracy": (agg["rank1"] or 0) / n_gold if n_gold else 0.0,
        "mrr": (agg["rr_sum"] or 0.0) / n_gold if n_gold else 0.0,
        "not_found_rate": (n_gold - found) / n_gold if n_gold else 0.0,
    }


def _jvm_memory_mb(spark) -> int:
    """(totalMemory − freeMemory)/2²⁰ — the exact footprint formula of
    EvaluateSpotlightModel.scala:20/37/54, read from the driver JVM."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return int((rt.totalMemory() - rt.freeMemory()) / (1024 * 1024))


def evaluate_corpus(
    documents: DataFrame,
    gold_occurrences: DataFrame,
    model,
    stopwords: list[str],
    params=None,
) -> dict:
    """Run the full pipeline over a parsed evaluation corpus and emit the
    reference's printed metric block (EvaluateParagraphDisambiguator
    .scala:88-99 + EvalSpotter.scala:113-135 + the prior-only baseline of
    EvaluateSpotlightModel.scala:63-69, plus the timing/footprint lines
    of EvaluateSpotlightModel.scala:20-55) in one dict.

    `documents` = (doc_id, text) or (doc_id, spans) — exactly what the
    sources/eval_corpora.py readers return; `gold_occurrences` carries
    (doc_id, uri, sf, offset)."""
    import time

    from ..config import DEFAULT_PARAMS
    from .pipeline import annotate

    params = params or DEFAULT_PARAMS
    spark = documents.sparkSession
    mem_model = _jvm_memory_mb(spark)
    t0 = time.time()
    if "spans" not in documents.columns:
        docs = documents.select(
            "doc_id",
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col("text").alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).cast("int").alias("offset"),
                )
            ).alias("spans"),
        )
    else:
        docs = documents
    n_docs = docs.count()
    mem_corpus = _jvm_memory_mb(spark)
    res = annotate(docs, model, stopwords, params)
    gold = gold_occurrences.select("doc_id", "offset", "sf", "uri").cache()
    spot = spotting_pr(res.mentions, gold)
    dis = disambiguation_metrics(res.scored, gold)
    # annotation wall time: annotate() is lazy — the spotting/linking
    # actions above forced it, so the window covers tokenize+spot+
    # disambiguate exactly like the reference's timed foreach
    # (EvaluateSpotlightModel.scala:41-52)
    annotation_time = time.time() - t0
    prior = prior_only_baseline(res.candidates).select(
        "mention_key", F.col("uri").alias("prior_uri")
    )
    mention_gold = gold.select(
        F.concat_ws(":", "doc_id", F.col("offset").cast("string")).alias(
            "mention_key"
        ),
        F.col("uri").alias("gold_uri"),
    )
    prior_hits = mention_gold.join(prior, "mention_key", "left")
    n_gold = mention_gold.count()
    prior_acc = (
        prior_hits.filter(F.col("prior_uri") == F.col("gold_uri")).count()
        / n_gold
        if n_gold
        else 0.0
    )
    return {
        "spotting": spot,
        "disambiguation": dis,
        "prior_baseline_accuracy": prior_acc,
        "n_documents": n_docs,
        "n_gold_occurrences": n_gold,
        "annotation_time_sec": round(annotation_time, 3),
        "annotation_time_avg_sec": round(
            annotation_time / n_docs if n_docs else 0.0, 6
        ),
        "memory_footprint_model_mb": mem_model,
        "memory_footprint_corpus_mb": mem_corpus,
        "memory_footprint_mb": _jvm_memory_mb(spark),
    }


def format_metric_block(metrics: dict) -> str:
    """The reference's printed lines (EvaluateSpotlightModel.scala:20-54
    stderr block + the P/R/accuracy summary)."""
    s = metrics["spotting"]
    d = metrics["disambiguation"]
    return "\n".join([
        "Memory footprint (model loaded): %s"
        % metrics["memory_footprint_model_mb"],
        "Memory footprint (corpus): %s"
        % metrics["memory_footprint_corpus_mb"],
        "Annotation time: %s sec" % metrics["annotation_time_sec"],
        "Annotation time avg: %s sec"
        % metrics["annotation_time_avg_sec"],
        "Memory footprint: %s" % metrics["memory_footprint_mb"],
        "Spotting precision: %.6f recall: %.6f" % (
            s["precision"], s["recall"]),
        "Disambiguation accuracy: %.6f MRR: %.6f" % (
            d["accuracy"], d["mrr"]),
        "Prior baseline accuracy: %.6f"
        % metrics["prior_baseline_accuracy"],
    ])


def prior_only_baseline(mention_candidates: DataFrame) -> DataFrame:
    """argmax candidate by prior P(e|s) (DBBaselineDisambiguator.scala:16-30)."""
    from pyspark.sql import Window

    w = Window.partitionBy("mention_key").orderBy(
        F.desc("cand_prior"), F.asc("uri"), F.asc("cand_sf")
    )
    return (
        mention_candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
