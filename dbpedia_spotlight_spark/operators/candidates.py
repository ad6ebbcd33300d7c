"""Candidate generation: the build side of the pairwise join.

Spark recast of db/DBCandidateSearcher.scala:27-46 +
db/memory/MemorySurfaceFormStore.scala:127-156 (SURVEY.md §2.4):

    mentions ⋈ surface_form_stats ⋈ candidate_map ⋈ resources

All four are equi-joins against dimension tables (the reference's whole
model fits in one JVM by design — db/SpotlightModel.scala:36-62 — so the
dimension sides broadcast; at extreme dictionary scale Catalyst/AQE falls
back to shuffle-hash automatically if the hint is dropped).

Fuzzy fallback: mentions whose exact surface form has no candidates are
re-keyed on lower(sf) and the variant surface forms ranked by
`editDistance × annotationProbability × 2·cTotal/(cLower+cTotal)`
(MemorySurfaceFormStore.scala:138-156), top ADD_TOP_NORMALIZED_SFS=5.

Top-10-by-prior pruning (DBTwoStepDisambiguator.scala:43,114-119) runs
HERE, before the expensive context join — the manual operator ordering
Catalyst cannot derive (it will not reorder through window functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_PARAMS, PipelineParams
from ..functions.similarity import edit_distance_score_expr
from ..plans.model_build import ModelTables


def with_mention_key(mentions: DataFrame) -> DataFrame:
    return mentions.withColumn(
        "mention_key", F.concat_ws(":", F.col("doc_id"), F.col("begin"))
    )


def generate_candidates(
    mentions: DataFrame,
    model: ModelTables,
    params: PipelineParams = DEFAULT_PARAMS,
) -> DataFrame:
    """mentions -> mention_candidates, one row per (mention, candidate).

    Output: mention_key, doc_id, begin, end, sf, cand_sf, sf_id,
            annotated_count, res_id, uri, pair_count, cand_prior,
            res_prior, support
    """
    mentions = with_mention_key(mentions)
    sf_stats = model.surface_form_stats
    cand_map = model.candidate_map
    resources = model.resources

    sf_dim = sf_stats.select(
        F.col("sf").alias("cand_sf"),
        F.lower(F.col("sf")).alias("cand_sf_lower"),
        "sf_id", "annotated_count", "total_count", "lowercase_count",
    )

    # --- exact lookup (case-sensitive string equality) ---
    exact = mentions.join(
        sf_dim, mentions.sf == sf_dim.cand_sf, "left"
    )
    exact_hit = exact.filter(F.col("sf_id").isNotNull())
    missed = exact.filter(F.col("sf_id").isNull()).select(mentions.columns)

    # --- fuzzy fallback on the lowercase key, ranked, top-5 sfs ---
    fuzzy = missed.join(
        sf_dim, F.lower(missed.sf) == sf_dim.cand_sf_lower, "inner"
    )
    ann_prob = F.col("annotated_count") / F.col("total_count")
    fuzzy_score = (
        edit_distance_score_expr(F.col("cand_sf"), F.col("sf"))
        * ann_prob
        * (
            2.0 * F.col("total_count")
            / (F.col("lowercase_count") + F.col("total_count"))
        )
    )
    w = Window.partitionBy("mention_key").orderBy(
        F.desc("fuzzy_score"), F.asc("cand_sf")
    )
    fuzzy = (
        fuzzy.withColumn("fuzzy_score", fuzzy_score)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= params.fuzzy_top_n)
        .drop("_rn", "fuzzy_score")
    )

    sf_matched = exact_hit.unionByName(fuzzy)

    # --- candidate explosion + resource stats ---
    out = (
        sf_matched.join(cand_map, "sf_id")
        .join(
            resources.select(
                "res_id", "uri", "support", "types",
                F.col("prior").alias("res_prior"),
            ),
            "res_id",
        )
        .withColumn(
            "cand_prior", F.col("pair_count") / F.col("annotated_count")
        )
    )

    # --- top-10 by prior, deterministic tie-break (uri, cand_sf) ---
    w10 = Window.partitionBy("mention_key").orderBy(
        F.desc("cand_prior"), F.asc("uri"), F.asc("cand_sf")
    )
    out = (
        out.withColumn("_rn", F.row_number().over(w10))
        .filter(F.col("_rn") <= params.max_candidates)
        .drop("_rn", "cand_sf_lower", "total_count", "lowercase_count")
    )
    return out
