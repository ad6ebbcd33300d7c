"""Model build: training occurrences -> statistics DataFrames.

Spark-native re-expression of the reference's offline counting pipeline
(the external Pig jobs at bin/index_db.sh:185-193 plus
index/.../db/CreateSpotlightModel.scala:160-229, SURVEY.md §2.7):

    uriCounts        = occurrences.groupBy(uri).count()
    pairCounts       = occurrences.groupBy(sf, uri).count()
    sfAndTotalCounts = pairCounts Σ by sf  (+ seeded unlinked / lowercase)
    tokenCounts      = exploded context tokens groupBy(uri, token).count()

All aggregations are partial-aggregating groupBys (map-side combine is
automatic); redirect resolution and disambiguation-page removal are
broadcast joins. IDs are dense ranks over the sorted string domain so the
tables match the pure-Python oracle builder bit-for-bit.

Scale note: id assignment is the range-partitioned rank-stitch in
operators/ids.py (no single-partition window); fact-scale tables never
get global ids.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures.generator import MIN_SF_COUNT, MIN_TOKEN_COUNT
from ..functions.normalize import sf_normalize_expr
from ..functions.tokenize import tokenize_expr
from ..operators.ids import dense_ids
from ..operators.redirects import resolve_redirects_df


# the model tables as `cli model-build` writes them: names, column order
# and types. Readers pass these instead of inferring the schema, which
# would cost one Spark job per table.
MODEL_SCHEMAS = {
    "surface_form_stats": "sf_id int, sf string, sf_norm string, "
                          "annotated_count bigint, total_count bigint, "
                          "lowercase_count bigint",
    "resources": "res_id int, uri string, support bigint, prior double, "
                 "types array<string>",
    "candidate_map": "sf_id int, res_id int, pair_count bigint",
    "tokens": "token_id int, token string, count bigint",
    "context_counts": "res_id int, token_id int, count bigint",
}


@dataclass
class ModelTables:
    surface_form_stats: DataFrame
    resources: DataFrame
    candidate_map: DataFrame
    tokens: DataFrame
    context_counts: DataFrame
    total_annotated_count: int
    total_token_count: int
    vocab_size: int
    # dropped from the vocabulary at build time; queries must drop them too
    stopwords: list[str] = field(default_factory=list)

    def persist(self) -> "ModelTables":
        """Cache every dimension table. The pipeline references each table
        from several joins; without caching, Catalyst re-expands the whole
        aggregation DAG at every reference (measured: 90 parquet scans in
        one annotate plan). The reference's analog is loading the stores
        into memory once (db/SpotlightModel.scala:36-62)."""
        for name in MODEL_SCHEMAS:
            getattr(self, name).cache()
        return self


def _dense_id(df: DataFrame, order_col: str, id_col: str) -> DataFrame:
    return dense_ids(df, order_col, id_col)


def build_model(
    training: DataFrame,
    redirects: DataFrame,
    disambiguation_pages: DataFrame,
    unlinked_counts: DataFrame,
    lowercase_counts: DataFrame,
    stopwords: DataFrame,
    instance_types: DataFrame | None = None,
    stemmer: str | None = None,
) -> ModelTables:
    spark = training.sparkSession

    # 1. redirect closure + disambiguation-page removal
    occs = resolve_redirects_df(training, redirects)
    occs = occs.join(
        F.broadcast(disambiguation_pages), occs.uri == disambiguation_pages.uri,
        "left_anti",
    )
    occs = occs.cache()  # feeds four independent aggregations

    # 2. pairCounts c(sf, r)
    pair_counts = occs.groupBy("sf", "uri").agg(
        F.count("*").alias("pair_count")
    )

    # 3. sfAndTotalCounts with min-count pruning
    annotated = pair_counts.groupBy("sf").agg(
        F.sum("pair_count").alias("annotated_count")
    ).filter(F.col("annotated_count") >= MIN_SF_COUNT)
    sf_stats = (
        annotated.join(F.broadcast(unlinked_counts), "sf", "left")
        .join(
            F.broadcast(lowercase_counts),
            F.lower(annotated.sf) == lowercase_counts.sf_lower,
            "left",
        )
        .select(
            "sf",
            sf_normalize_expr(F.col("sf")).alias("sf_norm"),
            F.col("annotated_count").cast("long").alias("annotated_count"),
            (
                F.col("annotated_count")
                + F.coalesce(F.col("unlinked_count"), F.lit(0))
            ).cast("long").alias("total_count"),
            F.coalesce(F.col("lowercase_count"), F.lit(0))
            .cast("long").alias("lowercase_count"),
        )
    )
    sf_stats = _dense_id(sf_stats, "sf", "sf_id").select(
        "sf_id", "sf", "sf_norm", "annotated_count", "total_count",
        "lowercase_count",
    )

    # 4. uriCounts -> resources with global prior P(e)
    uri_counts = occs.groupBy("uri").agg(F.count("*").alias("support"))
    total_support = uri_counts.agg(F.sum("support")).collect()[0][0]
    if instance_types is not None:
        type_lists = instance_types.groupBy("uri").agg(
            F.array_sort(F.collect_set("type")).alias("types")
        )
        uri_counts = uri_counts.join(
            F.broadcast(type_lists), "uri", "left"
        ).withColumn(
            "types",
            F.coalesce(F.col("types"), F.array().cast("array<string>")),
        )
    else:
        uri_counts = uri_counts.withColumn(
            "types", F.array().cast("array<string>")
        )
    resources = _dense_id(uri_counts, "uri", "res_id").select(
        "res_id",
        "uri",
        F.col("support").cast("long").alias("support"),
        (F.col("support") / F.lit(float(total_support))).alias("prior"),
        "types",
    )

    # 5. candidate map keyed by ids
    candidate_map = (
        pair_counts.join(sf_stats.select("sf_id", "sf"), "sf")
        .join(resources.select("res_id", "uri"), "uri")
        .select(
            "sf_id", "res_id",
            F.col("pair_count").cast("long").alias("pair_count"),
        )
    )

    # 6. token vocabulary (stopwords dropped, min-count pruned). With a
    # stemmer configured (reference default "EnglishStemmer"), tokens are
    # Porter2-stemmed AFTER the stopword filter; Python cost is O(distinct
    # raw tokens) via the stem_tokens dictionary join, never O(corpus).
    sw = [r["word"] for r in stopwords.collect()]
    occ_tokens = occs.select(
        "uri",
        F.explode(tokenize_expr(F.col("context"))).alias("token"),
    ).filter(~F.col("token").isin(sw))
    if stemmer == "english":
        from ..functions.stem import stem_tokens

        occ_tokens = stem_tokens(occ_tokens, "token")
    elif stemmer is not None:
        raise ValueError(f"unsupported stemmer: {stemmer!r}")
    token_counts = occ_tokens.groupBy("token").agg(
        F.count("*").alias("count")
    ).filter(F.col("count") >= MIN_TOKEN_COUNT)
    tokens = _dense_id(token_counts, "token", "token_id").select(
        "token_id", "token", F.col("count").cast("long").alias("count")
    )

    # 7. per-resource context counts over the surviving vocabulary
    context_counts = (
        occ_tokens.groupBy("uri", "token").agg(F.count("*").alias("count"))
        .join(tokens.select("token_id", "token"), "token")
        .join(resources.select("res_id", "uri"), "uri")
        .select(
            "res_id", "token_id", F.col("count").cast("long").alias("count")
        )
    )

    totals = sf_stats.agg(F.sum("annotated_count")).collect()[0][0]
    tok_totals = tokens.agg(
        F.sum("count"), F.count("*")
    ).collect()[0]
    occs.unpersist()

    return ModelTables(
        surface_form_stats=sf_stats,
        resources=resources,
        candidate_map=candidate_map,
        tokens=tokens,
        context_counts=context_counts,
        total_annotated_count=int(totals),
        total_token_count=int(tok_totals[0]),
        vocab_size=int(tok_totals[1]),
        stopwords=sw,
    )


def model_from_fixture_dir(spark: SparkSession, fixture_dir: str,
                           stemmer: str | None = None) -> ModelTables:
    """Build the (cached) model tables from a generated fixture parquet
    directory."""
    rd = lambda name: spark.read.parquet(f"{fixture_dir}/{name}.parquet")
    model = build_model(
        training=rd("training_occurrences"),
        redirects=rd("redirects"),
        disambiguation_pages=rd("disambiguation_pages"),
        unlinked_counts=rd("unlinked_counts"),
        lowercase_counts=rd("lowercase_counts"),
        stopwords=rd("stopwords"),
        instance_types=rd("instance_types"),
        stemmer=stemmer,
    )
    return model.persist()
