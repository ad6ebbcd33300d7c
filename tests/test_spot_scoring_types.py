"""DBSpotter spot scoring, context narrowing, type filter e2e."""

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.operators.spot_scoring import (
    doc_tokens_with_offsets,
    narrow_context,
    spot_score_filter,
)
from dbpedia_spotlight_spark.operators.filters import type_filter


def test_spot_score_filter_no_weights(spark):
    """No-weights path: annotationProbability with the 0.25 floor
    (DBSpotter.scala:147-157)."""
    m = spark.createDataFrame(
        [("m1", "Berlin", 30, 100), ("m2", "table", 10, 100),
         ("m3", "Rare", 5, -1)],
        "mention_key string, sf string, annotated_count long,"
        " total_count long",
    ).withColumn(
        "total_count",
        F.when(F.col("total_count") < 0, F.lit(0)).otherwise(
            F.col("total_count")
        ),
    )
    out = spot_score_filter(m, confidence=0.0, weights=None)
    got = {r["mention_key"]: r["spot_score"] for r in out.collect()}
    assert got == {"m1": pytest.approx(0.3), "m3": 1.0}  # m2 below floor


def test_spot_score_filter_weighted_features(spark):
    """Feature vector semantics (DBSpotter.scala:225-237): abbreviation
    and number indicators."""
    m = spark.createDataFrame(
        [("a", "NASA", 1, 2), ("n", "1984", 1, 2), ("w", "Berlin", 1, 2)],
        "mention_key string, sf string, annotated_count long,"
        " total_count long",
    )
    out = spot_score_filter(
        m, confidence=-10.0, weights=(0.0, 1.0, 10.0, 0.0)
    )
    got = {r["mention_key"]: r["spot_score"] for r in out.collect()}
    assert got["a"] == 1.0    # abbreviation (upper, len<5, not numeric)
    assert got["n"] == 10.0   # number
    assert got["w"] == 0.0


def test_narrow_context(spark):
    docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "text",
                     "text": "aa bb cc dd ee ff gg hh",
                     "media_ref": "", "offset": 0}
                ],
            )
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    toks = doc_tokens_with_offsets(docs)
    row = toks.collect()[0]
    assert [t["token"] for t in row["tokens"]][:3] == ["aa", "bb", "cc"]
    assert [t["begin"] for t in row["tokens"]][:3] == [0, 3, 6]

    mentions = spark.createDataFrame(
        [("d1:9", "d1", 9)], "mention_key string, doc_id string, begin int"
    )
    out = narrow_context(toks, mentions, max_context_words=4).collect()[0]
    # mention at token index 3 ('dd'); window of 4 starting 2 back
    assert out["context_tokens"] == ["bb", "cc", "dd", "ee"]


def test_type_filter_e2e(spark, fixture_dir):
    from dbpedia_spotlight_spark.config import PipelineParams
    from dbpedia_spotlight_spark.plans.model_build import (
        model_from_fixture_dir,
    )
    from dbpedia_spotlight_spark.plans.pipeline import annotate

    model = model_from_fixture_dir(spark, fixture_dir)
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet").limit(60)
    res = annotate(docs, model)
    all_rows = res.scored.filter("rank = 1")
    typed = type_filter(all_rows, whitelist=("DBpedia:Person",))
    n_all, n_typed = all_rows.count(), typed.count()
    assert 0 < n_typed < n_all
    # the UNKNOWN policy: a resource with no types passes a whitelist
    expected = sum(
        1 for r in all_rows.collect()
        if "DBpedia:Person" in r["types"] or not r["types"]
    )
    assert n_typed == expected
    assert any("DBpedia:Person" in r["types"] for r in typed.collect())
