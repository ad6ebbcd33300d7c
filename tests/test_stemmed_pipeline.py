"""Stemming on: Spark model build + annotate vs the pure-Python oracle.

The reference's default tokenizer stems every context token through the
Snowball English stemmer (db/tokenize/TextTokenizerFactory.scala:17-18);
with `stemmer="english"` the engine must reproduce the oracle's stemmed
token statistics bit-for-bit and the same links/scores end-to-end.
"""

import pandas as pd
import pytest

from dbpedia_spotlight_spark.config import PipelineParams
from dbpedia_spotlight_spark.fixtures import oracle as O
from dbpedia_spotlight_spark.fixtures.stats import build_stats
from dbpedia_spotlight_spark.plans.model_build import model_from_fixture_dir
from dbpedia_spotlight_spark.plans.pipeline import annotate


@pytest.fixture(scope="module")
def stemmed_stats(fx):
    return build_stats(fx, stemmer="english")


@pytest.fixture(scope="module")
def stemmed_model(spark, fixture_dir):
    return model_from_fixture_dir(spark, fixture_dir, stemmer="english")


def _cmp(spark_df, pandas_df, sort_cols):
    got = spark_df.toPandas().sort_values(sort_cols).reset_index(drop=True)
    want = pandas_df.sort_values(sort_cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[want.columns], want, check_dtype=False, rtol=1e-12
    )


def test_stemmed_tokens_table(stemmed_model, stemmed_stats, stats):
    _cmp(stemmed_model.tokens, stemmed_stats.tokens, ["token_id"])
    # stemming must actually conflate something on the fixture corpus
    assert stemmed_stats.vocab_size != stats.vocab_size or not (
        stemmed_stats.tokens.token == stats.tokens.token
    ).all()


def test_stemmed_context_counts(stemmed_model, stemmed_stats):
    _cmp(
        stemmed_model.context_counts,
        stemmed_stats.context_counts,
        ["res_id", "token_id"],
    )
    assert stemmed_model.total_token_count == stemmed_stats.total_token_count
    assert stemmed_model.vocab_size == stemmed_stats.vocab_size


def test_stemmed_annotate_matches_oracle(
    spark, fixture_dir, fx, stemmed_model, stemmed_stats
):
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    result = annotate(
        docs,
        stemmed_model,
        params=PipelineParams(stemmer="english"),
    )
    mentions = O.spot_documents(
        fx.documents, list(stemmed_stats.surface_form_stats.sf)
    )
    om = O.OracleModel(
        stemmed_stats, set(fx.stopwords.word), stemmer="english"
    )
    links = O.link_mentions(mentions, fx.documents, om)

    rows = result.resolved.collect()
    assert len(rows) == len(links)
    for r in rows:
        o = links[r["mention_key"]]
        assert r["uri"] == o["uri"], r["mention_key"]
        if o["uri"] is not None:
            assert r["final_score"] == pytest.approx(
                o["final_score"], rel=1e-9
            )
            assert r["ctx_score"] == pytest.approx(o["ctx_score"], rel=1e-9)
