"""Correctness-tier fixture (n_docs=2000, ~7M labeled pairs): engine vs
oracle partition equality + pairwise F1.

Gated behind SPARK_GRAFT_SLOW=1 so the default suite stays fast; run
with:  SPARK_GRAFT_SLOW=1 python -m pytest tests/test_large_fixture_slow.py -q
"""

import os

import pytest

from dbpedia_spotlight_spark.fixtures import oracle as O
from dbpedia_spotlight_spark.fixtures.generator import (
    FixtureConfig,
    generate,
    write_parquet,
)
from dbpedia_spotlight_spark.fixtures.stats import build_stats
from dbpedia_spotlight_spark.plans.model_build import model_from_fixture_dir
from dbpedia_spotlight_spark.plans.pipeline import annotate, clusters_by_uri

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SLOW"),
    reason="slow correctness tier; set SPARK_GRAFT_SLOW=1",
)


def test_large_fixture_partition_equality_and_f1(spark, tmp_path):
    fx = generate(FixtureConfig(n_docs=2000, seed=17))
    fdir = str(tmp_path / "fx2000")
    write_parquet(fx, fdir)
    model = model_from_fixture_dir(spark, fdir)
    docs = spark.read.parquet(f"{fdir}/documents.parquet")
    result = annotate(docs, model)

    stats = build_stats(fx)
    om = O.OracleModel(stats, set(fx.stopwords.word))
    mentions = O.spot_documents(
        fx.documents, list(stats.surface_form_stats.sf)
    )
    links = O.link_mentions(mentions, fx.documents, om)

    rows = result.resolved.collect()
    assert len(rows) == len(links)
    mismatch = [
        r["mention_key"]
        for r in rows
        if r["uri"] != links[r["mention_key"]]["uri"]
    ]
    assert not mismatch, mismatch[:10]

    clusters = {
        r["mention_key"]: r["cluster_id"]
        for r in clusters_by_uri(result.resolved).collect()
    }
    f1 = O.pairwise_f1(clusters, fx.eval_pairs)
    assert f1 >= 0.99, f1
    assert len(fx.eval_pairs) > 1_000_000  # the 7M-pair tier
