"""Full resolve() pipeline: clusters vs oracle (incl. coref), checkpoints,
kill/resume semantics of the stages and of the CC supersteps."""

import json
import shutil

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.fixtures import oracle as O
from dbpedia_spotlight_spark.operators.cc import connected_components
from dbpedia_spotlight_spark.plans.model_build import model_from_fixture_dir
from dbpedia_spotlight_spark.plans.pipeline import resolve
from dbpedia_spotlight_spark.sources.checkpoint import CheckpointStore


@pytest.fixture(scope="module")
def model(spark, fixture_dir):
    return model_from_fixture_dir(spark, fixture_dir)


@pytest.fixture(scope="module")
def oracle_clusters(fx, stats):
    mentions = O.spot_documents(
        fx.documents, list(stats.surface_form_stats.sf)
    )
    om = O.OracleModel(stats, set(fx.stopwords.word))
    links = O.link_mentions(mentions, fx.documents, om)
    links = O.coreference_links(mentions, links)
    return O.cluster_mentions(links)


def _cluster_map(clusters_df):
    return {
        r["mention_key"]: r["cluster_id"] for r in clusters_df.collect()
    }


def test_resolve_clusters_match_oracle(spark, fixture_dir, model, fx,
                                       oracle_clusters):
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    result = resolve(docs, model, stopwords=list(fx.stopwords.word))
    got = _cluster_map(result.clusters)
    # exactly the oracle's clusters, ids included: each URI group is
    # labelled by its smallest mention key, NIL mentions by their own
    members: dict[str, list] = {}
    for k, c in oracle_clusters.items():
        members.setdefault(c, []).append(k)
    assert got == {k: min(ks) for ks in members.values() for k in ks}
    assert O.pairwise_f1(got, fx.eval_pairs) >= 0.99


def test_resume_skips_completed_stages(spark, fixture_dir, model, fx,
                                       tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    store = CheckpointStore(spark, ckpt)
    r1 = resolve(docs, model, stopwords=list(fx.stopwords.word), store=store)
    full = _cluster_map(r1.clusters)

    manifest = store.manifest()
    stages = set(manifest["stages"])
    assert stages == {"mentions", "scored", "resolved", "clusters"}
    assert not any(s == "edges" or s.startswith("cc_step_") for s in stages)
    # per-partition lineage counters present
    assert all("partitions" in v for v in manifest["stages"].values())

    # simulate a kill after 'resolved': drop later stages from the manifest
    manifest["stages"] = {
        k: v
        for k, v in manifest["stages"].items()
        if k in ("mentions", "scored", "resolved")
    }
    store._commit_manifest(manifest)

    # resume with a poisoned annotate: if the engine recomputes the early
    # stages the poison pill raises
    import dbpedia_spotlight_spark.plans.pipeline as P

    orig = P.annotate

    def poisoned(*a, **kw):
        raise AssertionError("resume recomputed a completed stage")

    P.annotate = poisoned
    try:
        store2 = CheckpointStore(spark, ckpt)
        r2 = resolve(
            docs, model, stopwords=list(fx.stopwords.word), store=store2
        )
        assert _cluster_map(r2.clusters) == full
    finally:
        P.annotate = orig


def test_cc_superstep_resume(spark, tmp_path_factory):
    """Killing inside the CC loop resumes from the last superstep: the
    input edges are never read again, and the result is unchanged."""
    ckpt = str(tmp_path_factory.mktemp("ckpt_cc"))
    nodes = [f"c{i:02d}" for i in range(40)]
    edges = spark.createDataFrame(
        [(nodes[i], nodes[i + 1]) for i in range(39)], "src string, dst string"
    )
    store = CheckpointStore(spark, ckpt)
    full = _cluster_map(connected_components(edges, store=store))
    assert full == {n: "c00" for n in nodes}

    manifest = store.manifest()
    cc_steps = sorted(
        (s for s in manifest["stages"] if s.startswith("cc_step_")),
        key=lambda s: int(s.rsplit("_", 1)[1]),
    )
    assert len(cc_steps) > 1, "a 40-node chain needs several supersteps"
    # simulate a kill after the first superstep
    first = {cc_steps[0]: manifest["stages"][cc_steps[0]]}
    manifest["stages"] = dict(first)
    store._commit_manifest(manifest)

    poisoned = edges.filter(
        F.raise_error(F.lit("resume re-read the input edges")).isNull()
    )
    store2 = CheckpointStore(spark, ckpt)
    assert _cluster_map(connected_components(poisoned, store=store2)) == full
    stages = store2.manifest()["stages"]
    assert stages[cc_steps[0]] == first[cc_steps[0]]  # not rewritten
    assert set(stages) == set(cc_steps)
