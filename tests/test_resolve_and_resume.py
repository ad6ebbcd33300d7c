"""Full resolve() pipeline: clusters vs oracle (incl. coref), checkpoints,
kill/resume semantics of the stages and of the CC supersteps, the join
plan of the model-dimension lookups, and score sums that do not depend on
row order."""

import dataclasses
import json
import shutil

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.fixtures import oracle as O
from dbpedia_spotlight_spark.operators.candidates import generate_candidates
from dbpedia_spotlight_spark.operators.cc import connected_components
from dbpedia_spotlight_spark.operators.scoring import (
    _exact_sum,
    context_scores,
)
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


def test_resumed_stages_run_no_schema_job(spark, fixture_dir, model, fx,
                                          tmp_path_factory):
    """Each stage's manifest entry records its schema, so a run whose
    stages are all checkpointed reads them without a schema-inference
    job: no Spark job runs before `clusters` is collected."""
    ckpt = str(tmp_path_factory.mktemp("ckpt_schema"))
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    sw = list(fx.stopwords.word)
    r1 = resolve(docs, model, stopwords=sw, store=CheckpointStore(spark, ckpt))
    full = _cluster_map(r1.clusters)
    r1.unpersist()

    sc = spark.sparkContext
    group = "test_resumed_stages_run_no_schema_job"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        r2 = resolve(docs, model, stopwords=sw,
                     store=CheckpointStore(spark, ckpt))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r2.annotated is None  # every stage resumed
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _cluster_map(r2.clusters) == full

    # an entry without its schema is not a completed stage
    with open(f"{ckpt}/manifest.json") as f:
        manifest = json.load(f)
    del manifest["stages"]["clusters"]["schema"]
    store = CheckpointStore(spark, ckpt)
    store._commit_manifest(manifest)
    assert not store.has("clusters") and store.has("resolved")


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


def _lookup_inputs(spark, stats):
    """A few mentions of the model's surface forms (one lowercased, so the
    fuzzy branch joins too) and one document's tokens, as local frames."""
    sfs = list(stats.surface_form_stats.sf[:6])
    mentions = spark.createDataFrame(
        [("d0", i, 10 * i, 10 * i + len(sf), sf.lower() if i == 0 else sf)
         for i, sf in enumerate(sfs)],
        "doc_id string, span_idx int, begin int, end int, sf string",
    )
    doc_tokens = spark.createDataFrame(
        [("d0", [t.lower() for sf in sfs for t in sf.split()])],
        "doc_id string, query_tokens array<string>",
    )
    return mentions, doc_tokens


def test_building_the_lookup_plan_runs_no_job(spark, model, stats):
    """Candidate generation and context scoring are lazy: composing them
    over the model runs no Spark job; join strategies are left to the
    planner and AQE, which decide from byte sizes."""
    # a fresh instance: no state an earlier test left on the shared
    # model can hide a job
    fresh = dataclasses.replace(model)
    mentions, doc_tokens = _lookup_inputs(spark, stats)
    sc = spark.sparkContext
    group = "test_building_the_lookup_plan_runs_no_job"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        cands = generate_candidates(mentions, fresh)
        context_scores(cands, doc_tokens, fresh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_context_sums_do_not_depend_on_row_order(spark):
    """The order rows reach the score sums follows the joins AQE picks,
    which change from run to run. Summed as doubles, 1e16, 1 and -1e16
    give 0 in one order and 1 in the other."""
    sums = []
    for vals in ([1e16, 1.0, -1e16], [1e16, -1e16, 1.0]):
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        sums.append(df.coalesce(1).agg(_exact_sum(F.col("x"))).first()[0])
    assert sums == [1.0, 1.0]


def _final_plan_nodes(df):
    """Node names of `df`'s final AQE plan, query stages entered; cached
    tables are leaves (their own build plans are not included)."""
    adaptive = df._jdf.queryExecution().executedPlan()
    assert adaptive.isFinalPlan()
    names, todo = [], [adaptive.executedPlan()]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(node.plan())
    return names


def test_small_dimensions_still_broadcast(spark, model, stats):
    """Without hints, AQE still broadcasts the small model dimensions in
    each lookup join: the exact and fuzzy surface-form joins, the
    candidate map and the resources."""
    mentions, _ = _lookup_inputs(spark, stats)
    cands = generate_candidates(mentions, model)
    assert len(cands.collect()) > 0
    joins = [n for n in _final_plan_nodes(cands) if "Join" in n]
    assert len(joins) >= 4
    assert set(joins) == {"BroadcastHashJoin"}, joins
