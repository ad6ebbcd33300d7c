"""What one CLI call costs and leaves behind in the session: `resolve` runs
a single action (one write per checkpointed stage), reads the model
without schema-inference jobs, takes its printed count from the write,
releases its caches (so does `evaluate_corpus`), and runs with the
stopwords the model was built with."""

import dataclasses
import json

import pandas as pd
import pytest

from dbpedia_spotlight_spark import cli
from dbpedia_spotlight_spark.fixtures.generator import (
    STOPWORDS,
    FixtureConfig,
    generate,
    write_parquet,
)
from dbpedia_spotlight_spark.plans.evaluation import evaluate_corpus
from dbpedia_spotlight_spark.plans.model_build import MODEL_SCHEMAS

# not the generator's list, so a model that lost them is caught
FIXTURE_STOPWORDS = ["the", "of", "and", "to", "with"]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """(fixture dir, model dir) of a `cli model-build` run."""
    root = tmp_path_factory.mktemp("cli_actions")
    fx = generate(FixtureConfig(n_docs=40, seed=13))
    fx = dataclasses.replace(
        fx, stopwords=pd.DataFrame({"word": FIXTURE_STOPWORDS})
    )
    write_parquet(fx, str(root / "fx"))
    cli.main(["model-build", "--fixture-dir", str(root / "fx"),
              "--output", str(root / "model")])
    return str(root / "fx"), str(root / "model")


def _main(capsys, argv) -> dict:
    capsys.readouterr()
    cli.main(argv)
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_model_schemas_are_what_model_build_writes(spark, built):
    """A declared schema that drifts from the written one reads the
    renamed column as NULL without any error; compare names, types and
    order against the schema inferred from the files."""
    _, model_dir = built
    for name, ddl in MODEL_SCHEMAS.items():
        path = f"{model_dir}/{name}"
        declared = spark.read.schema(ddl).parquet(path).schema
        written = spark.read.parquet(path).schema
        assert [(f.name, f.dataType) for f in declared] == \
            [(f.name, f.dataType) for f in written], name


def test_model_records_its_stopwords(spark, built):
    assert FIXTURE_STOPWORDS != STOPWORDS
    _, model_dir = built
    assert cli._load_stopwords(spark, model_dir) == FIXTURE_STOPWORDS
    assert cli._load_model(spark, model_dir).stopwords == FIXTURE_STOPWORDS


@pytest.mark.parametrize("cmd", ["resolve", "annotate"])
def test_cli_call_releases_its_caches(spark, built, tmp_path, capsys, cmd):
    fx_dir, model_dir = built
    before = _persisted_ids(spark)
    out = _main(capsys, [cmd, "--documents", f"{fx_dir}/documents.parquet",
                         "--model-dir", model_dir,
                         "--output", str(tmp_path / "out")])
    assert out["status"] == "ok"
    assert _persisted_ids(spark) - before == set()


def test_evaluate_corpus_releases_its_caches(spark, built):
    fx_dir, model_dir = built
    docs = spark.read.parquet(f"{fx_dir}/documents.parquet")
    gold = spark.read.parquet(f"{fx_dir}/gold_occurrences.parquet")
    model = cli._load_model(spark, model_dir)
    before = _persisted_ids(spark)
    metrics = evaluate_corpus(docs, gold, model)
    assert metrics["n_gold_occurrences"] > 0
    assert _persisted_ids(spark) - before == set()


def _executions(spark, job_ids: set[int]) -> list[tuple[str, set[int]]]:
    """(description, the ids among `job_ids` it ran) of each SQL
    execution that ran any of them."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        keys = e.jobs().keys().toList()
        jobs = {keys.apply(k) for k in range(keys.size())} & job_ids
        if jobs:
            out.append((e.description(), jobs))
    return out


def test_cli_resolve_runs_one_action(spark, built, tmp_path, capsys):
    """The call's jobs all belong to its write and its one Arrow pull of
    the dictionary column, apart from the documents' schema read: no
    count, no per-partition toLocalIterator, and no schema-inference job
    per model table (those run outside any SQL execution)."""
    fx_dir, model_dir = built
    sc = spark.sparkContext
    group = "test_cli_resolve_runs_one_action"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = _main(capsys, ["resolve",
                             "--documents", f"{fx_dir}/documents.parquet",
                             "--model-dir", model_dir,
                             "--output", str(tmp_path / "out")])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    execs = _executions(spark, jobs)
    actions = sorted(d.split(" at ")[0] for d, _ in execs)
    assert actions == ["parquet", "toArrow"], execs
    outside = jobs - set().union(*(j for _, j in execs))
    assert len(outside) <= 1, f"{len(outside)} jobs outside SQL: {outside}"
    assert out["clusters"] == \
        spark.read.parquet(str(tmp_path / "out")).count() > 0


def test_cli_resolve_checkpointed_runs_no_collect(spark, built, tmp_path,
                                                  capsys):
    """A checkpointed stage is one counted write: the call's SQL
    executions are parquet writes (one per stage, then the output) and
    the dictionary's toArrow, with no read-back of a stage to count it."""
    fx_dir, model_dir = built
    sc = spark.sparkContext
    group = "test_cli_resolve_checkpointed_runs_no_collect"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = _main(capsys, ["resolve", "--no-coref",
                             "--documents", f"{fx_dir}/documents.parquet",
                             "--model-dir", model_dir,
                             "--checkpoint-dir", str(tmp_path / "ckpt"),
                             "--output", str(tmp_path / "out")])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    execs = _executions(spark, jobs)
    actions = sorted(d.split(" at ")[0] for d, _ in execs)
    assert actions == ["parquet"] * 5 + ["toArrow"], execs
    with open(tmp_path / "ckpt" / "manifest.json") as f:
        stages = json.load(f)["stages"]
    assert out["clusters"] == stages["clusters"]["rows"] > 0
