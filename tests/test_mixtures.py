"""Selectable score mixtures (disambiguate/mixtures/*.scala)."""

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.config import PipelineParams
from dbpedia_spotlight_spark.plans.model_build import model_from_fixture_dir
from dbpedia_spotlight_spark.plans.pipeline import annotate


@pytest.fixture(scope="module")
def model(spark, fixture_dir):
    return model_from_fixture_dir(spark, fixture_dir)


@pytest.fixture(scope="module")
def docs(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/documents.parquet")


def _scored(docs, model, fx, mixture):
    res = annotate(
        docs, model, stopwords=list(fx.stopwords.word),
        params=PipelineParams(mixture=mixture),
    )
    return res.scored


def test_onlysim_ranks_by_context_alone(docs, model, fx):
    rows = _scored(docs, model, fx, "onlysim").collect()
    assert rows
    by_mention = {}
    for r in rows:
        by_mention.setdefault(r["mention_key"], []).append(r)
    for ms in by_mention.values():
        ranked = sorted(ms, key=lambda r: r["rank"])
        raws = [r["raw_score"] for r in ranked]
        assert raws == sorted(raws, reverse=True)
        # raw score IS the (unnormalized log) context score channel:
        # independent of prior ordering


def test_linreg_formula_exact(spark):
    """Active LinearRegressionMixture.scala:49-53 body, verified against
    hand-computed values: 1234.3989·P(e) + 0.9968·raw_ctx − 0.0275, with a
    constant NIL score from the reference's constructor defaults
    (prior 0.0, contextualScore −1)."""
    import types as _t

    from dbpedia_spotlight_spark.operators.disambiguate import disambiguate
    from dbpedia_spotlight_spark.operators.mixtures import LINREG_NIL_SCORE

    cands = spark.createDataFrame(
        [
            ("d1", "m1", 1, 0, 3, "foo", "Foo", 10, None, "foo", 0.9, 0.001),
            ("d1", "m1", 2, 0, 3, "foo", "Bar", 5, None, "foo", 0.1, 0.01),
        ],
        "doc_id string, mention_key string, res_id long, begin int, "
        "end int, sf string, uri string, support long, types string, "
        "cand_sf string, cand_prior double, res_prior double",
    )
    ctx = spark.createDataFrame(
        [("d1", 1, -0.5), ("d1", 2, -0.9)],
        "doc_id string, res_id long, ctx_score double",
    )
    nil = spark.createDataFrame(
        [("d1", -40.0)], "doc_id string, nil_ctx_score double"
    )
    model = _t.SimpleNamespace(total_annotated_count=1000)
    from dbpedia_spotlight_spark.config import PipelineParams as P

    rows = {
        r["uri"]: r
        for r in disambiguate(
            cands, ctx, nil, model, P(mixture="linreg")
        ).collect()
    }
    assert abs(LINREG_NIL_SCORE - (-1.0243)) < 1e-9
    exp_foo = 1234.3989 * 0.001 + 0.9968 * (-0.5) - 0.0275
    exp_bar = 1234.3989 * 0.01 + 0.9968 * (-0.9) - 0.0275
    assert abs(rows["Foo"]["raw_score"] - exp_foo) < 1e-9
    assert abs(rows["Bar"]["raw_score"] - exp_bar) < 1e-9
    assert all(abs(r["nil_score"] - LINREG_NIL_SCORE) < 1e-12
               for r in rows.values())
    assert rows["Bar"]["rank"] == 1 and rows["Foo"]["rank"] == 2


def test_linreg_pipeline_runs(docs, model, fx):
    scored = _scored(docs, model, fx, "linreg")
    from dbpedia_spotlight_spark.operators.mixtures import LINREG_NIL_SCORE

    rows = scored.collect()
    # survivors (if any) beat the constant NIL score; the gate itself may
    # legitimately drop everything when raw ln context scores are large
    # negative and priors small — that IS the reference behavior
    assert all(r["raw_score"] > LINREG_NIL_SCORE for r in rows)
    assert all(abs(r["nil_score"] - LINREG_NIL_SCORE) < 1e-12 for r in rows)


def _mini_inputs(spark):
    import types as _t

    cands = spark.createDataFrame(
        [
            ("d1", "m1", 1, 0, 3, "foo", "Foo", 10, None, "foo", 0.9, 0.02),
            ("d1", "m1", 2, 0, 3, "foo", "Bar", 5, None, "foo", 0.1, 0.05),
        ],
        "doc_id string, mention_key string, res_id long, begin int, "
        "end int, sf string, uri string, support long, types string, "
        "cand_sf string, cand_prior double, res_prior double",
    )
    ctx = spark.createDataFrame(
        [("d1", 1, -2.0), ("d1", 2, -3.0)],
        "doc_id string, res_id long, ctx_score double",
    )
    nil = spark.createDataFrame(
        [("d1", -10.0)], "doc_id string, nil_ctx_score double"
    )
    return cands, ctx, nil, _t.SimpleNamespace(total_annotated_count=1000)


def test_fader_mixtures_formulas_exact(spark):
    """FaderMixture.scala:20-30 / Fader2Mixture.scala:17-22 against
    hand-computed values (cw=0.5, alpha=1000, surrogates=2)."""
    import math

    from dbpedia_spotlight_spark.config import PipelineParams as P
    from dbpedia_spotlight_spark.operators.disambiguate import disambiguate

    cands, ctx, nil, model = _mini_inputs(spark)
    params = dict(mixture_context_weight=0.5, mixture_alpha=1000.0,
                  mixture_surrogates_count=2)

    rows = {
        r["uri"]: r
        for r in disambiguate(
            cands, ctx, nil, model, P(mixture="fader", **params)
        ).collect()
    }

    def fader(ctx_s, prior):
        prom = 1 + math.log(1 + prior * 1000.0)
        return ctx_s * (0.5 / 2 + 0.5 * prom)

    # NIL constant: ctx −1, prior 0 → −(0.25 + 0.5)
    if rows:
        for uri, prior, c in (("Foo", 0.02, -2.0), ("Bar", 0.05, -3.0)):
            if uri in rows:
                assert abs(rows[uri]["raw_score"] - fader(c, prior)) < 1e-9
                assert abs(rows[uri]["nil_score"] - (-0.75)) < 1e-12
    # fader scores here are all below the NIL constant (ctx very negative
    # relative to −0.75·scale)? compute: fader(−2, .02)=−2·(.25+.5·prom);
    # prom=1+ln(21)=4.04 → −4.55 < −0.75 → filtered. Verify the gate did
    # its job rather than silently passing:
    assert rows == {}

    rows2 = {
        r["uri"]: r
        for r in disambiguate(
            cands, ctx, nil, model, P(mixture="fader2", **params)
        ).collect()
    }

    def fader2(ctx_s, prior):
        prom = 1 + math.log(1 + prior * 1000.0)
        return 0.5 * ctx_s + 0.5 * prom

    # nil = 0.5·(−1) + 0.5·1 = 0; fader2(−2,.02)=−1+2.022=1.022 > 0 keep;
    # fader2(−3,.05)=−1.5+2.466=0.966 > 0 keep
    assert set(rows2) == {"Foo", "Bar"}
    for uri, prior, c in (("Foo", 0.02, -2.0), ("Bar", 0.05, -3.0)):
        assert abs(rows2[uri]["raw_score"] - fader2(c, prior)) < 1e-9
        assert abs(rows2[uri]["nil_score"] - 0.0) < 1e-12
    assert rows2["Foo"]["rank"] == 1  # 1.022 > 0.966


def test_linregf_mixture_formula_exact(spark):
    """LinearRegressionFeatureMixture.scala:16-23 with the documented
    example weights (P(e)·0.0216 + P(c|e)·0.0005 + P(s|e)·0.2021 +
    1.5097)."""
    import math

    from dbpedia_spotlight_spark.config import PipelineParams as P
    from dbpedia_spotlight_spark.operators.disambiguate import disambiguate

    cands, ctx, nil, model = _mini_inputs(spark)
    rows = {
        r["uri"]: r
        for r in disambiguate(
            cands, ctx, nil, model, P(mixture="linregf")
        ).collect()
    }

    def score(pe, pce, pse):
        return 0.0216 * pe + 0.0005 * pce + 0.2021 * pse + 1.5097

    exp_foo = score(math.log(0.02), -2.0, math.log(0.9))
    exp_bar = score(math.log(0.05), -3.0, math.log(0.1))
    exp_nil = score(math.log(1 / 1000.0), -10.0, -10.0)
    assert set(rows) == {"Foo", "Bar"}
    assert abs(rows["Foo"]["raw_score"] - exp_foo) < 1e-9
    assert abs(rows["Bar"]["raw_score"] - exp_bar) < 1e-9
    assert all(abs(r["nil_score"] - exp_nil) < 1e-9 for r in rows.values())


def test_cli_exposes_all_mixtures():
    from dbpedia_spotlight_spark.cli import MIXTURES

    assert set(MIXTURES) == {
        "unweighted", "linreg", "onlysim", "fader", "fader2", "linregf"
    }


def test_default_mixture_unchanged(docs, model, fx):
    a = {
        (r["mention_key"], r["uri"], r["rank"])
        for r in _scored(docs, model, fx, "unweighted").collect()
    }
    res_default = annotate(docs, model, stopwords=list(fx.stopwords.word))
    b = {
        (r["mention_key"], r["uri"], r["rank"])
        for r in res_default.scored.collect()
    }
    assert a == b


def test_unknown_mixture_rejected(docs, model, fx):
    with pytest.raises(Exception):
        _scored(docs, model, fx, "nonsense").collect()


def test_combined_options_smoke(spark, fixture_dir, fx):
    """Selectable options at once: Porter2 stemming + linear-regression
    mixture, through the full resolve() path."""
    from dbpedia_spotlight_spark.plans.pipeline import resolve

    model = model_from_fixture_dir(spark, fixture_dir, stemmer="english")
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    res = resolve(
        docs,
        model,
        stopwords=list(fx.stopwords.word),
        params=PipelineParams(stemmer="english", mixture="linreg"),
    )
    clusters = res.clusters.collect()
    assert clusters
    # every mention gets exactly one cluster id
    assert len({c["mention_key"] for c in clusters}) == len(clusters)
