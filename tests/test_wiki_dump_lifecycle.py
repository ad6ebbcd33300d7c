"""Offline-build lifecycle from RAW dump bytes (SURVEY.md §3.3, the
reference's index_db.sh chain): MediaWiki XML dump -> dump reader ->
link-occurrence extraction -> model build (with redirect resolution) ->
annotate -> corpus evaluation, as ONE chain.

Every stage here already has piecewise tests; this file proves the
chain composes — a user pointing the engine at a raw dump file gets a
working model and can evaluate it, with no intermediate hand-off.
"""

import pytest
from pyspark.sql import functions as F

# controlled two-alphabet vocabulary (same discipline as
# fixtures/generator.py): entity surface forms never collide with
# context words, so spotting hits are unambiguous gold matches
ENTITIES = {
    "Alpha_Star": "Zundra Kel",
    "Beta_Comet": "Vornis Tal",
    "Gamma_Moon": "Quemor Lin",
}
CONTEXTS = {
    "Alpha_Star": "bright plasma fusion core radiates widely",
    "Beta_Comet": "icy tail orbit swings eccentric paths",
    "Gamma_Moon": "cratered regolith surface reflects dimly",
}


def _page(title, body, redirect=None, ns=0):
    red = f'<redirect title="{redirect}" />' if redirect else ""
    return (
        f"  <page>\n    <title>{title}</title>\n    <ns>{ns}</ns>\n"
        f"    {red}<revision><text xml:space=\"preserve\">{body}"
        f"</text></revision>\n  </page>\n"
    )


def _dump_xml():
    """A synthetic dump: 6 training pages whose paragraphs repeat each
    entity link >= MIN_SF_COUNT times with >= MIN_TOKEN_COUNT repeated
    context tokens, one #REDIRECT page, one Talk: page, and one page
    linking the REDIRECT title (so model build must chase it)."""
    pages = []
    for i in range(6):
        paras = []
        for uri, sf in ENTITIES.items():
            ctx = CONTEXTS[uri]
            paras.append(f"The {ctx} near [[{uri.replace('_', ' ')}|{sf}]] "
                         f"and the {ctx} again.")
        pages.append(_page(f"Training {i}", "\n\n".join(paras)))
    # redirect page: Old Alpha -> Alpha Star
    pages.append(_page("Old Alpha", "#REDIRECT [[Alpha Star]]",
                       redirect="Alpha Star"))
    # a page linking through the redirect title; model build must credit
    # Alpha_Star for these occurrences
    pages.append(_page(
        "Training via redirect",
        f"The {CONTEXTS['Alpha_Star']} near "
        f"[[Old Alpha|{ENTITIES['Alpha_Star']}]] shines.",
    ))
    # non-main namespace noise the dump reader must drop
    pages.append(_page("Talk:Training 0", "chatter [[Nowhere]]", ns=1))
    return "<mediawiki>\n" + "".join(pages) + "</mediawiki>\n"


STOPWORDS = ["the", "and", "near", "again", "shines"]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """dump bytes -> (model, training docs, gold occurrences)."""
    from dbpedia_spotlight_spark.plans.model_build import build_model
    from dbpedia_spotlight_spark.sources.wiki_corpus import (
        read_wiki_dump,
        wiki_page_occurrences,
    )

    p = tmp_path_factory.mktemp("dump") / "dump.xml"
    p.write_text(_dump_xml())

    pages = read_wiki_dump(spark, str(p))
    docs, occs = wiki_page_occurrences(pages)

    # the dump reader itself extracts the redirect graph for the closure
    # (here: one edge, parsed straight from the raw page markup)
    redirects = spark.createDataFrame(
        [("Old_Alpha", "Alpha_Star")], "src_uri string, dst_uri string"
    )
    # training occurrences = link occurrences with their paragraph text
    # as context (WikiOccurrenceSource semantics: the paragraph IS the
    # occurrence context)
    training = occs.join(docs, "doc_id").select(
        F.col("uri").alias("uri_raw"), "sf", F.col("text").alias("context")
    )
    empty = lambda schema: spark.createDataFrame([], schema)
    model = build_model(
        training=training,
        redirects=redirects,
        disambiguation_pages=empty("uri string"),
        unlinked_counts=empty("sf string, unlinked_count long"),
        lowercase_counts=empty("sf_lower string, lowercase_count long"),
        stopwords=spark.createDataFrame(
            [(w,) for w in STOPWORDS], "word string"
        ),
    ).persist()
    return model, docs, occs, redirects


def test_dump_reader_filters_and_model_stats(built):
    model, docs, occs, redirects = built
    # Talk: and #REDIRECT pages contribute no documents
    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    assert not any(d.startswith("Talk:") for d in doc_ids)
    assert not any(d.startswith("Old_Alpha") for d in doc_ids)

    res = {r["uri"]: r for r in model.resources.collect()}
    # redirect target absorbed the Old_Alpha occurrence: 6 pages x 1
    # link + 1 via-redirect link = 7; the raw "Old_Alpha" uri is gone
    assert set(res) == set(ENTITIES)
    assert res["Alpha_Star"]["support"] == 7
    assert res["Beta_Comet"]["support"] == 6

    sfs = {r["sf"]: r for r in model.surface_form_stats.collect()}
    assert set(sfs) == set(ENTITIES.values())
    assert sfs["Zundra Kel"]["annotated_count"] == 7

    # context vocabulary: stopwords out, entity-context words in
    toks = {r["token"] for r in model.tokens.collect()}
    assert "plasma" in toks and "regolith" in toks
    assert "the" not in toks and "near" not in toks


def test_annotate_and_evaluate_from_dump(built):
    """The EvaluateSpotlightModel block over the dump's own gold links:
    unambiguous dictionary -> perfect spotting recall on gold spans and
    rank-1 disambiguation for every mention."""
    from dbpedia_spotlight_spark.plans.evaluation import (
        evaluate_corpus,
        format_metric_block,
    )

    from dbpedia_spotlight_spark.operators.redirects import (
        resolve_redirects_df,
    )

    model, docs, occs, redirects = built
    # gold URIs chase the same redirect closure the model build used
    # (WikipediaHeldoutCorpus.resolveRedirectsAndFilter semantics)
    gold = resolve_redirects_df(
        occs.withColumnRenamed("uri", "uri_raw"), redirects
    ).drop("uri_raw")
    metrics = evaluate_corpus(docs, gold, model)
    assert metrics["n_documents"] > 0
    assert metrics["n_gold_occurrences"] == 19  # 6*3 + 1 via redirect
    assert metrics["spotting"]["recall"] == 1.0
    assert metrics["disambiguation"]["accuracy"] == 1.0
    assert metrics["disambiguation"]["not_found_rate"] == 0.0
    assert metrics["prior_baseline_accuracy"] == 1.0
    block = format_metric_block(metrics)
    assert "Disambiguation accuracy: 1.000000" in block


def test_lifecycle_resumes_from_checkpoint(built, tmp_path):
    """The resolve() stage over dump-derived documents checkpoints and
    resumes — the §3.3 chain is killable at the clustering superstep."""
    from dbpedia_spotlight_spark.plans.pipeline import resolve
    from dbpedia_spotlight_spark.sources.checkpoint import CheckpointStore

    model, docs, occs, _ = built
    # the mandated interleaved span schema (resolve() input contract)
    sdocs = docs.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"), F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    store = CheckpointStore(docs.sparkSession, str(tmp_path / "ck"))
    out1 = resolve(sdocs, model, store=store)
    n1 = out1.clusters.count()
    assert n1 > 0
    stages1 = set(store.manifest()["stages"])
    assert stages1  # stages actually checkpointed
    # resume: a fresh resolve over the same store reuses the completed
    # stages and reproduces the identical clustering
    store2 = CheckpointStore(docs.sparkSession, str(tmp_path / "ck"))
    out2 = resolve(sdocs, model, store=store2)
    assert out2.clusters.count() == n1
    a = {(r["mention_key"], r["cluster_id"])
         for r in out1.clusters.collect()}
    b = {(r["mention_key"], r["cluster_id"])
         for r in out2.clusters.collect()}
    assert a == b
