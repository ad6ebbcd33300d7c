"""The traced run: `plans.pipeline.resolve` followed by the CLI's write and
count, re-composed from each module's public functions in the order the
pipeline calls them, one span per call.

Every span materializes its output (`localCheckpoint(eager=True)`) so the
next span reads finished input and its own time is its own. Row counts are
taken after the last span, under a job group of their own, outside the
traced wall.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import functions as F

from dbpedia_spotlight_spark import cli
from dbpedia_spotlight_spark.operators import disambiguate as D
from dbpedia_spotlight_spark.operators.blocking import salted_blocks
from dbpedia_spotlight_spark.operators.candidates import (
    generate_candidates,
    with_mention_key,
)
from dbpedia_spotlight_spark.operators.cc import cluster_assignments
from dbpedia_spotlight_spark.operators.filters import (
    apply_result_filters,
    coreference_resolution,
)
from dbpedia_spotlight_spark.operators.fsa_spotting import (
    broadcast_fsa_dictionary,
    build_fsa_dictionary,
    spot_documents_fsa,
)
from dbpedia_spotlight_spark.operators.pairs import edges_from_resolution
from dbpedia_spotlight_spark.operators.scoring import context_scores
from dbpedia_spotlight_spark.operators.windows import window_token_arrays
from dbpedia_spotlight_spark.sources.checkpoint import CheckpointStore

ROWS_GROUP = "perfbench.rows"


class TracedStore(CheckpointStore):
    """A CheckpointStore whose every stage write is a `sources.checkpoint`
    span, also the supersteps written from inside `operators.cc`."""

    def __init__(self, spark, base_dir: str, tracer):
        super().__init__(spark, base_dir)
        self.tracer = tracer

    def write(self, df, stage, **kw):
        with self.tracer.span("sources.checkpoint"):
            return super().write(df, stage, **kw)


def _mat(df):
    return df.localCheckpoint(eager=True)


def _counts(sc, frames: dict) -> dict[str, int]:
    sc.setLocalProperty("spark.jobGroup.id", ROWS_GROUP)
    try:
        return {name: df.count() for name, df in frames.items()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _spotlight_cc_dirs(tmp: str) -> set[str]:
    return {d for d in os.listdir(tmp) if d.startswith("spotlight_cc_")}


def traced_resolve(spark, tracer, documents: str, model_dir: str,
                   output: str, params, checkpoint_dir: str | None) -> dict:
    """Returns the traced wall, rows out per layer and the layer ratios;
    spans land in `tracer`."""
    sc = spark.sparkContext
    out: dict = {}   # layer -> materialized output, counted at the end
    sp = tracer.span
    t0 = time.perf_counter()

    with sp("cli.load"):
        model = cli._load_model(spark, model_dir)
        stopwords = cli._load_stopwords(spark, model_dir)
        docs = spark.read.parquet(documents)
    store = (TracedStore(spark, checkpoint_dir, tracer)
             if checkpoint_dir else None)

    def ck(stage, df, **kw):
        return df if store is None else store.write(df, stage, **kw)

    with sp("operators.fsa_spotting.build"):
        fsa_bc = broadcast_fsa_dictionary(spark, build_fsa_dictionary(
            model.surface_form_stats, case_sensitive=params.case_sensitive,
            on_boundary="ac"))
    with sp("operators.windows"):
        win_tokens, span_map = window_token_arrays(
            docs, stopwords, params.max_context, stemmer=params.stemmer)
        win_tokens, span_map = _mat(win_tokens), _mat(span_map)
    out["operators.windows"] = win_tokens
    with sp("operators.fsa_spotting.spot"):
        spotted = _mat(spot_documents_fsa(docs, fsa_bc, params))
    out["operators.fsa_spotting.spot"] = spotted
    with sp("plans.pipeline"):
        mentions = _mat(with_mention_key(spotted).join(
            span_map, ["doc_id", "span_idx"], "left").fillna({"window_id": 0}))
    out["plans.pipeline"] = mentions
    with sp("operators.candidates"):
        cands = _mat(generate_candidates(mentions, model, params))
    out["operators.candidates"] = cands
    with sp("operators.scoring"):
        ctx, nil = context_scores(cands, win_tokens, model, params,
                                  keys=("doc_id", "window_id"))
        ctx, nil = _mat(ctx), _mat(nil)
    out["operators.scoring"] = ctx
    with sp("operators.disambiguate"):
        scored = _mat(D.disambiguate(cands, ctx, nil, model, params))
    mentions = ck("mentions", mentions)
    scored = ck("scored", scored, lineage=["mentions"])

    with sp("operators.filters"):
        filtered = _mat(apply_result_filters(scored, params))
    with sp("operators.disambiguate"):
        resolved = _mat(D.resolve_all_mentions(mentions, filtered))
    out["operators.disambiguate"] = resolved
    out["linked"] = resolved.filter(F.col("uri").isNotNull())
    if params.coreference_resolution:
        with sp("operators.filters"):
            coref = _mat(coreference_resolution(resolved))
        out["rewritten"] = resolved.alias("a").join(
            coref.alias("b"), "mention_key").filter(
            ~F.col("a.uri").eqNullSafe(F.col("b.uri")))
        resolved = coref
    out["operators.filters"] = resolved
    resolved = ck("resolved", resolved, lineage=["mentions", "scored"])

    with sp("operators.blocking"):
        # resolve() keeps only the counters: salted rows and the task list
        # are dropped, so no blocking row reaches a later layer
        _salted, _tasks, counters = salted_blocks(
            mentions.join(resolved.select("mention_key", "uri"),
                          "mention_key", "left"), params)
    with sp("operators.pairs"):
        edges = _mat(edges_from_resolution(resolved))
    out["operators.pairs"] = edges
    edges = ck("edges", edges, lineage=["resolved"])

    tmp = tempfile.gettempdir()   # where cc.py's mkdtemp writes
    before = _spotlight_cc_dirs(tmp)
    with sp("operators.cc"):
        clusters = cluster_assignments(resolved, edges, store=store,
                                       stage_prefix="cc")
        clusters_m = _mat(clusters)
    out["operators.cc"] = clusters_m
    # the driver union-find hands its result back through a fresh
    # spotlight_cc_* temp dir; the distributed loop writes none
    driver_cc = bool(_spotlight_cc_dirs(tmp) - before)
    if store is not None:
        clusters = store.write(clusters_m, "clusters", lineage=["edges"])
    # without a store the CLI writes and then counts the lazy clusters
    # frame, so both re-run its final join: keep that shape here

    with sp("cli.write"):
        clusters.write.mode("overwrite").parquet(output)
    with sp("cli.count"):
        clusters.count()
    wall = time.perf_counter() - t0

    rows = _counts(sc, out)
    rows["operators.blocking"] = counters.n_blocks
    n_mentions = rows["plans.pipeline"]
    manifest = store.manifest()["stages"] if store is not None else {}
    return {
        "wall_s": wall,
        "rows": rows,
        "operators.candidates.cands_per_mention":
            rows["operators.candidates"] / n_mentions,
        "operators.disambiguate.linked_frac": rows.pop("linked") / n_mentions,
        "operators.filters.coref_rewrite_frac":
            rows.pop("rewritten", 0) / n_mentions,
        "operators.blocking.rows_used_downstream": 0,
        "operators.cc.distributed": 0 if driver_cc else 1,
        "operators.cc.supersteps": sum(
            1 for s in manifest if s.startswith("cc_step_")),
        "sources.checkpoint.stages_written": len(manifest),
        "sources.checkpoint.mb_written": _du_mb(checkpoint_dir)
        if checkpoint_dir else 0.0,
    }


def _du_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    ) / 2**20
