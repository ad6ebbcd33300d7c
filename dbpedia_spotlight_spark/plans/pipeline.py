"""End-to-end pipeline orchestration.

One lazily-composed DataFrame DAG (SURVEY.md §3.1 recast):

    documents --(AC pandas UDF)--> mentions
              --(dim joins)------> mention_candidates
              --(token joins+agg)-> ctx_scores
              --(window)---------> linked mentions
              --(filters/coref)--> resolved
              --(clusters_by_uri)--> clusters

Clusters are the groups of mentions linked to one URI, each labelled by
its smallest mention key (clusters_by_uri). Each named stage can
checkpoint through sources/checkpoint.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_PARAMS, PipelineParams
from ..operators import disambiguate as D
from ..operators.candidates import generate_candidates, with_mention_key
from ..operators.scoring import context_scores
from ..operators.ahocorasick import AhoCorasick
from ..operators.spotting import (
    broadcast_automaton,
    build_automaton,
    spot_documents,
)
from .model_build import ModelTables


@dataclass
class AnnotateResult:
    mentions: DataFrame
    candidates: DataFrame
    scored: DataFrame
    resolved: DataFrame   # every mention, NULL uri = NIL


def annotate(
    documents: DataFrame,
    model: ModelTables,
    stopwords: list[str],
    params: PipelineParams = DEFAULT_PARAMS,
    automaton_bc=None,
) -> AnnotateResult:
    spark = documents.sparkSession
    if params.spotter == "fsa":
        from ..operators.fsa_spotting import (
            FSADictionary,
            broadcast_fsa_dictionary,
            build_fsa_dictionary,
            spot_documents_fsa,
        )

        if automaton_bc is not None and not isinstance(
            automaton_bc.value, FSADictionary
        ):
            raise TypeError(
                "automaton_bc holds "
                f"{type(automaton_bc.value).__name__} but params.spotter="
                "'fsa' needs an FSADictionary (build it with "
                "build_fsa_dictionary, or set spotter='ac')"
            )
        if automaton_bc is None:
            # on_boundary="ac": real models contain boundary-edged surface
            # forms ('Yahoo!', 'U.S.') that cannot be token-aligned — they
            # route to an embedded AC residue automaton instead of raising.
            automaton_bc = broadcast_fsa_dictionary(
                spark,
                build_fsa_dictionary(
                    model.surface_form_stats,
                    case_sensitive=params.case_sensitive,
                    on_boundary="ac",
                ),
            )
        spot = lambda docs: spot_documents_fsa(docs, automaton_bc, params)
    else:
        if automaton_bc is not None and not isinstance(
            automaton_bc.value, AhoCorasick
        ):
            raise TypeError(
                "automaton_bc holds "
                f"{type(automaton_bc.value).__name__} but params.spotter="
                f"{params.spotter!r} needs an AhoCorasick (build it with "
                "build_automaton, or set spotter='fsa')"
            )
        if automaton_bc is None:
            automaton_bc = broadcast_automaton(
                spark,
                build_automaton(
                    model.surface_form_stats,
                    case_sensitive=params.case_sensitive,
                ),
            )
        spot = lambda docs: spot_documents(docs, automaton_bc, params)

    from ..operators.windows import window_token_arrays

    win_tokens, span_map = window_token_arrays(
        documents, stopwords, params.max_context, stemmer=params.stemmer
    )
    # win_tokens feeds BOTH the candidate context scores and the NIL
    # scores — cached, or the tokenize+window subtree (which re-reads the
    # input) expands once per reference (measured ~20% of annotate)
    win_tokens = win_tokens.cache()
    # mentions (a pandas-UDF scan) is referenced by several downstream
    # joins — cached, or Catalyst re-runs the Python stage per reference
    mentions = with_mention_key(
        spot(documents)
    ).join(span_map, ["doc_id", "span_idx"], "left").fillna(
        {"window_id": 0}
    ).cache()
    cands = generate_candidates(mentions, model, params)
    ctx, nil = context_scores(
        cands, win_tokens, model, params, keys=("doc_id", "window_id")
    )
    scored = D.disambiguate(cands, ctx, nil, model, params)
    resolved = D.resolve_all_mentions(mentions, scored)
    return AnnotateResult(
        mentions=mentions, candidates=cands, scored=scored, resolved=resolved
    )


@dataclass
class ResolveResult:
    resolved: DataFrame
    clusters: DataFrame


def resolve(
    documents: DataFrame,
    model: ModelTables,
    stopwords: list[str],
    params: PipelineParams = DEFAULT_PARAMS,
    store=None,
) -> ResolveResult:
    """Full record-linkage run: annotate → filters/coref →
    clusters_by_uri → clusters(mention_key, cluster_id).

    With a `store` (sources/checkpoint.py) the stages `mentions`,
    `scored`, `resolved` and `clusters` are checkpointed; a killed run
    re-invoked with the same store resumes from the last completed stage
    (tests/test_resolve_and_resume.py).
    """
    from ..operators.filters import apply_result_filters, coreference_resolution

    def ck(stage, compute, **kw):
        if store is None:
            return compute()
        return store.get_or_compute(stage, compute, **kw)

    ann_holder = {}

    def _annotate():
        if "res" not in ann_holder:
            ann_holder["res"] = annotate(documents, model, stopwords, params)
        return ann_holder["res"]

    mentions = ck("mentions", lambda: _annotate().mentions)
    scored = ck(
        "scored", lambda: _annotate().scored, lineage=["mentions"]
    )
    filtered = apply_result_filters(scored, params)

    def _resolved():
        res = D.resolve_all_mentions(mentions, filtered)
        if params.coreference_resolution:
            res = coreference_resolution(res)
        return res

    resolved = ck("resolved", _resolved, lineage=["mentions", "scored"])
    if store is None:
        # the CLI writes `clusters` and then counts it: without a
        # checkpoint store, cache `resolved` or both actions re-run the
        # whole annotate+coref chain
        resolved = resolved.cache()

    clusters = ck(
        "clusters",
        lambda: clusters_by_uri(resolved).select("mention_key", "cluster_id"),
        lineage=["resolved"],
    )
    return ResolveResult(resolved=resolved, clusters=clusters)


def clusters_by_uri(resolved: DataFrame) -> DataFrame:
    """resolved(mention_key, uri, ...) -> (mention_key, cluster_id, uri),
    one row per mention_key.

    The reference's clustering: the mentions linked to one DBpedia URI
    form one cluster, whose id is the smallest mention_key among them;
    NIL mentions (uri NULL) are singletons with their own key as id.

    A mention_key (`doc_id:begin`) can carry several rows: with
    `overlap=True` several spots start at one offset, and coreference
    rewrites each of them separately, so one key may even hold two URIs.
    A key belongs to exactly one cluster, that of the smallest URI over
    its rows (NULLs ignored: a key with any linked row is linked).
    """
    per_key = resolved.groupBy("mention_key").agg(F.min("uri").alias("uri"))
    # NIL keys each get a window partition of their own, so an all-NIL
    # input is not funnelled into one task
    hub = Window.partitionBy(
        "uri", F.when(F.col("uri").isNull(), F.col("mention_key"))
    )
    return per_key.select(
        "mention_key",
        F.min("mention_key").over(hub).alias("cluster_id"),
        "uri",
    )
