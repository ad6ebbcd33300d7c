"""End-to-end pipeline orchestration.

One lazily-composed DataFrame DAG (SURVEY.md §3.1 recast):

    documents --(FSA mapInPandas)--> mentions
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
from ..operators.fsa_spotting import (
    broadcast_fsa_dictionary,
    build_fsa_dictionary,
    spot_documents_fsa,
)
from ..operators.scoring import context_scores
from ..operators.windows import window_token_arrays
from .model_build import ModelTables


@dataclass
class AnnotateResult:
    mentions: DataFrame   # cached
    candidates: DataFrame
    scored: DataFrame
    resolved: DataFrame   # every mention, NULL uri = NIL

    def unpersist(self) -> None:
        """Release the cache annotate() made; call after the last action."""
        self.mentions.unpersist()


def annotate(
    documents: DataFrame,
    model: ModelTables,
    params: PipelineParams = DEFAULT_PARAMS,
) -> AnnotateResult:
    # on_boundary="ac": real models contain boundary-edged surface forms
    # ('Yahoo!', 'U.S.') that cannot be token-aligned — they route to an
    # embedded AC residue automaton instead of raising.
    fsa_bc = broadcast_fsa_dictionary(
        documents.sparkSession,
        build_fsa_dictionary(
            model.surface_form_stats,
            case_sensitive=params.case_sensitive,
            on_boundary="ac",
        ),
    )
    win_tokens, span_map = window_token_arrays(
        documents, model.stopwords, params.max_context, stemmer=params.stemmer
    )
    # win_tokens feeds both the candidate context scores and the NIL
    # scores. It is not cached: a cold call ran faster recomputing it
    # than building the cache, and context_scores sums exactly, so the
    # scores do not depend on the joins AQE picks over it per run.
    # mentions (a pandas-UDF scan) is referenced by several downstream
    # joins — cached, or the Python stage re-runs once per reference
    mentions = with_mention_key(
        spot_documents_fsa(documents, fsa_bc)
    ).join(span_map, ["doc_id", "span_idx"], "left").fillna(
        {"window_id": 0}
    ).cache()
    cands = generate_candidates(mentions, model)
    ctx, nil = context_scores(
        cands, win_tokens, model, keys=("doc_id", "window_id")
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
    annotated: AnnotateResult | None = None   # None if all stages resumed

    def unpersist(self) -> None:
        """Release the cache annotate() made; call after the last action."""
        if self.annotated is not None:
            self.annotated.unpersist()


def resolve(
    documents: DataFrame,
    model: ModelTables,
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
            ann_holder["res"] = annotate(documents, model, params)
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
    clusters = ck(
        "clusters",
        lambda: clusters_by_uri(resolved).select("mention_key", "cluster_id"),
        lineage=["resolved"],
    )
    return ResolveResult(resolved=resolved, clusters=clusters,
                         annotated=ann_holder.get("res"))


def clusters_by_uri(resolved: DataFrame) -> DataFrame:
    """resolved(mention_key, uri, ...) -> (mention_key, cluster_id, uri),
    one row per mention_key.

    The reference's clustering: the mentions linked to one DBpedia URI
    form one cluster, whose id is the smallest mention_key among them;
    NIL mentions (uri NULL) are singletons with their own key as id.

    The spotters emit at most one mention per offset, but `resolved` is
    not required to: a mention_key (`doc_id:begin`) with several rows,
    even rows of two URIs, belongs to exactly one cluster, that of the
    smallest URI over its rows (NULLs ignored: a key with any linked row
    is linked).
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
