"""Incremental streaming entity resolution — cluster maintenance over a
document stream (engine addition; the reference has no streaming surface,
SURVEY.md §2.12 — its batch analog is the spot→link→cluster chain of
DBTwoStepDisambiguator.scala + WikipediaToDBpediaClosure.scala).

Batch ER (plans/pipeline.clusters_by_uri) clusters the mentions that
resolve to one URI, labelled by their smallest mention key. The streaming
state is therefore just the linked mentions seen so far,
``(mention_key, uri)`` with one row per key:

* ``merge_linked`` appends a batch's linked rows whose key is new
  (left-anti on ``mention_key``). A key keeps the URI it was first linked
  with; linking is batch-independent, so a replayed document re-links
  to the same URI.
* ``current_clusters`` is ``clusters_by_uri`` over the state, so the
  clusters after ANY chunking of the stream equal the batch clusters of
  the union — the invariant the er_incremental driver gate hash-checks
  against the exact er_clusters oracle SQL.

No stream driver ships with it: a caller that folds micro-batches (e.g.
from ``foreachBatch``) merges each batch's linked rows into the state
and reads the clusters from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.pipeline import clusters_by_uri


def merge_linked(state: DataFrame | None, linked: DataFrame) -> DataFrame:
    """state(mention_key, uri) + a batch of linked rows -> new state.

    The batch's NIL rows are dropped and its duplicate keys collapse to
    their smallest URI, as in clusters_by_uri; then only keys the state
    does not hold yet are appended."""
    batch = (
        linked.filter(F.col("uri").isNotNull())
        .groupBy("mention_key")
        .agg(F.min("uri").alias("uri"))
    )
    if state is None:
        return batch
    fresh = batch.join(state.select("mention_key"), "mention_key", "left_anti")
    return state.unionByName(fresh)


def current_clusters(state: DataFrame) -> DataFrame:
    """State -> (mention_key, cluster_id, uri)."""
    return clusters_by_uri(state)
