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
  with; link_fn is batch-independent, so a replayed document re-links
  to the same URI.
* ``current_clusters`` is ``clusters_by_uri`` over the state, so the
  clusters after ANY chunking of the stream equal the batch clusters of
  the union — the invariant the er_incremental driver gate hash-checks
  against the exact er_clusters oracle SQL.

``run_er_stream`` wires it into Structured Streaming via foreachBatch:
each micro-batch links its documents (caller-supplied link_fn →
(mention_key, uri) rows), updates the state, and checkpoints it through a
CheckpointStore stage ``er_state_v<batch_id>`` with lineage and an
``n_linked`` counter (the manifest's row counts give the state size per
batch). A retried batch id finds its stage already in the manifest and
skips recompute (idempotent), and a restarted stream resumes from the
highest committed state.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import clusters_by_uri
from ..sources.checkpoint import CheckpointStore

STATE_STAGE_PREFIX = "er_state_v"


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


def _latest_state(store: CheckpointStore) -> tuple[int, DataFrame | None]:
    done = [
        int(s[len(STATE_STAGE_PREFIX):])
        for s in store.manifest()["stages"]
        if s.startswith(STATE_STAGE_PREFIX)
    ]
    if not done:
        return -1, None
    v = max(done)
    return v, store.read(f"{STATE_STAGE_PREFIX}{v}")


def update_er_state(
    store: CheckpointStore, batch_id: int, linked: DataFrame
) -> DataFrame:
    """Apply one linked-mention batch to the checkpointed cluster state.

    Idempotent per batch_id: a committed stage is returned as-is, so a
    foreachBatch retry (or a resumed availableNow run re-offering the
    last batch) never double-applies a batch.
    """
    stage = f"{STATE_STAGE_PREFIX}{batch_id}"
    if store.has(stage):
        return store.read(stage)
    prev_v, state = _latest_state(store)
    # materialize once — the counter and the merge both read the batch
    linked = linked.select("mention_key", "uri").localCheckpoint()
    n_linked = linked.filter(F.col("uri").isNotNull()).count()
    return store.write(
        merge_linked(state, linked),
        stage,
        counters={"n_linked": n_linked},
        lineage=[f"{STATE_STAGE_PREFIX}{prev_v}"] if prev_v >= 0 else [],
        superstep=batch_id,
    )


def run_er_stream(
    spark: SparkSession,
    in_dir: str,
    store: CheckpointStore,
    checkpoint_dir: str,
    link_fn: Callable[[DataFrame], DataFrame],
    schema: str = "doc_id string, text string",
    max_files_per_trigger: int | None = None,
):
    """File-source incremental ER: parquet documents in, cluster state
    maintained through `store`, availableNow (drains what exists, then
    stops; re-invoking resumes from the checkpoint offsets AND the last
    committed state stage).

    link_fn: batch documents -> linked mentions (mention_key, uri) —
    typically spot (broadcast automaton) + prior link, both
    batch-independent so the stream stays deterministic.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(in_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        update_er_state(store, int(batch_id), link_fn(batch_df))

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
