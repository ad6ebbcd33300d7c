"""Incremental streaming entity resolution (streaming/er_stream.py).

The operator's contract is CHUNKING INVARIANCE: merging the linked
mentions batch by batch into the state must yield exactly
clusters_by_uri over the union of all batches (min-member cluster ids).
These tests check the merge under random chunkings (with a replayed key),
against fixed min-key-per-URI clusters, and on an empty batch.
"""

import random

from pyspark.sql import functions as F

from dbpedia_spotlight_spark.plans.pipeline import clusters_by_uri
from dbpedia_spotlight_spark.streaming.er_stream import (
    current_clusters,
    merge_linked,
)

LINKED = "mention_key string, uri string"


def _assignments(df):
    return {r[0]: r[1] for r in df.collect()}


def test_er_state_any_chunking_matches_clusters_by_uri(spark):
    rng = random.Random(7)
    rows = [
        (f"{d}:{b}", f"uri{rng.randrange(6)}")
        for d in range(12) for b in range(0, 20, 5)
    ]
    replayed = rows[3]
    expected = _assignments(
        clusters_by_uri(spark.createDataFrame(rows + [replayed], LINKED))
    )
    for n_chunks, seed in [(1, 0), (3, 1), (5, 2), (7, 3)]:
        rng2 = random.Random(seed)
        chunks = [[] for _ in range(n_chunks)]
        for r in rows:
            chunks[rng2.randrange(n_chunks)].append(r)
        # the same key arrives again in the first and the last chunk
        chunks[0].append(replayed)
        chunks[-1].append(replayed)
        state = None
        for chunk in chunks:
            state = merge_linked(
                state, spark.createDataFrame(chunk, LINKED)
            ).localCheckpoint()
        assert state.count() == len(rows), "one state row per key"
        got = _assignments(current_clusters(state))
        assert got == expected, f"chunking {n_chunks}/{seed} diverged"


def test_merged_state_matches_min_key_per_uri(spark):
    rows = [
        (f"{d}:{b}", f"uri{u}")
        for d, b, u in [
            (1, 0, 1), (1, 5, 2), (2, 0, 1), (3, 0, 3),
            (4, 2, 2), (5, 0, 1), (6, 1, 4), (7, 0, 4), (8, 3, 5),
        ]
    ]
    linked = spark.createDataFrame(rows, LINKED)
    # batch contract: clusters are uri groups, id = min mention_key
    expected = {}
    mins = {}
    for mk, uri in rows:
        mins[uri] = min(mins.get(uri, mk), mk)
    for mk, uri in rows:
        expected[mk] = mins[uri]

    state = None
    for k in range(3):
        chunk = linked.filter(
            F.pmod(F.crc32(F.col("mention_key")), F.lit(3)) == k
        )
        state = merge_linked(state, chunk).localCheckpoint()
    assert _assignments(current_clusters(state)) == expected


def test_empty_batch_is_a_noop(spark):
    linked = spark.createDataFrame([("1:0", "uriA"), ("2:0", "uriA")], LINKED)
    state = merge_linked(None, linked)
    before = sorted(map(tuple, state.collect()))
    empty = spark.createDataFrame([], LINKED)
    after = merge_linked(state, empty)
    assert sorted(map(tuple, after.collect())) == before
