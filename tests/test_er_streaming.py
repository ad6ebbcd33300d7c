"""Incremental streaming entity resolution (streaming/er_stream.py).

The operator's contract is CHUNKING INVARIANCE: merging the linked
mentions batch by batch into the state must yield exactly
clusters_by_uri over the union of all batches (min-member cluster ids).
These tests check the merge under random chunkings (with a replayed key),
against fixed min-key-per-URI clusters, on an empty batch, and the
Structured-Streaming wiring end to end including checkpoint resume and
per-batch idempotence.
"""

import random

from pyspark.sql import functions as F

from dbpedia_spotlight_spark.plans.pipeline import clusters_by_uri
from dbpedia_spotlight_spark.sources.checkpoint import CheckpointStore
from dbpedia_spotlight_spark.streaming.er_stream import (
    current_clusters,
    merge_linked,
    run_er_stream,
    update_er_state,
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


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id string, text string"
    ).coalesce(1).write.mode("append").parquet(path)


def _link_fn(dict_df):
    def link(batch):
        toks = batch.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "sf"),
        )
        return toks.join(F.broadcast(dict_df), "sf").select(
            F.concat_ws(":", "doc_id", "pos").alias("mention_key"), "uri"
        )
    return link


def test_run_er_stream_end_to_end_resume_and_idempotence(spark, tmp_path):
    in_dir = str(tmp_path / "docs")
    ck = str(tmp_path / "ck")
    store = CheckpointStore(spark, str(tmp_path / "state"))
    dict_df = spark.createDataFrame(
        [("berlin", "uriB"), ("paris", "uriP"), ("tokyo", "uriT")],
        "sf string, uri string",
    )
    _write_docs(spark, in_dir, [("1", "visit berlin now"),
                                ("2", "paris and berlin")])
    _write_docs(spark, in_dir, [("3", "tokyo berlin"),
                                ("4", "only paris")])

    q = run_er_stream(spark, in_dir, store, ck, _link_fn(dict_df),
                      max_files_per_trigger=1)
    q.awaitTermination(180)
    stages = [s for s in store.manifest()["stages"]
              if s.startswith("er_state_v")]
    assert len(stages) >= 2  # one file per trigger -> >=2 micro-batches
    v = max(int(s.rsplit("v", 1)[1]) for s in stages)
    state = store.read(f"er_state_v{v}")
    got = _assignments(current_clusters(state))
    # uriB mentions: 1:1, 2:2, 3:1 -> min 1:1; uriP: 2:0, 4:1 -> 2:0;
    # uriT: 3:0 -> singleton
    assert got == {
        "1:1": "1:1", "2:2": "1:1", "3:1": "1:1",
        "2:0": "2:0", "4:1": "2:0",
        "3:0": "3:0",
    }
    # counters + lineage present on every committed stage
    man = store.manifest()["stages"]
    for s in stages:
        assert "n_linked" in man[s]["counters"]
    # 3 berlin + 2 paris + 1 tokyo mentions over the two files
    assert sum(man[s]["counters"]["n_linked"] for s in stages) == 6
    assert man[f"er_state_v{v}"]["lineage"], "later stages carry lineage"

    # idempotence: re-applying the last batch id returns the committed
    # stage untouched (foreachBatch retry semantics)
    before = sorted(map(tuple, state.collect()))
    again = update_er_state(
        store, v, spark.createDataFrame([("9:9", "uriB")], LINKED)
    )
    assert sorted(map(tuple, again.collect())) == before

    # resume: new file arrives, SAME checkpoint + store -> state advances
    # without reprocessing old batches ('berlin' doc merges into uriB)
    _write_docs(spark, in_dir, [("0", "berlin again")])
    q2 = run_er_stream(spark, in_dir, store, ck, _link_fn(dict_df),
                       max_files_per_trigger=1)
    q2.awaitTermination(180)
    v2 = max(int(s.rsplit("v", 1)[1])
             for s in store.manifest()["stages"]
             if s.startswith("er_state_v"))
    assert v2 > v
    got2 = _assignments(current_clusters(store.read(f"er_state_v{v2}")))
    # doc 0's mention 0:0 is the new global min of the uriB cluster
    assert got2["0:0"] == "0:0"
    assert got2["1:1"] == "0:0" and got2["3:1"] == "0:0"
    assert got2["2:0"] == "2:0"  # uriP cluster untouched
