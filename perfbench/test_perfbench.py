"""Tests of the benchmark's own helpers.

    python -m pytest perfbench/test_perfbench.py -q
"""

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs as I
import tracing as T


def _base_uri(n_docs=30, per_doc=4, seed=0):
    """base mention_key -> URI (None = NIL), shaped like the oracle's."""
    rng = random.Random(seed)
    return {
        f"doc-{d:06d}:{b * 17}": rng.choice(["A", "B", "C_(x)", None])
        for d in range(n_docs) for b in range(per_doc)
    }


def _engine_like(base_uri, replicas):
    """A correct output: clusters per URI labelled by their min member,
    NIL mentions as singletons, as the engine writes them."""
    keys = [k for b in base_uri for k in I.replica_keys(b, replicas)]
    members = {}
    for k in keys:
        members.setdefault(I.expected_cluster(k, base_uri), []).append(k)
    cid = {k: min(ks) for ks in members.values() for k in ks}
    return keys, [cid[k] for k in keys]


def test_replicated_mention_keys_stay_unique(tmp_path):
    base = pa.table({"doc_id": [f"doc-{d:06d}" for d in range(25)],
                     "x": list(range(25))})
    I.write_replicas(base, str(tmp_path / "docs"), replicas=3)
    docs = pq.read_table(str(tmp_path / "docs")).column("doc_id").to_pylist()
    assert len(docs) == len(set(docs)) == 75
    keys = [k for b in _base_uri() for k in I.replica_keys(b, 5)]
    assert len(keys) == len(set(keys)) == len(_base_uri()) * 5


def test_replica_key_maps_back_to_its_base():
    for b in _base_uri():
        reps = I.replica_keys(b, 4)
        assert [I.base_key(k) for k in reps] == [b] * 4
        assert all("~" in k.rsplit(":", 1)[0] for k in reps)
    assert I.base_key("doc-000007~3:412") == "doc-000007:412"


def test_oracle_check_accepts_the_oracle_partition():
    base_uri = _base_uri()
    keys, cids = _engine_like(base_uri, replicas=3)
    assert I.check_clusters(keys, cids, base_uri, 3) == []
    # ids are compared as a partition: any relabelling passes
    relabel = {c: f"c{i}" for i, c in enumerate(sorted(set(cids)))}
    assert I.check_clusters(keys, [relabel[c] for c in cids], base_uri,
                            3) == []


def test_oracle_check_fails_on_a_single_swapped_cluster():
    base_uri = _base_uri()
    keys, cids = _engine_like(base_uri, replicas=3)
    i = next(n for n, k in enumerate(keys)
             if I.expected_cluster(k, base_uri) == "uri:A")
    j = next(n for n, k in enumerate(keys)
             if I.expected_cluster(k, base_uri) == "uri:B")
    cids[i], cids[j] = cids[j], cids[i]
    assert I.check_clusters(keys, cids, base_uri, 3)


def test_oracle_check_fails_on_missing_or_duplicate_mentions():
    base_uri = _base_uri()
    keys, cids = _engine_like(base_uri, replicas=2)
    assert I.check_clusters(keys[1:], cids[1:], base_uri, 2)
    assert I.check_clusters(keys + keys[:1], cids + cids[:1], base_uri, 2)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .getOrCreate())
    yield spark
    spark.stop()


def test_group_metrics_equal_the_per_stage_sum(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "g.a")
    spark.range(20000).selectExpr("id % 13 AS k").groupBy("k").count() \
        .collect()
    spark.range(5000).selectExpr("id % 7 AS k").distinct().collect()
    sc.setLocalProperty("spark.jobGroup.id", "g.b")
    spark.range(3000).selectExpr("id % 5 AS k").groupBy("k").count() \
        .collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    T.wait_listener(sc)

    # expected: walk the status store's job list independently of the
    # status tracker, and sum every stage of the group's jobs by hand
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids = {"g.a": set(), "g.b": set()}
    job_count = {"g.a": 0, "g.b": 0}
    for n in range(jobs.size()):
        job = jobs.apply(n)
        group = job.jobGroup()
        if group.isDefined() and group.get() in stage_ids:
            job_count[group.get()] += 1
            seq = job.stageIds()
            stage_ids[group.get()].update(
                seq.apply(i) for i in range(seq.size()))
    for group, ids in stage_ids.items():
        want = {k: 0 for k in T.STAGE_FIELDS}
        for sid in ids:
            for row in T.stage_rows(sc, sid):
                for k in want:
                    want[k] += row[k]
        got = T.group_metrics(sc, group)
        assert got["jobs"] == job_count[group] > 0
        for k in T.STAGE_FIELDS:
            assert got[k] == pytest.approx(want[k])
    a, b = T.group_metrics(sc, "g.a"), T.group_metrics(sc, "g.b")
    assert a["tasks"] > b["tasks"] > 0
    assert a["shuffle_mb"] > 0
