"""Salted blocking + connected components."""

import random

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.config import PipelineParams
from dbpedia_spotlight_spark.operators.blocking import salted_blocks
from dbpedia_spotlight_spark.operators.cc import (
    cluster_assignments,
    connected_components,
)
from dbpedia_spotlight_spark.operators.pairs import edges_from_resolution


def _mentions_df(spark, rows):
    return spark.createDataFrame(
        rows, "mention_key string, sf string, doc_id string"
    )


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # compress to minimum member id per component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


# ---------------------------------------------------------------------------


def test_salted_blocks_split_counters(spark):
    """A block over the cap is salt-split into buckets, and the task list
    holds every bucket pair (bi <= bj) of every block exactly once."""
    rows = [(f"m{i:03d}", "Hot Form", f"d{i}") for i in range(40)]
    rows += [(f"x{i:03d}", "Cold Form", f"e{i}") for i in range(3)]
    mentions = _mentions_df(spark, rows)
    params = PipelineParams(salt_block_cap=8)

    salted, tasks, counters = salted_blocks(mentions, params)
    buckets = {r["mention_key"]: r["bucket"] for r in salted.collect()}
    assert set(buckets) == {r[0] for r in rows}
    assert all(0 <= buckets[f"m{i:03d}"] < 5 for i in range(40))
    assert all(buckets[f"x{i:03d}"] == 0 for i in range(3))
    got = [(r["block_key"], r["bi"], r["bj"]) for r in tasks.collect()]
    want = [("cold form", 0, 0)] + [
        ("hot form", i, j) for i in range(5) for j in range(i, 5)
    ]
    assert sorted(got) == sorted(want)
    assert counters.n_blocks == 2
    assert counters.n_blocks_split == 1
    assert counters.max_block_size == 40
    assert counters.n_salt_tasks == len(want)


def test_blocking_key_is_normalized_sf(spark):
    mentions = _mentions_df(
        spark,
        [("m1", "The United-States!", "d1"), ("m2", "united states", "d2")],
    )
    salted, tasks, _ = salted_blocks(mentions)
    keys = {r["block_key"] for r in salted.collect()}
    assert keys == {"united states"}
    assert tasks.count() == 1  # one unsplit block, one task


# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cc_matches_union_find_on_random_graphs(spark, seed):
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(60)]
    edges = [
        tuple(rng.sample(nodes, 2))
        for _ in range(rng.randint(20, 70))
    ]
    want = _union_find(nodes, edges)

    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["mention_key"]: r["cluster_id"]
        for r in connected_components(edf, force_distributed=True).collect()
    }
    # CC omits isolated nodes; compare on nodes that have an edge
    touched = {n for e in edges for n in e if want[n] != n or any(
        n in e2 for e2 in edges)}
    for n in touched:
        assert got.get(n, n) == want[n], (n, got.get(n), want[n])


def test_cc_long_chain(spark):
    """A 40-node path needs several supersteps; must still converge to one
    component rooted at the minimum."""
    nodes = [f"c{i:02d}" for i in range(40)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(39)]
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = connected_components(edf, force_distributed=True).collect()
    assert {r["cluster_id"] for r in got} == {"c00"}
    assert {r["mention_key"] for r in got} == set(nodes)


def test_driver_and_distributed_cc_agree(spark):
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(80)]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(60)]
    edf = spark.createDataFrame(edges, "src string, dst string")
    fast = {
        (r["mention_key"], r["cluster_id"])
        for r in connected_components(edf).collect()
    }
    dist = {
        (r["mention_key"], r["cluster_id"])
        for r in connected_components(edf, force_distributed=True).collect()
    }
    assert fast == dist


def test_cluster_assignments_singletons(spark):
    resolved = spark.createDataFrame(
        [("a", "U1"), ("b", "U1"), ("c", None)],
        "mention_key string, uri string",
    )
    edges = edges_from_resolution(resolved)
    got = {
        r["mention_key"]: r["cluster_id"]
        for r in cluster_assignments(resolved, edges).collect()
    }
    assert got["a"] == got["b"] == "a"
    assert got["c"] == "c"  # NIL stays a singleton


def test_bounded_probe_scopes_and_restores_limit_conf(spark):
    """The CC gate probe widens spark.sql.limit.initialNumPartitions for
    its one collect only; leaking the conf would change every later
    limit's collect ramp in the session."""
    from dbpedia_spotlight_spark.operators import cc as cc_mod

    key = "spark.sql.limit.initialNumPartitions"
    edf = spark.createDataFrame(
        [(f"a{i}", f"b{i}") for i in range(10)], "src string, dst string"
    )

    # previously-unset conf is unset again afterwards (back to default 1)
    spark.conf.unset(key)
    probe = cc_mod._bounded_probe(edf)
    assert probe.num_rows == 10
    assert spark.conf.get(key) == "1"  # engine default restored

    # a caller's explicit value survives the probe
    spark.conf.set(key, "7")
    try:
        probe = cc_mod._bounded_probe(edf)
        assert probe.num_rows == 10
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.unset(key)

    # restoration also happens when the collect itself fails
    bad = edf.select(
        (F.col("src").cast("int") / 0).alias("src"), F.col("dst")
    ).filter(F.raise_error(F.lit("boom")).isNull())
    spark.conf.unset(key)
    with pytest.raises(Exception):
        cc_mod._bounded_probe(bad)
    assert spark.conf.get(key) == "1"
