"""Connected components via alternating large-star/small-star self-joins.

The general operator for arbitrary edge sets (the connected_components
query, near-dup dedup); ER over resolved URIs needs no CC
(plans/pipeline.clusters_by_uri). Iterative DataFrame self-joins to a
fixpoint, after Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SOCC 2014) — the
standard shuffle-efficient CC for this shape. The reference's own
redirect transitive closure (WikipediaToDBpediaClosure.scala:110-115) is
the single-machine analog of the same chase-to-fixpoint.

Node ids are strings (mention keys); the component id is the
lexicographically smallest member. Each superstep optionally checkpoints
through a CheckpointStore (parquet/Iceberg) — that both truncates the
logical plan (which otherwise grows exponentially across iterations) and
makes a killed run resumable from the last completed superstep.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.checkpoint import CheckpointStore

MAX_ITERATIONS = 50

# Below this edge count the component structure fits comfortably on the
# driver: a collect + union-find beats ~log(n) shuffle supersteps by an
# order of magnitude (the same size-based strategy choice AQE makes for
# broadcast joins). Above it, the large/small-star loop runs.
DRIVER_CC_MAX_EDGES = 2_000_000

# How many partitions the bounded limit-probe's FIRST collect wave scans
# (spark.sql.limit.initialNumPartitions, default 1). With the default,
# CollectLimit ramps 1 -> 4 -> 16 -> 64 partitions as four sequential
# jobs whenever the edge set is under the gate (the common case — the
# probe must see every partition to know the set fits), and each wave is
# a fresh job launch over the same shuffle output. Scanning 32 at once
# collapses that to 1-2 jobs (measured cold er_clusters at a 50k-doc
# sf1.0-shaped corpus: 7.5-10.7 s -> 5.1-5.3 s). Memory stays bounded:
# in the pass case the driver receives <= DRIVER_CC_MAX_EDGES rows
# regardless of wave width, and in the fail case each task's output is
# capped by the LocalLimit at MAX+1 rows, so the transient worst case is
# probe_parts x min(partition_rows, MAX+1) short key-pair rows. Callers
# at scales where that transient matters set SPARK_CC_PROBE_PARTS=1 to
# restore the conservative ramp.
CC_PROBE_PARTS = int(os.environ.get("SPARK_CC_PROBE_PARTS", "32"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to min(Γ(u) ∪ {u})."""
    nbrs = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("_min_dst")).select(
        "src", F.least(F.col("_min_dst"), F.col("src")).alias("m")
    )
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high->low; connect every low neighbor (and u) to the min."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    out = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(mins.select("src", F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return out


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor cannot overflow (edges are distinct, so xor is a valid set hash)
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _bounded_probe(cur: DataFrame):
    """limit(MAX+1).toArrow() with the first collect wave widened to
    CC_PROBE_PARTS partitions (see the constant's comment for the
    measured win and the memory bound). The conf is scoped to this one
    collect and restored afterwards — runtime SQL confs are read at
    execution, and the CC paths run their probes sequentially."""
    spark = cur.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(CC_PROBE_PARTS))
    try:
        return cur.limit(DRIVER_CC_MAX_EDGES + 1).toArrow()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _union_find_arrow(tbl, spark) -> DataFrame:
    """Union-find over a collected Arrow table of (src, dst) edges.

    Vectorized: the per-edge Python loop (2 dict inserts + 2 amortized
    finds per edge — ~6 s at 10⁶ edges, all single-thread driver time)
    is replaced by numpy min-label hooking with full pointer-doubling
    compression per round over hash-order codes; the lexicographically
    smallest member per component is recovered afterwards with one
    Arrow group-by string min. Rounds are O(log n) even on chains
    (pointer doubling), each a handful of C-speed array ops."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    # Keys stay in Arrow: hash dictionary-encode replaces pandas
    # factorize(sort=True), whose Python-object sort of the full key
    # stream was the dominant driver cost (measured 1.15 s of a 2.8 s
    # CC at 909k edges). Codes are in arbitrary (first-seen) order —
    # min-label hooking still converges to ONE consistent root code per
    # component, and the lexicographically smallest MEMBER is recovered
    # afterwards with one C++ group-by min over the unique keys, which
    # measures 2.7x cheaper than sorting the dictionary up front and
    # remapping every code to rank space (0.56 s -> 0.21 s at 888k
    # edges / 869k keys).
    combined = pa.chunked_array(
        tbl["src"].chunks + tbl["dst"].chunks, type=tbl["src"].type
    ).combine_chunks()
    enc = combined.dictionary_encode()
    codes = enc.indices.to_numpy().astype(np.int64, copy=False)
    uniq_arr = enc.dictionary
    m = tbl.num_rows
    src, dst = codes[:m], codes[m:]
    p = np.arange(len(uniq_arr))
    while len(src):
        ps, pdst = p[src], p[dst]
        # hook the larger current label's root toward the smaller label;
        # every write points strictly downward, so no cycles form
        np.minimum.at(p, np.maximum(ps, pdst), np.minimum(ps, pdst))
        while True:  # full path compression by pointer doubling
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
        # an edge whose endpoints already share a label stays converged
        # forever (labels only merge) — drop it from later rounds
        live = ps != pdst
        if not live.any():
            break
        src, dst = src[live], dst[live]
    # cluster_id = lexicographic min member per component: group the
    # UNIQUE keys by final root and take the bytewise string min (Arrow
    # utf8 order == Python str order for valid UTF-8), then map each
    # key's root to its component min
    gt = pa.table({"root": pa.array(p), "key": uniq_arr})
    gb = gt.group_by("root").aggregate([("key", "min")])
    cluster = pc.take(gb["key_min"], pc.index_in(pa.array(p), gb["root"]))
    # hand the result back as a temp-parquet scan, not a local relation:
    # createDataFrame ships every batch through the driver's task
    # serialization each time the plan is evaluated (measured 2.8s for
    # 900k rows vs 0.35s for write+scan) and a parquet scan parallelizes;
    # the guide's "write out and read back" driver advice (§5). A fresh
    # directory per call — nothing is reused across invocations.
    import atexit
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_arrays(
        [
            uniq_arr.cast(pa.string()),
            cluster.cast(pa.string()).combine_chunks(),
        ],
        schema=pa.schema(
            [("mention_key", pa.string()), ("cluster_id", pa.string())]
        ),
    )
    d = tempfile.mkdtemp(prefix="spotlight_cc_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    pq.write_table(table, f"{d}/assignments.parquet")
    return spark.read.parquet(f"{d}/assignments.parquet")


def connected_components(
    edges: DataFrame,
    store: CheckpointStore | None = None,
    stage_prefix: str = "cc",
    max_iterations: int = MAX_ITERATIONS,
    force_distributed: bool = False,
) -> DataFrame:
    """edges(src, dst) -> assignments(mention_key, cluster_id).

    Isolated nodes do not appear; callers union singletons afterwards.
    Resumable: if `store` holds `<prefix>_step_<k>`, iteration restarts
    from the highest checkpointed superstep. Small edge sets (see
    DRIVER_CC_MAX_EDGES) take a driver-side union-find unless a store is
    given (checkpointed runs stay distributed for resumability) or
    `force_distributed` is set.
    """
    spark = edges.sparkSession
    cur = edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    )
    if store is None and not force_distributed:
        # bounded probe: pull at most MAX+1 edges in one pass — when
        # they all fit, the probe IS the edge set, so the driver path
        # evaluates the upstream lineage exactly once. Duplicate edges
        # are fine — union-find is duplicate-tolerant, and the raw row
        # count can only OVERestimate, which errs toward the distributed
        # loop (the safe direction).
        probe = _bounded_probe(cur)
        if probe.num_rows <= DRIVER_CC_MAX_EDGES:
            # broadcast hint: the driver path's output is bounded by
            # the edge gate (<= 2 * DRIVER_CC_MAX_EDGES short rows,
            # already held in driver memory by construction), so
            # callers joining assignments back onto the full mention
            # set get a build-side broadcast instead of shuffling
            # and sorting the big side (guide §3.1)
            return F.broadcast(_union_find_arrow(probe, spark))
    cur = cur.distinct()
    if store is None:
        # materialize the input once — the signature check plus the first
        # iteration otherwise recompute the upstream edge derivation
        cur = cur.localCheckpoint()

    start_step = 0
    if store is not None:
        done = [
            int(s.rsplit("_", 1)[1])
            for s in store.manifest()["stages"]
            if s.startswith(f"{stage_prefix}_step_")
        ]
        if done:
            start_step = max(done)
            cur = store.read(f"{stage_prefix}_step_{start_step}")

    prev_sig = _signature(cur)
    for it in range(start_step + 1, max_iterations + 1):
        # exactly ONE large+small star pair per materialization: each star
        # references its input ~5x, so composing stars without a
        # materialization boundary grows the logical plan ~5^k and melts
        # the analyzer (measured: 2.8M AttributeReferences at k=4)
        nxt = _small_star(_large_star(cur))
        if store is not None:
            nxt = store.write(
                nxt,
                f"{stage_prefix}_step_{it}",
                lineage=[f"{stage_prefix}_step_{it-1}"] if it > 1 else [],
                superstep=it,
            )
        else:
            nxt = nxt.localCheckpoint()  # truncate lineage
        sig = _signature(nxt)
        cur = nxt
        if sig == prev_sig:
            break
        prev_sig = sig

    # fixpoint edges are (node, component_min); add the roots themselves
    assignments = cur.select(
        F.col("src").alias("mention_key"), F.col("dst").alias("cluster_id")
    ).union(
        cur.select("dst", "dst").distinct().select(
            F.col("dst").alias("mention_key"),
            F.col("dst").alias("cluster_id"),
        )
    ).distinct()
    return assignments


def cluster_assignments(
    resolved: DataFrame,
    edges: DataFrame,
    store: CheckpointStore | None = None,
    stage_prefix: str = "cc",
) -> DataFrame:
    """Full clustering: CC over match edges ∪ singleton clusters for
    mentions with no edge (NIL mentions must NOT join clusters —
    DBTwoStepDisambiguator.scala:183 semantics)."""
    cc = connected_components(edges, store=store, stage_prefix=stage_prefix)
    all_mentions = resolved.select("mention_key").distinct()
    return (
        all_mentions.join(cc, "mention_key", "left")
        .select(
            "mention_key",
            F.coalesce(F.col("cluster_id"), F.col("mention_key")).alias(
                "cluster_id"
            ),
        )
    )
