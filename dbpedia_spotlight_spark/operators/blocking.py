"""Blocking + salt-based skew splitting for a pairwise self-join.

Blocking key = normalized surface form (MemorySurfaceFormStore.scala:43
— the same key the reference uses for its lowercase fallback map).

Surface-form frequencies are Zipfian, so blocks are skewed: one hot form
can dominate a self-join. Blocks larger than `salt_block_cap` are split
into min(ceil(n/cap), N_SALTS_MAX) salt buckets by a deterministic hash
of the mention key, and the task list enumerates the (bucket_i, bucket_j)
pairs per block so no single task of a pairwise join exceeds ~cap²
comparisons below N_SALTS_MAX·cap mentions.

Counters (blocks split, max block size, task count) are returned to the
caller. The resolve pipeline clusters by URI
(plans/pipeline.clusters_by_uri) and does not block.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PARAMS, PipelineParams
from ..functions.normalize import sf_normalize_expr

N_SALTS_MAX = 64


@dataclass
class BlockingCounters:
    n_blocks: int
    n_blocks_split: int
    max_block_size: int
    n_salt_tasks: int


def add_block_key(mentions: DataFrame) -> DataFrame:
    """Mentions -> + block_key (normalized surface form)."""
    return mentions.withColumn("block_key", sf_normalize_expr(F.col("sf")))


def salted_blocks(
    mentions: DataFrame,
    params: PipelineParams = DEFAULT_PARAMS,
) -> tuple[DataFrame, DataFrame, BlockingCounters]:
    """Assign salt buckets and build the (block, bucket_i, bucket_j) task list.

    Returns (mentions + [block_key, n_salt, bucket],
             tasks(block_key, bi, bj),
             counters).
    """
    cap = params.salt_block_cap
    mentions = add_block_key(mentions)

    sizes = mentions.groupBy("block_key").agg(
        F.count("*").alias("block_size")
    ).withColumn(
        "n_salt",
        F.least(
            F.ceil(F.col("block_size") / F.lit(cap)).cast("int"),
            F.lit(N_SALTS_MAX),
        ),
    )

    salted = mentions.join(F.broadcast(sizes), "block_key").withColumn(
        "bucket",
        F.pmod(F.xxhash64("mention_key"), F.col("n_salt")).cast("int"),
    )

    # task list: all bucket pairs (bi <= bj) per block — dimension-sized
    tasks = (
        sizes.select(
            "block_key",
            F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)).alias("bi"),
            (F.col("n_salt") - 1).alias("_max"),
        )
        .select(
            "block_key",
            "bi",
            F.explode(F.sequence(F.col("bi"), F.col("_max"))).alias("bj"),
        )
    )

    stats = sizes.agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.when(F.col("n_salt") > 1, 1).otherwise(0)).alias("n_split"),
        F.max("block_size").alias("max_size"),
    ).collect()[0]
    n_tasks = tasks.count()
    counters = BlockingCounters(
        n_blocks=int(stats["n_blocks"] or 0),
        n_blocks_split=int(stats["n_split"] or 0),
        max_block_size=int(stats["max_size"] or 0),
        n_salt_tasks=int(n_tasks),
    )
    return salted, tasks, counters

