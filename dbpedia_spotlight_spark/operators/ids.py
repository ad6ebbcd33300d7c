"""Deterministic dense id assignment without a single-partition window.

The naive `row_number().over(Window.orderBy(key))` funnels the whole
table through ONE task (Spark logs `WARN WindowExec: No Partition
Defined`): fine at fixture scale, a serialization + spill point at a
real 10^7-row vocabulary/surface-form dimension.

Replacement with identical output: range-repartition on the key (ranges
are totally ordered across partitions and duplicate keys co-locate),
rank within each partition, then stitch per-partition offsets collected
to the driver (numPartitions rows — trivially small). id = offset +
local_rank - 1 == the global rank by key, deterministic for a fixed
input regardless of parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(df: DataFrame, order_col: str, id_col: str) -> DataFrame:
    """Add `id_col` = 0-based global rank of `order_col` (unique keys).

    Equivalent to `row_number().over(Window.orderBy(order_col)) - 1` but
    scales: no single-partition exchange (one range partition per shuffle
    partition); the only driver-side data is one row count per
    partition."""
    num_partitions = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged = (
        df.repartitionByRange(num_partitions, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    # Pin the pid assignment: counts and ranks must see the same
    # partitioning (it is deterministic for identical input, but caching
    # removes the recompute and the assumption both).
    ranged = ranged.cache()
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in ranged.groupBy("_pid").agg(
            F.count("*").alias("cnt")
        ).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    if offsets:
        off_expr = F.element_at(
            F.create_map(
                *[F.lit(x) for kv in offsets.items() for x in kv]
            ),
            F.col("_pid"),
        )
    else:
        off_expr = F.lit(0)
    w = Window.partitionBy("_pid").orderBy(order_col)
    return (
        ranged.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            id_col, (off_expr + F.col("_rn") - 1).cast("int")
        )
        .drop("_pid", "_rn")
    )
