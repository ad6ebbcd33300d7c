"""Per-stage checkpoint store with an atomic manifest — the resume backbone.

The north_rule requires every stage to checkpoint with per-partition
lineage + counters so a killed run resumes from the last completed
blocking/scoring/clustering superstep. The reference's analog is the Kryo
memory-store dump (db/memory/MemoryStore.scala:149-199); ours is a table
per stage.

Backends:
  * Iceberg (`table_prefix="catalog.db."`) — production path:
    `df.writeTo(prefix + stage).createOrReplace()` gives atomic snapshot
    commits and time travel for free.
  * Parquet directory (sandbox default, no Iceberg jars): stage data is
    written to `<base>/<stage>/`, then the manifest entry is committed by
    writing `manifest.json.tmp` + atomic rename. A stage counts as
    complete ONLY if it appears in the manifest, so a kill mid-write
    never yields a half-stage (the orphan directory is overwritten on
    retry).

Manifest entries carry counters (rows, user counters like skew splits)
and lineage (which upstream stages fed this one, superstep number).
Per-partition lineage: every checkpointed DataFrame gains a
`_partition_id` column via spark_partition_id() and the manifest records
per-partition row counts.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointStore:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        table_prefix: str | None = None,
        run_id: str = "run",
    ):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.table_prefix = table_prefix  # Iceberg catalog prefix or None
        self.run_id = run_id
        os.makedirs(self.base_dir, exist_ok=True)
        self._manifest_path = f"{self.base_dir}/manifest.json"

    # ---- manifest ----
    def manifest(self) -> dict[str, Any]:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"run_id": self.run_id, "stages": {}}

    def _commit_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    # ---- stages ----
    def has(self, stage: str) -> bool:
        return stage in self.manifest()["stages"]

    def path(self, stage: str) -> str:
        return f"{self.base_dir}/{stage}"

    def write(
        self,
        df: DataFrame,
        stage: str,
        counters: dict[str, Any] | None = None,
        lineage: list[str] | None = None,
        superstep: int | None = None,
    ) -> DataFrame:
        """Materialize a stage; returns the re-read (lineage-truncated) DF."""
        tagged = df.withColumn("_partition_id", F.spark_partition_id())
        if self.table_prefix:
            tagged.writeTo(self.table_prefix + stage).createOrReplace()
            out = self.spark.read.table(self.table_prefix + stage)
        else:
            tagged.write.mode("overwrite").parquet(self.path(stage))
            # the schema just written: inferring it would cost a job
            out = self.spark.read.schema(tagged.schema).parquet(
                self.path(stage)
            )

        per_part = {
            str(r["_partition_id"]): r["n"]
            for r in out.groupBy("_partition_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        manifest = self.manifest()
        manifest["stages"][stage] = {
            "rows": int(sum(per_part.values())),
            "partitions": per_part,
            "counters": counters or {},
            "lineage": lineage or [],
            "superstep": superstep,
            "completed_at": time.time(),
        }
        self._commit_manifest(manifest)
        return out.drop("_partition_id")

    def read(self, stage: str) -> DataFrame:
        if self.table_prefix:
            df = self.spark.read.table(self.table_prefix + stage)
        else:
            df = self.spark.read.parquet(self.path(stage))
        return df.drop("_partition_id")

    def get_or_compute(
        self,
        stage: str,
        compute,
        counters: dict | None = None,
        lineage: list[str] | None = None,
        superstep: int | None = None,
    ) -> DataFrame:
        """Resume-aware stage execution: skip compute if checkpointed."""
        if self.has(stage):
            return self.read(stage)
        return self.write(
            compute(), stage, counters=counters, lineage=lineage,
            superstep=superstep,
        )
