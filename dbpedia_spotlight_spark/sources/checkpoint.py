"""Per-stage checkpoint store with an atomic manifest — the resume backbone.

Every stage is checkpointed so a killed run resumes from the last
completed stage or CC superstep. The reference's analog is the Kryo
memory-store dump (db/memory/MemoryStore.scala:149-199), which writes
each table once; ours is a parquet directory per stage, written once.

Stage data is written to `<base>/<stage>/`, then the manifest entry is
committed by writing `manifest.json.tmp` + atomic rename. A stage counts
as complete ONLY if it appears in the manifest with its schema, so a kill
mid-write never yields a half-stage (the orphan directory is overwritten
on retry).

Manifest entries carry the row count (observed during the write, so a
stage costs one Spark action), lineage (which upstream stages fed this
one), the completion time and the stage's schema, which `read()` uses so
a resumed stage runs no schema-inference job.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_counted(df: DataFrame, path: str) -> int:
    """Write `df` as parquet and return how many rows the write wrote,
    observed during the write itself rather than by a second action."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    return obs.get["rows"]


class CheckpointStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        os.makedirs(self.base_dir, exist_ok=True)
        self._manifest_path = f"{self.base_dir}/manifest.json"

    # ---- manifest ----
    def manifest(self) -> dict[str, Any]:
        """The committed manifest; an entry without a schema is not a
        complete stage and is left out."""
        if not os.path.exists(self._manifest_path):
            return {"stages": {}}
        with open(self._manifest_path) as f:
            manifest = json.load(f)
        manifest["stages"] = {
            stage: entry for stage, entry in manifest["stages"].items()
            if "schema" in entry
        }
        return manifest

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
        lineage: list[str] | None = None,
    ) -> DataFrame:
        """Materialize a stage; returns the re-read (lineage-truncated) DF."""
        rows = write_counted(df, self.path(stage))
        manifest = self.manifest()
        manifest["stages"][stage] = {
            "rows": rows,
            "lineage": lineage or [],
            "schema": df.schema.json(),
            "completed_at": time.time(),
        }
        self._commit_manifest(manifest)
        # the schema just written: inferring it would cost a job
        return self.spark.read.schema(df.schema).parquet(self.path(stage))

    def read(self, stage: str) -> DataFrame:
        """A completed stage, read with its recorded schema."""
        entry = self.manifest()["stages"][stage]
        schema = StructType.fromJson(json.loads(entry["schema"]))
        return self.spark.read.schema(schema).parquet(self.path(stage))

    def get_or_compute(
        self,
        stage: str,
        compute,
        lineage: list[str] | None = None,
    ) -> DataFrame:
        """Resume-aware stage execution: skip compute if checkpointed."""
        if self.has(stage):
            return self.read(stage)
        return self.write(compute(), stage, lineage=lineage)
