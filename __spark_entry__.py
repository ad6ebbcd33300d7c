"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship entity-resolution path (spot →
prior link → connected-components clustering) on sf0.001.
`queries()` / `oracle_sql()` expose every implemented operator from
SURVEY.md §2 plus the training-data-pipeline ops — every query has a
DuckDB ANSI-SQL twin (the SimHash 64-bit kernel is rebuilt in SQL via
md5-prefix hashing + per-bit majority; the sign-LSH bucket codes are
recomputed in SQL from the seeded hyperplanes the Spark kernel uses; IVF
centroids are selected by an engine-neutral md5(id:seed) order so even
the "trained" inverted-list path has a static twin).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbpedia_spotlight_spark.plans import driver_queries as DQ  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return DQ.q_er_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(DQ.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(DQ.ORACLE_SQL)
