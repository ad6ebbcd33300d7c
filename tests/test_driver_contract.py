"""Simulate the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB at sf0.001, compare row count,
column names, and order-insensitive values."""

import math

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"

import importlib.util
import sys
from pathlib import Path

spec = importlib.util.spec_from_file_location(
    "__spark_entry__",
    Path(__file__).resolve().parent.parent / "__spark_entry__.py",
)
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ["documents", "embeddings", "events", "lineitem", "orders"]:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return c


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


QUERY_NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, con, name):
    q = entry_mod.queries()[name]
    got = q(spark, SF_DIR).toPandas()
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert len(got) >= 0  # rows-only check
        return
    want = con.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), name
    assert len(got) == len(want), (name, len(got), len(want))
    g, w = _normalize(got), _normalize(want)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, rtol=0,
                                  atol=1e-9)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"mention_key", "cluster_id", "uri"}
