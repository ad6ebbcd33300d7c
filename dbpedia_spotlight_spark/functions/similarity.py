"""String-similarity channels for pairwise scoring.

Two channels per the blueprint (SURVEY.md §7):
  * the reference's Levenshtein-based score
    (db/memory/MemorySurfaceFormStore.scala:127-137):
       1.0 if equal; 0.85 if case-only difference; else 0.85*(1 - ed/len(real))
    — expressed as a pure Spark column expression (F.levenshtein, codegen'd).
  * Jaro-Winkler — the generic API knob named by the north star. Spark has
    no builtin, so it ships as an Arrow-batched pandas UDF; the Python
    implementation follows the standard definition (prefix scale p=0.1,
    boost threshold 0.7, max prefix 4) and matches DuckDB's
    jaro_winkler_similarity, which the tests use as an independent oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def edit_distance_score_expr(s_data: Column, s_real: Column) -> Column:
    """Reference formula (MemorySurfaceFormStore.scala:127-137), JVM-side."""
    ed = F.levenshtein(s_data, s_real)
    return (
        F.when(s_data == s_real, F.lit(1.0))
        .when(
            (F.upper(s_data) == s_real) | (F.lower(s_data) == s_real),
            F.lit(0.85),
        )
        .otherwise(0.85 * (1.0 - ed / F.length(s_real).cast("double")))
    )


def edit_distance_score_py(s_data: str, s_real: str) -> float:
    if s_data == s_real:
        return 1.0
    if s_data.upper() == s_real or s_data.lower() == s_real:
        return 0.85
    return 0.85 * (1.0 - _levenshtein(s_data, s_real) / len(s_real))


def _levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def jaro_similarity_py(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    window = max(n1, n2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: matched chars compared in order
    t = 0
    k = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / n1 + matches / n2 + (matches - t) / matches) / 3.0


def jaro_winkler_py(s1: str, s2: str) -> float:
    jaro = jaro_similarity_py(s1, s2)
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1.0 - jaro)


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Arrow-batched JW over two string columns (no per-row Python UDF)."""
    return pd.Series(
        [
            jaro_winkler_py(a, b) if a is not None and b is not None else None
            for a, b in zip(s1, s2)
        ],
        dtype="float64",
    )
