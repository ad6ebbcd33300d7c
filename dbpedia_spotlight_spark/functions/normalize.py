"""Surface-form / text normalization — the blocking key.

Mirrors the reference:
  * surface-form normalization (db/memory/MemorySurfaceFormStore.scala:43):
    replace punctuation-runs with a space, lowercase, split on whitespace,
    drop stopwords {the, an, a}, re-join single-spaced.
  * text normalization (model/Text.scala:27, model/SurfaceForm.scala:77-79):
    curly apostrophe `’` -> `'`, collapse wiki whitespace.

Each function has a Spark column-expression form (JVM-side, codegen'd —
the hot path) and a pure-Python twin (used by the oracle and fixture
generator so engine and oracle share one definition of the blocking key).
"""

from __future__ import annotations

import re
import string

from pyspark.sql import Column
from pyspark.sql import functions as F

SF_STOPWORDS = ("the", "an", "a")  # MemorySurfaceFormStore.scala:40

# Java's \p{Punct} == string.punctuation — keep the two sides identical.
_PUNCT_RE = "[" + re.escape(string.punctuation) + "]+"


def normalize_text_expr(col: Column) -> Column:
    """Text constructor normalization (Text.scala:27): ’ -> '."""
    return F.regexp_replace(col, "’", "'")


def normalize_text_py(s: str) -> str:
    return s.replace("’", "'")


def sf_normalize_expr(col: Column) -> Column:
    """Blocking-key normalization, pure column expression (no UDF)."""
    out = F.lower(F.regexp_replace(normalize_text_expr(col), _PUNCT_RE, " "))
    # drop stopword tokens and collapse spaces
    out = F.array_join(
        F.filter(
            F.split(out, r"\s+"),
            lambda t: (t != "") & ~t.isin(*SF_STOPWORDS),
        ),
        " ",
    )
    return out


def sf_normalize_py(s: str) -> str:
    """Pure-Python twin of :func:`sf_normalize_expr` (oracle side)."""
    s = normalize_text_py(s)
    s = re.sub(_PUNCT_RE, " ", s).lower()
    toks = [t for t in s.split() if t and t not in SF_STOPWORDS]
    return " ".join(toks)


# SQL fragment twin for the DuckDB oracle (driver correctness gate).
# DuckDB regex is RE2: use [[:punct:]] which matches string.punctuation.
def sf_normalize_sql(col_sql: str) -> str:
    inner = f"lower(regexp_replace(replace({col_sql}, chr(8217), ''''), '[[:punct:]]+', ' ', 'g'))"
    return (
        "array_to_string(list_filter(string_split_regex(" + inner + ", '\\s+'),"
        " t -> t <> '' AND t NOT IN ('the','an','a')), ' ')"
    )
