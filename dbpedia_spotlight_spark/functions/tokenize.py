"""Deterministic tokenizer for context scoring.

The reference uses a locale-aware BreakIterator + Snowball stemming
(db/tokenize/LanguageIndependentTokenizer.scala:28-50,90-115). Model-free
determinism matters more than linguistic fidelity here (oracle and engine
must agree bit-exactly), so the engine defines its context-token semantics
as: lowercase, split on non-[a-z0-9] runs, drop tokens in the stopword
table. Stopwords map to the STOPWORD sentinel in the reference
(model/TokenType.scala:26-29); we drop them from the query/context bags,
and the fixture generator builds `context_counts` with the SAME function,
so p(t|e) is identical on both sides.

Spark side: pure column expressions (codegen'd, no Python).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_TOKEN_SPLIT = "[^a-z0-9]+"


def tokenize_expr(col: Column) -> Column:
    """array<string> of context tokens for a text column (JVM-side)."""
    arr = F.split(F.lower(col), _TOKEN_SPLIT)
    return F.filter(arr, lambda t: t != "")


def tokenize_py(s: str) -> list[str]:
    """Pure-Python twin used by the oracle and the fixture generator."""
    return [t for t in re.split(_TOKEN_SPLIT, s.lower()) if t]
