"""Distributed spotting: broadcast Aho-Corasick inside Arrow pandas UDFs.

The Spark recast of the reference serving scan
(spot/ahocorasick/AhoCorasickSpotter.scala + db/SpotlightModel.scala:150-156):
the automaton is built ONCE on the driver from the surface-form dimension
table, pickled and broadcast; executors deserialize it lazily (one copy
per python worker, cached at module level) and scan each document's text
spans inside `mapInPandas` — Arrow-batched, no per-row Python UDFs.

Media spans (kind != 'text') are opaque to spotting
(WikiMarkupStripper passes `File:` fragments through) and are NOT
exploded or rebuilt here — the input `documents` DataFrame flows through
untouched, preserving the span-sequence invariant.

Spotting is per-span rather than per-concatenated-document: spans are
separated by a boundary character in the concatenated text by
construction, so per-span scanning finds exactly the same word-bounded
matches while avoiding a giant string concat per doc.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..config import MIN_SF_LENGTH
from .ahocorasick import AhoCorasick, spot_text

MENTIONS_SCHEMA = (
    "doc_id string, span_idx int, begin int, end int, sf string"
)

# per-python-worker automaton cache. Keyed by id() of the Broadcast
# object, with the Broadcast kept in the value tuple so the id cannot be
# recycled by GC while the entry lives (id() alone could collide after
# the original broadcast is collected in a long-lived worker).
_AUTOMATON_CACHE: dict[int, tuple[object, AhoCorasick]] = {}


def iter_column_strings(df: DataFrame, column: str = "sf"):
    """Yield a string column's non-null values on the driver WITHOUT a Row
    list: one Arrow collect (a single job) brings the column over as Arrow
    buffers, turned into Python strings one record batch at a time. Driver
    memory during a dictionary build is the built structure + the compact
    Arrow column + one batch of strings, not an O(dictionary) list of Row
    objects on top of it. At 10^7 surface forms the difference is GBs."""
    for batch in df.select(column).toArrow().to_batches():
        for v in batch.column(0).to_pylist():
            if v is not None:
                yield v


def build_automaton(
    surface_forms, case_sensitive: bool = False
) -> AhoCorasick:
    """Driver-side build from an iterable or the surface_form_stats DF
    (streamed — the trie consumes entries incrementally)."""
    if isinstance(surface_forms, DataFrame):
        surface_forms = iter_column_strings(surface_forms, "sf")
    return AhoCorasick(surface_forms, case_sensitive=case_sensitive)


def broadcast_automaton(spark, automaton: AhoCorasick):
    return spark.sparkContext.broadcast(automaton)


def spot_documents(documents: DataFrame, automaton_bc) -> DataFrame:
    """documents(doc_id, spans) -> mentions(doc_id, span_idx, begin, end, sf).

    `begin`/`end` are char offsets in the concatenated doc text
    (span.offset + within-span offset), matching
    model/SurfaceFormOccurrence.scala:19's textOffset.
    """

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key = id(automaton_bc)
        entry = _AUTOMATON_CACHE.get(key)
        if entry is None or entry[0] is not automaton_bc:
            entry = (automaton_bc, automaton_bc.value)
            _AUTOMATON_CACHE[key] = entry
        ac = entry[1]
        for pdf in batches:
            rows = {"doc_id": [], "span_idx": [], "begin": [],
                    "end": [], "sf": []}
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                for si, span in enumerate(spans):
                    if span["kind"] != "text":
                        continue
                    text = span["text"]
                    base = span["offset"]
                    for start, ln in spot_text(ac, text):
                        if ln < MIN_SF_LENGTH:
                            continue
                        rows["doc_id"].append(doc_id)
                        rows["span_idx"].append(si)
                        rows["begin"].append(base + start)
                        rows["end"].append(base + start + ln)
                        rows["sf"].append(text[start : start + ln])
            yield pd.DataFrame(rows)

    return documents.select("doc_id", "spans").mapInPandas(
        scan, schema=MENTIONS_SCHEMA
    )
