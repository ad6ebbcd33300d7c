"""Pure-Python statistics builder — the oracle twin of plans/model_build.py.

Aggregates the training occurrence corpus into the five statistics tables
the reference builds in index/.../db/CreateSpotlightModel.scala:160-229
(from the Pig `uriCounts / sfAndTotalCounts / pairCounts / tokenCounts`
files, SURVEY.md §2.7). The Spark model-build stage must produce tables
that match these bit-for-bit (tests/test_model_build.py asserts it).

Shared semantics (applied identically on both sides):
  * occurrence URIs are resolved through the redirect transitive closure
    first (WikipediaToDBpediaClosure.scala:110-115), then disambiguation
    pages are dropped (:47-55).
  * min-count pruning: surface forms with annotated_count < 2, context
    tokens with global corpus count < 3 (CreateSpotlightModel.scala:34-35).
  * ids are dense ranks over the sorted string domain (deterministic).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import pandas as pd

from ..functions.tokenize import tokenize_py
from ..functions.normalize import sf_normalize_py
from ..operators.redirects import close_redirects
from .generator import Fixture, MIN_SF_COUNT, MIN_TOKEN_COUNT


@dataclass
class StatsTables:
    surface_form_stats: pd.DataFrame  # sf_id sf sf_norm annotated_count total_count lowercase_count
    resources: pd.DataFrame           # res_id uri support prior types
    candidate_map: pd.DataFrame       # sf_id res_id pair_count
    tokens: pd.DataFrame              # token_id token count
    context_counts: pd.DataFrame      # res_id token_id count
    total_annotated_count: int
    total_token_count: int
    vocab_size: int


def build_stats(fx: Fixture, stemmer: str | None = None) -> StatsTables:
    stopwords = set(fx.stopwords["word"])
    if stemmer == "english":
        from ..functions.stem import porter2_stem as _stem
    elif stemmer is None:
        _stem = None
    else:
        raise ValueError(f"unsupported stemmer: {stemmer!r}")
    redirect_pairs = dict(
        zip(fx.redirects["src_uri"], fx.redirects["dst_uri"])
    )
    closed = close_redirects(redirect_pairs)
    disambig = set(fx.disambiguation_pages["uri"])

    pair_counts: Counter = Counter()
    uri_counts: Counter = Counter()
    token_counts: Counter = Counter()
    ctx_counts: Counter = Counter()

    for row in fx.training_occurrences.itertuples(index=False):
        uri = closed.get(row.uri_raw, row.uri_raw)
        if uri in disambig:
            continue
        pair_counts[(row.sf, uri)] += 1
        uri_counts[uri] += 1
        toks = [t for t in tokenize_py(row.context) if t not in stopwords]
        if _stem is not None:
            toks = [_stem(t) for t in toks]
        for t in toks:
            token_counts[t] += 1
            ctx_counts[(uri, t)] += 1

    # --- surface_form_stats, with min-count pruning
    annotated: Counter = Counter()
    for (sf, _uri), c in pair_counts.items():
        annotated[sf] += c
    kept_sfs = sorted(s for s, c in annotated.items() if c >= MIN_SF_COUNT)
    sf_id = {s: i for i, s in enumerate(kept_sfs)}

    unlinked = dict(zip(fx.unlinked_counts["sf"],
                        fx.unlinked_counts["unlinked_count"]))
    lowercase = dict(zip(fx.lowercase_counts["sf_lower"],
                         fx.lowercase_counts["lowercase_count"]))
    sf_rows = [
        (sf_id[s], s, sf_normalize_py(s), int(annotated[s]),
         int(annotated[s]) + int(unlinked.get(s, 0)),
         int(lowercase.get(s.lower(), 0)))
        for s in kept_sfs
    ]
    surface_form_stats = pd.DataFrame(
        sf_rows,
        columns=["sf_id", "sf", "sf_norm", "annotated_count",
                 "total_count", "lowercase_count"],
    )

    # --- resources (prune URIs left with no surviving candidate rows? the
    # reference keeps every URI with a uriCount; we keep all counted URIs)
    kept_uris = sorted(uri_counts)
    res_id = {u: i for i, u in enumerate(kept_uris)}
    total_support = sum(uri_counts.values())
    types_by_uri: dict[str, list[str]] = {}
    for r in fx.instance_types.itertuples(index=False):
        types_by_uri.setdefault(r.uri, []).append(r.type)
    resources = pd.DataFrame(
        [
            (res_id[u], u, int(uri_counts[u]),
             uri_counts[u] / total_support,
             sorted(types_by_uri.get(u, [])))
            for u in kept_uris
        ],
        columns=["res_id", "uri", "support", "prior", "types"],
    )

    # --- candidate_map (only surviving sfs)
    candidate_map = pd.DataFrame(
        sorted(
            (sf_id[s], res_id[u], int(c))
            for (s, u), c in pair_counts.items()
            if s in sf_id and u in res_id
        ),
        columns=["sf_id", "res_id", "pair_count"],
    )

    # --- token vocab with min-count pruning
    kept_tokens = sorted(t for t, c in token_counts.items()
                         if c >= MIN_TOKEN_COUNT)
    token_id = {t: i for i, t in enumerate(kept_tokens)}
    tokens = pd.DataFrame(
        [(token_id[t], t, int(token_counts[t])) for t in kept_tokens],
        columns=["token_id", "token", "count"],
    )

    # --- context_counts over surviving tokens, sorted by (res, token)
    context_counts = pd.DataFrame(
        sorted(
            (res_id[u], token_id[t], int(c))
            for (u, t), c in ctx_counts.items()
            if t in token_id
        ),
        columns=["res_id", "token_id", "count"],
    )

    total_annotated = int(sum(r[3] for r in sf_rows))
    total_token_count = int(sum(token_counts[t] for t in kept_tokens))
    return StatsTables(
        surface_form_stats=surface_form_stats,
        resources=resources,
        candidate_map=candidate_map,
        tokens=tokens,
        context_counts=context_counts,
        total_annotated_count=total_annotated,
        total_token_count=total_token_count,
        vocab_size=len(kept_tokens),
    )
