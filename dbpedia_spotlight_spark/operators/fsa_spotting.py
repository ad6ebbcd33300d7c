"""Token-level FSA-style spotter — the vectorized fast path at corpus scale.

The reference's v1.0 default spotter matches token-id sequences against a
dictionary FSA (core/.../db/FSASpotter.scala:75-102; its dictionary keeps
surface forms with annotationProbability >= 0.05 at :105-107, ours keeps
every surface form of the model). The per-char
pure-Python Aho-Corasick walk (operators/ahocorasick.py) tops out around
0.5-1 MB/s/core; this recast replaces the character automaton with
numpy-vectorized token n-gram hashing:

  * one regex pass tokenizes each span (C-speed),
  * token hashes via pd.util.hash_array (vectorized siphash),
  * n-gram hashes for n = 1..L combined from shifted arrays (numpy),
  * np.isin membership against the broadcast dictionary hash set,
  * exact lowercase-substring verification ONLY on hash hits — this both
    kills hash collisions and enforces separator fidelity ("e mail" must
    not match dictionary "e-mail"),
  * the reference's greedy leftmost-longest filter over the (tiny) hit
    list per span.

Python work is O(tokens) vectorized + O(hits) scalar, vs O(chars) scalar
for the AC walk. This is the spotter `annotate` runs. Output parity:
identical mention set to the AC spotter (operators/spotting.py
spot_documents, kept as the parity reference and the spot_exact_dict
gate); entries that start or end with a boundary character go to an
embedded AC residue automaton (on_boundary="ac", as `annotate` builds
the dictionary).
tests/test_fsa_spotting.py + test_properties.py assert set equality
(property-tested on random dictionaries/texts); the driver gate
spot_fsa_dict hashes against the same SQL oracle as the AC gate.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import DEFAULT_PARAMS, MIN_SF_LENGTH, PipelineParams
from .ahocorasick import BOUNDARY_CHARS, AhoCorasick, is_boundary
from .spotting import MENTIONS_SCHEMA

# token = maximal run of non-boundary characters (same boundary set as
# AhoCorasickSpotter.scala:35 plus unicode whitespace via \s)
_TOKEN_RE = re.compile(
    "[^\\s" + re.escape("".join(sorted(BOUNDARY_CHARS))) + "]+"
)

_MASK = (1 << 64) - 1
_P_INT = 1099511628211          # odd -> invertible mod 2^64
_P = np.uint64(_P_INT)
_P_INV = np.uint64(pow(_P_INT, -1, 1 << 64))

# 256-entry boundary lookup for the ASCII byte fast path
_BOUNDARY_TABLE = np.zeros(256, dtype=bool)
for _ch in BOUNDARY_CHARS:
    if ord(_ch) < 128:
        _BOUNDARY_TABLE[ord(_ch)] = True
for _ch in " \t\n\r\x0b\x0c":
    _BOUNDARY_TABLE[ord(_ch)] = True


def _hash_token_py(token: str) -> int:
    """Byte-polynomial hash h = ((h*P)+c) mod 2^64 — the scalar twin of
    the vectorized prefix-hash below (dictionary side + non-ASCII path)."""
    h = 0
    for c in token.encode("utf-8"):
        h = (h * _P_INT + c) & _MASK
    return h


def _token_bounds_and_hashes_ascii(low: str):
    """(starts, ends, token_hashes) for ASCII text with zero per-token
    Python: boundary mask -> run edges via diff; token hashes from ONE
    prefix polynomial sweep. For token bytes c_b..c_{e-1}:
        hash = P^(e-1) * (S[e] - S[b]),  S[k] = Σ_{i<k} c_i * P^{-i}
    (all mod 2^64 — uint64 wraparound; P odd so P^{-1} exists)."""
    arr = np.frombuffer(low.encode("ascii"), dtype=np.uint8)
    n = len(arr)
    is_tok = ~_BOUNDARY_TABLE[arr]
    d = np.diff(is_tok.astype(np.int8), prepend=np.int8(0),
                append=np.int8(0))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    if len(starts) == 0:
        return starts, ends, np.empty(0, dtype=np.uint64)
    pw, pinv = _powers(n)
    s = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(arr * pinv[:n], out=s[1:])
    h = (s[ends] - s[starts]) * pw[ends - 1]
    return starts, ends, h


_POW_CACHE: list = [None]  # [pw, pinv] grown on demand (data-independent)


def _powers(n: int):
    cached = _POW_CACHE[0]
    if cached is None or len(cached[0]) < n:
        size = max(n, 1 << 16)
        pw = np.empty(size, dtype=np.uint64)
        pw[0] = 1
        np.cumprod(np.full(size - 1, _P, dtype=np.uint64), out=pw[1:])
        pinv = np.empty(size, dtype=np.uint64)
        pinv[0] = 1
        np.cumprod(np.full(size - 1, _P_INV, dtype=np.uint64), out=pinv[1:])
        cached = (pw, pinv)
        _POW_CACHE[0] = cached
    return cached


def _ngram_hashes(h: np.ndarray, n: int) -> np.ndarray:
    """Combined hash of every n-consecutive-token window (len = len(h)-n+1)."""
    out = h[: len(h) - n + 1].copy()
    for k in range(1, n):
        out *= _P
        out += h[k : len(h) - n + 1 + k]
    return out


# phrases per vectorized sweep in _group_hashes: bounds the transient
# blob-sized uint64 temporaries (and the shared powers cache) to O(chunk)
# instead of O(dictionary) — at 10^6+ phrases an unchunked sweep allocates
# several arrays the size of the whole concatenated dictionary
_GROUP_HASH_CHUNK = 1 << 16


def _group_hashes(sfs: list[str], n: int) -> np.ndarray:
    """Unique combined n-gram hashes of phrases that all have n tokens.

    Vectorized: ASCII phrases are concatenated with a boundary separator
    and hashed in chunked prefix-polynomial sweeps (exactly n token
    hashes per phrase -> reshape + combine along axis 1); non-ASCII
    phrases fall back to the scalar byte hash. ~10x faster than per-entry
    hashing at dictionary scale (the driver-side build was the
    bottleneck); chunking keeps peak memory O(chunk), not O(dict)."""
    ascii_sfs = [s for s in sfs if s.isascii()]
    other = [s for s in sfs if not s.isascii()]
    parts = []
    for i in range(0, len(ascii_sfs), _GROUP_HASH_CHUNK):
        chunk = ascii_sfs[i : i + _GROUP_HASH_CHUNK]
        blob = "\n".join(chunk)
        _s, _e, h = _token_bounds_and_hashes_ascii(blob)
        mat = h.reshape(len(chunk), n)
        out = mat[:, 0].copy()
        for k in range(1, n):
            out *= _P
            out += mat[:, k]
        parts.append(out)
    if other:
        parts.append(
            np.array(
                [
                    _ngram_hashes(
                        np.array(
                            [_hash_token_py(t) for t in _TOKEN_RE.findall(s)],
                            dtype=np.uint64,
                        ),
                        n,
                    )[0]
                    for s in other
                ],
                dtype=np.uint64,
            )
        )
    return np.unique(np.concatenate(parts))


class FSADictionary:
    """Broadcastable token-n-gram dictionary.

    Per phrase length n: the np.uint64 set of combined token hashes plus
    the exact (lowercased unless case_sensitive) phrase set for hit
    verification. Entries with a leading/trailing boundary character
    cannot be token aligned; `on_boundary` picks the policy:
      * "raise"  — ValueError (strict; default for direct construction)
      * "ac"     — route them (recorded in self.skipped) to an embedded
                   Aho-Corasick residue automaton scanned alongside the
                   FSA (the pipeline path: real models contain 'Yahoo!',
                   'U.S.', …)
    """

    __slots__ = ("by_n", "max_n", "case_sensitive", "residue", "skipped",
                 "_prefilter")

    def __init__(self, surface_forms, case_sensitive: bool = False,
                 on_boundary: str = "raise"):
        if on_boundary not in ("raise", "ac"):
            raise ValueError(f"on_boundary: {on_boundary!r}")
        self.case_sensitive = case_sensitive
        self.skipped: list[str] = []
        groups: dict[int, set[str]] = {}
        seen: set[str] = set()
        for s in surface_forms:
            if not s:
                continue
            if (
                s[0] in BOUNDARY_CHARS or s[-1] in BOUNDARY_CHARS
                or s[0].isspace() or s[-1].isspace()
            ):
                if on_boundary == "raise":
                    raise ValueError(
                        "surface form starts/ends with a boundary char: "
                        f"{s!r}"
                    )
                key = s if case_sensitive else s.lower()
                if key not in seen:
                    seen.add(key)
                    self.skipped.append(s)
                continue
            low = s if case_sensitive else s.lower()
            toks = _TOKEN_RE.findall(low)
            if not toks:
                continue
            groups.setdefault(len(toks), set()).add(low)
        self.by_n: dict[int, tuple[np.ndarray, frozenset]] = {}
        for n, sfs in groups.items():
            self.by_n[n] = (_group_hashes(sorted(sfs), n), frozenset(sfs))
        self.max_n = max(self.by_n) if self.by_n else 1
        self.residue = (
            AhoCorasick(self.skipped, case_sensitive=case_sensitive)
            if self.skipped
            else None
        )
        self._prefilter = None

    def prefilter(self) -> tuple[np.ndarray, np.uint64]:
        """Shared bitmask prefilter over ALL n-group hashes: a bool
        table indexed by the hash's low bits. A window hash whose slot
        is False cannot be in any group, so the per-n binary search
        (62% of scan time at a realistic ~7% hit rate) only sees slots
        that pass. Sized at ~16 slots/phrase (fill ≤ ~6%), clamped to
        64 MB; worker-local derived state — rebuilt after unpickle, one
        vectorized pass, so it never inflates the broadcast."""
        pf = self._prefilter
        if pf is None:
            total = sum(len(h) for h, _ in self.by_n.values()) or 1
            size = 1 << min(max(total * 16 - 1, 1 << 16).bit_length(), 26)
            table = np.zeros(size, dtype=bool)
            mask = np.uint64(size - 1)
            for h, _ in self.by_n.values():
                table[(h & mask).astype(np.int64)] = True
            pf = (table, mask)
            self._prefilter = pf
        return pf

    def __getstate__(self):
        return {s: getattr(self, s) for s in self.__slots__
                if s != "_prefilter"}

    def __setstate__(self, state):
        for k, v in state.items():
            setattr(self, k, v)
        self._prefilter = None


def build_fsa_dictionary(
    surface_forms,
    case_sensitive: bool = False,
    on_boundary: str = "raise",
) -> FSADictionary:
    """From an iterable or the surface_form_stats table (every surface
    form; the reference's annotated/total >= 0.05 cut at
    FSASpotter.scala:105-107 is not applied)."""
    if isinstance(surface_forms, DataFrame):
        from .spotting import iter_column_strings

        # streamed, not collect()ed: the dictionary build consumes entries
        # incrementally, so the driver never holds a full Row list on top
        # of the built hash sets (VERDICT r2 scale flag)
        surface_forms = iter_column_strings(surface_forms, "sf")
    return FSADictionary(
        surface_forms, case_sensitive=case_sensitive, on_boundary=on_boundary
    )


def _member_sorted(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Membership of values in an ALREADY-SORTED array (the by_n hash
    arrays come from np.unique) via binary search: O(n log m) per batch,
    vs np.isin's sort of the full dictionary on every call."""
    pos = np.searchsorted(sorted_arr, values)
    ok = pos < len(sorted_arr)
    hit = np.zeros(len(values), dtype=bool)
    if ok.any():
        idx = np.nonzero(ok)[0]
        hit[idx] = sorted_arr[pos[idx]] == values[idx]
    return hit


def _residue_matches(text: str, fsa: FSADictionary) -> list:
    """Word-bounded matches of the boundary-edged residue automaton;
    bound-checking BEFORE the greedy sweep is equivalent to the AC
    path's in-sweep check (a non-bounded match neither survives nor
    blocks)."""
    out = []
    nchars = len(text)
    for start, ln in fsa.residue.find_all(text):
        end = start + ln
        if start != 0 and not is_boundary(text[start - 1]):
            continue
        if end < nchars and not is_boundary(text[end]):
            continue
        out.append((start, end, text[start:end]))
    return out


def _scan_one(low: str, text: str, fsa: FSADictionary) -> list:
    """Per-span FSA matches (non-ASCII fallback / direct API)."""
    if low.isascii():
        s_arr, e_arr, h = _token_bounds_and_hashes_ascii(low)
    else:
        ms = [(m.start(), m.end(), m.group())
              for m in _TOKEN_RE.finditer(low)]
        s_arr = np.array([m[0] for m in ms], dtype=np.int64)
        e_arr = np.array([m[1] for m in ms], dtype=np.int64)
        h = np.array([_hash_token_py(m[2]) for m in ms], dtype=np.uint64)
    out: list[tuple[int, int, str]] = []
    n_tok = len(h)
    if n_tok:
        table, mask = fsa.prefilter()
        for n, (hashes, sf_set) in fsa.by_n.items():
            if n > n_tok:
                continue
            gh = _ngram_hashes(h, n)
            cand = np.nonzero(table[(gh & mask).astype(np.int64)])[0]
            if not len(cand):
                continue
            hit_idx = cand[_member_sorted(hashes, gh[cand])]
            if not len(hit_idx):
                continue
            for b, e in zip(
                s_arr[hit_idx].tolist(), e_arr[hit_idx + n - 1].tolist()
            ):
                if low[b:e] in sf_set:  # exact verify: collisions+separators
                    out.append((b, e, text[b:e]))
    return out


def _scan_spans_batch(
    texts: list[str], fsa: FSADictionary
) -> list[list[tuple[int, int, str]]]:
    """FSA matches for EVERY span of an Arrow batch in ONE vectorized
    sweep: the (lowercased) span texts concatenate with a '\\n' boundary
    into a single blob; token bounds + hashes come from one prefix-
    polynomial pass; n-gram membership runs once per phrase length over
    the whole batch, with windows crossing span boundaries masked out
    (searchsorted span index per token). Per-span Python survives only
    for hits, non-ASCII spans, and the residue automaton. Output is
    identical to a per-span _scan_one + _residue_matches (the reference
    tests/test_fsa_spotting.py checks it against) — the batch form only
    removes per-span fixed overhead (the dominant cost on short
    documents)."""
    out: list[list[tuple[int, int, str]]] = [[] for _ in texts]
    keyed = texts if fsa.case_sensitive else [t.lower() for t in texts]
    ascii_idx = [i for i, t in enumerate(keyed) if t.isascii()]
    for i, t in enumerate(keyed):
        if not t.isascii():
            out[i] = _scan_one(t, texts[i], fsa)
    # chunk at span boundaries so the powers cache / per-sweep
    # temporaries stay O(chunk), not O(batch text) — same discipline as
    # _group_hashes (an oversized single span still gets its own chunk,
    # identical to the per-span path's footprint)
    pos = 0
    while pos < len(ascii_idx):
        end = pos
        size = 0
        while end < len(ascii_idx) and (
            size == 0 or size + len(keyed[ascii_idx[end]]) <= _BLOB_CHUNK
        ):
            size += len(keyed[ascii_idx[end]]) + 1
            end += 1
        _scan_ascii_chunk(ascii_idx[pos:end], keyed, texts, fsa, out)
        pos = end
    if fsa.residue is not None:
        for i, t in enumerate(texts):
            out[i].extend(_residue_matches(t, fsa))
    return out


_BLOB_CHUNK = 1 << 20  # chars per vectorized batch sweep


def _scan_ascii_chunk(
    idx: list[int], keyed: list[str], texts: list[str],
    fsa: FSADictionary, out: list,
) -> None:
    blob = "\n".join(keyed[i] for i in idx)
    s_arr, e_arr, h = _token_bounds_and_hashes_ascii(blob)
    n_tok = len(h)
    if not n_tok:
        return
    lens = np.array([len(keyed[i]) for i in idx], dtype=np.int64)
    blob_starts = np.zeros(len(idx), dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=blob_starts[1:])
    tok_span = np.searchsorted(blob_starts, s_arr, side="right") - 1
    table, mask = fsa.prefilter()
    for n, (hashes, sf_set) in fsa.by_n.items():
        if n > n_tok:
            continue
        gh = _ngram_hashes(h, n)
        same_span = tok_span[: len(gh)] == tok_span[n - 1:]
        cand = np.nonzero(
            table[(gh & mask).astype(np.int64)] & same_span
        )[0]
        if not len(cand):
            continue
        hit_idx = cand[_member_sorted(hashes, gh[cand])]
        if not len(hit_idx):
            continue
        # bulk-gather hit coordinates once (numpy scalar indexing
        # inside the loop costs ~10x a list-int access)
        gb = s_arr[hit_idx]
        ge = e_arr[hit_idx + n - 1]
        sp = tok_span[hit_idx]
        base = blob_starts[sp]
        for gbi, gei, b, e, s in zip(
            gb.tolist(), ge.tolist(),
            (gb - base).tolist(), (ge - base).tolist(),
            sp.tolist(),
        ):
            if blob[gbi:gei] in sf_set:
                oi = idx[s]
                out[oi].append((b, e, texts[oi][b:e]))


def _greedy(matches: list[tuple[int, int, str]]) -> list[tuple[int, int, str]]:
    """Leftmost-longest non-overlap (AhoCorasickSpotter.scala:118-153);
    word-boundedness already holds by token alignment."""
    kept: list[tuple[int, int, str]] = []
    prev_end = -1
    for m in sorted(matches, key=lambda m: (m[0], m[0] - m[1])):
        if kept and m[0] <= prev_end:
            continue
        kept.append(m)
        prev_end = m[1]
    return kept


# per-python-worker dictionary cache (same pattern + rationale as
# spotting._AUTOMATON_CACHE)
_FSA_CACHE: dict[int, tuple[object, FSADictionary]] = {}


def spot_documents_fsa(
    documents: DataFrame,
    dictionary_bc,
    params: PipelineParams = DEFAULT_PARAMS,
) -> DataFrame:
    """documents(doc_id, spans) -> mentions(doc_id, span_idx, begin, end, sf).

    Same contract and output as spotting.spot_documents. `dictionary_bc`
    is a broadcast FSADictionary (or a bare FSADictionary for tests).
    `params` is not read; perfbench/traced.py still passes it."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key = id(dictionary_bc)
        entry = _FSA_CACHE.get(key)
        if entry is None or entry[0] is not dictionary_bc:
            value = getattr(dictionary_bc, "value", dictionary_bc)
            entry = (dictionary_bc, value)
            _FSA_CACHE[key] = entry
        fsa = entry[1]
        for pdf in batches:
            rows = {"doc_id": [], "span_idx": [], "begin": [],
                    "end": [], "sf": []}
            # flatten the batch's text spans, scan them in ONE vectorized
            # sweep (_scan_spans_batch), then greedy-filter per span
            meta: list[tuple] = []  # (doc_id, span_idx, base)
            texts: list[str] = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                for si, span in enumerate(spans):
                    if span["kind"] != "text":
                        continue
                    meta.append((doc_id, si, span["offset"]))
                    texts.append(span["text"])
            all_found = _scan_spans_batch(texts, fsa)
            for (doc_id, si, base), found in zip(meta, all_found):
                for b, e, sf in _greedy(found):
                    # min-length AFTER the greedy filter, exactly like
                    # spot_documents (a short match may still block a
                    # longer overlap before being dropped)
                    if e - b < MIN_SF_LENGTH:
                        continue
                    rows["doc_id"].append(doc_id)
                    rows["span_idx"].append(si)
                    rows["begin"].append(base + b)
                    rows["end"].append(base + e)
                    rows["sf"].append(sf)
            yield pd.DataFrame(rows)

    return documents.select("doc_id", "spans").mapInPandas(
        scan, schema=MENTIONS_SCHEMA
    )


def broadcast_fsa_dictionary(spark, fsa: FSADictionary):
    return spark.sparkContext.broadcast(fsa)
