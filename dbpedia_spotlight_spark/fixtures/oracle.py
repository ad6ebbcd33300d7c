"""Pure-Python reference-semantics oracle.

Re-implements the reference pipeline independently of the Spark engine
(brute-force substring matcher instead of Aho-Corasick, per-mention loops
instead of joins) so engine-vs-oracle equality tests are meaningful.

Semantics mirrored:
  * spotting + greedy filter — spot/ahocorasick/AhoCorasickSpotter.scala:118-153
  * exact + fuzzy candidate lookup — db/DBCandidateSearcher.scala:27-46,
    db/memory/MemorySurfaceFormStore.scala:127-156
  * top-10-by-prior pruning — db/DBTwoStepDisambiguator.scala:43,114-119
  * generative context similarity, λ=0.2 Laplace —
    db/similarity/GenerativeContextSimilarity.scala:27-105
  * UnweightedMixture ln P(e) + ln P(c|e) + ln P(s|e) —
    disambiguate/mixtures/UnweightedMixture.scala:12-17,
    DBTwoStepDisambiguator.scala:170-174
  * NIL gate + softmax + percentageOfSecondRank —
    DBTwoStepDisambiguator.scala:135-151,183-201

Determinism deviations (documented, shared with the engine):
  * score ties break by (uri asc, candidate sf asc) — the reference's Set
    iteration order is unspecified.
  * stopwords are dropped from query/context bags instead of mapping to a
    STOPWORD sentinel (constant per-mention shift; argmax unchanged).
  * whole-document context window (fixture docs are < MAX_CONTEXT tokens).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from ..functions.similarity import edit_distance_score_py
from ..functions.tokenize import tokenize_py
from .stats import StatsTables

_BOUNDARY_RE = re.compile(r"[\s,.:;¿?¡!()\-'\"]")

LAMBDA = 0.2  # GenerativeContextSimilarity.scala:27


def _is_boundary(ch: str) -> bool:
    return bool(_BOUNDARY_RE.fullmatch(ch))


@dataclass(frozen=True)
class OracleMention:
    doc_id: str
    begin: int          # global char offset in the concatenated doc text
    sf: str             # surface text exactly as it appears
    span_idx: int

    @property
    def key(self) -> str:
        return f"{self.doc_id}:{self.begin}"


def spot_documents(documents, dictionary, min_sf_length: int = 3):
    """Brute-force dictionary spotting + greedy filter, per text span."""
    patterns = sorted({p.lower() for p in dictionary if p})
    out: list[OracleMention] = []
    for row in documents.itertuples(index=False):
        for span_idx, span in enumerate(row.spans):
            if span["kind"] != "text":
                continue
            text = span["text"]
            hay = text.lower()
            matches = []
            for pat in patterns:
                start = hay.find(pat)
                while start != -1:
                    matches.append((start, len(pat)))
                    start = hay.find(pat, start + 1)
            # greedy leftmost-longest, word-bounded, non-overlapping
            kept = []
            prev_end = -1
            for start, ln in sorted(matches, key=lambda m: (m[0], -m[1])):
                end = start + ln
                if start != 0 and not _is_boundary(text[start - 1]):
                    continue
                if end < len(text) and not _is_boundary(text[end]):
                    continue
                if kept and start <= prev_end:
                    continue
                kept.append((start, ln))
                prev_end = end
            for start, ln in kept:
                sf = text[start : start + ln]
                if len(sf) < min_sf_length:
                    continue
                out.append(
                    OracleMention(
                        doc_id=row.doc_id,
                        begin=span["offset"] + start,
                        sf=sf,
                        span_idx=span_idx,
                    )
                )
    return out


class OracleModel:
    """Candidate lookup + scoring over the stats tables."""

    def __init__(self, stats: StatsTables, stopwords: set[str],
                 max_candidates: int = 10, fuzzy_top_n: int = 5,
                 stemmer: str | None = None):
        self.stats = stats
        self.stopwords = stopwords
        self.max_candidates = max_candidates
        self.fuzzy_top_n = fuzzy_top_n
        if stemmer == "english":
            from ..functions.stem import porter2_stem

            self._stem = porter2_stem
        else:
            self._stem = None

        s = stats.surface_form_stats
        self.sf_by_string = {r.sf: r for r in s.itertuples(index=False)}
        self.sfs_by_lower: dict[str, list] = {}
        for r in s.itertuples(index=False):
            self.sfs_by_lower.setdefault(r.sf.lower(), []).append(r)
        self.res_by_id = {
            r.res_id: r for r in stats.resources.itertuples(index=False)
        }
        self.cands_by_sf_id: dict[int, list] = {}
        for r in stats.candidate_map.itertuples(index=False):
            self.cands_by_sf_id.setdefault(r.sf_id, []).append(r)
        self.token_id = dict(
            zip(stats.tokens["token"], stats.tokens["token_id"])
        )
        self.token_count = dict(
            zip(stats.tokens["token_id"], stats.tokens["count"])
        )
        self.ctx = {
            (r.res_id, r.token_id): r.count
            for r in stats.context_counts.itertuples(index=False)
        }
        self.res_total_tokens: dict[int, int] = {}
        for r in stats.context_counts.itertuples(index=False):
            self.res_total_tokens[r.res_id] = (
                self.res_total_tokens.get(r.res_id, 0) + r.count
            )
        self.ln_norm = math.log(
            stats.total_token_count + stats.vocab_size
        )

    # --- candidate lookup (DBCandidateSearcher.scala:27-46) ---
    def candidates(self, sf_text: str):
        """[(cand_sf_row, cand_map_row)], exact first, fuzzy fallback."""
        cands = []
        row = self.sf_by_string.get(sf_text)
        if row is not None:
            cands = [(row, c) for c in self.cands_by_sf_id.get(row.sf_id, [])]
        if not cands:
            ranked = []
            for r in self.sfs_by_lower.get(sf_text.lower(), []):
                ann_prob = r.annotated_count / r.total_count if r.total_count else 1.0
                c_lower = r.lowercase_count
                score = (
                    edit_distance_score_py(r.sf, sf_text)
                    * ann_prob
                    * (2.0 * r.total_count / (c_lower + r.total_count))
                )
                ranked.append((score, r))
            ranked.sort(key=lambda t: (-t[0], t[1].sf))
            for _score, r in ranked[: self.fuzzy_top_n]:
                cands.extend(
                    (r, c) for c in self.cands_by_sf_id.get(r.sf_id, [])
                )
        # top-10 by candidate prior (DBTwoStepDisambiguator.scala:114-119)
        def prior(item):
            sf_row, cm = item
            return cm.pair_count / sf_row.annotated_count

        if len(cands) > self.max_candidates:
            cands.sort(
                key=lambda it: (-prior(it), self.res_by_id[it[1].res_id].uri,
                                it[0].sf)
            )
            cands = cands[: self.max_candidates]
        return cands

    # --- context scoring (GenerativeContextSimilarity.scala) ---
    def p_lm(self, tid: int | None) -> float:
        count = self.token_count.get(tid, 0) if tid is not None else 0
        return math.log(count + 1.0) - self.ln_norm

    def p_token(self, tid: int | None, res_id: int) -> float:
        lm = math.log(1 - LAMBDA) + self.p_lm(tid)
        c = self.ctx.get((res_id, tid), 0) if tid is not None else 0
        total = self.res_total_tokens.get(res_id, 0)
        if c == 0 or total == 0:
            return lm
        ml = math.log(LAMBDA) + math.log(c / total)
        hi, lo = max(lm, ml), min(lm, ml)
        return hi + math.log1p(math.exp(lo - hi))

    def query_token_ids(self, doc_tokens: list[str]):
        """Distinct (token, id-or-None) pairs; stopwords dropped (on the
        RAW token, before stemming — same order as the engine)."""
        seen = {}
        for t in doc_tokens:
            if t in self.stopwords:
                continue
            if self._stem is not None:
                t = self._stem(t)
            if t in seen:
                continue
            seen[t] = self.token_id.get(t)
        return sorted(seen.items())

    def context_score(self, qtoks, res_id: int) -> float:
        return sum(self.p_token(tid, res_id) for _t, tid in qtoks)

    def nil_context_score(self, qtoks) -> float:
        return sum(math.log(1 - LAMBDA) + self.p_lm(tid) for _t, tid in qtoks)


def _assign_windows(span_token_counts: list[int], max_context: int) -> list[int]:
    """Greedy accumulate-and-flush — independent twin of
    operators/windows.assign_windows_py (DBTwoStepDisambiguator.scala:69-88)."""
    out, window, running = [], 0, 0
    for n in span_token_counts:
        out.append(window)
        running += n
        if running >= max_context:
            window += 1
            running = 0
    return out


def link_mentions(mentions, documents, model: OracleModel,
                  max_context: int = 200):
    """mention.key -> dict(uri, final_score, ctx_score, pct_second_rank);
    uri is None for NIL (unlinked). Long documents are sliced into
    MAX_CONTEXT windows of whole spans (DBTwoStepDisambiguator.scala:49-93)."""
    docs = {r.doc_id: r.spans for r in documents.itertuples(index=False)}
    out = {}
    by_doc: dict[str, list[OracleMention]] = {}
    for m in mentions:
        by_doc.setdefault(m.doc_id, []).append(m)

    stats = model.stats
    ln_nil_pe = math.log(1.0 / stats.total_annotated_count)

    for doc_id, ms in by_doc.items():
        # window slicing over text spans
        text_spans = [
            (i, span) for i, span in enumerate(docs[doc_id])
            if span["kind"] == "text"
        ]
        span_toks = {
            i: [t for t in tokenize_py(span["text"])
                if t not in model.stopwords]
            for i, span in text_spans
        }
        total = sum(len(v) for v in span_toks.values())
        if total < max_context:
            win_of_span = {i: 0 for i, _ in text_spans}
        else:
            wins = _assign_windows(
                [len(span_toks[i]) for i, _ in text_spans], max_context
            )
            win_of_span = {i: w for (i, _), w in zip(text_spans, wins)}
        win_tokens: dict[int, list] = {}
        for i, _span in text_spans:
            win_tokens.setdefault(win_of_span[i], []).extend(span_toks[i])

        qtoks_by_win = {
            w: model.query_token_ids(toks) for w, toks in win_tokens.items()
        }
        nil_by_win = {
            w: model.nil_context_score(q) for w, q in qtoks_by_win.items()
        }

        # one context query per (window, resource) — the reference's
        # two-step collapse (DBTwoStepDisambiguator.scala:126-129)
        ctx_cache: dict[tuple[int, int], float] = {}

        for m in ms:
            win = win_of_span.get(m.span_idx, 0)
            qtoks = qtoks_by_win.get(win, [])
            nil_ctx = nil_by_win.get(win, 0.0)
            nil_score = nil_ctx + ln_nil_pe
            scored = []
            for sf_row, cm in model.candidates(m.sf):
                res = model.res_by_id[cm.res_id]
                if (win, cm.res_id) not in ctx_cache:
                    ctx_cache[(win, cm.res_id)] = model.context_score(
                        qtoks, cm.res_id
                    )
                ctx = ctx_cache[(win, cm.res_id)]
                p_se = math.log(cm.pair_count / sf_row.annotated_count)
                p_e = math.log(res.prior)
                score = p_se + ctx + p_e
                scored.append((score, ctx, res.uri, sf_row.sf))
            scored = [s for s in scored
                      if not math.isnan(s[0]) and s[0] > nil_score]
            scored.sort(key=lambda t: (-t[0], t[2], t[3]))
            if not scored:
                out[m.key] = {"uri": None, "final_score": None,
                              "ctx_score": None, "pct_second_rank": None}
                continue
            top = scored[0]
            pct_second = (
                math.exp(scored[1][0] - top[0]) if len(scored) > 1 else -1.0
            )
            sim_lse = _logsumexp([s[0] for s in scored] + [nil_score])
            ctx_lse = _logsumexp([s[1] for s in scored] + [nil_ctx])
            out[m.key] = {
                "uri": top[2],
                "final_score": math.exp(top[0] - sim_lse),
                "ctx_score": math.exp(top[1] - ctx_lse),
                "pct_second_rank": pct_second,
            }
    return out


def coreference_links(mentions, links: dict) -> dict:
    """AnnotationFilter.buildCoreferents (:101-123): later single-word
    mentions inherit the first earlier mention's resource when the earlier
    capitalized sf word-contains them. Independent re-implementation of
    operators/filters.coreference_resolution."""
    def is_coref(prev_sf: str, later_sf: str) -> bool:
        prev_words = prev_sf.split(" ")
        later_words = later_sf.split(" ")
        return (
            len(later_words) == 1
            and all(w[:1] == w[:1].upper() for w in prev_words)
            and later_words[0] in prev_words
        )

    out = dict(links)
    by_doc: dict[str, list] = {}
    for m in mentions:
        by_doc.setdefault(m.doc_id, []).append(m)
    for doc_id, ms in by_doc.items():
        ms = sorted(ms, key=lambda m: m.begin)
        for i, later in enumerate(ms):
            for prev in ms[:i]:
                if is_coref(prev.sf, later.sf):
                    src = out[prev.key]
                    out[later.key] = {
                        **out[later.key],
                        "uri": src["uri"],
                        "final_score": src["final_score"],
                        "pct_second_rank": src["pct_second_rank"],
                    }
                    break
    return out


def cluster_mentions(links: dict) -> dict[str, str]:
    """mention_key -> cluster_id: resolved URI, or a NIL singleton."""
    return {
        k: (f"uri:{v['uri']}" if v["uri"] is not None else f"nil:{k}")
        for k, v in links.items()
    }


def pairwise_f1(pred_clusters: dict[str, str], eval_pairs) -> float:
    tp = fp = fn = 0
    for row in eval_pairs.itertuples(index=False):
        pa = pred_clusters.get(row.mention_a)
        pb = pred_clusters.get(row.mention_b)
        pred_same = pa is not None and pa == pb
        if pred_same and row.same_entity:
            tp += 1
        elif pred_same and not row.same_entity:
            fp += 1
        elif not pred_same and row.same_entity:
            fn += 1
    if tp == 0:
        return 0.0
    p = tp / (tp + fp)
    r = tp / (tp + fn)
    return 2 * p * r / (p + r)


def _logsumexp(vals):
    m = max(vals)
    if m == -math.inf:
        return m
    return m + math.log(sum(math.exp(v - m) for v in vals))
