"""Property-based tests (hypothesis) for the pure-Python kernels."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from dbpedia_spotlight_spark.functions.normalize import sf_normalize_py
from dbpedia_spotlight_spark.functions.similarity import (
    _levenshtein,
    jaro_winkler_py,
)
from dbpedia_spotlight_spark.operators.ahocorasick import (
    AhoCorasick,
    is_boundary,
    spot_text,
)
from dbpedia_spotlight_spark.operators.redirects import close_redirects

words = st.text(alphabet="abcxyz", min_size=1, max_size=6)
texts = st.text(alphabet="abcxyz ,.()-", min_size=0, max_size=80)


@given(st.lists(words, min_size=1, max_size=8), texts)
@settings(max_examples=200, deadline=None)
def test_ac_spots_are_word_bounded_and_disjoint(patterns, text):
    ac = AhoCorasick(patterns)
    spots = spot_text(ac, text)
    prev_end = -1
    for start, ln in spots:
        assert text[start : start + ln].lower() in {p.lower() for p in patterns}
        assert start == 0 or is_boundary(text[start - 1])
        end = start + ln
        assert end >= len(text) or is_boundary(text[end])
        assert start > prev_end
        prev_end = end


@given(st.lists(words, min_size=1, max_size=5), texts)
@settings(max_examples=100, deadline=None)
def test_ac_overlap_superset_of_filtered(patterns, text):
    ac = AhoCorasick(patterns)
    assert set(spot_text(ac, text)) <= set(spot_text(ac, text, overlap=True))


@given(texts)
@settings(max_examples=200, deadline=None)
def test_sf_normalize_idempotent(s):
    assert sf_normalize_py(sf_normalize_py(s)) == sf_normalize_py(s)


@given(words, words)
@settings(max_examples=200, deadline=None)
def test_jw_symmetric_and_bounded(a, b):
    assert jaro_winkler_py(a, b) == jaro_winkler_py(b, a)
    assert 0.0 <= jaro_winkler_py(a, b) <= 1.0
    assert jaro_winkler_py(a, a) == 1.0


@given(words, words, words)
@settings(max_examples=100, deadline=None)
def test_levenshtein_triangle(a, b, c):
    assert _levenshtein(a, c) <= _levenshtein(a, b) + _levenshtein(b, c)
    assert _levenshtein(a, b) == _levenshtein(b, a)


@given(st.dictionaries(words, words, max_size=12))
@settings(max_examples=200, deadline=None)
def test_redirect_closure_is_fixpoint(pairs):
    closed = close_redirects(pairs)
    for src, final in closed.items():
        # final is terminal (no outgoing redirect) or a cycle representative
        assert final not in pairs or closed.get(final) == final


# ---------------------------------------------------------------------------
# FSA token-n-gram kernel == AC kernel (default greedy mode)
# ---------------------------------------------------------------------------

phrases = st.lists(
    st.lists(words, min_size=1, max_size=3).map(" ".join),
    min_size=1,
    max_size=8,
)
rich_texts = st.text(alphabet="abcxyz ,.()-'\n", min_size=0, max_size=120)


@given(phrases, rich_texts)
@settings(max_examples=300, deadline=None)
def test_fsa_kernel_equals_ac_greedy(patterns, text):
    from dbpedia_spotlight_spark.operators.fsa_spotting import (
        FSADictionary,
        _greedy,
    )
    from test_fsa_spotting import _scan_span

    ac = AhoCorasick(patterns)
    want = spot_text(ac, text)  # greedy leftmost-longest, word-bounded
    fsa = FSADictionary(patterns)
    got = [(b, e - b) for b, e, _sf in _greedy(_scan_span(text, fsa))]
    assert got == want


@given(phrases, rich_texts)
@settings(max_examples=200, deadline=None)
def test_fsa_all_matches_are_word_bounded_ac_matches(patterns, text):
    """Every FSA match is an AC automaton match that is word-bounded on
    both sides (the overlap=True delta: AC also emits mid-word hits)."""
    from dbpedia_spotlight_spark.operators.fsa_spotting import FSADictionary
    from test_fsa_spotting import _scan_span

    ac = AhoCorasick(patterns)
    all_ac = set(spot_text(ac, text, overlap=True))
    fsa = FSADictionary(patterns)
    for b, e, sf in _scan_span(text, fsa):
        assert (b, e - b) in all_ac
        assert b == 0 or is_boundary(text[b - 1])
        assert e >= len(text) or is_boundary(text[e])
        assert text[b:e] == sf


# ---------------------------------------------------------------------------
# MilneWitten render/parse round trip
# ---------------------------------------------------------------------------

clean_texts = st.text(alphabet="abcxyz ,.()-\n", min_size=0, max_size=80)
link_words = st.text(alphabet="abcxyz", min_size=1, max_size=8)


@given(
    clean_texts,
    st.lists(st.tuples(link_words, link_words), min_size=0, max_size=5),
    st.data(),
)
@settings(max_examples=200, deadline=None)
def test_milne_witten_roundtrip_property(text, links, data):
    """Inserting [[uri|sf]] markup at arbitrary positions must parse back
    to the exact clean text with exact offsets."""
    from dbpedia_spotlight_spark.sources.eval_corpora import (
        parse_milne_witten,
    )

    # choose insertion points right-to-left so offsets stay valid
    positions = sorted(
        (data.draw(st.integers(0, len(text))) for _ in links), reverse=True
    )
    marked = text
    expected = []
    clean = text
    for (uri, sf), pos in zip(links, positions):
        marked = marked[:pos] + f"[[{uri}|{sf}]]" + marked[pos:]
        clean = clean[:pos] + sf + clean[pos:]
    occs, got_clean = parse_milne_witten(marked)
    assert got_clean == clean
    assert len(occs) == len(links)
    for uri, sf, off, conf in occs:
        assert got_clean[off:off + len(sf)] == sf
        assert conf == 1.0


@given(st.lists(st.tuples(link_words, st.booleans()), min_size=1,
                max_size=30))
@settings(max_examples=200, deadline=None)
def test_aida_offsets_property(tokens):
    """Every B-tagged token's offset points at its surface form in the
    rebuilt text, regardless of glue-token placement."""
    from dbpedia_spotlight_spark.sources.eval_corpora import (
        parse_aida_lines,
    )

    lines = ["-DOCSTART- (1 T)"]
    glue = ["'s", ":", ",", "!", "."]
    for i, (w, tagged) in enumerate(tokens):
        if tagged:
            lines.append(f"{w}\tB\t{w}\tUri_{w}\tTYPE")
        elif i % 4 == 3:
            lines.append(glue[i % 5])
        else:
            lines.append(w)
    docs = parse_aida_lines(lines)
    assert len(docs) == 1
    d = docs[0]
    for uri, sf, off in d["occs"]:
        assert d["text"][off:off + len(sf)] == sf
