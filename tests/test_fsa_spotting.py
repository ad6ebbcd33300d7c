"""FSA token n-gram spotter must emit the identical mention set to the
Aho-Corasick spotter (FSASpotter.scala parity path)."""

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.operators import fsa_spotting as FS
from dbpedia_spotlight_spark.operators.fsa_spotting import (
    build_fsa_dictionary,
    broadcast_fsa_dictionary,
    spot_documents_fsa,
)
from dbpedia_spotlight_spark.operators.spotting import (
    broadcast_automaton,
    build_automaton,
    spot_documents,
)


def _scan_span(text, fsa):
    """All word-bounded dictionary matches in one span: (b, e, sf_raw),
    residue matches included — the per-span reference the batched sweep
    and the AC spotter are compared against."""
    low = text if fsa.case_sensitive else text.lower()
    out = FS._scan_one(low, text, fsa)
    if fsa.residue is not None:
        out.extend(FS._residue_matches(text, fsa))
    return out


def _mentions_set(df):
    return {
        (r["doc_id"], r["span_idx"], r["begin"], r["end"], r["sf"])
        for r in df.collect()
    }


def test_fsa_equals_ac_on_fixture(spark, fixture_dir, stats):
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    sfs = list(stats.surface_form_stats.sf)
    ac = broadcast_automaton(spark, build_automaton(sfs))
    got_ac = _mentions_set(spot_documents(docs, ac))
    d = broadcast_fsa_dictionary(spark, build_fsa_dictionary(sfs))
    got_fsa = _mentions_set(spot_documents_fsa(docs, d))
    assert got_fsa == got_ac
    assert got_ac, "fixture must produce mentions"


def test_fsa_equals_ac_synthetic_edge_cases(spark):
    """Punctuation separators, multi-word phrases, nested/overlapping
    dictionary entries, case-insensitivity, phrase-internal hyphens."""
    sfs = [
        "New York", "New York City", "York", "big apple",
        "O'Brien", "e-mail", "spark",
    ]
    texts = [
        "I saw New York City, then the big apple itself!",
        "new york city; New York. york alone",
        "O'Brien sent an e-mail about Spark (spark!)",
        "punctuation:spark,spark.spark-spark",
        "separator e mail must not match",
        "nothing matches here",
        "",
        "York",
    ]
    rows = [
        (
            f"d{i}",
            [
                {"kind": "text", "text": t, "media_ref": "", "offset": 0},
                {"kind": "image", "text": "", "media_ref": "m.png",
                 "offset": len(t)},
            ],
        )
        for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    ac = broadcast_automaton(spark, build_automaton(sfs))
    got_ac = _mentions_set(spot_documents(docs, ac))
    d = broadcast_fsa_dictionary(spark, build_fsa_dictionary(sfs))
    got_fsa = _mentions_set(spot_documents_fsa(docs, d))
    assert got_fsa == got_ac
    assert got_ac  # the cases must actually exercise matches
    # separator fidelity: "e mail" text never matches dictionary "e-mail"
    assert not any(m[4].lower() == "e mail" for m in got_fsa)


def test_fsa_dictionary_rejects_boundary_edged_entries():
    with pytest.raises(ValueError):
        build_fsa_dictionary(["-bad"])
    with pytest.raises(ValueError):
        build_fsa_dictionary(["bad "])


def _docs_from_texts(spark, texts):
    rows = [
        (f"d{i}",
         [{"kind": "text", "text": t, "media_ref": "", "offset": 0}])
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def test_fsa_boundary_residue_equals_ac(spark):
    """on_boundary='ac' routes 'Yahoo!'/'U.S.'-style entries to the
    embedded residue automaton; combined output must equal the pure-AC
    spotter over the SAME dictionary (greedy runs over the union)."""
    sfs = ["Yahoo!", "U.S.", "New York", "York", "spark"]
    texts = [
        "Yahoo! bought a spark of New York",
        "the U.S. and new york; U.S.A. is different",
        "yahoo!alone and Yahoo! alone",
        "no matches",
    ]
    docs = _docs_from_texts(spark, texts)
    ac = broadcast_automaton(spark, build_automaton(sfs))
    got_ac = _mentions_set(spot_documents(docs, ac))
    d = broadcast_fsa_dictionary(
        spark, build_fsa_dictionary(sfs, on_boundary="ac")
    )
    got_fsa = _mentions_set(spot_documents_fsa(docs, d))
    assert got_fsa == got_ac
    assert any(m[4] == "Yahoo!" for m in got_fsa)
    assert any(m[4] == "U.S." for m in got_fsa)


def test_fsa_case_sensitive(spark):
    sfs = ["Spark", "New York"]
    texts = ["Spark and spark in New York and new york"]
    docs = _docs_from_texts(spark, texts)
    ac = broadcast_automaton(
        spark, build_automaton(sfs, case_sensitive=True)
    )
    got_ac = _mentions_set(spot_documents(docs, ac))
    d = broadcast_fsa_dictionary(
        spark, build_fsa_dictionary(sfs, case_sensitive=True)
    )
    got_fsa = _mentions_set(spot_documents_fsa(docs, d))
    assert got_fsa == got_ac
    matched = {m[4] for m in got_fsa}
    assert "Spark" in matched and "New York" in matched
    assert "spark" not in matched and "new york" not in matched


def test_fsa_multiword_offsets(spark):
    docs = spark.createDataFrame(
        [(
            "d0",
            [{"kind": "text", "text": "xx New York yy", "media_ref": "",
              "offset": 100}],
        )],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    d = build_fsa_dictionary(["New York"])
    rows = spot_documents_fsa(docs, d).collect()
    assert len(rows) == 1
    assert (rows[0]["begin"], rows[0]["end"], rows[0]["sf"]) == (
        103, 111, "New York"
    )


def test_scan_spans_batch_equals_per_span():
    """The batched Arrow-batch sweep must emit exactly the per-span
    matches — mixed ASCII/non-ASCII, empties, chunk boundaries."""
    import random

    rng = random.Random(11)
    vocab = ["alpha", "beta", "gamma", "delta", "new", "york", "café"]
    fsa = FS.FSADictionary(
        ["new york", "alpha", "beta gamma", "café noir", "Yahoo!"],
        on_boundary="ac",
    )
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
        for _ in range(200)
    ] + ["", "café noir in new york", "Yahoo! and alpha"]
    want = [sorted(_scan_span(t, fsa)) for t in texts]
    got = [sorted(m) for m in FS._scan_spans_batch(texts, fsa)]
    assert got == want

    # chunk-boundary coverage: force tiny chunks
    old = FS._BLOB_CHUNK
    FS._BLOB_CHUNK = 16
    try:
        got_small = [sorted(m) for m in FS._scan_spans_batch(texts, fsa)]
    finally:
        FS._BLOB_CHUNK = old
    assert got_small == want


def test_group_hashes_nonascii_fallback_matches_scalar():
    import numpy as np

    from dbpedia_spotlight_spark.operators.fsa_spotting import (
        _group_hashes,
        _hash_token_py,
        _ngram_hashes,
        _TOKEN_RE,
    )

    sfs = ["café noir", "plain words", "naïve test"]
    got = _group_hashes(sorted(sfs), 2)
    want = np.unique(
        np.array(
            [
                _ngram_hashes(
                    np.array(
                        [_hash_token_py(t) for t in _TOKEN_RE.findall(s)],
                        dtype=np.uint64,
                    ),
                    2,
                )[0]
                for s in sfs
            ],
            dtype=np.uint64,
        )
    )
    assert (got == want).all()


def test_prefilter_never_changes_matches_and_rebuilds_after_pickle():
    """The bitmask prefilter is a pure pruning layer: scans with a
    freshly-built table, a pickled/unpickled dictionary (table dropped,
    rebuilt lazily), and a deliberately tiny table must all emit exactly
    the brute-force matches."""
    import pickle
    import random

    import numpy as np

    rng = random.Random(23)
    vocab = ["w%03d" % i for i in range(300)]
    phrases = [
        " ".join(rng.choice(vocab) for _ in range(rng.choice([1, 2, 3])))
        for _ in range(500)
    ]
    fsa = FS.FSADictionary(phrases)
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 40)))
        for _ in range(300)
    ]

    # brute force: every window checked against the exact phrase sets
    def brute(t):
        toks = [(m.start(), m.end(), m.group())
                for m in FS._TOKEN_RE.finditer(t)]
        out = []
        for n, (_h, sf_set) in fsa.by_n.items():
            for i in range(len(toks) - n + 1):
                b, e = toks[i][0], toks[i + n - 1][1]
                if t[b:e] in sf_set:
                    out.append((b, e, t[b:e]))
        return sorted(out)

    want = [brute(t) for t in texts]
    assert [sorted(m) for m in FS._scan_spans_batch(texts, fsa)] == want

    table, mask = fsa.prefilter()
    assert table.dtype == np.bool_ and fsa._prefilter is not None

    fsa2 = pickle.loads(pickle.dumps(fsa))
    assert fsa2._prefilter is None  # derived state never ships
    assert [sorted(m) for m in FS._scan_spans_batch(texts, fsa2)] == want

    # saturate a tiny table (all-True slots = prefilter disabled):
    # membership must still be exact via the binary-search + verify
    fsa2._prefilter = (np.ones(16, dtype=bool), np.uint64(15))
    assert [sorted(m) for m in FS._scan_spans_batch(texts, fsa2)] == want
