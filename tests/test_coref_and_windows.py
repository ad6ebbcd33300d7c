"""Coreference resolution and window slicing, the two per-document scans
between spotting and clustering, against their oracle twins; and a plan
guard that keeps both of them in the JVM."""

import random

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.fixtures import oracle as O
from dbpedia_spotlight_spark.functions.tokenize import tokenize_py
from dbpedia_spotlight_spark.operators.filters import coreference_resolution
from dbpedia_spotlight_spark.operators.windows import span_windows
from dbpedia_spotlight_spark.plans.model_build import model_from_fixture_dir
from dbpedia_spotlight_spark.plans.pipeline import resolve

_MENTION_SCHEMA = (
    "mention_key string, doc_id string, begin int, sf string, uri string,"
    " final_score double, pct_second_rank double"
)
_LINK = ("uri", "final_score", "pct_second_rank")

# capitalized and not, ASCII and not: É is its own upper case; é, ß (upper
# "SS") and the titlecase ǅ (upper Ǆ) are not; 𝔘 is a non-BMP letter with
# no case mapping, so it counts as capitalized
_WORDS = ["Berlin", "berlin", "Wall", "wall", "Élan", "élan", "ß", "Ǆ",
          "ǅ", "𝔘ber", "Paris", "A", ""]


def _links_frame(spark, mentions, links):
    return spark.createDataFrame(
        [(m.key, m.doc_id, m.begin, m.sf,
          *(links[m.key][c] for c in _LINK)) for m in mentions],
        _MENTION_SCHEMA,
    )


def _run_coref(spark, mentions, links):
    out = coreference_resolution(_links_frame(spark, mentions, links))
    rows = out.collect()
    assert len(rows) == len(mentions)   # exactly one row per input row
    return {r["mention_key"]: {c: r[c] for c in _LINK} for r in rows}


def _link(rng):
    if rng.random() < 0.2:   # NIL: no uri, no scores
        return {"uri": None, "final_score": None, "pct_second_rank": None}
    return {"uri": f"U{rng.randrange(6)}",
            "final_score": rng.random(), "pct_second_rank": rng.random()}


def _random_docs(rng, n_docs):
    mentions = []
    for d in range(n_docs):
        # distinct begins: the oracle's order among equal begins is its
        # input order, which a DataFrame does not keep
        begins = sorted(rng.sample(range(200), rng.randrange(0, 12)))
        for b in begins:
            n_words = rng.choice([1, 1, 1, 2, 3])
            sf = " ".join(rng.choice(_WORDS) for _ in range(n_words))
            mentions.append(O.OracleMention(f"d{d}", b, sf, 0))
    return mentions


def test_coref_matches_oracle_on_random_documents(spark):
    rng = random.Random(20261017)
    mentions = [
        # a chain: both later "Berlin"s take the first donor's link
        O.OracleMention("chain", 0, "Berlin Wall", 0),
        O.OracleMention("chain", 20, "Berlin", 0),
        O.OracleMention("chain", 40, "Berlin", 0),
        # a NIL donor: its NULL uri and scores propagate
        O.OracleMention("nil", 0, "Paris Wall", 0),
        O.OracleMention("nil", 9, "Paris", 0),
        # a lowercase donor is rejected, the later capitalized one is not
        O.OracleMention("lower", 0, "berlin Wall", 0),
        O.OracleMention("lower", 12, "Wall", 0),
        O.OracleMention("lower", 20, "berlin", 0),
        # double spaces make an empty word, which an empty sf matches
        O.OracleMention("empty", 0, "Berlin  Wall", 0),
        O.OracleMention("empty", 14, "", 0),
        # non-ASCII and non-BMP first letters
        O.OracleMention("uni", 0, "Élan 𝔘ber", 0),
        O.OracleMention("uni", 10, "𝔘ber", 0),
        O.OracleMention("uni", 20, "ß Wall", 0),
        O.OracleMention("uni", 30, "ß", 0),
        O.OracleMention("uni", 40, "ǅ Élan", 0),
        O.OracleMention("uni", 50, "ǅ", 0),
        O.OracleMention("uni", 60, "Élan", 0),
    ] + _random_docs(rng, 300)
    links = {m.key: _link(rng) for m in mentions}
    for i, m in enumerate(mentions[:17]):   # the fixed cases are linked
        links[m.key] = {"uri": f"F{i}", "final_score": i / 17,
                        "pct_second_rank": 0.5}
    links["nil:0"] = {"uri": None, "final_score": None,
                      "pct_second_rank": None}

    got = _run_coref(spark, mentions, links)
    want = O.coreference_links(mentions, links)
    assert got == want
    rewritten = sum(got[k] != links[k] for k in links)
    assert rewritten > 100, rewritten

    assert got["chain:20"] == got["chain:40"] == links["chain:0"]
    assert got["nil:9"]["uri"] is None and links["nil:9"]["uri"] is not None
    assert got["lower:20"] == links["lower:20"]
    assert got["lower:12"] == links["lower:12"]
    assert got["empty:14"] == links["empty:0"]
    assert got["uni:10"] == links["uni:0"]
    assert got["uni:30"] == links["uni:30"]     # ß is not capitalized
    assert got["uni:50"] == links["uni:50"]     # nor is ǅ
    assert got["uni:60"] == links["uni:0"]      # É is


def test_coref_empty_input(spark):
    empty = spark.createDataFrame([], _MENTION_SCHEMA)
    out = coreference_resolution(empty)
    assert out.columns == [
        c.split(" ")[0] for c in _MENTION_SCHEMA.split(", ")
    ]
    assert out.count() == 0


def test_coref_mentions_sharing_a_begin_are_deterministic(spark):
    """With `overlap=True` several spots start at one offset. A donor at a
    mention's own begin never counts; donors at one begin are ordered by
    (uri, final_score, pct_second_rank), NULL uri first."""
    rows = [
        # a donor and a mention of its word at one begin: no rewrite
        ("a:0", "a", 0, "Berlin Wall", "W", 0.9, 0.1),
        ("a:0", "a", 0, "Berlin", "C", 0.5, 0.2),
        # a later mention takes the smallest donor of the earliest begin
        ("a:7", "a", 7, "Berlin", "X", 0.4, 0.3),
        # a NULL uri sorts before a linked donor at the same begin
        ("b:0", "b", 0, "Paris Wall", "P", 0.9, 0.1),
        ("b:0", "b", 0, "Paris Hilton", None, None, None),
        ("b:5", "b", 5, "Paris", "Y", 0.3, 0.3),
        ("b:5", "b", 5, "Wall", "Z", 0.3, 0.3),
    ]
    df = spark.createDataFrame(rows, _MENTION_SCHEMA)
    for _ in range(3):   # the same answer whatever the partitioning
        got = sorted(
            (tuple(r) for r in coreference_resolution(
                df.repartition(3, F.rand())
            ).collect()),
            key=str,
        )
        assert got == sorted([
            ("a:0", "a", 0, "Berlin Wall", "W", 0.9, 0.1),
            ("a:0", "a", 0, "Berlin", "C", 0.5, 0.2),
            ("a:7", "a", 7, "Berlin", "C", 0.5, 0.2),
            ("b:0", "b", 0, "Paris Wall", "P", 0.9, 0.1),
            ("b:0", "b", 0, "Paris Hilton", None, None, None),
            ("b:5", "b", 5, "Paris", None, None, None),
            ("b:5", "b", 5, "Wall", "P", 0.9, 0.1),
        ], key=str)


_SPAN_SCHEMA = "doc_id string, spans array<struct<kind:string,text:string>>"
_STOPWORDS = ["the", "of"]


def _text(rng, n_tok):
    words = [rng.choice(["alpha", "beta", "x1"]) for _ in range(n_tok)]
    # stopwords and punctuation add no token
    return " the, ".join(words) + rng.choice(["", ".", " of"])


def _expected_windows(docs, max_context):
    out = set()
    for doc_id, spans in docs:
        text = [
            (i, len([t for t in tokenize_py(s[1]) if t not in _STOPWORDS]))
            for i, s in enumerate(spans) if s[0] == "text"
        ]
        wins = O._assign_windows([n for _, n in text], max_context)
        out |= {(doc_id, i, w) for (i, _), w in zip(text, wins)}
    return out


def test_span_windows_match_oracle(spark):
    rng = random.Random(7)
    cap = 10
    docs = [
        # zero-token spans, the cap reached exactly, one span over the cap,
        # media spans between text spans
        ("edges", [("text", ""), ("text", _text(rng, 4)), ("media", "m"),
                   ("text", "the of ..."), ("text", _text(rng, 6)),
                   ("text", _text(rng, 25)), ("media", "m"),
                   ("text", _text(rng, 3)), ("text", _text(rng, 7)),
                   ("text", _text(rng, 0))]),
        ("media_only", [("media", "m"), ("media", "n")]),
        ("no_spans", []),
        # one long document bounds the per-document scan
        ("long", [("media", "m") if i % 7 == 3 else
                  ("text", _text(rng, rng.randrange(0, 5)))
                  for i in range(2100)]),
    ] + [
        (f"r{d}", [("media", "m") if rng.random() < 0.2 else
                   ("text", _text(rng, rng.randrange(0, 8)))
                   for _ in range(rng.randrange(1, 30))])
        for d in range(60)
    ]
    df = spark.createDataFrame(docs, _SPAN_SCHEMA)
    rows = span_windows(df, _STOPWORDS, cap).collect()
    got = [(r["doc_id"], r["span_idx"], r["window_id"]) for r in rows]
    want = _expected_windows(docs, cap)

    assert len(got) == len(set(got))
    assert set(got) == want
    by_doc = {}
    for d, i, w in got:
        by_doc.setdefault(d, {})[i] = w
    assert "media_only" not in by_doc and "no_spans" not in by_doc
    assert by_doc["edges"] == {0: 0, 1: 0, 3: 0, 4: 0, 5: 1, 7: 2, 8: 2,
                               9: 3}
    assert len(by_doc["long"]) == 1800 and max(by_doc["long"].values()) > 100


@pytest.fixture(scope="module")
def model(spark, fixture_dir):
    return model_from_fixture_dir(spark, fixture_dir)


def test_resolve_plan_runs_only_spotting_in_python(spark, fixture_dir,
                                                   model, fx):
    """With coref on (the default), the only Python node of `resolve` is
    the FSA spotting MapInPandas: coref and window slicing are JVM
    expressions."""
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    res = resolve(docs, model, stopwords=list(fx.stopwords.word))
    # the executed plan's text includes the plans of cached frames
    plan = res.clusters._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython",
                 "BatchEvalPython"):
        assert node not in plan, node
