"""Reference-format corpus parsers: MilneWitten, AIDA CoNLL, the live
module's tiny.corpus.tsv, and wiki-markup occurrence extraction — plus a
pairwise-F1 run consuming the MilneWitten format end-to-end."""

import os

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.fixtures import oracle as O
from dbpedia_spotlight_spark.sources.eval_corpora import (
    parse_aida_lines,
    parse_milne_witten,
    read_aida,
    read_milne_witten,
)
from dbpedia_spotlight_spark.sources.wiki_corpus import (
    read_tiny_corpus,
    spans_from_text_py,
    tiny_corpus_documents,
    wiki_page_occurrences,
)

TINY_CORPUS = "/root/reference/live/src/main/resources/tiny.corpus.tsv"


# ---------------------------------------------------------------------------
# MilneWitten
# ---------------------------------------------------------------------------

def test_parse_milne_witten_offsets_and_defaults():
    p = ("Berlin is in [[Germany]]. See [[The Guardian (Nigeria)|Guardian"
         " newspaper|0.4]] too.")
    occs, clean = parse_milne_witten(p)
    assert clean == "Berlin is in Germany. See Guardian newspaper too."
    assert occs == [
        ("Germany", "Germany", 13, 1.0),
        ("The Guardian (Nigeria)", "Guardian newspaper", 26, 0.4),
    ]
    for uri, sf, off, _c in occs:
        assert clean[off:off + len(sf)] == sf


def test_parse_milne_witten_no_links():
    occs, clean = parse_milne_witten("plain text only")
    assert occs == [] and clean == "plain text only"


def _mw_render(fx):
    """Render each fixture doc's TEXT spans as MilneWitten paragraphs with
    [[uri|sf]] markup at the gold offsets; returns (rows, key_map) where
    key_map maps parsed mention key -> original fixture mention key."""
    gold = fx.gold_occurrences
    rows, key_map = [], {}
    for r in fx.documents.itertuples(index=False):
        for si, span in enumerate(r.spans):
            if span["kind"] != "text":
                continue
            text = span["text"]
            base = span["offset"]
            inside = gold[
                (gold.doc_id == r.doc_id)
                & (gold.offset >= base)
                & (gold.offset < base + len(text))
            ].sort_values("offset", ascending=False)
            marked = text
            pid = f"{r.doc_id}-{si + 1}"
            for g in inside.itertuples(index=False):
                local = int(g.offset) - base
                assert marked[local:local + len(g.sf)] == g.sf
                marked = (
                    marked[:local]
                    + f"[[{g.uri}|{g.sf}]]"
                    + marked[local + len(g.sf):]
                )
                key_map[f"{pid}:{local}"] = f"{r.doc_id}:{g.offset}"
            rows.append((pid, marked))
    return rows, key_map


def test_milne_witten_roundtrip_on_fixture(spark, fx):
    rows, _ = _mw_render(fx)
    paras = spark.createDataFrame(rows, "doc_id string, paragraph string")
    docs, occs = read_milne_witten(spark, paras)
    got_occ = {
        (r["doc_id"], r["offset"], r["sf"], r["uri"])
        for r in occs.collect()
    }
    # every rendered link parses back at the exact local offset
    want = set()
    rendered = dict(rows)
    for r in fx.documents.itertuples(index=False):
        for si, span in enumerate(r.spans):
            if span["kind"] != "text":
                continue
            pid = f"{r.doc_id}-{si + 1}"
            if pid not in rendered:
                continue
            g = fx.gold_occurrences
            inside = g[(g.doc_id == r.doc_id)
                       & (g.offset >= span["offset"])
                       & (g.offset < span["offset"] + len(span["text"]))]
            for occ in inside.itertuples(index=False):
                want.add((pid, int(occ.offset) - span["offset"],
                          occ.sf, occ.uri))
    assert got_occ == want
    # clean text round-trips to the original span text
    got_text = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in fx.documents.itertuples(index=False):
        for si, span in enumerate(r.spans):
            pid = f"{r.doc_id}-{si + 1}"
            if pid in got_text:
                assert got_text[pid] == span["text"]


def test_milne_witten_f1_end_to_end(spark, fx, fixture_dir):
    """Consume the MilneWitten rendering with the REAL pipeline and score
    pairwise F1 on the fixture's labeled eval pairs (>= 0.99)."""
    from dbpedia_spotlight_spark.plans.model_build import (
        model_from_fixture_dir,
    )
    from dbpedia_spotlight_spark.plans.pipeline import annotate, clusters_by_uri

    rows, key_map = _mw_render(fx)
    paras = spark.createDataFrame(rows, "doc_id string, paragraph string")
    docs, _gold = read_milne_witten(spark, paras)
    spanized = docs.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    model = model_from_fixture_dir(spark, fixture_dir)
    result = annotate(spanized, model)
    clusters = {
        key_map[r["mention_key"]]: r["cluster_id"]
        for r in clusters_by_uri(result.resolved).collect()
        if r["mention_key"] in key_map
    }
    f1 = O.pairwise_f1(clusters, fx.eval_pairs)
    assert f1 >= 0.99, f1


def test_milne_witten_htm_directory(spark, tmp_path):
    d = tmp_path / "mw"
    d.mkdir()
    (d / "a.htm").write_text(
        "<html><head><title>DocA</title></head><body>"
        "<p>Hello [[World]] one.</p><p>Another [[X|why]] para.</p>"
        "</body></html>"
    )
    (d / "b.htm").write_text(
        "<html><head><title>DocB</title></head><body>"
        "<p>No links here.</p></body></html>"
    )
    docs, occs = read_milne_witten(spark, str(d))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert texts == {
        "DocA-1": "Hello World one.",
        "DocA-2": "Another why para.",
        "DocB-1": "No links here.",
    }
    got = {(r["doc_id"], r["uri"], r["sf"], r["offset"])
           for r in occs.collect()}
    assert got == {
        ("DocA-1", "World", "World", 6),
        ("DocA-2", "X", "why", 8),
    }


# ---------------------------------------------------------------------------
# AIDA CoNLL
# ---------------------------------------------------------------------------

AIDA_SAMPLE = """-DOCSTART- (1 EU)
EU\tB\tEU\tEuropean_Union\tORGANIZATION
rejects\tO\tO\tO\tO
German\tB\tGerman\tGermany\tMISC
call\tO\tO\tO\tO
.
-DOCSTART- (2 Rare)
Germany\tB\tGermany\tGermany\tLOCATION
's\tO\tO\tO\tO
representative\tO\tO\tO\tO
to\tO\tO\tO\tO
the\tO\tO\tO\tO
European\tB\tEuropean Union\tEuropean_Union\tORGANIZATION
Union\tI\tEuropean Union\tEuropean_Union\tORGANIZATION
spoke\tO\tO\tO\tO
:
loudly\tO\tO\tO\tO
"""


def test_parse_aida_lines():
    docs = parse_aida_lines(AIDA_SAMPLE.splitlines())
    assert [d["doc_id"] for d in docs] == ["1_EU", "2_Rare"]
    d1, d2 = docs
    assert d1["text"] == "EU rejects German call."
    assert d1["occs"] == [
        ("European_Union", "EU", 0),
        ("Germany", "German", 11),
    ]
    # glue tokens reattach ('s and :) and offsets stay text-accurate
    assert d2["text"] == (
        "Germany's representative to the European Union spoke: loudly"
    )
    for uri, sf, off in d2["occs"]:
        assert d2["text"][off:off + len(sf)] == sf
    assert [o[0] for o in d2["occs"]] == ["Germany", "European_Union"]


def test_read_aida_dataframe(spark, tmp_path):
    p = tmp_path / "aida.tsv"
    p.write_text(AIDA_SAMPLE)
    docs, occs = read_aida(spark, str(p))
    assert docs.count() == 2
    got = {(r["doc_id"], r["uri"], r["offset"]) for r in occs.collect()}
    assert ("1_EU", "European_Union", 0) in got
    assert len(got) == 4


# ---------------------------------------------------------------------------
# tiny.corpus.tsv + wiki markup occurrences
# ---------------------------------------------------------------------------

def test_spans_from_text_interleaving():
    t = "intro File:A b.jpg|cap one. middle File:c.png end"
    spans = spans_from_text_py(t)
    kinds = [s["kind"] for s in spans]
    assert kinds == ["text", "image", "text", "image", "text"]
    assert spans[1]["media_ref"] == "File:A b.jpg"  # spaces allowed
    # offsets index the original text
    for s in spans:
        if s["kind"] == "text":
            assert t[s["offset"]:s["offset"] + len(s["text"])] == s["text"]
        else:
            assert t[s["offset"]:].startswith(s["media_ref"])


@pytest.mark.skipif(
    not os.path.exists(TINY_CORPUS), reason="reference fixture not present"
)
def test_tiny_corpus_end_to_end(spark):
    """Parse the reference's actual tiny.corpus.tsv and spot it."""
    pages = read_tiny_corpus(spark, TINY_CORPUS)
    n_pages = pages.count()
    assert n_pages > 0
    docs = tiny_corpus_documents(pages).cache()
    assert docs.count() == n_pages
    # media spans extracted with File: refs; text spans reconstruct prose
    kinds = docs.select(
        F.explode("spans").alias("s")
    ).groupBy("s.kind").count().collect()
    by_kind = {r["kind"]: r["count"] for r in kinds}
    assert by_kind.get("image", 0) > 0 and by_kind.get("text", 0) > 0
    # spot with a small dictionary over the real text
    from dbpedia_spotlight_spark.operators.spotting import (
        broadcast_automaton, build_automaton, spot_documents,
    )
    ac = broadcast_automaton(
        spark, build_automaton(["church", "tower", "Spain", "Granada"])
    )
    mentions = spot_documents(docs, ac)
    assert mentions.count() > 0
    sfs = {r["sf"].lower() for r in mentions.select("sf").distinct().collect()}
    assert sfs <= {"church", "tower", "spain", "granada"}


def test_wiki_page_occurrences(spark):
    markup = (
        "'''Alpha''' is a letter.{{infobox|x=1}}\n\n"
        "It links to [[Beta]] and [[Gamma ray|gamma]].\n\n"
        "== See also ==\n* [[Delta]]\n"
    )
    pages = spark.createDataFrame(
        [("Alpha", markup), ("Redir", "#REDIRECT [[Alpha]]")],
        "uri string, markup string",
    )
    docs, occs = wiki_page_occurrences(pages)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert "Alpha-p1" in texts and "Alpha is a letter." in texts["Alpha-p1"]
    got = {(r["doc_id"], r["uri"], r["sf"], r["offset"])
           for r in occs.collect()}
    assert ("Alpha-p2", "Beta", "Beta", 12) in got
    assert any(u == "Gamma_ray" and s == "gamma" for _d, u, s, _o in got)
    # redirect pages excluded; the See-also section stripped
    assert not any(d.startswith("Redir") for d, *_ in got)
    assert not any(u == "Delta" for _d, u, *_ in got)


_DUMP_XML = """<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/">
  <siteinfo><sitename>Wikipedia</sitename>
    <namespaces><namespace key="0" /><namespace key="1">Talk</namespace>
    </namespaces></siteinfo>
  <page>
    <title>Alpha Centauri</title>
    <ns>0</ns>
    <id>1</id>
    <revision><id>11</id>
      <text xml:space="preserve">'''Alpha Centauri''' is a star.

It links to [[Beta]] &amp; [[Gamma ray|gamma]] &lt;ref&gt;x&lt;/ref&gt;.
</text>
    </revision>
  </page>
  <page>
    <title>Redir Page</title>
    <ns>0</ns>
    <redirect title="Alpha Centauri" />
    <revision><text>#REDIRECT [[Alpha Centauri]]</text></revision>
  </page>
  <page>
    <title>Talk:Alpha Centauri</title>
    <ns>1</ns>
    <revision><text>talk chatter [[NotAnArticle]]</text></revision>
  </page>
  <page>
    <title>Q&amp;A</title>
    <ns>0</ns>
    <revision><text>Entities &amp;amp; escaping with [[Beta|b]].</text>
    </revision>
  </page>
</mediawiki>
"""


def test_read_wiki_dump_vs_etree_twin(spark, tmp_path):
    """XML dump slice parsed by the Spark reader must agree with an
    independent stdlib xml.etree parse (titles, redirect/ns filters,
    entity unescaping)."""
    import xml.etree.ElementTree as ET

    from dbpedia_spotlight_spark.sources.wiki_corpus import read_wiki_dump

    p = tmp_path / "dump.xml"
    p.write_text(_DUMP_XML)

    got = {
        r["uri"]: r["markup"] for r in read_wiki_dump(spark, str(p)).collect()
    }

    # independent twin
    root = ET.fromstring(_DUMP_XML)
    nsmap = {"mw": "http://www.mediawiki.org/xml/export-0.10/"}
    want = {}
    for page in root.findall("mw:page", nsmap):
        ns = page.findtext("mw:ns", "0", nsmap)
        if ns != "0" or page.find("mw:redirect", nsmap) is not None:
            continue
        title = page.findtext("mw:title", "", nsmap)
        text = page.findtext("mw:revision/mw:text", "", nsmap)
        want[title.replace(" ", "_")] = text
    assert set(got) == set(want) == {"Alpha_Centauri", "Q&A"}
    for uri in want:
        assert got[uri] == want[uri], uri
    assert "&" in got["Q&A"] and "&amp;" not in got["Alpha_Centauri"]
    assert "<ref>" in got["Alpha_Centauri"]


def test_wiki_dump_occurrences_end_to_end(spark, tmp_path):
    """Dump scan + markup strip + paragraph split + link occurrences, as
    `cli ingest-wiki --input-format xml-dump` composes them."""
    from dbpedia_spotlight_spark.sources.wiki_corpus import read_wiki_dump

    p = tmp_path / "dump.xml"
    p.write_text(_DUMP_XML)
    docs, occs = wiki_page_occurrences(read_wiki_dump(spark, str(p)))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {(r["doc_id"], r["uri"], r["sf"]) for r in occs.collect()}
    assert ("Alpha_Centauri-p2", "Beta", "Beta") in got
    assert ("Alpha_Centauri-p2", "Gamma_ray", "gamma") in got
    assert not any(d.startswith("Redir") for d, *_ in got)
    assert not any(d.startswith("Talk") for d, *_ in got)
    # offsets index the cleaned paragraph text
    for r in occs.collect():
        t = texts[r["doc_id"]]
        assert t[r["offset"]:r["offset"] + len(r["sf"])] == r["sf"]


def test_wikipedia_heldout_corpus(spark, tmp_path):
    """Pig heldout lines -> paragraph docs + gold occurrences; identical
    lines collapse (the reference groups by paragraph text)."""
    from dbpedia_spotlight_spark.sources.wiki_corpus import (
        read_wikipedia_heldout,
    )

    lines = [
        "The [[Apple Inc.|company]] sells [[Banana|fruit]] daily.",
        "Visit [[Old Name]] for history.",
        "The [[Apple Inc.|company]] sells [[Banana|fruit]] daily.",  # dup
        "",
    ]
    p = tmp_path / "heldout.txt"
    p.write_text("\n".join(lines) + "\n")

    docs, occs = read_wikipedia_heldout(spark, str(p))
    d = docs.collect()
    assert len(d) == 2  # dup line collapsed, empty dropped
    got = {(r["uri"], r["sf"]) for r in occs.collect()}
    assert got == {
        ("Apple_Inc.", "company"), ("Banana", "fruit"),
        ("Old_Name", "Old Name"),
    }


# ---------------------------------------------------------------------------
# CSAW
# ---------------------------------------------------------------------------

def test_read_csaw(spark, tmp_path):
    from dbpedia_spotlight_spark.sources.eval_corpora import read_csaw

    d = tmp_path / "csaw"
    (d / "crawledDocs").mkdir(parents=True)
    (d / "crawledDocs" / "doc_A.txt").write_text(
        "Barack Obama spoke in Berlin today."
    )
    (d / "crawledDocs" / "doc_B.txt").write_text("Nothing annotated here.")
    (d / "crawledDocs" / "docPaths.txt").write_text("skip me")
    (d / "CSAW_Annotations.xml").write_text(
        "<annotations>"
        "<annotation><docName>doc_A.txt</docName>"
        "<wikiName>Barack_Obama</wikiName>"
        "<offset>0</offset><length>12</length></annotation>"
        "<annotation><docName>doc_A.txt</docName>"
        "<wikiName>Berlin</wikiName>"
        "<offset>22</offset><length>6</length></annotation>"
        "<annotation><docName>doc_A.txt</docName>"
        "<wikiName></wikiName>"        # empty wikiName -> dropped
        "<offset>28</offset><length>5</length></annotation>"
        "</annotations>"
    )
    docs, occs = read_csaw(spark, str(d))
    names = {r["doc_id"] for r in docs.collect()}
    assert names == {"doc_A.txt", "doc_B.txt"}  # docPaths.txt skipped
    got = {(r["doc_id"], r["uri"], r["sf"], r["offset"])
           for r in occs.collect()}
    assert got == {
        ("doc_A.txt", "Barack_Obama", "Barack Obama", 0),
        ("doc_A.txt", "Berlin", "Berlin", 22),
    }


# ---------------------------------------------------------------------------
# PREDOSE + TAC-KBP
# ---------------------------------------------------------------------------

def test_read_predose(spark, tmp_path):
    from dbpedia_spotlight_spark.sources.eval_corpora import (
        parse_predose_lines, read_predose,
    )

    content = (
        "The patient took oxycodone daily.\n"
        "17\t26\toxycodone\tOxycodone\n"
        "\n"
        "No annotations in this one.\n"
        "\n"
    )
    docs = parse_predose_lines(content.splitlines())
    assert len(docs) == 2
    assert docs[0]["occs"] == [("Oxycodone", "oxycodone", 17)]
    assert docs[0]["text"][17:26] == "oxycodone"

    p = tmp_path / "predose.tsv"
    p.write_text(content)
    ddf, odf = read_predose(spark, str(p))
    assert ddf.count() == 2
    rows = odf.collect()
    assert len(rows) == 1
    assert (rows[0]["uri"], rows[0]["sf"], rows[0]["offset"]) == (
        "Oxycodone", "oxycodone", 17
    )


def test_evaluate_corpus_on_milne_witten_format(spark, fx, fixture_dir):
    """The reference's full printed metric block, computed over a corpus
    consumed FROM the MilneWitten format (the user-facing eval loop)."""
    from dbpedia_spotlight_spark.plans.evaluation import evaluate_corpus
    from dbpedia_spotlight_spark.plans.model_build import (
        model_from_fixture_dir,
    )

    rows, _ = _mw_render(fx)
    paras = spark.createDataFrame(rows, "doc_id string, paragraph string")
    docs, gold = read_milne_witten(spark, paras)
    model = model_from_fixture_dir(spark, fixture_dir)
    metrics = evaluate_corpus(docs, gold, model)
    # gold spots come from the dictionary itself -> near-perfect recall;
    # disambiguation on the fixture model is the e2e-verified path
    assert metrics["spotting"]["recall"] >= 0.99
    assert metrics["disambiguation"]["accuracy"] >= 0.95
    assert metrics["disambiguation"]["mrr"] >= metrics[
        "disambiguation"]["accuracy"]
    assert 0.0 <= metrics["disambiguation"]["not_found_rate"] <= 0.05
    assert metrics["prior_baseline_accuracy"] <= 1.0
    assert metrics["n_gold_occurrences"] > 0
