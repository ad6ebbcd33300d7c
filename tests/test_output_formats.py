"""XML/JSON/HTML/RDFa/NIF output renderings (OutputManager.java parity
shapes) over real annotate() results."""

import json
import re
import xml.etree.ElementTree as ET

import pytest

from dbpedia_spotlight_spark.plans.model_build import model_from_fixture_dir
from dbpedia_spotlight_spark.plans.pipeline import annotate
from dbpedia_spotlight_spark.sources.output_formats import (
    FORMATS,
    render_outputs,
)


@pytest.fixture(scope="module")
def annotated(spark, fixture_dir):
    model = model_from_fixture_dir(spark, fixture_dir)
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    res = annotate(docs, model)
    return docs, res.resolved.cache()


def _outputs(spark_docs, resolved, fmt):
    return {
        r["doc_id"]: r["output"]
        for r in render_outputs(spark_docs, resolved, fmt=fmt).collect()
    }


def test_xml_output_parses_and_carries_occurrences(annotated):
    docs, resolved = annotated
    outs = _outputs(docs, resolved, "xml")
    assert len(outs) == docs.count()
    linked = [r for r in resolved.collect() if r["uri"] is not None]
    by_doc = {}
    for r in linked:
        by_doc.setdefault(r["doc_id"], []).append(r)
    total_res = 0
    for doc_id, xml_str in outs.items():
        root = ET.fromstring(xml_str)
        assert root.tag == "Annotation"
        resources = root.findall("./Resources/Resource")
        total_res += len(resources)
        assert len(resources) == len(by_doc.get(doc_id, []))
        for el in resources:
            assert el.get("URI").startswith("http://dbpedia.org/resource/")
            off = int(el.get("offset"))
            assert root.get("text")[off:off + len(el.get("surfaceForm"))] \
                == el.get("surfaceForm")
    assert total_res == len(linked)


def test_json_output_shape(annotated):
    docs, resolved = annotated
    outs = _outputs(docs, resolved, "json")
    some_resources = False
    for doc_id, s in outs.items():
        d = json.loads(s)
        assert "@text" in d and "@confidence" in d
        for r in d.get("Resources", []):
            some_resources = True
            assert r["@URI"].startswith("http://dbpedia.org/resource/")
            assert "@similarityScore" in r and "@offset" in r
    assert some_resources


def test_html_and_rdfa_links(annotated):
    docs, resolved = annotated
    html = _outputs(docs, resolved, "html")
    rdfa = _outputs(docs, resolved, "rdfa")
    n_linked = sum(
        1 for r in resolved.collect() if r["uri"] is not None
    )
    n_html = sum(len(re.findall(r"<a href=", s)) for s in html.values())
    n_rdfa = sum(len(re.findall(r"<a about=", s)) for s in rdfa.values())
    assert n_html == n_linked == n_rdfa
    assert all(s.startswith("<!DOCTYPE HTML") for s in html.values())
    assert all("XHTML+RDFa" in s for s in rdfa.values())


def test_rdfa_typed_links_and_plain_text_docs(spark):
    docs = spark.createDataFrame(
        [("d0", "Obama visited Congress today")],
        "doc_id string, text string",
    )
    resolved = spark.createDataFrame(
        [
            ("d0", 0, 5, "Obama", "Barack_Obama", 10,
             ["Agent", "Person", "President"], 0.9, 0.1),
            ("d0", 14, 22, "Congress", "United_States_Congress", 5,
             [], 0.8, 0.2),
        ],
        "doc_id string, begin int, end int, sf string, uri string,"
        " support long, types array<string>, final_score double,"
        " pct_second_rank double",
    )
    out = render_outputs(docs, resolved, fmt="rdfa").collect()[0]["output"]
    # most specific type (last) goes into typeof=
    assert 'typeof="President"' in out
    assert ('<a about="http://dbpedia.org/resource/United_States_Congress"'
            ' href=') in out
    xml_out = render_outputs(docs, resolved, fmt="xml").collect()[0]["output"]
    assert 'types="Agent,Person,President"' in xml_out
    assert 'support="10"' in xml_out


def test_nif_output(annotated):
    docs, resolved = annotated
    outs = _outputs(docs, resolved, "nif")
    linked = [r for r in resolved.collect() if r["uri"] is not None]
    n_phrases = sum(s.count("a nif:Phrase") for s in outs.values())
    assert n_phrases == len(linked)
    for s in outs.values():
        assert "a nif:Context" in s and "nif:isString" in s
        for m in re.finditer(r'nif:anchorOf """(.*?)"""', s):
            assert m.group(1)  # non-empty anchors


def test_unknown_format_rejected(annotated):
    docs, resolved = annotated
    with pytest.raises(ValueError):
        render_outputs(docs, resolved, fmt="yaml")
    assert set(FORMATS) == {"xml", "json", "html", "rdfa", "nif"}
