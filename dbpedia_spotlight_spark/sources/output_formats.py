"""REST output shapes: XML / JSON / HTML / RDFa / NIF renderings.

Per-document renderings of annotate() results, matching the reference's
REST output surface (rest/.../web/rest/OutputManager.java):

  * XML  — <Annotation text confidence support ...><Resources><Resource
    URI support types surfaceForm offset similarityScore
    percentageOfSecondRank/>...</Resources></Annotation>
    (makeAnnotationXML / getResourcesXml :117-142).
  * JSON — the xml2json view (:231-240): same tree with ``@``-prefixed
    attribute keys, as net.sf.json's XMLSerializer emits.
  * HTML — text with <a href title target>sf</a> links, wrapped in the
    HTMLFormatter main template (:280-291), newlines -> <br/>.
  * RDFa — XHTML+RDFa links carrying about/typeof attributes, most
    specific type last (RDFaFormatter :293-327).
  * NIF  — NIF 2.0 turtle: a nif:Context with isString/beginIndex/
    endIndex plus one nif:Phrase per occurrence with anchorOf and
    itsrdf:taIdentRef (nlp2rdf/NIFWrapper.java).

Rendering is one Arrow kernel over per-document occurrence lists — the
string assembly is inherently per-document; everything upstream
(annotate, filters, offset sort) stays DataFrame-native.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DBPEDIA_PREFIX = "http://dbpedia.org/resource/"

_XML_ESCAPES = [
    ("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
    ('"', "&quot;"), ("'", "&apos;"),
]


def _esc(s) -> str:
    s = "" if s is None else str(s)
    for a, b in _XML_ESCAPES:
        s = s.replace(a, b)
    return s


_HTML_MAIN = (
    '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN" '
    '"http://www.w3.org/TR/html4/loose.dtd">\n<html>\n<head>\n'
    "<title>DBpedia Spotlight annotation</title>\n"
    '<meta http-equiv="Content-type" content="text/html;charset=UTF-8">\n'
    "</head>\n<body>\n<div>\n{content}\n</div>\n</body>\n</html>"
)
_RDFA_MAIN = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML+RDFa 1.0//EN" '
    '"http://www.w3.org/MarkUp/DTD/xhtml-rdfa-1.dtd">\n'
    '<html xmlns="http://www.w3.org/1999/xhtml" '
    'xmlns:lexvo="http://lexvo.org/ontology#" '
    'xmlns:dbpedia="http://dbpedia.org/resource/" '
    'xmlns:dbpo="http://dbpedia.org/ontology/">\n<head>\n'
    "<title>DBpedia Spotlight annotation</title>\n</head>\n<body>\n<div>\n"
    "{content}\n</div>\n</body>\n</html>"
)


def _occ_sorted(occs) -> list:
    return sorted(occs, key=lambda o: int(o["begin"]))


def _types(o) -> list:
    t = o["types"]
    return [] if t is None else list(t)


def _resource_attrs(o) -> list[tuple[str, str]]:
    return [
        ("URI", DBPEDIA_PREFIX + (o["uri"] or "")),
        ("support", str(o["support"] if o["support"] is not None else 0)),
        ("types", ",".join(_types(o))),
        ("surfaceForm", o["sf"]),
        ("offset", str(int(o["begin"]))),
        ("similarityScore", repr(float(o["final_score"]))
         if o["final_score"] is not None else "0.0"),
        ("percentageOfSecondRank",
         repr(float(o["pct_second_rank"]))
         if o["pct_second_rank"] is not None else "-1.0"),
    ]


def _render_xml(text, occs, confidence, support) -> str:
    parts = [
        '<?xml version="1.0" encoding="utf-8"?>\n',
        f'<Annotation text="{_esc(text)}" confidence="{confidence}"'
        f' support="{support}">\n',
    ]
    linked = [o for o in _occ_sorted(occs) if o["uri"] is not None]
    if linked:
        parts.append("  <Resources>\n")
        for o in linked:
            attrs = " ".join(
                f'{k}="{_esc(v)}"' for k, v in _resource_attrs(o)
            )
            parts.append(f"    <Resource {attrs}/>\n")
        parts.append("  </Resources>\n")
    parts.append("</Annotation>")
    return "".join(parts)


def _render_json(text, occs, confidence, support) -> str:
    doc = {
        "@text": text,
        "@confidence": str(confidence),
        "@support": str(support),
    }
    linked = [o for o in _occ_sorted(occs) if o["uri"] is not None]
    if linked:
        doc["Resources"] = [
            {"@" + k: v for k, v in _resource_attrs(o)}
            for o in linked
        ]
    return json.dumps(doc, indent=2)


def _render_web(text, occs, link_fn, main_tpl) -> str:
    out = []
    last = 0
    for o in _occ_sorted(occs):
        if o["uri"] is None:
            continue
        b, e = int(o["begin"]), int(o["end"])
        out.append(text[last:b])
        out.append(link_fn(DBPEDIA_PREFIX + o["uri"], text[b:e], _types(o)))
        last = e
    out.append(text[last:])
    return main_tpl.format(content="".join(out).replace("\n", "<br/>"))


def _html_link(uri, sf, _types) -> str:
    return f'<a href="{uri}" title="{uri}" target="_blank">{sf}</a>'


def _rdfa_link(uri, sf, types) -> str:
    if types:
        t = types[-1]  # most specific type last (OutputManager.java:320)
        return (f'<a about="{uri}" typeof="{t}" href="{uri}"'
                f' title="{uri}">{sf}</a>')
    return (f'<a about="{uri}" href="{uri}" title="{uri}"'
            f' target="_blank" >{sf}</a>')


def _render_nif(text, occs, doc_uri) -> str:
    nif = "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#"
    n = len(text)
    ctx = f"{doc_uri}#char=0,{n}"
    lines = [
        f"@prefix nif: <{nif}> .",
        "@prefix itsrdf: <http://www.w3.org/2005/11/its/rdf#> .",
        "",
        f"<{ctx}>",
        "    a nif:Context, nif:RFC5147String ;",
        f'    nif:isString """{text}""" ;',
        '    nif:beginIndex "0"^^<http://www.w3.org/2001/XMLSchema#'
        'nonNegativeInteger> ;',
        f'    nif:endIndex "{n}"^^<http://www.w3.org/2001/XMLSchema#'
        'nonNegativeInteger> .',
    ]
    for o in _occ_sorted(occs):
        if o["uri"] is None:
            continue
        b, e = int(o["begin"]), int(o["end"])
        lines += [
            "",
            f"<{doc_uri}#char={b},{e}>",
            "    a nif:Phrase, nif:RFC5147String ;",
            f'    nif:anchorOf """{text[b:e]}""" ;',
            f'    nif:beginIndex "{b}"^^<http://www.w3.org/2001/'
            'XMLSchema#nonNegativeInteger> ;',
            f'    nif:endIndex "{e}"^^<http://www.w3.org/2001/'
            'XMLSchema#nonNegativeInteger> ;',
            f"    nif:referenceContext <{ctx}> ;",
            f"    itsrdf:taIdentRef <{DBPEDIA_PREFIX}{o['uri']}> .",
        ]
    return "\n".join(lines)


FORMATS = ("xml", "json", "html", "rdfa", "nif")


def render_outputs(
    documents: DataFrame,
    resolved: DataFrame,
    fmt: str = "xml",
    confidence: float = 0.0,
    support: int = 0,
) -> DataFrame:
    """(doc_id, output) — one rendered document per row.

    `documents` is (doc_id, spans) or (doc_id, text); `resolved` is
    annotate()'s resolved frame (doc_id, begin, end, sf, uri,
    final_score, pct_second_rank [, support, types])."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown output format: {fmt!r}")
    if "text" in documents.columns:
        docs = documents.select("doc_id", "text")
    else:
        # mention offsets live in the span-offset coordinate: place each
        # text span at its recorded offset on a space-filled canvas so
        # substrings at mention (begin, end) are exact
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import StringType

        @pandas_udf(StringType())
        def canvas(spans_col: pd.Series) -> pd.Series:
            out = []
            for spans in spans_col:
                buf: list[str] = []
                pos = 0
                for s in sorted(spans, key=lambda s: int(s["offset"])):
                    if s["kind"] != "text":
                        continue
                    off = int(s["offset"])
                    if off > pos:
                        buf.append(" " * (off - pos))
                        pos = off
                    buf.append(s["text"])
                    pos += len(s["text"])
                out.append("".join(buf))
            return pd.Series(out)

        docs = documents.select(
            "doc_id", canvas(F.col("spans")).alias("text")
        )
    cols = resolved.columns
    occ = resolved.select(
        "doc_id",
        F.struct(
            F.col("begin").cast("int").alias("begin"),
            F.col("end").cast("int").alias("end"),
            F.col("sf").alias("sf"),
            F.col("uri").alias("uri"),
            (F.col("support") if "support" in cols else F.lit(None))
            .cast("long").alias("support"),
            (F.col("types") if "types" in cols
             else F.lit(None).cast("array<string>")).alias("types"),
            (F.col("final_score") if "final_score" in cols else F.lit(None))
            .cast("double").alias("final_score"),
            (F.col("pct_second_rank") if "pct_second_rank" in cols
             else F.lit(None)).cast("double").alias("pct_second_rank"),
        ).alias("o"),
    ).groupBy("doc_id").agg(F.collect_list("o").alias("occs"))
    joined = docs.join(occ, "doc_id", "left")

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text, occs in zip(
                pdf["doc_id"], pdf["text"], pdf["occs"]
            ):
                occs = occs if occs is not None and len(occs) else []
                if fmt == "xml":
                    s = _render_xml(text, occs, confidence, support)
                elif fmt == "json":
                    s = _render_json(text, occs, confidence, support)
                elif fmt == "html":
                    s = _render_web(text, occs, _html_link, _HTML_MAIN)
                elif fmt == "rdfa":
                    s = _render_web(text, occs, _rdfa_link, _RDFA_MAIN)
                else:
                    s = _render_nif(text, occs, f"urn:doc:{doc_id}")
                out.append((doc_id, s))
            yield pd.DataFrame(out, columns=["doc_id", "output"])

    return joined.mapInPandas(render, schema="doc_id string, output string")
