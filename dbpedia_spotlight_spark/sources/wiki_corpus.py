"""Wikipedia corpus ingestion.

Two reference paths re-expressed Spark-first:

  * tiny.corpus.tsv (live/src/main/resources/tiny.corpus.tsv): one page
    per line, ``category \\t uri \\t text``; the text interleaves prose
    with ``File:<name>.<ext>`` media references. Parsed into the
    engine's mandated interleaved span schema (kind/text/media_ref/
    offset) — media refs become opaque media spans, everything else
    text spans, offsets into the original line text.
  * Wiki page markup -> occurrences (index/.../io/WikiOccurrenceSource
    .scala:84-128 + string/WikiMarkupStripper.scala): strip everything
    but links (JVM regex cascade in functions/markup.py), split into
    paragraphs (:35 splitDocumentRegex), then per paragraph extract
    ``[[Target|anchor]]`` links with clean-text offset re-arithmetic
    (same kernel as the MilneWitten corpus parser — the formats share
    the wiki-link syntax). Redirect and disambiguation pages are
    excluded (:106).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.markup import (
    clean_uri_expr,
    split_paragraphs_expr,
    strip_wiki_markup_expr,
)
from .eval_corpora import parse_milne_witten

# filenames may contain spaces ("File:Chi-rho mensa Louvre Ma 3023.jpg")
# but never '|' (caption separator) or newlines
_MEDIA_RE = re.compile(
    r"File:[^|\n]+?\.(?:jpe?g|png|gif|svg|ogg|ogv|webm|tiff?|pdf|mid)",
    re.IGNORECASE,
)

SPANS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def read_tiny_corpus(spark: SparkSession, path: str) -> DataFrame:
    """-> (category, uri, text), one page per line."""
    return (
        spark.read.option("sep", "\t")
        .option("quote", "")
        .schema("category string, uri string, text string")
        .csv(path)
    )


def spans_from_text_py(text: str) -> list[dict]:
    """Interleave (text | media) spans; offsets index the original text."""
    spans = []
    last = 0
    for m in _MEDIA_RE.finditer(text):
        if m.start() > last:
            seg = text[last:m.start()]
            if seg.strip():
                spans.append(
                    {"kind": "text", "text": seg, "media_ref": "",
                     "offset": last}
                )
        spans.append(
            {"kind": "image", "text": "", "media_ref": m.group(),
             "offset": m.start()}
        )
        last = m.end()
    if last < len(text) and text[last:].strip():
        spans.append(
            {"kind": "text", "text": text[last:], "media_ref": "",
             "offset": last}
        )
    return spans


def tiny_corpus_documents(pages: DataFrame) -> DataFrame:
    """(category, uri, text) -> documents(doc_id, spans) in the mandated
    interleaved schema (doc_id = page uri)."""

    def to_spans(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["uri"],
                    "spans": [
                        spans_from_text_py(t if t is not None else "")
                        for t in pdf["text"]
                    ],
                }
            )

    return pages.mapInPandas(to_spans, schema=SPANS_SCHEMA)


def _xml_unescape(col):
    """The five predefined XML entities, &amp; last (JVM-side)."""
    out = col
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def read_wiki_dump(spark: SparkSession, path: str) -> DataFrame:
    """MediaWiki XML dump -> pages(uri, markup), main namespace only.

    The Spark recast of WikiOccurrenceSource.fromXMLDumpFile
    (index/.../io/WikiOccurrenceSource.scala:40-43: XMLSource.fromFile
    with a ``_.title.namespace == Namespace.Main`` filter): the dump is
    read as text split on ``</page>`` (a custom Hadoop line delimiter —
    streaming and input-splittable, so a multi-TB dump scans in
    parallel; literal ``</page>`` cannot occur inside page text because
    element content is XML-escaped). Title/ns/text are regex-extracted
    and entity-unescaped JVM-side; ``<redirect``-tagged and non-main-
    namespace pages are dropped (redirect markup is re-checked
    downstream in wiki_page_occurrences, matching the reference's
    double guard). For .bz2 dumps use the multistream file split into
    chunks upstream — codec splitting is an ingest concern, not a
    parser one."""
    raw = spark.read.option("lineSep", "</page>").text(path)
    title = F.regexp_extract("value", r"(?s)<title>(.*?)</title>", 1)
    ns = F.regexp_extract("value", r"(?s)<ns>(\d+)</ns>", 1)
    txt = F.regexp_extract("value", r"(?s)<text[^>]*>(.*?)</text>", 1)
    return (
        raw.filter(F.col("value").contains("<title>"))
        .select(
            title.alias("t"),
            ns.alias("ns"),
            F.col("value").rlike(r"<redirect[ />]").alias("is_red"),
            txt.alias("m"),
        )
        # old dumps omit <ns>; treat absent as main
        .filter((F.col("ns") == "0") | (F.col("ns") == ""))
        .filter(~F.col("is_red"))
        .select(
            F.regexp_replace(_xml_unescape(F.col("t")), " ", "_")
            .alias("uri"),
            _xml_unescape(F.col("m")).alias("markup"),
        )
    )


def read_wikipedia_heldout(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Pig-export heldout corpus: ONE MediaWiki paragraph per line ->
    (documents(doc_id, text), gold occurrences(occ_id, doc_id, uri, sf,
    offset)).

    The Spark recast of WikipediaHeldoutCorpus.scala:24-47 +
    WikiOccurrenceSource.fromPigHeldoutFile (:71-79): every line becomes
    a one-paragraph page through the same markup-strip + link-extraction
    path. doc_id is a content hash of the line — the reference groups
    occurrences by paragraph TEXT (groupBy(_.context)), so identical
    lines collapsing to one doc id matches its semantics exactly.

    The reference's resolveRedirectsAndFilter (:31-47) is not applied:
    gold URIs are taken as written, and unambiguous surface forms are
    kept."""
    pages = (
        spark.read.text(path)
        .filter(F.trim("value") != "")
        .select(
            F.concat(F.lit("heldout-"), F.md5(F.trim("value"))).alias("uri"),
            F.trim(F.col("value")).alias("markup"),
        )
        .distinct()
    )
    return wiki_page_occurrences(pages)


_REDIRECT_RE = r"(?is)^\s*#redirect"
_DISAMBIG_RE = r"(?is)\{\{\s*(disambig|dab\b|hndis)"


def wiki_page_occurrences(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """pages(uri, markup) -> (documents(doc_id, text),
                              occurrences(occ_id, doc_id, uri, sf, offset)).

    doc_id = ``<page>-p<i>`` (WikiOccurrenceSource.scala:106 idBase).
    Markup stripping and paragraph splitting stay JVM-side; only the
    per-paragraph link/offset extraction runs in an Arrow kernel."""
    paras = (
        pages.filter(~F.col("markup").rlike(_REDIRECT_RE))
        .filter(~F.col("markup").rlike(_DISAMBIG_RE))
        .select(
            clean_uri_expr(F.col("uri")).alias("page"),
            F.posexplode(
                split_paragraphs_expr(
                    strip_wiki_markup_expr(F.col("markup"))
                )
            ).alias("pidx", "paragraph"),
        )
        .select(
            F.concat(F.col("page"), F.lit("-p"),
                     (F.col("pidx") + 1).cast("string")).alias("doc_id"),
            "paragraph",
        )
    )

    def extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["paragraph"]):
                occs, clean = parse_milne_witten(p)
                rows.append(
                    (
                        doc_id,
                        clean,
                        [
                            (f"{doc_id}-{off}", doc_id,
                             uri.replace(" ", "_"), sf, off)
                            for uri, sf, off, _conf in occs
                        ],
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "text", "occs"])

    parsed = paras.mapInPandas(
        extract,
        schema=(
            "doc_id string, text string, occs array<struct<"
            "occ_id:string,doc_id:string,uri:string,sf:string,offset:int>>"
        ),
    ).cache()
    documents = parsed.select("doc_id", "text")
    occurrences = parsed.select(F.explode("occs").alias("o")).select("o.*")
    return documents, occurrences
