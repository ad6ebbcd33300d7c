"""Reference-format evaluation corpus readers.

Two of the reference's AnnotatedTextSource formats, re-expressed as
DataFrame producers with pure-Python parse twins:

  * MilneWitten (eval/.../corpus/MilneWittenCorpus.scala:48-84): .htm
    documents; each <p> paragraph carries inline ``[[uri|sf|confidence]]``
    wiki links. Parsing strips the markup and re-offsets every surface
    form into the CLEAN text (accumulated length-difference arithmetic).
  * AIDA CoNLL (eval/.../corpus/AidaCorpus.scala:95-137): TSV of
    one token per line, ``-DOCSTART- (<id> <label>)`` document markers,
    B/I BIO tags; text is rebuilt by joining tokens with spaces, gluing
    's : , ! . back onto the previous token, and occurrence offsets are
    taken in the rebuilt text at each B tag.

Both readers return (documents, occurrences):
    documents(doc_id, text)  — one row per paragraph/document
    occurrences(occ_id, doc_id, uri, sf, offset, confidence)

Files parse distributed: wholetext rows -> mapInPandas (a corpus file is
one sequential unit; parallelism is across files, like the reference's
per-file sources).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_WIKILINK_RE = re.compile(r"\[\[(.*?)\]\]")

OCC_SCHEMA = (
    "occ_id string, doc_id string, uri string, sf string, "
    "offset int, confidence double"
)
DOC_SCHEMA = "doc_id string, text string"


def parse_milne_witten(paragraph: str) -> tuple[list[tuple], str]:
    """-> ([(uri, sf, clean_offset, confidence)], clean_text).

    Twin of MilneWittenCorpus.parse: ``[[uri|sf|conf]]``; sf defaults to
    uri, confidence to 1.0; offsets land in the markup-stripped text."""
    out = []
    clean = []
    last = 0
    acc_diff = 0
    for m in _WIKILINK_RE.finditer(paragraph):
        parts = m.group(1).split("|")
        uri = parts[0]
        sf = parts[1] if len(parts) > 1 else parts[0]
        conf = float(parts[2]) if len(parts) > 2 else 1.0
        offset = m.start() - acc_diff
        clean.append(paragraph[last:m.start()])
        clean.append(sf)
        last = m.end()
        acc_diff += (m.end() - m.start()) - len(sf)
        out.append((uri, sf, offset, conf))
    clean.append(paragraph[last:])
    return out, "".join(clean)


_P_TAG_RE = re.compile(r"<p[^>]*>(.*?)</p>", re.DOTALL | re.IGNORECASE)
_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>",
                       re.DOTALL | re.IGNORECASE)


def parse_milne_witten_document(html: str) -> list[tuple[str, str]]:
    """.htm content -> [(paragraph_id, raw_paragraph_markup)] with the
    reference's ids: ``<title>-<i>`` with i starting at 1."""
    tm = _TITLE_RE.search(html)
    title = tm.group(1).strip() if tm else ""
    return [
        (f"{title}-{i}", m.group(1).strip())
        for i, m in enumerate(_P_TAG_RE.finditer(html), start=1)
    ]


def _mw_rows(doc_id: str, paragraph: str):
    occs, clean = parse_milne_witten(paragraph)
    occ_rows = [
        (f"{doc_id}-{off}", doc_id, uri, sf, off, conf)
        for uri, sf, off, conf in occs
    ]
    return (doc_id, clean), occ_rows


def read_milne_witten(
    spark: SparkSession, path_or_df
) -> tuple[DataFrame, DataFrame]:
    """Read a directory of MilneWitten .htm files (or a prepared
    DataFrame(doc_id, paragraph) of raw markup paragraphs)."""
    if isinstance(path_or_df, DataFrame):
        paras = path_or_df

        def parse_batch(it: Iterator[pd.DataFrame]):
            for pdf in it:
                rows = []
                for doc_id, p in zip(pdf["doc_id"], pdf["paragraph"]):
                    (did, clean), occ_rows = _mw_rows(doc_id, p)
                    rows.append((did, clean, occ_rows))
                yield pd.DataFrame(
                    rows, columns=["doc_id", "text", "occs"]
                )
    else:
        files = spark.read.text(
            f"{path_or_df}/*.htm", wholetext=True
        ).withColumnRenamed("value", "html")

        def parse_batch(it: Iterator[pd.DataFrame]):
            for pdf in it:
                rows = []
                for html in pdf["html"]:
                    for pid, p in parse_milne_witten_document(html):
                        (did, clean), occ_rows = _mw_rows(pid, p)
                        rows.append((did, clean, occ_rows))
                yield pd.DataFrame(
                    rows, columns=["doc_id", "text", "occs"]
                )
        paras = files

    parsed = paras.mapInPandas(
        parse_batch,
        schema=(
            "doc_id string, text string, occs array<struct<"
            "occ_id:string,doc_id:string,uri:string,sf:string,"
            "offset:int,confidence:double>>"
        ),
    )
    from pyspark.sql import functions as F

    parsed = parsed.cache()
    documents = parsed.select("doc_id", "text")
    occurrences = parsed.select(F.explode("occs").alias("o")).select("o.*")
    return documents, occurrences


# ---------------------------------------------------------------------------
# PREDOSE
# ---------------------------------------------------------------------------

def parse_predose_lines(lines) -> list[dict]:
    """PREDOSE format (eval/.../corpus/PredoseCorpus.scala:15-53):
    blank-line-separated blocks; a text line followed by occurrence lines
    ``start \\t end \\t label \\t uri``; paragraph id = "PREDOSE" +
    hash(text line) — we use a content digest instead of the JVM
    hashCode (same role: a stable content-derived id)."""
    import hashlib

    occ_re = re.compile(r"^(\d+)\t(\d+)\t(.+?)\t(\S+)$")
    out: list[dict] = []
    cur_text, cur_id, cur_occs = "", "", []
    for line in lines:
        if not line.strip():
            if cur_id:
                out.append(
                    {"doc_id": cur_id, "text": cur_text, "occs": cur_occs}
                )
            cur_text, cur_id, cur_occs = "", "", []
            continue
        m = occ_re.match(line)
        if m:
            start, _end, label, uri = m.groups()
            cur_occs.append((uri, label, int(start)))
        else:
            cur_text = line
            cur_id = "PREDOSE" + hashlib.md5(line.encode()).hexdigest()[:12]
            cur_occs = []
    if cur_id:
        out.append({"doc_id": cur_id, "text": cur_text, "occs": cur_occs})
    return out


def read_predose(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    files = spark.read.text(path, wholetext=True)

    def parse_batch(it: Iterator[pd.DataFrame]):
        for pdf in it:
            rows = []
            for content in pdf["value"]:
                for doc in parse_predose_lines(content.splitlines()):
                    rows.append(
                        (
                            doc["doc_id"],
                            doc["text"],
                            [
                                (f"{doc['doc_id']}-{off}", doc["doc_id"],
                                 uri, sf, off, 1.0)
                                for uri, sf, off in doc["occs"]
                            ],
                        )
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "text", "occs"])

    from pyspark.sql import functions as F

    parsed = files.mapInPandas(
        parse_batch,
        schema=(
            "doc_id string, text string, occs array<struct<"
            "occ_id:string,doc_id:string,uri:string,sf:string,"
            "offset:int,confidence:double>>"
        ),
    ).cache()
    return (
        parsed.select("doc_id", "text"),
        parsed.select(F.explode("occs").alias("o")).select("o.*"),
    )


# ---------------------------------------------------------------------------
# CSAW
# ---------------------------------------------------------------------------

_CSAW_SKIP = {"CZdata1", "docPaths.txt", "13Oct08_allUrls.txt.txt"}


def read_csaw(spark: SparkSession, directory: str) -> tuple[DataFrame, DataFrame]:
    """CSAW corpus (eval/.../corpus/CSAWCorpus.scala:18-53): raw text
    files under <dir>/crawledDocs (doc_id = file name, special files
    skipped) + <dir>/CSAW_Annotations.xml with (docName, wikiName,
    offset, length) entries; the surface form is the document substring
    at [offset, offset+length). Empty wikiName entries are dropped."""
    import os
    import xml.etree.ElementTree as ET

    from pyspark.sql import functions as F

    texts = (
        spark.read.text(f"{directory}/crawledDocs/*", wholetext=True)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1)
            .alias("doc_id"),
            F.col("value").alias("text"),
        )
        .filter(~F.col("doc_id").isin(sorted(_CSAW_SKIP)))
        .filter(~F.col("doc_id").startswith("."))
    )
    root = ET.parse(os.path.join(directory, "CSAW_Annotations.xml")).getroot()
    rows = []
    for ann in root.iter("annotation"):
        doc = (ann.findtext("docName") or "").strip()
        wiki = (ann.findtext("wikiName") or "").strip()
        if not doc or not wiki:
            continue
        rows.append(
            (doc, wiki, int(ann.findtext("offset")),
             int(ann.findtext("length")))
        )
    ann_df = spark.createDataFrame(
        rows, "doc_id string, uri string, offset int, length int"
    )
    occurrences = (
        ann_df.join(texts, "doc_id")
        .select(
            F.concat_ws("-", "doc_id", F.col("offset").cast("string"))
            .alias("occ_id"),
            "doc_id",
            "uri",
            F.substring(
                F.col("text"), F.col("offset") + 1, F.col("length")
            ).alias("sf"),
            "offset",
            F.lit(1.0).alias("confidence"),
        )
    )
    return texts, occurrences


# ---------------------------------------------------------------------------
# AIDA CoNLL
# ---------------------------------------------------------------------------

NIL_URI = "--NME--"  # AidaCorpus.scala:77

_DOC_MARKER_RE = re.compile(r"^-DOCSTART- \((\d+)(.+)\)")
# ^(\S+)\t(\S+)\t(.+)\t(\S+)\t(\S+)$ (AidaCorpus.scala:100) — greedy (.+)
# means the URI is the SECOND-TO-LAST field on lines with extra columns
_AIDA_TOKEN_RE = re.compile(r"^(\S+)\t(\S+)\t(.+)\t(\S+)\t(\S+)$")
_GLUE_TOKENS = {"'s", ":", ",", "!", "."}


def parse_aida_lines(lines) -> list[dict]:
    """-> [{doc_id, text, occs: [(uri, sf, offset)]}] — twin of
    AidaCorpus.parseLines + the text rebuild in foreach (:29-67):
    tokens joined with single spaces, 's : , ! . glued onto the previous
    token (trailing space deleted first), occurrence offset = rebuilt
    text length at each B tag."""
    docs: list[dict] = []
    cur = None
    for line in lines:
        m = _DOC_MARKER_RE.match(line)
        if m:
            if cur is not None and cur["tokens"]:
                docs.append(cur)
            label = m.group(2).strip().replace(" ", "_")
            cur = {"doc_id": f"{m.group(1)}_{label}", "tokens": []}
            continue
        if cur is None:
            continue
        tm = _AIDA_TOKEN_RE.match(line)
        if tm:
            cur["tokens"].append(tm.groups())
        else:
            cur["tokens"].append((line.strip(), "", "", "", ""))
    if cur is not None and cur["tokens"]:
        docs.append(cur)

    out = []
    for doc in docs:
        buf: list[str] = []
        length = 0
        occs = []
        for token, bio, sf, uri, _typ in doc["tokens"]:
            if bio == "B":
                occs.append((uri, sf, length))
            if token in _GLUE_TOKENS and buf and buf[-1].endswith(" "):
                buf[-1] = buf[-1][:-1]  # delete the trailing space
                length -= 1
            buf.append(token + " ")
            length += len(token) + 1
        text = "".join(buf).strip()
        out.append({"doc_id": doc["doc_id"], "text": text, "occs": occs})
    return out


def read_aida(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read an AIDA CoNLL TSV file into (documents, occurrences)."""
    files = spark.read.text(path, wholetext=True)

    def parse_batch(it: Iterator[pd.DataFrame]):
        for pdf in it:
            rows = []
            for content in pdf["value"]:
                for doc in parse_aida_lines(content.splitlines()):
                    rows.append(
                        (
                            doc["doc_id"],
                            doc["text"],
                            [
                                (f"{doc['doc_id']}-{off}", doc["doc_id"],
                                 uri, sf, off, 1.0)
                                for uri, sf, off in doc["occs"]
                            ],
                        )
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "text", "occs"])

    parsed = files.mapInPandas(
        parse_batch,
        schema=(
            "doc_id string, text string, occs array<struct<"
            "occ_id:string,doc_id:string,uri:string,sf:string,"
            "offset:int,confidence:double>>"
        ),
    ).cache()
    from pyspark.sql import functions as F

    documents = parsed.select("doc_id", "text")
    occurrences = parsed.select(F.explode("occs").alias("o")).select("o.*")
    return documents, occurrences
