"""Wiki-markup stripping, paragraph splitting, URI cleanup (SURVEY.md §2.2).

Column-expression recast of core/.../string/WikiMarkupStripper.scala
(regex cascade: sections :35-50, refs :122-128, HTML, magic words,
formatting :81-114, bullets :136-151, newline collapse :164-192), the
paragraph-split regex of index/.../io/WikiOccurrenceSource.scala:35, and
the URI cleanup of model/DBpediaResource.scala:138-140 /
WikipediaToDBpediaClosure.scala:61-88. Needed by corpus/fixture
ingestion, not the serving pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SECTION_HEADS = ("see also", "references", "further reading",
                  "external links")


def strip_wiki_markup_expr(col: Column) -> Column:
    """stripEverything (:35-50) as a regexp_replace cascade."""
    out = col
    # trailing sections (from the heading to end of text)
    for head in _SECTION_HEADS:
        out = F.regexp_replace(
            out, rf"(?is)==+\s*{head}\s*==+.*$", ""
        )
    # <ref>..</ref> and self-closing refs (:122-128)
    out = F.regexp_replace(out, r"(?is)<ref[^>]*/>", "")
    out = F.regexp_replace(out, r"(?is)<ref[^>]*>.*?</ref>", "")
    # magic words / templates {{..}} (innermost-first, two passes cover
    # one nesting level)
    out = F.regexp_replace(out, r"\{\{[^{}]*\}\}", "")
    out = F.regexp_replace(out, r"\{\{[^{}]*\}\}", "")
    # headings and emphasis formatting
    out = F.regexp_replace(out, r"==+([^=]*)==+", "$1")
    out = F.regexp_replace(out, r"'{2,5}", "")
    # bullets / indents at line start (:136-151)
    out = F.regexp_replace(out, r"(?m)^[\*#:;]+\s*", "")
    # HTML tags
    out = F.regexp_replace(out, r"(?s)<[^>]+>", "")
    # collapse >2 newlines (:164-192)
    out = F.regexp_replace(out, r"\n{3,}", "\n\n")
    return F.trim(out)


def wiki_link_text_expr(col: Column) -> Column:
    """[[Target|anchor]] / [[Target]] -> anchor text (link flattening,
    the TextNode view of WikiOccurrenceSource.scala:128+)."""
    out = F.regexp_replace(col, r"\[\[(?:[^\]\|]*\|)?([^\]\|]*)\]\]", "$1")
    return out


def split_paragraphs_expr(col: Column) -> Column:
    """Paragraph split regex (WikiOccurrenceSource.scala:35):
    one or more blank lines / <br/> runs -> array of paragraphs."""
    parts = F.split(col, r"(\n|<br\s*/?>)+")
    return F.filter(parts, lambda p: F.trim(p) != "")


def clean_uri_expr(col: Column) -> Column:
    """DBpediaResource URI cleanup (:138-140): strip the DBpedia
    namespace, cut anchors, drop a leading slash, wiki-encode spaces."""
    out = F.regexp_replace(col, r"^https?://[a-z.]*dbpedia\.org/resource/", "")
    out = F.regexp_replace(out, r"#.*$", "")
    out = F.regexp_replace(out, r"^/", "")
    out = F.regexp_replace(out, r"\s", "_")
    return out
