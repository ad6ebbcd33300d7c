"""Wiki-markup stripping, URI cleanup, overlap resolution."""

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.functions.markup import (
    clean_uri_expr,
    split_paragraphs_expr,
    strip_wiki_markup_expr,
    wiki_link_text_expr,
)
from dbpedia_spotlight_spark.operators.spot_scoring import (
    drop_overlapping_spots,
)


def _one(spark, expr, value):
    return spark.createDataFrame([(value,)], "v string").select(
        expr(F.col("v")).alias("out")
    ).collect()[0]["out"]


def test_strip_wiki_markup(spark):
    markup = (
        "'''Berlin''' is a city.{{Infobox|x=1}}\n"
        "== History ==\nOld<ref name=\"a\">cite</ref> text.\n"
        "* a bullet\n<div>html</div>\n"
        "== See also ==\n* [[Potsdam]]\n"
    )
    out = _one(spark, strip_wiki_markup_expr, markup)
    assert "'''" not in out and "{{" not in out
    assert "<ref" not in out and "<div>" not in out
    assert "See also" not in out and "Potsdam" not in out
    assert "Berlin is a city." in out
    assert "a bullet" in out and "* a bullet" not in out
    assert "History" in out  # heading text kept, markers stripped


def test_wiki_link_text(spark):
    assert _one(spark, wiki_link_text_expr,
                "see [[Berlin|the capital]] and [[Potsdam]]") == \
        "see the capital and Potsdam"


def test_split_paragraphs(spark):
    out = _one(spark, split_paragraphs_expr, "p one\n\np two<br/>p three")
    assert list(out) == ["p one", "p two", "p three"]


def test_clean_uri(spark):
    assert _one(spark, clean_uri_expr,
                "http://dbpedia.org/resource/Berlin#history") == "Berlin"
    assert _one(spark, clean_uri_expr, "/New York") == "New_York"


def test_drop_overlapping_spots(spark):
    rows = [
        # longer spot wins when probability is comparable
        ("d1:10", "d1", 10, "Dilma Rousseff", 0.6, "ac"),
        ("d1:10b", "d1", 10, "Dilma", 0.9, "ac"),
        # shorter wins when >2x more probable
        ("d1:40", "d1", 40, "New York City", 0.1, "ac"),
        ("d1:40b", "d1", 40, "New York", 0.5, "ac"),
        # non-overlapping survives
        ("d1:80", "d1", 80, "Berlin", 0.5, "ac"),
    ]
    spots = spark.createDataFrame(
        rows,
        "mention_key string, doc_id string, begin int, sf string,"
        " spot_prob double, spot_type string",
    )
    out = {r["mention_key"] for r in drop_overlapping_spots(spots).collect()}
    assert out == {"d1:10", "d1:40b", "d1:80"}
