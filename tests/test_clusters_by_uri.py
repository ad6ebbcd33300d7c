"""clusters_by_uri: the one ER clustering of resolve, er_clusters and
er_stream. Linked mentions cluster by URI under their smallest
mention_key, NIL mentions are singletons, and every mention_key gets
exactly one row — also when several rows share a key (overlapping spots,
each rewritten by coreference on its own)."""

from pyspark.sql import functions as F

from dbpedia_spotlight_spark.plans.pipeline import clusters_by_uri

RESOLVED = "mention_key string, uri string"


def _rows(spark, rows):
    out = clusters_by_uri(spark.createDataFrame(rows, RESOLVED)).collect()
    keys = [r["mention_key"] for r in out]
    assert len(keys) == len(set(keys)), "one row per mention_key"
    return {r["mention_key"]: (r["cluster_id"], r["uri"]) for r in out}


def test_output_columns(spark):
    df = clusters_by_uri(spark.createDataFrame([("1:0", "U")], RESOLVED))
    assert df.columns == ["mention_key", "cluster_id", "uri"]


def test_empty_input(spark):
    assert _rows(spark, []) == {}


def test_all_nil_mentions_are_singletons(spark):
    rows = [(f"{d}:{b}", None) for d in range(5) for b in (0, 7)]
    assert _rows(spark, rows) == {k: (k, None) for k, _ in rows}


def test_all_nil_input_is_not_one_task(spark):
    """NIL keys must not share a window partition, or an all-NIL input
    runs as a single task."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = [(f"{d}:0", None) for d in range(64)]
        parts = (
            clusters_by_uri(spark.createDataFrame(rows, RESOLVED))
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set(key, old)
    assert parts > 1


def test_one_uri_holds_every_mention(spark):
    rows = [("3:5", "U"), ("1:9", "U"), ("2:0", "U"), ("1:10", "U")]
    assert _rows(spark, rows) == {k: ("1:10", "U") for k, _ in rows}


def test_clusters_by_uri_with_nil_singletons(spark):
    rows = [("a", "U1"), ("b", "U1"), ("c", None), ("d", "U2")]
    assert _rows(spark, rows) == {
        "a": ("a", "U1"), "b": ("a", "U1"),
        "c": ("c", None), "d": ("d", "U2"),
    }


def test_duplicate_key_with_two_uris_takes_the_smaller(spark):
    # "1:0" carries U2 and U1: it joins U1's cluster only, and U2's
    # cluster is not merged into U1's
    rows = [("1:0", "U2"), ("1:0", "U1"), ("0:5", "U2"), ("2:0", "U1")]
    assert _rows(spark, rows) == {
        "1:0": ("1:0", "U1"), "2:0": ("1:0", "U1"),
        "0:5": ("0:5", "U2"),
    }


def test_duplicate_key_with_one_uri(spark):
    rows = [("1:0", "U"), ("1:0", "U"), ("2:0", "U"), ("3:0", None),
            ("3:0", "U")]
    # a key with a linked row and a NIL row is linked
    assert _rows(spark, rows) == {
        "1:0": ("1:0", "U"), "2:0": ("1:0", "U"), "3:0": ("1:0", "U"),
    }
