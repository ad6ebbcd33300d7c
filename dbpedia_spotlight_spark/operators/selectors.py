"""Spot selectors — post-spotting filters (SURVEY.md §2.3 selector row).

Spark recast of the reference selector family:
  * common-word blacklist  (spot/NonCommonWordSelector.scala:23-68,
    Wortschatz frequency list via io/WortschatzParser.scala) ->
    broadcast left_anti join
  * surface-form whitelist (spot/SurfaceFormWhitelistSelector.scala:34,
    bloom-filter dictionary util/bloomfilter/LongFastBloomFilter.java) ->
    broadcast left_semi join (a real filter, not approximate — Spark's
    broadcast hash set replaces the bloom filter)
  * minimum length         (spot/ShortSurfaceFormSelector.scala:10-12)
  * chained composition    (spot/ChainedSelector.scala:27,
    spot/SpotterWithSelector.java:38)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def common_word_blacklist(
    mentions: DataFrame, common_words: DataFrame
) -> DataFrame:
    """Drop mentions whose surface form is a common `word` (anti join)."""
    return mentions.join(
        F.broadcast(common_words.select(F.col("word").alias("sf"))),
        "sf",
        "left_anti",
    )


def whitelist_selector(mentions: DataFrame, whitelist: DataFrame) -> DataFrame:
    """Keep only whitelisted surface forms `sf` (semi join)."""
    return mentions.join(
        F.broadcast(whitelist.select("sf")),
        "sf",
        "left_semi",
    )


def short_sf_selector(mentions: DataFrame, min_length: int = 3) -> DataFrame:
    return mentions.filter(F.length("sf") >= min_length)


def chained_selector(mentions: DataFrame, *selectors) -> DataFrame:
    """ChainedSelector.scala:27 — apply selectors in order."""
    out = mentions
    for sel in selectors:
        out = sel(out)
    return out
