"""Driver-memory discipline of the dictionary builds (VERDICT r2 flag):
the AC automaton / FSA dictionary pull the surface-form column in one
Arrow collect and consume it record batch by record batch, never
collect()ing an O(dictionary) Row list on the driver, with identical spot
output."""

import os
import tracemalloc

import pytest
from pyspark.sql import DataFrame

from dbpedia_spotlight_spark.operators.fsa_spotting import (
    FSADictionary,
    build_fsa_dictionary,
    spot_documents_fsa,
)
from dbpedia_spotlight_spark.operators.spotting import (
    build_automaton,
    iter_column_strings,
)

N_PHRASES = 1_000_000 if os.environ.get("SPARK_GRAFT_SLOW") else 200_000


def _phrases(n):
    # two-token phrases over a synthetic vocab; a few boundary-edged ones
    for i in range(n):
        if i % 5000 == 4999:
            yield f"corp{i}!"  # residue-class entry
        else:
            yield f"word{i % 977} term{i}"


def test_fsa_build_never_calls_collect(spark, monkeypatch):
    """Structural proof of streaming: the DataFrame-sourced build must not
    materialize the full row list via collect()."""
    sfs = [f"word{i} term{i}" for i in range(50_000)]
    df = spark.createDataFrame([(s,) for s in sfs], "sf string").repartition(8)

    def _no_collect(self):
        raise AssertionError("dictionary build must stream, not collect()")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    d_stream = build_fsa_dictionary(df)
    monkeypatch.undo()
    d_list = build_fsa_dictionary(sfs)
    assert d_stream.max_n == d_list.max_n
    assert set(d_stream.by_n) == set(d_list.by_n)
    for n in d_list.by_n:
        hs, ss = d_stream.by_n[n]
        hl, sl = d_list.by_n[n]
        assert (hs == hl).all() and ss == sl


def test_ac_build_never_calls_collect(spark, monkeypatch):
    sfs = [f"word{i}" for i in range(20_000)]
    df = spark.createDataFrame([(s,) for s in sfs], "sf string").repartition(4)

    def _no_collect(self):
        raise AssertionError("automaton build must stream, not collect()")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    ac_stream = build_automaton(df)
    monkeypatch.undo()
    ac_list = build_automaton(sfs)
    assert ac_stream.find_all("word7 and word19999 but not wordx") == \
        ac_list.find_all("word7 and word19999 but not wordx")
    assert len(ac_stream.goto) == len(ac_list.goto)


def test_streamed_and_listed_dicts_spot_identically(spark):
    sfs = ["new york", "spark", "big apple"]
    df_sfs = spark.createDataFrame([(s,) for s in sfs], "sf string")
    docs = spark.createDataFrame(
        [(
            "d0",
            [{"kind": "text", "text": "spark in new york, the big apple",
              "media_ref": "", "offset": 0}],
        )],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out_stream = {
        (r["begin"], r["end"], r["sf"])
        for r in spot_documents_fsa(docs, build_fsa_dictionary(df_sfs)).collect()
    }
    out_list = {
        (r["begin"], r["end"], r["sf"])
        for r in spot_documents_fsa(docs, build_fsa_dictionary(sfs)).collect()
    }
    assert out_stream == out_list and len(out_list) == 3


def test_fsa_build_memory_bounded_large():
    """Incremental build bound: peak Python memory during a large build
    must stay within ~1.7x the finished dictionary (i.e. no full input
    materialization on top of the built hash sets). 10^6 phrases under
    SPARK_GRAFT_SLOW=1, 2*10^5 in the default tier."""
    tracemalloc.start()
    tracemalloc.reset_peak()
    before, _ = tracemalloc.get_traced_memory()
    d = FSADictionary(_phrases(N_PHRASES), on_boundary="skip")
    end, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    built = end - before
    transient = peak - end
    assert built > 0
    assert transient < 0.7 * built + 32 * 1024 * 1024, (
        f"transient {transient/1e6:.0f}MB vs built {built/1e6:.0f}MB"
    )
    # the build actually ingested everything
    assert sum(len(s) for _h, s in d.by_n.values()) == N_PHRASES - N_PHRASES // 5000
    assert len(d.skipped) == N_PHRASES // 5000


def test_iter_column_strings_skips_nulls(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("b",)], "sf string"
    )
    assert sorted(iter_column_strings(df, "sf")) == ["a", "b"]
