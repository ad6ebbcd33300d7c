"""Selectors, eval harness, CLI."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from dbpedia_spotlight_spark.operators.selectors import (
    chained_selector,
    common_word_blacklist,
    short_sf_selector,
    whitelist_selector,
)
from dbpedia_spotlight_spark.plans import evaluation as E


def test_selectors(spark):
    mentions = spark.createDataFrame(
        [("m1", "Berlin"), ("m2", "the"), ("m3", "ab"), ("m4", "Paris")],
        "mention_key string, sf string",
    )
    common = spark.createDataFrame([("the",)], "word string")
    allow = spark.createDataFrame([("Berlin",), ("the",)], "sf string")
    out = chained_selector(
        mentions,
        lambda m: common_word_blacklist(m, common),
        lambda m: short_sf_selector(m, 3),
    )
    assert {r["sf"] for r in out.collect()} == {"Berlin", "Paris"}
    out2 = whitelist_selector(mentions, allow)
    assert {r["sf"] for r in out2.collect()} == {"Berlin", "the"}


# ---------------------------------------------------------------------------


def test_spotting_pr_and_disambiguation_metrics(spark):
    pred = spark.createDataFrame(
        [("d1", 0, "A"), ("d1", 10, "B"), ("d2", 0, "C")],
        "doc_id string, begin int, sf string",
    )
    gold = spark.createDataFrame(
        [("d1", 0, "A"), ("d1", 10, "B"), ("d2", 5, "D")],
        "doc_id string, offset int, sf string",
    )
    pr = E.spotting_pr(pred, gold)
    assert pr["tp"] == 2 and pr["fp"] == 1 and pr["fn"] == 1

    scored = spark.createDataFrame(
        [
            ("d1:0", "U1", 1), ("d1:0", "U2", 2),
            ("d1:10", "U9", 1),
        ],
        "mention_key string, uri string, rank int",
    )
    gold_uris = spark.createDataFrame(
        [("d1", 0, "U2"), ("d1", 10, "U5")],
        "doc_id string, offset int, uri string",
    )
    m = E.disambiguation_metrics(scored, gold_uris)
    assert m["accuracy"] == 0.0  # U2 is rank 2, U5 not found
    assert m["mrr"] == pytest.approx(0.25)  # 1/2 for U2, 0 for U5
    assert m["not_found_rate"] == 0.5


# ---------------------------------------------------------------------------


def test_cli_end_to_end(fixture_dir, tmp_path):
    """model-build then resolve via the packaged CLI (subprocess, the real
    spark-submit surface minus the cluster)."""
    root = Path(__file__).resolve().parent.parent
    env = dict(os.environ, PYTHONPATH=str(root))
    model_dir = str(tmp_path / "model")
    r = subprocess.run(
        [sys.executable, "-m", "dbpedia_spotlight_spark.cli", "model-build",
         "--fixture-dir", fixture_dir, "--output", model_dir,
         "--master", "local[2]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, env=env, cwd=root,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["status"] == "ok"

    out = str(tmp_path / "clusters")
    r2 = subprocess.run(
        [sys.executable, "-m", "dbpedia_spotlight_spark.cli", "resolve",
         "--documents", f"{fixture_dir}/documents.parquet",
         "--model-dir", model_dir, "--output", out,
         "--checkpoint-dir", str(tmp_path / "ckpt"),
         "--master", "local[2]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, env=env, cwd=root,
        timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    info = json.loads(r2.stdout.strip().splitlines()[-1])
    assert info["status"] == "ok" and info["clusters"] > 0

    # annotate with XML output rendering
    out_xml = str(tmp_path / "annotated_xml")
    r3 = subprocess.run(
        [sys.executable, "-m", "dbpedia_spotlight_spark.cli", "annotate",
         "--documents", f"{fixture_dir}/documents.parquet",
         "--model-dir", model_dir, "--output", out_xml,
         "--format", "xml",
         "--master", "local[2]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, env=env, cwd=root,
        timeout=600,
    )
    assert r3.returncode == 0, r3.stderr[-2000:]
    import pyarrow.parquet as pq

    tbl = pq.read_table(out_xml)
    outs = tbl.column("output").to_pylist()
    assert outs and all(o.startswith("<?xml") for o in outs)
    assert any("<Resource " in o for o in outs)


def test_package_zip(tmp_path):
    from dbpedia_spotlight_spark.package import build

    zip_path = build(str(tmp_path / "dist"))
    import zipfile

    names = zipfile.ZipFile(zip_path).namelist()
    assert "dbpedia_spotlight_spark/cli.py" in names
    assert "dbpedia_spotlight_spark/operators/spotting.py" in names
    assert os.path.exists(str(tmp_path / "dist" / "cli.py"))
