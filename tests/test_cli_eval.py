"""CLI evaluate / ingest-wiki subcommands (subprocess, user surface)."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

TINY_CORPUS = "/root/reference/live/src/main/resources/tiny.corpus.tsv"
ROOT = Path(__file__).resolve().parent.parent
ENV = dict(os.environ, PYTHONPATH=str(ROOT))


def _run(args, timeout=420):
    r = subprocess.run(
        [sys.executable, "-m", "dbpedia_spotlight_spark.cli", *args,
         "--master", "local[2]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, env=ENV, cwd=ROOT,
        timeout=timeout,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_cli_evaluate_milnewitten(fixture_dir, fx, tmp_path):
    # model
    model_dir = str(tmp_path / "model")
    out = _run(["model-build", "--fixture-dir", fixture_dir,
                "--output", model_dir])
    assert out["status"] == "ok"
    # render the fixture as MilneWitten .htm files
    from tests.test_eval_corpora import _mw_render

    d = tmp_path / "mw"
    d.mkdir()
    rows, _ = _mw_render(fx)
    for pid, marked in rows:
        (d / f"{pid}.htm").write_text(
            f"<html><head><title>{pid}</title></head><body>"
            f"<p>{marked}</p></body></html>"
        )
    metrics = _run([
        "evaluate", "--corpus", str(d), "--corpus-format", "milnewitten",
        "--model-dir", model_dir,
    ])
    assert metrics["status"] == "ok"
    assert metrics["spotting"]["recall"] >= 0.99
    assert metrics["disambiguation"]["accuracy"] >= 0.95
    assert metrics["n_gold_occurrences"] > 0
    # EvaluateSpotlightModel.scala:20-55 timing/footprint parity fields
    assert metrics["annotation_time_sec"] > 0
    assert metrics["annotation_time_avg_sec"] > 0
    assert metrics["memory_footprint_model_mb"] >= 0
    assert metrics["memory_footprint_mb"] >= 0
    # and the printed block contains the reference's exact field names
    from dbpedia_spotlight_spark.plans.evaluation import format_metric_block

    block = format_metric_block(metrics)
    for line in ("Memory footprint (model loaded):",
                 "Memory footprint (corpus):",
                 "Annotation time:", "Annotation time avg:",
                 "Memory footprint:"):
        assert line in block, line


@pytest.mark.skipif(
    not os.path.exists(TINY_CORPUS), reason="reference fixture not present"
)
def test_cli_ingest_wiki_tiny_corpus(tmp_path):
    out_dir = str(tmp_path / "ingested")
    out = _run(["ingest-wiki", "--input", TINY_CORPUS,
                "--output", out_dir])
    assert out["status"] == "ok" and out["documents"] > 0
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{out_dir}/documents")
    assert set(tbl.column_names) == {"doc_id", "spans"}
    assert tbl.num_rows == out["documents"]
