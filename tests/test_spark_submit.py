"""The literal north_rule ship surface: `spark-submit --py-files
<package.zip> cli.py resolve ...` with the package imported ONLY from
the built zip (the subprocess runs outside the repo, PYTHONPATH unset).
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from dbpedia_spotlight_spark.fixtures.generator import (
        FixtureConfig,
        generate,
        write_parquet,
    )

    d = str(tmp_path_factory.mktemp("submitfx"))
    write_parquet(generate(FixtureConfig(n_docs=40, seed=13)), d)
    return d


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files_resolve(fixture_dir, tmp_path):
    from dbpedia_spotlight_spark.package import build

    zip_path = build(str(tmp_path / "dist"))
    driver_script = str(tmp_path / "dist" / "cli.py")

    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }
    env["HOME"] = str(tmp_path)  # no repo-relative state

    model_dir = str(tmp_path / "model")
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--py-files", zip_path, driver_script,
         "model-build", "--fixture-dir", fixture_dir,
         "--output", model_dir,
         "--master", "local[2]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["status"] == "ok"

    out = str(tmp_path / "clusters")
    r2 = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--py-files", zip_path, driver_script,
         "resolve", "--documents", f"{fixture_dir}/documents.parquet",
         "--model-dir", model_dir, "--output", out,
         "--checkpoint-dir", str(tmp_path / "ckpt"),
         "--master", "local[2]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-3000:]
    info = json.loads(r2.stdout.strip().splitlines()[-1])
    assert info["status"] == "ok" and info["clusters"] > 0
    # per-partition lineage + counters landed with the checkpointed run
    manifest = json.load(open(str(tmp_path / "ckpt") + "/manifest.json"))
    assert manifest["stages"], "resolve run checkpointed no stages"
    for stage in manifest["stages"].values():
        assert "counters" in stage and "lineage" in stage
        assert stage["rows"] == sum(stage["partitions"].values())
