"""Build the spark-submit --py-files artifact (north_rule packaging).

    python -m dbpedia_spotlight_spark.package dist/

produces dist/dbpedia_spotlight_spark.zip (the importable package) and
dist/cli.py (the driver script), so a cluster run is:

    spark-submit --master yarn --deploy-mode cluster \
        --py-files dist/dbpedia_spotlight_spark.zip \
        dist/cli.py resolve --documents s3://... --model-dir ... \
        --output ... --checkpoint-dir ...
"""

from __future__ import annotations

import os
import sys
import zipfile


def build(out_dir: str) -> str:
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_root)
    os.makedirs(out_dir, exist_ok=True)
    zip_path = os.path.join(out_dir, "dbpedia_spotlight_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, repo_root)
                zf.write(full, rel)
    # the driver script: a thin shim importing the packaged CLI
    with open(os.path.join(out_dir, "cli.py"), "w") as f:
        f.write(
            "from dbpedia_spotlight_spark.cli import main\n\n"
            "if __name__ == '__main__':\n    main()\n"
        )
    return zip_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "dist"
    print(build(out))
