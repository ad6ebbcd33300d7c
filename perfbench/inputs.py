"""Seeded inputs and the oracle check for the product-path benchmark.

A pool fixture is generated once per checkout (`fixtures.generator
.generate` with a fixed seed) together with the Python oracle's answer for
every pool document, with and without coreference. Each run draws
`n_base` pool documents with its own seed and replicates them R times
under fresh doc ids (`<doc_id>~<r>`). The oracle is per document, so
every replica carries the answer of its base document.

The model is built once per checkout from the pool's training tables
(run.py); the generator's training corpus depends on the seed alone, so
one model serves every sample of the pool.

Nothing here imports Spark: the engine only reads the parquet written here.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPLICA_SEP = "~"
# the replicated corpus is split over this many parquet files, so the
# scan has more than one input split on any core count
DOC_FILES = 8


def replica_doc_id(doc_id: str, r: int) -> str:
    return f"{doc_id}{REPLICA_SEP}{r}"


def base_key(mention_key: str) -> str:
    """`doc-000007~3:412` -> `doc-000007:412` (mention_key = doc_id:begin)."""
    doc_id, begin = mention_key.rsplit(":", 1)
    return f"{doc_id.split(REPLICA_SEP, 1)[0]}:{begin}"


def replica_keys(base: str, replicas: int) -> list[str]:
    doc_id, begin = base.rsplit(":", 1)
    return [f"{replica_doc_id(doc_id, r)}:{begin}" for r in range(replicas)]


def build_pool(pool_dir: str, seed: int, n_docs: int, build_model) -> None:
    """Fixture parquet, oracle answers and the model
    (`build_model(fixture_dir, model_dir)`), written to a temp dir and
    renamed into place, so a pool directory that exists is complete."""
    from dbpedia_spotlight_spark.fixtures import oracle as O
    from dbpedia_spotlight_spark.fixtures.generator import (
        FixtureConfig,
        generate,
        write_parquet,
    )
    from dbpedia_spotlight_spark.fixtures.stats import build_stats

    fx = generate(FixtureConfig(n_docs=n_docs, seed=seed))
    stats = build_stats(fx)
    mentions = O.spot_documents(
        fx.documents, list(stats.surface_form_stats.sf)
    )
    links = O.link_mentions(
        mentions, fx.documents, O.OracleModel(stats, set(fx.stopwords.word))
    )
    coref = O.coreference_links(mentions, links)
    tmp = f"{pool_dir}.tmp-{os.getpid()}"
    write_parquet(fx, f"{tmp}/fixture")
    with open(f"{tmp}/oracle.json", "w") as f:
        json.dump({"plain": {k: v["uri"] for k, v in links.items()},
                   "coref": {k: v["uri"] for k, v in coref.items()}}, f)
    build_model(f"{tmp}/fixture", f"{tmp}/model")
    try:
        os.rename(tmp, pool_dir)
    except OSError:  # another run finished the same pool first
        shutil.rmtree(tmp, ignore_errors=True)


@dataclass
class Inputs:
    documents: str          # replicated documents (what the CLI reads)
    replicas: int
    n_base_docs: int
    n_docs: int
    n_mentions: int
    # base mention_key -> oracle URI (None = NIL) for the drawn documents
    base_uri: dict[str, str | None]


def draw_inputs(pool_dir: str, out_dir: str, seed: int, n_base: int,
                replicas: int, coref: bool) -> Inputs:
    pool = pq.read_table(f"{pool_dir}/fixture/documents.parquet")
    ids = sorted(random.Random(seed).sample(
        pool.column("doc_id").to_pylist(), n_base))
    base = pool.filter(pc.is_in(pool.column("doc_id"), pa.array(ids)))
    write_replicas(base, out_dir, replicas)
    with open(f"{pool_dir}/oracle.json") as f:
        answers = json.load(f)["coref" if coref else "plain"]
    drawn = set(ids)
    base_uri = {k: v for k, v in answers.items()
                if k.rsplit(":", 1)[0] in drawn}
    return Inputs(
        documents=out_dir,
        replicas=replicas,
        n_base_docs=n_base,
        n_docs=n_base * replicas,
        n_mentions=len(base_uri) * replicas,
        base_uri=base_uri,
    )


def write_replicas(base: pa.Table, out_dir: str, replicas: int) -> None:
    """R copies of the base documents under fresh doc ids, same schema."""
    ids = base.column("doc_id").to_pylist()
    col = base.schema.get_field_index("doc_id")
    copies = [
        base.set_column(col, "doc_id",
                        pa.array([replica_doc_id(d, r) for d in ids]))
        for r in range(replicas)
    ]
    table = pa.concat_tables(copies)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // DOC_FILES)
    for i in range(DOC_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, f"{out_dir}/part-{i:03d}.parquet")


def expected_cluster(mention_key: str, base_uri: dict) -> str:
    """Oracle cluster label of a replica mention: its base mention's URI,
    or a singleton of its own key when the base mention is NIL."""
    uri = base_uri[base_key(mention_key)]
    return f"uri:{uri}" if uri is not None else f"nil:{mention_key}"


def check_clusters(keys: list[str], cluster_ids: list[str],
                   base_uri: dict, replicas: int) -> list[str]:
    """Problems with a `(mention_key, cluster_id)` output, [] when it is
    the oracle's partition. Cluster ids are compared as a partition: the
    engine labels a cluster by its min member, the oracle by its URI."""
    problems = []
    if len(set(keys)) != len(keys):
        problems.append(f"{len(keys) - len(set(keys))} duplicate mention keys")
    want = {k for b in base_uri for k in replica_keys(b, replicas)}
    got = set(keys)
    if got != want:
        problems.append(
            f"mention keys differ: {len(got - want)} unexpected, "
            f"{len(want - got)} missing"
        )
        return problems
    label_of: dict[str, str] = {}
    cluster_of: dict[str, str] = {}
    for key, cid in zip(keys, cluster_ids):
        label = expected_cluster(key, base_uri)
        if label_of.setdefault(cid, label) != label:
            problems.append(f"cluster {cid} mixes {label_of[cid]} and {label}")
        if cluster_of.setdefault(label, cid) != cid:
            problems.append(f"{label} split over {cluster_of[label]} and {cid}")
        if len(problems) >= 5:
            break
    return problems


def check_clusters_parquet(path: str, inputs: Inputs) -> list[str]:
    t = pq.read_table(path, columns=["mention_key", "cluster_id"])
    return check_clusters(
        t.column("mention_key").to_pylist(),
        t.column("cluster_id").to_pylist(),
        inputs.base_uri,
        inputs.replicas,
    )


def model_rows(model_dir: str) -> dict[str, int]:
    """Row count of every model table the CLI's model-build wrote."""
    return {
        name: pq.read_table(f"{model_dir}/{name}").num_rows
        for name in sorted(os.listdir(model_dir))
        if os.path.isdir(f"{model_dir}/{name}")
    }
