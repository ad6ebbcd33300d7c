"""Command-line entry point for spark-submit.

Replaces the reference's REST service (rest/.../resources/*.java) with a
batch CLI: params that were HTTP query args (confidence, support, types,
policy — Annotate.java:57-66) become flags; each subcommand is one Spark
job. Ship with:

    python -m dbpedia_spotlight_spark.package dist/
    spark-submit --py-files dist/dbpedia_spotlight_spark.zip \
        dist/cli.py resolve --documents ... --model-dir ... --output ...
"""

from __future__ import annotations

import argparse
import json
import sys

from .config import PipelineParams
from .session import get_spark


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument("--checkpoint-dir", default="")


def _params(args) -> PipelineParams:
    return PipelineParams(
        confidence=getattr(args, "confidence", 0.0),
        support=getattr(args, "support", 0),
        type_whitelist=tuple(getattr(args, "types", []) or []),
        uri_whitelist=tuple(getattr(args, "uris", []) or []),
        coreference_resolution=not getattr(args, "no_coref", False),
        stemmer=getattr(args, "stemmer", None) or None,
        mixture=getattr(args, "mixture", "unweighted"),
        shuffle_partitions=args.shuffle_partitions,
        checkpoint_dir=args.checkpoint_dir,
    )


MIXTURES = ("unweighted", "linreg", "onlysim", "fader", "fader2", "linregf")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser("dbpedia-spotlight-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("model-build", help="aggregate statistics tables")
    _add_common(b)
    b.add_argument("--fixture-dir", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--stemmer", choices=["english"], default=None,
                   help="Snowball stemmer for context tokens "
                        "(TextTokenizerFactory.scala:17-18)")

    a = sub.add_parser("annotate", help="spot + disambiguate documents")
    _add_common(a)
    a.add_argument("--documents", required=True)
    a.add_argument("--model-dir", required=True)
    a.add_argument("--output", required=True)
    a.add_argument("--confidence", type=float, default=0.0)
    a.add_argument("--support", type=int, default=0)
    a.add_argument("--types", nargs="*")
    a.add_argument("--uris", nargs="*")
    a.add_argument("--no-coref", action="store_true")
    a.add_argument("--stemmer", choices=["english"], default=None,
                   help="must match the model's build-time stemmer")
    a.add_argument("--mixture", choices=list(MIXTURES),
                   default="unweighted",
                   help="score mixture (disambiguate/mixtures/*.scala)")
    a.add_argument("--format", choices=["parquet", "xml", "json", "html",
                                        "rdfa", "nif"], default="parquet",
                   help="output rendering (OutputManager.java shapes); "
                        "non-parquet writes (doc_id, output) rows")

    r = sub.add_parser("resolve", help="full record-linkage run")
    _add_common(r)
    r.add_argument("--documents", required=True)
    r.add_argument("--model-dir", required=True)
    r.add_argument("--output", required=True)
    r.add_argument("--confidence", type=float, default=0.0)
    r.add_argument("--support", type=int, default=0)
    r.add_argument("--no-coref", action="store_true")

    e = sub.add_parser(
        "evaluate",
        help="run an eval corpus end-to-end and print the metric block",
    )
    _add_common(e)
    e.add_argument("--corpus", required=True,
                   help="corpus path (format-specific: .htm dir, CoNLL "
                        "tsv, CSAW dir, PREDOSE file)")
    e.add_argument("--corpus-format", required=True,
                   choices=["milnewitten", "aida", "csaw", "predose",
                            "heldout"])
    e.add_argument("--model-dir", required=True)
    e.add_argument("--stemmer", choices=["english"], default=None)
    e.add_argument("--mixture", choices=list(MIXTURES),
                   default="unweighted")

    iw = sub.add_parser(
        "ingest-wiki",
        help="tiny.corpus.tsv / wiki markup pages -> documents parquet",
    )
    _add_common(iw)
    iw.add_argument("--input", required=True)
    iw.add_argument("--input-format", default="tiny-corpus",
                    choices=["tiny-corpus", "wiki-pages", "xml-dump"],
                    help="tiny-corpus: category\\turi\\ttext lines -> "
                         "interleaved span documents; wiki-pages: "
                         "(uri, markup) parquet -> paragraph documents "
                         "+ link occurrences; xml-dump: MediaWiki XML "
                         "dump file (main namespace, redirects dropped)")
    iw.add_argument("--output", required=True)

    args = ap.parse_args(argv)
    spark = get_spark(
        master=args.master, shuffle_partitions=args.shuffle_partitions
    )

    if args.cmd == "model-build":
        from .plans.model_build import MODEL_SCHEMAS, model_from_fixture_dir

        model = model_from_fixture_dir(
            spark, args.fixture_dir, stemmer=args.stemmer
        )
        for name in MODEL_SCHEMAS:
            getattr(model, name).write.mode("overwrite").parquet(
                f"{args.output}/{name}"
            )
        with open(f"{args.output}/totals.json", "w") as f:
            json.dump(
                {
                    "total_annotated_count": model.total_annotated_count,
                    "total_token_count": model.total_token_count,
                    "vocab_size": model.vocab_size,
                    "stopwords": model.stopwords,
                },
                f,
            )
        print(json.dumps({"status": "ok", "output": args.output}))
        return

    if args.cmd == "ingest-wiki":
        if args.input_format == "tiny-corpus":
            from .sources.wiki_corpus import (
                read_tiny_corpus,
                tiny_corpus_documents,
            )

            docs = tiny_corpus_documents(read_tiny_corpus(spark, args.input))
            n_docs = _write_counted(docs, f"{args.output}/documents")
            n_occ = 0
        else:
            from .sources.wiki_corpus import (
                read_wiki_dump,
                wiki_page_occurrences,
            )

            if args.input_format == "xml-dump":
                pages = read_wiki_dump(spark, args.input)
            else:
                pages = spark.read.parquet(args.input)
            docs, occs = wiki_page_occurrences(pages)
            n_docs = _write_counted(docs, f"{args.output}/documents")
            n_occ = _write_counted(occs, f"{args.output}/occurrences")
        print(json.dumps(
            {"status": "ok", "documents": n_docs, "occurrences": n_occ}
        ))
        return

    if args.cmd == "evaluate":
        from .plans.evaluation import evaluate_corpus
        from .sources import eval_corpora as EC

        from .sources.wiki_corpus import read_wikipedia_heldout

        readers = {
            "milnewitten": EC.read_milne_witten,
            "aida": EC.read_aida,
            "predose": EC.read_predose,
            "csaw": EC.read_csaw,
            "heldout": read_wikipedia_heldout,
        }
        docs, gold = readers[args.corpus_format](spark, args.corpus)
        model = _load_model(spark, args.model_dir)
        stopwords = _load_stopwords(spark, args.model_dir)
        metrics = evaluate_corpus(docs, gold, model, stopwords,
                                  _params(args))
        # the reference prints its timing/footprint block to stderr
        # (EvaluateSpotlightModel.scala:20-55); JSON stays on stdout
        from .plans.evaluation import format_metric_block

        print(format_metric_block(metrics), file=sys.stderr)
        print(json.dumps({"status": "ok", **metrics}))
        return

    model = _load_model(spark, args.model_dir)
    stopwords = _load_stopwords(spark, args.model_dir)
    docs = spark.read.parquet(args.documents)
    params = _params(args)

    if args.cmd == "annotate":
        from .plans.pipeline import annotate

        res = annotate(docs, model, stopwords, params)
        fmt = getattr(args, "format", "parquet")
        if fmt == "parquet":
            out = res.resolved
        else:
            from .sources.output_formats import render_outputs

            out = render_outputs(
                docs, res.resolved, fmt=fmt,
                confidence=params.confidence, support=params.support,
            )
        try:
            n = _write_counted(out, args.output)
        finally:
            res.unpersist()
        print(json.dumps({"status": "ok", "rows": n}))
    elif args.cmd == "resolve":
        from .plans.pipeline import resolve
        from .sources.checkpoint import CheckpointStore

        store = (
            CheckpointStore(spark, params.checkpoint_dir)
            if params.checkpoint_dir
            else None
        )
        res = resolve(docs, model, stopwords, params, store=store)
        try:
            n = _write_counted(res.clusters, args.output)
        finally:
            res.unpersist()
        print(json.dumps({"status": "ok", "clusters": n}))


def _write_counted(df, path: str) -> int:
    """Write `df` as parquet and return how many rows the write wrote,
    observed during the write itself rather than by a second action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    return obs.get["rows"]


def _load_model(spark, model_dir: str):
    from .plans.model_build import MODEL_SCHEMAS, ModelTables

    with open(f"{model_dir}/totals.json") as f:
        meta = json.load(f)
    return ModelTables(
        **{
            name: spark.read.schema(schema).parquet(f"{model_dir}/{name}")
            for name, schema in MODEL_SCHEMAS.items()
        },
        **meta,
    )


def _load_stopwords(spark, model_dir: str) -> list[str]:
    """The stopwords the model was built with. Models written before
    model-build recorded them fall back to the generator's list."""
    with open(f"{model_dir}/totals.json") as f:
        return json.load(f).get("stopwords", ["the", "an", "a", "of", "in"])


if __name__ == "__main__":
    main()
