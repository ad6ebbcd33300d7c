"""Product-path benchmark: `cli resolve` end to end, and per layer.

    python3 perfbench/run.py --workload resolve_coref --seed 1 \
        --seconds 30 --trace 0

Run from the repository root. One process, one closed loop: a single
client calls `dbpedia_spotlight_spark.cli.main` on `local[<cores>]` with
the CLI defaults (FSA spotter, 32 shuffle partitions, unweighted
mixture), waits for it to return and checks its output against the
Python oracle before any next call.

  --trace 0  end-to-end metrics. Set-up is the SparkSession start; then
             CLI calls until --seconds have passed, at least one. The
             first call runs in a fresh JVM, as every `spark-submit
             cli.py resolve` does, and is the one reported.
  --trace 1  per-layer metrics: a traced `cli model-build`, one untraced
             CLI call, a warm untraced call, then one traced run that
             calls each module's public functions as a span of its own
             (traced.py). Writes the span JSON and the "where time goes"
             table under results/.

The last line of stdout is the result JSON; the line before it holds the
run's conditions. Metric names and units come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import redirect_stdout, suppress

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the two resolve runs share one corpus and use it differently
WORKLOADS = {
    "resolve_coref": {"cli": [], "coref": True, "checkpoint": False},
    "resolve_checkpointed": {"cli": ["--no-coref"], "coref": False,
                             "checkpoint": True},
}
# a run draws N_BASE of the pool's documents with its seed, R copies each
POOL_SEED = 0
POOL_DOCS = 1000
N_BASE = 400
REPLICAS = 3
SHUFFLE_PARTITIONS = 32    # the CLI default
CACHE = os.path.join(HERE, ".cache")

LAYERS = (
    "operators.fsa_spotting.build", "operators.fsa_spotting.spot",
    "operators.windows", "plans.pipeline", "operators.candidates",
    "operators.scoring", "operators.disambiguate", "operators.filters",
    "operators.blocking", "operators.pairs", "operators.cc",
    "sources.checkpoint", "plans.model_build",
)


def _isolate(work: str) -> None:
    """Keep every file the run writes inside the work directory: Python
    temp files (the CC hand-back dir), Spark local dirs, JVM temp files."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    # PySpark workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _package_digest() -> str:
    """Hash of the package sources: the cached pool (fixture, oracle
    answers, model) is rebuilt whenever the code that made it changes."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "dbpedia_spotlight_spark")
    for path in sorted(glob.glob(f"{pkg}/**/*.py", recursive=True)):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and the PySpark workers, and wait for
    each to end."""
    from pyspark import SparkContext

    from tracing import descendants

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(lambda: children)


def _end_group(proc) -> None:
    """Wait for a child and what is left of its process group (its JVM
    exits on its own once the child's stdin closes)."""
    from tracing import process_group

    if proc.poll() is None:
        proc.kill()
        proc.wait()
    _wait_gone(lambda: process_group(proc.pid))


def _wait_gone(list_pids) -> None:
    """Wait until no process that `list_pids()` names is alive; after 30 s
    kill what is left."""
    from tracing import alive

    deadline = time.monotonic() + 30
    while left := [p for p in list_pids() if alive(p)]:
        if time.monotonic() > deadline:
            for p in left:
                with suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spec = WORKLOADS[args.workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"

    def run(self) -> tuple[dict, dict, int, int]:
        import inputs as I
        from tracing import ProcSampler, cpu_steal_s, persisted

        load1_before = os.getloadavg()[0]
        pool = os.path.join(
            CACHE, f"pool-{POOL_SEED}-{POOL_DOCS}-{_package_digest()}")
        t0 = time.perf_counter()
        if not os.path.isdir(pool):
            os.makedirs(CACHE, exist_ok=True)
            I.build_pool(pool, POOL_SEED, POOL_DOCS, self._build_model)
        pool_s = time.perf_counter() - t0
        self.model_dir = os.path.join(pool, "model")
        inp = I.draw_inputs(pool, os.path.join(self.work, "documents"),
                            self.args.seed, N_BASE, REPLICAS,
                            self.spec["coref"])
        self.inputs = inp

        t0 = time.perf_counter()
        import pyspark
        from dbpedia_spotlight_spark.session import get_spark

        spark = get_spark(master=self.master,
                          shuffle_partitions=SHUFFLE_PARTITIONS)
        setup_s = time.perf_counter() - t0
        self.spark, self.sc = spark, spark.sparkContext
        try:
            # per-worker CPU needs fine sampling (a worker's CPU after
            # its last sample is lost); the peak RSS alone does not
            interval = 0.1 if self.args.trace else 0.5
            steal0 = cpu_steal_s()
            with ProcSampler(os.getpid(), interval) as procs:
                runs, trace = self._calls(pool, procs)
                worker_peak = procs.worker_peak_rss_mb()
            steal_s = cpu_steal_s() - steal0
            n_leaked, mb_leaked = persisted(self.sc)
        finally:
            _stop_spark(spark)

        attempted = len(runs) + (trace is not None)
        failed = sum(not r["ok"] for r in runs) + bool(
            trace and not trace["ok"])
        conditions = {
            "workload": self.args.workload, "seed": self.args.seed,
            "nproc": self.nproc, "master": self.master,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "n_base_docs": inp.n_base_docs, "replicas": inp.replicas,
            "n_docs": inp.n_docs, "n_mentions": inp.n_mentions,
            "model_rows": I.model_rows(self.model_dir),
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "load1_before": load1_before, "load1_after": os.getloadavg()[0],
            "cpu_steal_s": steal_s,
            "peak_rss_mb": procs.peak_rss_mb,
            "peak_rss_parts_mb": procs.peak_parts_mb,
            "setup": "import pyspark + SparkSession start",
            "pool_build_s": pool_s,
            "first_run": ("after the traced model-build" if trace else
                          "cold: the first CLI call in a fresh JVM"),
            "runs": runs,
            "session_persisted_rdds_at_end": n_leaked,
            "session_cached_mb_at_end": mb_leaked,
            "failed_run_frac": failed / attempted,
        }
        if trace is None:
            metrics = {
                "setup_s": setup_s,
                "first_run_s": runs[0]["wall_s"],
                "docs_per_s": inp.n_docs / runs[0]["wall_s"],
                "worker_peak_rss_mb": worker_peak,
            }
        else:
            metrics = self._layer_metrics(trace, runs[-1])
            metrics["session.peak_rss_mb"] = procs.peak_rss_mb
            metrics["session.worker_peak_rss_mb"] = worker_peak
            record = {"workload": self.args.workload,
                      "conditions": conditions, **trace["record"]}
            import report

            report.write_trace(self.args.workload, record)
        return conditions, metrics, attempted, failed

    # ---- pieces ---------------------------------------------------------

    def _calls(self, pool: str, procs) -> tuple[list[dict], dict | None]:
        if not self.args.trace:
            runs, w0 = [], time.perf_counter()
            while not runs or time.perf_counter() - w0 < self.args.seconds:
                runs.append(self._one_run(len(runs)))
            return runs, None

        from tracing import Tracer, retained_heap_mb

        # the runs use the model built once per checkout; build it again
        # here to measure plans.model_build
        setup = Tracer(self.sc, procs, "perfbench.setup")
        with setup.span("plans.model_build"):
            self._cli(["model-build", "--master", self.master,
                       "--fixture-dir", f"{pool}/fixture",
                       "--output", os.path.join(self.work, "model")])
        # a second, warm untraced call, then the traced one: the tracing
        # overhead is their difference
        runs = [self._one_run(0), self._one_run(1)]
        retained = retained_heap_mb(self.sc)
        trace = self._traced(Tracer(self.sc, procs, "perfbench.trace"),
                             setup, runs[-1]["wall_s"])
        return runs, {**trace, "retained_heap_mb": retained}

    def _build_model(self, fixture_dir: str, model_dir: str) -> None:
        """`cli model-build` in a process of its own, so the JVM of the
        run stays cold for the first timed call."""
        cmd = [sys.executable, "-m", "dbpedia_spotlight_spark.cli",
               "model-build", "--master", self.master,
               "--fixture-dir", fixture_dir, "--output", model_dir]
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr,
                                start_new_session=True)
        try:
            if proc.wait(timeout=600) != 0:
                raise RuntimeError(f"model-build exited {proc.returncode}")
        finally:
            _end_group(proc)

    def _cli(self, argv: list[str]) -> None:
        from dbpedia_spotlight_spark import cli

        with redirect_stdout(sys.stderr):   # stdout is the result channel
            cli.main(argv)

    def _one_run(self, i: int) -> dict:
        """One CLI invocation, timed from the call into cli.main until it
        returns; the oracle check and the counters are read afterwards."""
        from tracing import group_metrics, persisted, wait_listener

        out = os.path.join(self.work, "out")
        argv = ["resolve", *self.spec["cli"], "--master", self.master,
                "--documents", self._documents(str(i)),
                "--model-dir", self.model_dir, "--output", out]
        if self.spec["checkpoint"]:
            argv += ["--checkpoint-dir",
                     os.path.join(self.work, f"checkpoint-{i}")]
        group = f"perfbench.run.{i}"
        rdds0, mb0 = persisted(self.sc)
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        t0 = time.perf_counter()
        try:
            self._cli(argv)
            raised = False
        except Exception:
            traceback.print_exc()
            raised = True
        wall = time.perf_counter() - t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        problems = ["raised"] if raised else self._check(out)
        wait_listener(self.sc)
        m = group_metrics(self.sc, group)
        rdds1, mb1 = persisted(self.sc)
        return {"wall_s": wall, "ok": not problems, "problems": problems,
                "jobs": m["jobs"], "tasks": m["tasks"],
                "persisted_rdds_leaked": rdds1 - rdds0,
                "cached_mb_leaked": mb1 - mb0}

    def _documents(self, tag: str) -> str:
        """A copy of the corpus under a path of its own for each call. The
        CLI leaves its cached frames in the session, and Spark serves any
        later plan over the same path from them; a fresh path makes each
        call do its own work while the leaked caches still count."""
        path = f"{self.inputs.documents}-{tag}"
        shutil.copytree(self.inputs.documents, path)
        return path

    def _check(self, out: str) -> list[str]:
        import inputs as I

        problems = I.check_clusters_parquet(out, self.inputs)
        for p in problems:
            print(f"oracle check: {p}", file=sys.stderr)
        return problems

    def _traced(self, tracer, setup_tracer, run_s: float) -> dict:
        from traced import traced_resolve

        from dbpedia_spotlight_spark.config import PipelineParams

        ck = (os.path.join(self.work, "checkpoint-traced")
              if self.spec["checkpoint"] else None)
        params = PipelineParams(
            coreference_resolution=self.spec["coref"],
            shuffle_partitions=SHUFFLE_PARTITIONS, checkpoint_dir=ck or "")
        out = os.path.join(self.work, "out")
        docs = self._documents("traced")
        info = traced_resolve(self.spark, tracer, docs, self.model_dir, out,
                              params, ck)
        wall = info.pop("wall_s")
        problems = self._check(out)
        covered = tracer.top_level_wall()
        layers = tracer.layers()
        for name, n in info.pop("rows").items():
            layers[name]["rows_out"] = n
        trace = {"wall_s": wall, "span_wall_s": covered,
                 "span_coverage": covered / wall, "untraced_run_s": run_s,
                 "overhead_s": wall - run_s}
        return {
            "ok": not problems, "layers": {**layers, **setup_tracer.layers()},
            "info": info, "trace": trace,
            "record": {"trace": trace, "layers": layers,
                       "setup_layers": setup_tracer.layers(),
                       "ratios": info, "oracle_problems": problems,
                       "spans": tracer.to_json(),
                       "setup_spans": setup_tracer.to_json()},
        }

    def _layer_metrics(self, trace: dict, warm: dict) -> dict:
        layers = trace["layers"]
        out = {}
        for layer in LAYERS:
            m = layers.get(layer, {})
            for kind in ("wall_s", "exec_run_s", "exec_cpu_s", "py_cpu_s",
                         "shuffle_mb", "spill_mb", "tasks", "jobs",
                         "rows_out"):
                out[f"{layer}.{kind}"] = m.get(kind, 0)
        out["cli.write_s"] = layers.get("cli.write", {}).get("wall_s", 0)
        out["cli.count_s"] = layers.get("cli.count", {}).get("wall_s", 0)
        out.update(trace["info"])
        out.update({f"trace.{k}": v for k, v in trace["trace"].items()})
        out.update({
            "session.jobs": warm["jobs"], "session.tasks": warm["tasks"],
            "session.persisted_rdds_leaked": warm["persisted_rdds_leaked"],
            "session.cached_mb_leaked": warm["cached_mb_leaked"],
            "session.retained_heap_mb": trace["retained_heap_mb"],
        })
        return out


def _declared(spec: dict, trace: int) -> dict[str, str]:
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dbpedia_spotlight_spark",
                                       "cli.py")):
        print(f"no dbpedia_spotlight_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = _declared(json.load(f), args.trace)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work)
        conditions, metrics, attempted, failed = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    missing = sorted(set(declared) - set(metrics))
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({"conditions": conditions}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
