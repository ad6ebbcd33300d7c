"""Traced-run output: the span JSON per workload and the generated
"where time goes" table over every workload traced so far."""

from __future__ import annotations

import glob
import json
import os

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")
TABLE = os.path.join(RESULTS, "where_time_goes.md")


def write_trace(workload: str, record: dict) -> str:
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"trace_{workload}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    write_table()
    return path


def write_table() -> None:
    lines = [
        "# Where time goes",
        "",
        "Generated by `perfbench/run.py --trace 1` from `trace_*.json` in "
        "this directory; do not edit by hand. One traced `cli resolve` per "
        "workload: wall is the layer's self time, share is of the traced "
        "wall, exec_cpu is JVM executor CPU, py_cpu is PySpark-worker CPU "
        "from /proc, shuffle is read + written.",
        "",
    ]
    for path in sorted(glob.glob(os.path.join(RESULTS, "trace_*.json"))):
        with open(path) as f:
            rec = json.load(f)
        c, t = rec["conditions"], rec["trace"]
        lines += [
            f"## {rec['workload']}",
            "",
            f"seed {c['seed']}, {c['n_docs']} docs ({c['n_base_docs']} x "
            f"R={c['replicas']}), {c['n_mentions']} mentions, "
            f"local[{c['nproc']}], {c['shuffle_partitions']} shuffle "
            f"partitions, Spark {c['spark']}, Python {c['python']}, "
            f"load1 {c['load1_before']:.2f} -> {c['load1_after']:.2f}.",
            f"Traced wall {t['wall_s']:.2f} s; spans cover "
            f"{100 * t['span_coverage']:.1f}%; untraced warm run_s "
            f"{t['untraced_run_s']:.2f} s; tracing overhead "
            f"{t['overhead_s']:.2f} s.",
            "",
            "| layer | wall s | share | exec_cpu s | py_cpu s | shuffle MB "
            "| jobs |",
            "|---|---:|---:|---:|---:|---:|---:|",
        ]
        layers = sorted(rec["layers"].items(), key=lambda kv: -kv[1]["wall_s"])
        for name, m in layers:
            lines.append(
                f"| {name} | {m['wall_s']:.2f} | "
                f"{100 * m['wall_s'] / t['wall_s']:.1f}% | "
                f"{m['exec_cpu_s']:.2f} | {m['py_cpu_s']:.2f} | "
                f"{m['shuffle_mb']:.2f} | {m['jobs']} |"
            )
        lines.append("")
    with open(TABLE, "w") as f:
        f.write("\n".join(lines))
