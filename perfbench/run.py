#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` the layers are wrapped in spans
and the metrics are its ``per_layer`` list (a layer the workload does
not exercise reads 0). Every run also leaves its full figures, and a
traced run its spans, under ``.perfbench_work/results/``; ``report.py``
puts them side by side.

Workloads (see README.md): ``ingest_decoupled``, ``ingest_direct``,
``query_mix``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("ingest_decoupled", "ingest_direct", "query_mix")


def _sandbox(run_dir: str) -> None:
    """Point every temp and scratch location of Python, Spark and the
    product at the run's own directory."""
    for sub in ("tmp", "spark-local", "scratch"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    tempfile.tempdir = None  # re-read TMPDIR


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "java_iceberg_table_spark")):
        print("perfbench: the java_iceberg_table_spark package is not here", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    _sandbox(run_dir)
    try:
        if args.workload.startswith("ingest_"):
            import ingest as workload
        else:
            import query as workload
        out = workload.run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out["per_layer"] if args.trace else out["end_to_end"]
    names = {m["name"] for m in wanted}
    unknown = set(values) - names
    missing = set() if args.trace else names - set(values)
    if unknown or missing:
        raise KeyError(f"metrics not in BENCHMARK.json {sorted(unknown)}, missing {sorted(missing)}")
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    spans = out.pop("spans", None)
    if spans is not None:
        with open(os.path.join(results_dir, f"{tag}-spans.json"), "w") as f:
            json.dump(spans, f)
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "time": time.time(), **out}, f, indent=1, sort_keys=True)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
