#!/usr/bin/env python3
"""Side-by-side summary of the runs left under .perfbench_work/results/.

    python3 perfbench/report.py

For each workload: the median end-to-end metrics of its untraced runs
and of their wall-clock figures (throughput and latency), the median of
the traced runs' per-layer figures that are not zero, and the tracing
overhead (traced minus untraced end-to-end medians). Then the paper's
comparison: decoupled against direct ingest, files committed per second
(untraced) and CAS conflicts per commit (traced).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, ".perfbench_work", "results")


def _load() -> dict[tuple[str, int], list[dict]]:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(RESULTS, "*-t[01].json"))):
        with open(path) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def _medians(runs: list[dict], key: str) -> dict[str, float]:
    """Median over runs of each number under ``r[key]``."""
    names = sorted(
        {k for r in runs for k, v in r.get(key, {}).items() if isinstance(v, (int, float))}
    )
    return {n: statistics.median(r[key][n] for r in runs if n in r.get(key, {})) for n in names}


def main() -> None:
    runs = _load()
    workloads = sorted({w for w, _ in runs})
    summary = {}
    for w in workloads:
        plain, traced = runs.get((w, 0), []), runs.get((w, 1), [])
        e2e = _medians(plain, "end_to_end")
        wall = _medians(plain, "window" if w.startswith("ingest_") else "wall")
        traced_e2e = _medians(traced, "end_to_end")
        layers = {k: v for k, v in _medians(traced, "per_layer").items() if v}
        failed = sum(r["failed"] for r in plain + traced)
        print(f"== {w}: {len(plain)} untraced, {len(traced)} traced runs, {failed} failed ops")
        for k, v in e2e.items():
            over = f"  (tracing overhead {traced_e2e[k] - v:+.4g})" if k in traced_e2e else ""
            print(f"  {k:32s} {v:12.4g}{over}")
        print("  -- untraced runs' results files (wall-clock and CPU figures)")
        for k, v in wall.items():
            print(f"  {k:32s} {v:12.4g}")
        for k, v in layers.items():
            print(f"    {k:46s} {v:12.4g}")
        summary[w] = (wall, layers)
    if "ingest_decoupled" in summary and "ingest_direct" in summary:
        print("== decoupled vs direct ingest (untraced files/s; traced conflicts per commit)")
        for w in ("ingest_decoupled", "ingest_direct"):
            wall, layers = summary[w]
            print(
                f"  {w:18s} files/s {wall.get('files_per_s', 0):8.1f}"
                f"   cas conflicts/commit {layers.get('format.cas_conflicts_per_commit', 0):6.3f}"
            )


if __name__ == "__main__":
    main()
