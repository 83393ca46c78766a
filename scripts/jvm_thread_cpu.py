#!/usr/bin/env python3
"""CPU of the Spark JVM per thread group over one benchmark window.

    python scripts/jvm_thread_cpu.py query --passes 3 [--static-jit]
    python scripts/jvm_thread_cpu.py ingest --mode decoupled --seconds 12 [--seed 1] [--static-jit]

Runs either ``passes`` passes of perfbench's ``query_mix`` rows (after
its usual warm-up) or one ``ingest_<mode>`` window (after its usual
set-up), and reads ``/proc/<jvm>/task/*/{comm,stat}`` before and after.
Threads are grouped by name with trailing digits stripped (``GC
Thread#3`` and ``GC Thread#0`` are one group; Linux keeps 15 characters
of a thread name). It prints a markdown table of CPU ms per operation
(a query, or a committed file), one row per group, then the JVM's own
total from ``/proc/<jvm>/stat``: that total keeps the CPU of threads
that exited inside the window, which no thread sample sees, so the
difference is printed as ``(exited threads)``.

HotSpot starts and stops JIT compiler threads as the compile queue
grows and drains (``UseDynamicNumberOfCompilerThreads``), so much of
their CPU lands in exited threads. ``--static-jit`` starts the JVM with
``-XX:-UseDynamicNumberOfCompilerThreads`` so the compiler threads live
for the whole run and their CPU is attributed. (JFR's ExecutionSample
event does not sample compiler threads.)

perfbench is imported, never modified: its session, fixtures, warm-up
and windows are the benchmark's own. Work files go under
``.perfbench_work/`` like a benchmark run's.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(stat_path: str) -> float:
    """User plus system CPU seconds from a /proc stat file."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / TICK


def sample(pid: int) -> tuple[float, dict[int, tuple[str, float]]]:
    """The JVM's total CPU seconds, and tid -> (group, CPU seconds) of
    every live thread."""
    threads = {}
    task = f"/proc/{pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as f:
                name = f.read().strip().rstrip("0123456789").strip()
            threads[int(tid)] = (name, _cpu_s(f"{task}/{tid}/stat"))
        except OSError:  # exited between listdir and read
            continue
    return _cpu_s(f"/proc/{pid}/stat"), threads


def breakdown(before, after) -> tuple[float, dict[str, float]]:
    """JVM CPU seconds over the window and the seconds per thread
    group; a thread born inside the window counts from zero."""
    (total0, t0), (total1, t1) = before, after
    groups: dict[str, float] = defaultdict(float)
    for tid, (name, cpu) in t1.items():
        prev = t0.get(tid)
        groups[name] += cpu - (prev[1] if prev and prev[0] == name else 0.0)
    return total1 - total0, dict(groups)


def report(total_s: float, groups: dict[str, float], ops: int, unit: str) -> None:
    attributed = sum(groups.values())
    print(f"| thread group | ms per {unit} | share of JVM |")
    print("|---|---|---|")

    def line(name, s):
        print(f"| {name} | {s * 1000.0 / ops:.2f} | {100.0 * s / total_s if total_s else 0.0:.1f} % |")

    for name, s in sorted(groups.items(), key=lambda kv: -kv[1]):
        line(name, s)
    line("(exited threads)", total_s - attributed)
    line("**JVM total**", total_s)
    jit = sum(s for name, s in groups.items() if "CompilerThre" in name)
    print(f"\noperations ({unit}): {ops}; JIT compiler threads {jit * 1000.0 / ops:.2f} ms per {unit}")


def query_window(spark, work: str, passes: int):
    import fixtures
    from query import ROWS, QueryRun

    q = QueryRun(spark, fixtures.ensure(work), traced=False)
    results = q.warm_and_capture()
    rows = [n for n in ROWS if not isinstance(results[n], str)]
    yield
    for _ in range(passes):
        for name in rows:
            q.execute(name)
    yield len(rows) * passes


def ingest_window(spark, run_dir: str, mode: str, seed: int, seconds: float):
    from ingest import IngestRun

    r = IngestRun(spark, run_dir, mode, seed)
    r.setup()
    yield
    t0 = time.perf_counter()
    r.measure(seconds)
    yield max(sum(files for t, files, _ in r.ledger.commits if t >= t0), 1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=("query", "ingest"))
    ap.add_argument("--passes", type=int, default=3, help="query passes measured")
    ap.add_argument("--mode", choices=("decoupled", "direct"), default="decoupled")
    ap.add_argument("--seconds", type=float, default=12.0, help="ingest window")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--static-jit", action="store_true",
                    help="keep the JIT compiler threads alive for the whole run")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    os.chdir(ROOT)
    import run as perfbench_run  # perfbench/run.py
    from measure import jvm_pid, start_spark, stop_spark

    run_dir = os.path.join(perfbench_run.WORK, f"jvm-threads-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    perfbench_run._sandbox(run_dir)
    opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
    if args.static_jit:
        opts += " -XX:-UseDynamicNumberOfCompilerThreads"
    spark = start_spark({"spark.driver.extraJavaOptions": opts})
    try:
        pid = jvm_pid()
        if args.workload == "query":
            window, unit = query_window(spark, perfbench_run.WORK, args.passes), "query"
        else:
            window = ingest_window(spark, run_dir, args.mode, args.seed, args.seconds)
            unit = "file"
        next(window)
        before = sample(pid)
        ops = next(window)
        after = sample(pid)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"{args.workload} ({args.mode if args.workload == 'ingest' else f'{args.passes} passes'}), "
          f"static JIT threads: {args.static_jit}, os.cpu_count() = {os.cpu_count()}\n")
    report(*breakdown(before, after), ops, unit)
    return 0


if __name__ == "__main__":
    sys.exit(main())
