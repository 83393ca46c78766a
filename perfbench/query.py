"""Query workload: one client runs headline rows of ``bench.py``
(``bench.HEADLINE``, see ``ROWS``) in closed loop, one row at a time,
each pass in a seed-shuffled order, over the generated fixtures
(``fixtures.py``).

Timing follows ``bench.py``'s protocol and reuses its pieces: a row's
wall time covers building its DataFrame and materializing it
(``bench._materialize``); a ``bench.PREPARED_POOLED`` row times the
first collect of a fresh Dataset whose plan was prepaid
(``bench._prepared_builder``), so no run reuses shuffle map output.
One session from ``session.get_spark`` defaults serves every row, with
no per-row conf changes.

Set-up is the session start plus one untimed pass over every row
(JIT and caches), which also keeps each row's result for the DuckDB
oracle check made after the measured window.
"""

from __future__ import annotations

import glob
import json
import os
import random
import time

import bench
import fixtures
from java_iceberg_table_spark.oracle import compare, duck_connect
from java_iceberg_table_spark.queries import load_all
from measure import cpu_seconds, median, pct, peak_rss_mb, start_spark, stop_spark

# Untimed passes before the window. The JVM kept getting faster for
# about a dozen passes: after 4, CPU per pass still fell from 4.7 to
# 2.5 s over the next 9, so a window on a slow machine, which fits fewer
# passes, measured more of the warm-up.
WARM_PASSES = 12

# Headline rows over the TPC-H-shaped and documents tables: aggregation
# (d1), its prepared and engine variants with d1 as their per-call
# sibling, a multiway join (c3), a window top-k (e1) and text tokens (h3).
# With the five other rows on those tables (two engine views, boolean
# filters, a distinct count, a top-k) the warm-up above did not fit a
# run's time; the ANN, dedup, pipeline and streaming rows add one-off
# index and stream set-up.
ROWS = (
    "d1_tpch_q1",
    "d1e_engine_q1_cents",
    "d1p_prepared_tpch_q1",
    "c3_multiway_join",
    "e1_row_number_topk",
    "h3_top_tokens",
)
assert set(ROWS) <= set(bench.HEADLINE)


class QueryRun:
    def __init__(self, spark, sf_dir: str, traced: bool):
        self.spark = spark
        self.sf_dir = sf_dir
        self.traced = traced
        self.registry = load_all()
        self.samples: dict[str, list[dict]] = {name: [] for name in ROWS}
        self.errors: list[str] = []
        self._group = 0

    def _build(self, name: str):
        if name in bench.PREPARED_POOLED:
            return bench._prepared_builder(name, self.spark, self.sf_dir)()
        return self.registry[name].fn(self.spark, self.sf_dir)

    def execute(self, name: str) -> dict:
        """One timed execution. ``wall_ms`` follows the bench protocol;
        the traced run adds the build / plan / execute split and tags
        the row's Spark jobs with a job group of their own."""
        sc = self.spark.sparkContext
        group = None
        if self.traced:
            self._group += 1
            group = f"{name}#{self._group}"
            sc.setJobGroup(group, name)
        pooled = name in bench.PREPARED_POOLED
        t0 = time.perf_counter()
        df = self._build(name)
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        if pooled:
            qe.toRdd()  # plan + codegen, prepaid as a prepared statement would
        elif self.traced:
            qe.executedPlan()
        t2 = time.perf_counter()
        if pooled:
            df.collect()
        else:
            bench._materialize(df, name in bench.GATED)
        t3 = time.perf_counter()
        s = {"wall_ms": ((t3 - t2) if pooled else (t3 - t0)) * 1000.0}
        if self.traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            s.update(
                group=group,
                build_ms=(t1 - t0) * 1000.0,
                plan_ms=(t2 - t1) * 1000.0,
                exec_ms=(t3 - t2) * 1000.0,
                jobs=len(jobs),
            )
        return s

    def warm_and_capture(self) -> dict:
        """The untimed passes: every row once, its result kept for the
        oracle check, then every row WARM_PASSES - 1 more times so the
        window starts on a warm JVM. Returns name -> pandas result or
        error text."""
        results = {}
        for name in ROWS:
            try:
                results[name] = self._build(name).toPandas()
            except Exception as e:  # counted as a failed row by check()
                results[name] = f"{type(e).__name__}: {e}"
        for _ in range(WARM_PASSES - 1):
            for name in ROWS:
                if not isinstance(results[name], str):
                    self.execute(name)
        return results

    def measure(self, seconds: float, seed: int) -> tuple[list[float], list[tuple[float, float]]]:
        """Whole passes for about ``seconds``: another pass starts only
        if, at the mean pass time so far, it would end less than half a
        pass past ``seconds``. Returns each pass's seconds and the CPU
        seconds (Python, JVM) it used."""
        rng = random.Random(seed)
        order = list(ROWS)
        pass_s = []
        cpu = [cpu_seconds()]
        while True:
            rng.shuffle(order)
            t0 = time.perf_counter()
            for name in order:
                try:
                    self.samples[name].append(self.execute(name))
                except Exception as e:  # counted as failed, the pass goes on
                    self.errors.append(f"{name}: {type(e).__name__}: {e}")
            pass_s.append(time.perf_counter() - t0)
            cpu.append(cpu_seconds())
            if sum(pass_s) * (1 + 0.5 / len(pass_s)) >= seconds:
                return pass_s, [(b[0] - a[0], b[1] - a[1]) for a, b in zip(cpu, cpu[1:])]

    def check(self, results: dict) -> dict[str, list[str]]:
        """Each row's kept result against its DuckDB oracle."""
        con = duck_connect(self.sf_dir)
        problems = {}
        try:
            for name in ROWS:
                got = results[name]
                if isinstance(got, str):
                    problems[name] = [got]
                    continue
                oracle = self.registry[name].oracle
                if oracle is None:
                    continue
                p = compare(got, con.execute(oracle).df())
                if p:
                    problems[name] = p
        finally:
            con.close()
        return problems


def _event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Per job group, from Spark's event log: task count, shuffle bytes
    written, bytes spilled, and the worst max/median task-time ratio
    over its stages of two or more tasks."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                            "shuffle": (tm.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                        }
                    )
    out: dict[str, dict] = {}
    for sid, ts in tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out.setdefault(group, {"tasks": 0, "shuffle": 0, "spill": 0, "skew": 0.0})
        g["tasks"] += len(ts)
        g["shuffle"] += sum(t["shuffle"] for t in ts)
        g["spill"] += sum(t["spill"] for t in ts)
        if len(ts) >= 2:
            mid = median([t["ms"] for t in ts])
            g["skew"] = max(g["skew"], max(t["ms"] for t in ts) / max(mid, 1))
    return out


def run(args, run_dir: str) -> dict:
    sf_dir = fixtures.ensure(os.path.dirname(run_dir))  # cached per checkout, not timed
    traced = bool(args.trace)
    log_dir = os.path.join(run_dir, "eventlog")
    extra = {}
    if traced:
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.rolling.enabled": "false",  # one plain JSON-lines file
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = start_spark(extra)
    session_s = time.perf_counter() - t0
    try:
        q = QueryRun(spark, sf_dir, traced)
        t1 = time.perf_counter()
        results = q.warm_and_capture()
        warm_s = time.perf_counter() - t1
        pass_s, pass_cpu_s = q.measure(args.seconds, args.seed)
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)
    problems = q.check(results)
    executions = sum(len(q.samples[name]) for name in ROWS)
    row_median_ms = {name: median([s["wall_ms"] for s in q.samples[name]]) for name in ROWS}
    # Wall figures from medians per pass and per row, with percentiles over
    # the rows' medians: the rows' times cluster, so a percentile over all
    # executions jumps from one cluster to the next as the count of samples
    # per row shifts.
    wall = {
        "queries_per_s": len(ROWS) / median(pass_s),
        "row_p50_ms": pct(list(row_median_ms.values()), 50),
        "row_p90_ms": pct(list(row_median_ms.values()), 90),
        "total_s": sum(row_median_ms.values()) / 1000.0,
    }
    # CPU per query of the median pass by CPU: the first pass or two of a
    # window still carry some JIT warm-up, and a stalled pass some spinning
    python_ms, jvm_ms = (
        c * 1000.0 / len(ROWS) for c in sorted(pass_cpu_s, key=sum)[len(pass_cpu_s) // 2]
    )
    end_to_end = {
        "setup_s": session_s + warm_s,
        "cpu_ms_per_op": python_ms + jvm_ms,
    }
    per_layer = {}
    if traced:
        groups = _event_log_metrics(log_dir)
        per_layer = {
            "session.start_s": session_s,
            "process.peak_rss_mb": rss,
            "process.python_cpu_ms_per_op": python_ms,
            "process.jvm_cpu_ms_per_op": jvm_ms,
            **{f"query.{k}": v for k, v in wall.items()},
        }
        tasks, shuffle, spill, skew = 0.0, 0.0, 0.0, 0.0
        for name in ROWS:
            ss = q.samples[name]
            for k in ("build_ms", "plan_ms", "exec_ms", "jobs"):
                per_layer[f"query.{name}.{k}"] = median([s[k] for s in ss])
            ev = [groups.get(s["group"], {}) for s in ss]
            tasks += median([g.get("tasks", 0) for g in ev])
            shuffle += median([g.get("shuffle", 0) for g in ev])
            spill += median([g.get("spill", 0) for g in ev])
            skew = max([skew] + [g.get("skew", 0.0) for g in ev])
        per_layer.update({
            "query.tasks": tasks,
            "query.shuffle_bytes": shuffle,
            "query.spill_bytes": spill,
            "query.task_skew_max": skew,
        })
    return {
        "attempted": executions + len(q.errors) + len(ROWS),
        "failed": len(q.errors) + len(problems),
        "errors": q.errors[:20] + [f"{n}: {p[:3]}" for n, p in problems.items()],
        "passes": len(pass_s),
        "pass_s": pass_s,
        "pass_cpu_s": pass_cpu_s,
        "session_s": session_s,
        "warm_s": warm_s,
        "peak_rss_mb": rss,
        "row_median_ms": row_median_ms,
        "row_wall_ms": {name: [s["wall_ms"] for s in q.samples[name]] for name in ROWS},
        "wall": wall,
        "python_cpu_ms_per_query": python_ms,
        "jvm_cpu_ms_per_query": jvm_ms,
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "spans": [
            {"row": name, **s} for name in ROWS for s in q.samples[name]
        ] if traced else None,
    }
