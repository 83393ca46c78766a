"""Ingest workloads: two closed-loop writers on one live table, with a
maintenance thread that expires snapshots and reads the table while
they write.

- ``decoupled``: writers publish monikers (``Writer.run_iteration``)
  and one ``Bookkeeper`` thread commits them (``run_once``) and applies
  retention — the paper's design.
- ``direct``: every writer commits its own files
  (``Writer.write_and_commit``) and races the others on the version
  CAS; the maintenance thread applies retention.

Time inside the table is simulated: every writer iteration takes the
next tick of a shared clock and stamps its files with it, so the
partitions retention keeps hold a fixed number of files whatever the
throughput. Set-up fills the table to that steady state first.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import threading
import time

from java_iceberg_table_spark.ingest.bookkeeper import Bookkeeper
from java_iceberg_table_spark.ingest.reaper import Reaper
from java_iceberg_table_spark.ingest.writer import Writer
from java_iceberg_table_spark.table import create_table, truncate
from measure import cpu_seconds, median, pct

TICK_US = 1_000_000  # one simulated second per writer iteration
WIDTH_TICKS = 5  # partition width
RETAIN_TICKS = 20  # retention window: ~180 live files, manifests well under
# the size at which planning turns into a Spark job (DIST_PLAN_MIN_MANIFEST_BYTES)
N_WRITERS = 2
# Files per writer iteration, so per moniker or direct commit. At 4, the
# direct mode's commits came often enough that in about a third of runs
# the maintenance thread's retention and expiry kept losing the CAS,
# fell behind and dragged throughput down by a third: a real failure
# mode of direct commit, but one that made the workload's figures
# bimodal between seeds.
FILES_PER_ITERATION = 8
ROWS_PER_FILE = 100
REAPER_RETAIN_LAST = 20
SETUP_REPEATS = 2
WARM_READS = 3  # the live read's Spark scan took 4 s cold, 0.8 s by the third
PREPOP_TICKS_PER_COMMIT = 10
READ_PARTITIONS_BACK = 3  # read a complete partition this far behind the clock
# One maintenance round per this many writer iterations. A round (reaper,
# then a read) took 1-1.4 s; at 16 ticks, about 1 s of writing, rounds ran
# back to back, so rounds per file followed the machine's speed.
MAINTENANCE_TICKS = 32
SLICES = 5  # files/s and CPU per file are medians over this many slices


def _schema():
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("message_id", LongType(), False),
            StructField("data", StringType(), True),
            StructField("timestamp", TimestampType(), True),
            StructField("timeperiod_loadedBy", LongType(), True),
            StructField("message_body", BinaryType(), True),
        ]
    )


class Ledger:
    """What the benchmark itself saw: every file written, every commit
    made, every latency sample. The correctness checks compare it with
    the table at the end of the run."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.written: dict[str, int] = {}  # path -> partition bucket
        self.added_files = 0  # sum of added-files over the commits made
        self.commits: list[tuple[float, int, float]] = []  # (t, files, latency ms)
        self.reads: list[tuple[float, float]] = []  # (t, ms)
        self.scan_exec: list[tuple[float, float]] = []  # (t, ms) of scan().count()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool, what: str = "") -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(what)

    def wrote(self, entries: list[dict]) -> None:
        with self.lock:
            for e in entries:
                self.written[e["path"]] = e["partition"]


class StampedWriter(Writer):
    """A ``Writer`` that keeps its last ``create_data_files`` entries and
    return time, so the direct mode can time from file written to
    commit returned without changing how the writer works."""

    def create_data_files(self, n_files, rows_per_file, timeperiod_us):
        entries = super().create_data_files(n_files, rows_per_file, timeperiod_us)
        self.last_entries = entries
        self.last_written = time.perf_counter()
        return entries


class IngestRun:
    def __init__(self, spark, work: str, mode: str, seed: int):
        self.spark = spark
        self.work = work
        self.mode = mode
        self.seed = seed
        self.ledger = Ledger()
        self.table = None
        self.clock = None
        self.writers = []
        self.rounds: list[tuple[float, tuple[float, float]]] = []  # (start, CPU) per round

    # ---------- set-up ----------

    def _prepopulate(self, root: str) -> None:
        """Create the table and fill it until retention and the reaper
        bound its live files and snapshots."""
        self.ledger = Ledger()
        self.table = create_table(
            root, _schema(), partition=truncate("timeperiod_loadedBy", WIDTH_TICKS * TICK_US)
        )
        rng = random.Random(self.seed)
        self.writers = [
            StampedWriter(self.table, writer_id=i, seed=rng.randrange(1 << 30))
            for i in range(N_WRITERS)
        ]
        ticks = RETAIN_TICKS + WIDTH_TICKS
        for start in range(0, ticks, PREPOP_TICKS_PER_COMMIT):
            entries = []
            for tick in range(start, min(start + PREPOP_TICKS_PER_COMMIT, ticks)):
                w = self.writers[tick % N_WRITERS]
                entries += w.create_data_files(FILES_PER_ITERATION, ROWS_PER_FILE, tick * TICK_US)
            self.ledger.wrote(entries)
            snap = self.table.append_entries(entries)
            self.ledger.added_files += int(snap.summary["added-files"])
        self.clock = itertools.count(ticks)
        self._last_tick = ticks - 1
        self._retention()
        Reaper(self.table, max_age_ms=0, retain_last=REAPER_RETAIN_LAST).run_once()

    def setup(self) -> tuple[list[float], float]:
        """Build the steady-state table SETUP_REPEATS times, keeping the
        last, then warm the read path on it WARM_READS times. Returns
        each build's seconds and the warm-up's."""
        times = []
        for i in range(SETUP_REPEATS):
            root = os.path.join(self.work, f"table{i}")
            t0 = time.perf_counter()
            self._prepopulate(root)
            times.append(time.perf_counter() - t0)
            if i + 1 < SETUP_REPEATS:
                shutil.rmtree(root)
        t0 = time.perf_counter()
        for _ in range(WARM_READS):
            self._read()
        return times, time.perf_counter() - t0

    # ---------- operations ----------

    def _tick(self) -> int:
        with self.ledger.lock:
            self._last_tick = next(self.clock)
            return self._last_tick

    def _cutoff(self) -> int:
        return self.table.transform.apply_py((self._last_tick - RETAIN_TICKS) * TICK_US)

    def _retention(self) -> None:
        self.table.delete_where("timeperiod_loadedBy", "<", self._cutoff())

    def _read(self) -> None:
        """One partition, a few behind the clock so it is complete: a
        metadata-only count, then a pruned scan of the same snapshot.
        The two must agree."""
        width = WIDTH_TICKS * TICK_US
        lo = self.table.transform.apply_py(
            (self._last_tick - READ_PARTITIONS_BACK * WIDTH_TICKS) * TICK_US
        )
        flt = [("timeperiod_loadedBy", ">=", lo), ("timeperiod_loadedBy", "<", lo + width)]
        sid = self.table.metadata.current_snapshot_id
        t0 = time.perf_counter()
        meta = self.table.count_rows(self.spark, flt, snapshot_id=sid)
        t1 = time.perf_counter()
        df = self.table.scan(self.spark, flt, snapshot_id=sid)
        t2 = time.perf_counter()
        scanned = df.count()
        t3 = time.perf_counter()
        with self.ledger.lock:
            self.ledger.reads.append((t1, (t1 - t0) * 1000.0))
            self.ledger.reads.append((t3, (t3 - t1) * 1000.0))
            self.ledger.scan_exec.append((t3, (t3 - t2) * 1000.0))
        if meta["rows"] != scanned or meta["scanned_files"] != 0:
            raise AssertionError(f"count_rows {meta} != scan {scanned} at partition {lo}")

    def _guarded(self, what: str, fn):
        """``fn()``, counted as one operation; None if it raised."""
        try:
            result = fn()
        except Exception as e:  # a failed operation is counted, the run goes on
            self.ledger.op(False, f"{what}: {type(e).__name__}: {e}")
            return None
        self.ledger.op(True)
        return result

    def _writer_loop(self, w, stop: threading.Event, pending: dict) -> None:
        def decoupled():
            moniker = w.run_iteration(FILES_PER_ITERATION, ROWS_PER_FILE, self._tick() * TICK_US)
            published = time.perf_counter()
            self.ledger.wrote(w.last_entries)
            n = len(w.last_entries)
            with self.ledger.lock:
                # the bookkeeper sweeps ``pending`` under the same lock
                # once a poll returns; a moniker it already consumed
                # was committed between publish and now
                if os.path.exists(moniker):
                    pending[moniker] = (published, n)
                else:
                    self.ledger.commits.append((published, n, 0.0))

        def direct():
            snap = w.write_and_commit(FILES_PER_ITERATION, ROWS_PER_FILE, self._tick() * TICK_US)
            now = time.perf_counter()
            self.ledger.wrote(w.last_entries)
            n = int(snap.summary["added-files"])
            with self.ledger.lock:
                self.ledger.added_files += n
                self.ledger.commits.append((now, n, (now - w.last_written) * 1000.0))

        step = decoupled if self.mode == "decoupled" else direct
        while not stop.is_set():
            self._guarded("writer", step)

    def _bookkeeper_loop(self, bk, stop: threading.Event, pending: dict) -> None:
        def poll() -> int:
            m = bk.run_once()
            now = time.perf_counter()
            if m["files"]:
                with self.ledger.lock:
                    self.ledger.added_files += m["files"]
                    for path in [p for p in pending if not os.path.exists(p)]:
                        published, n = pending.pop(path)
                        self.ledger.commits.append((now, n, (now - published) * 1000.0))
                bk.apply_retention(RETAIN_TICKS * TICK_US, now_us=self._last_tick * TICK_US)
            return m["monikers"]

        while True:
            stopping = stop.is_set()  # read before the poll: drain after stop
            if not self._guarded("bookkeeper", poll):
                if stopping:
                    return
                time.sleep(0.005)

    def _maintenance_loop(self, stop: threading.Event) -> None:
        """Paced by the simulated clock, like the reference's periodic
        reaper: one round per MAINTENANCE_TICKS writer iterations, so a
        run does the same maintenance per file whatever the machine's
        speed. A round that overruns delays the next one and no ticks
        are made up."""
        reaper = Reaper(self.table, max_age_ms=0, retain_last=REAPER_RETAIN_LAST)
        due = self._last_tick + MAINTENANCE_TICKS
        while not stop.is_set():
            if self._last_tick < due:
                stop.wait(0.005)
                continue
            self.rounds.append((time.perf_counter(), cpu_seconds()))
            if self.mode == "direct":
                self._guarded("retention", self._retention)
            self._guarded("reaper", reaper.run_once)
            self._guarded("read", self._read)
            due = max(due + MAINTENANCE_TICKS, self._last_tick)

    # ---------- the measured window ----------

    def measure(self, seconds: float) -> dict:
        pending: dict[str, tuple[float, int]] = {}
        stop_writers, stop_rest = threading.Event(), threading.Event()
        threads = [
            threading.Thread(target=self._writer_loop, args=(w, stop_writers, pending))
            for w in self.writers
        ]
        bk = None
        if self.mode == "decoupled":
            bk = Bookkeeper(self.table)
            threads.append(
                threading.Thread(target=self._bookkeeper_loop, args=(bk, stop_rest, pending))
            )
        maint = threading.Thread(target=self._maintenance_loop, args=(stop_rest,))
        cpu0 = cpu_seconds()
        t_start = time.perf_counter()
        for t in threads:
            t.start()
        maint.start()
        time.sleep(seconds)
        t_end = time.perf_counter()
        cpu1 = cpu_seconds()
        stop_writers.set()
        for t in threads[:N_WRITERS]:
            t.join()
        stop_rest.set()
        for t in threads[N_WRITERS:] + [maint]:
            t.join()
        if bk is not None:
            bk.pool.shutdown(wait=True)
        window = [c for c in self.ledger.commits if t_start <= c[0] <= t_end]
        lat = [c[2] for c in window for _ in range(c[1])]  # one sample per file
        half = (t_start + t_end) / 2
        first = [c[2] for c in window if c[0] < half for _ in range(c[1])]
        second = [c[2] for c in window if c[0] >= half for _ in range(c[1])]
        reads = [r[1] for r in self.ledger.reads if t_start <= r[0] <= t_end]
        width = (t_end - t_start) / SLICES
        slices = [
            [c for c in window if t_start + i * width <= c[0] < t_start + (i + 1) * width]
            for i in range(SLICES)
        ]
        per_slice = [sum(c[1] for c in sl) / width for sl in slices]
        # CPU of the Python process and its JVM per file committed, over
        # the whole maintenance intervals in the window (first round start
        # to last), so the span holds a whole number of rounds with their
        # share of writer and commit work
        marks = [r for r in self.rounds if t_start <= r[0] <= t_end]
        if len(marks) < 2:
            marks = [(t_start, cpu0), (t_end, cpu1)]
        (lo, cpu_lo), (hi, cpu_hi) = marks[0], marks[-1]
        n = max(sum(c[1] for c in window if lo <= c[0] < hi), 1)
        py_ms, jvm_ms = ((b - a) * 1000.0 / n for a, b in zip(cpu_lo, cpu_hi))
        return {
            "t_start": t_start,
            "t_end": t_end,
            # medians over equal slices of the window, so one stall (a
            # merge, a GC pause) moves the figures less than its share
            "files_per_s": median(per_slice),
            "slice_files_per_s": per_slice,
            "files_committed": len(lat),
            "cpu_ms_per_file": py_ms + jvm_ms,
            "cpu_rounds": len(marks) - 1,
            "python_cpu_ms_per_file": py_ms,
            "jvm_cpu_ms_per_file": jvm_ms,
            "commit_p50_ms": pct(lat, 50),
            "commit_p90_ms": pct(lat, 90),
            "commit_p99_ms": pct(lat, 99),
            "commit_mean_ms": sum(lat) / len(lat) if lat else 0.0,
            "commit_p50_first_to_second_half": (
                median(first) / median(second) if first and second else 0.0
            ),
            "read_p50_ms": pct(reads, 50),
            "read_p90_ms": pct(reads, 90),
            "reads": len(reads),
        }

    # ---------- end-of-run checks ----------

    def check(self) -> dict:
        """The four ingest invariants; each mismatch is one failed
        operation. Returns storage figures taken at the same point."""
        self._retention()
        led = self.ledger
        live = self.table.current_files()
        live_paths = {e["path"] for e in live}
        cutoff = self._cutoff()
        expect_live = {p for p, part in led.written.items() if part >= cutoff}
        pending_dir = os.path.join(self.table.root, "_pending")
        leftover = [n for n in os.listdir(pending_dir) if n.startswith("tc_")]
        rows = self.table.count_rows(self.spark)["rows"]
        checks = {
            "added_files_equal_written": led.added_files == len(led.written),
            "pending_drained": not leftover,
            "no_lost_commit": live_paths == expect_live,
            "count_rows_equal_live_rows": rows == sum(e["rows"] for e in live)
            == ROWS_PER_FILE * len(expect_live),
        }
        for name, ok in checks.items():
            led.op(ok, f"check {name} failed")
        total = 0
        for d, _, names in os.walk(self.table.root):
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
        data = sum(e["bytes"] for e in live)
        return {
            "checks": checks,
            "live_files": len(live),
            "stored_bytes_per_data_byte": total / data if data else 0.0,
            "metadata_json_bytes": os.path.getsize(
                os.path.join(
                    self.table.root, "metadata", f"v{self.table.metadata.version}.json"
                )
            ),
        }


def run(args, run_dir: str) -> dict:
    """One ingest run: session, steady-state set-up, the measured
    window, the checks. ``args.workload`` is ``ingest_<mode>``."""
    import layers
    from measure import Tracer, peak_rss_mb, start_spark, stop_spark

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        layers.install(tracer)
    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    try:
        r = IngestRun(spark, run_dir, args.workload.split("_", 1)[1], args.seed)
        setup_times, warm_s = r.setup()
        m = r.measure(args.seconds)
        c = r.check()
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)
        if tracer is not None:
            tracer.restore()
    led = r.ledger
    end_to_end = {
        "setup_s": session_s + warm_s + median(setup_times),
        "cpu_ms_per_op": m["cpu_ms_per_file"],
    }
    per_layer = {}
    if tracer is not None:
        per_layer = layers.table_metrics(tracer, m["t_start"], c["live_files"])
        per_layer.update({
            "session.start_s": session_s,
            "process.peak_rss_mb": rss,
            "table.scan_exec_ms": median(
                [ms for t, ms in led.scan_exec if m["t_start"] <= t <= m["t_end"]]
            ),
            "format.metadata_json_bytes": float(c["metadata_json_bytes"]),
            "process.python_cpu_ms_per_op": m["python_cpu_ms_per_file"],
            "process.jvm_cpu_ms_per_op": m["jvm_cpu_ms_per_file"],
            "ingest.files_per_s": m["files_per_s"],
            "ingest.commit_p50_ms": m["commit_p50_ms"],
            "ingest.commit_p90_ms": m["commit_p90_ms"],
            "ingest.read_p50_ms": m["read_p50_ms"],
            "ingest.read_p90_ms": m["read_p90_ms"],
            "ingest.stored_bytes_per_data_byte": c["stored_bytes_per_data_byte"],
            "ingest.commit_p50_first_to_second_half": m["commit_p50_first_to_second_half"],
            "ingest.live_files": float(c["live_files"]),
        })
    return {
        "attempted": led.attempted,
        "failed": led.failed,
        "errors": led.errors,
        "checks": c["checks"],
        "setup_repeats_s": setup_times,
        "warm_s": warm_s,
        "session_s": session_s,
        "peak_rss_mb": rss,
        "window": {k: v for k, v in m.items() if not k.startswith("t_")},
        "storage": {k: v for k, v in c.items() if k != "checks"},
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "spans": tracer.spans if tracer is not None else None,
    }
