"""Shared measurement helpers: percentiles, process memory and CPU time
from /proc, the Spark session's start and stop, and the span tracer the
traced run installs around each layer's public functions."""

from __future__ import annotations

import functools
import itertools
import os
import subprocess
import statistics
import threading
import time


def pct(values, q: float) -> float:
    """The q-th percentile (0-100) by linear interpolation; 0.0 on an
    empty sample."""
    if not values:
        return 0.0
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def _hwm_kb(pid: int | str) -> int:
    """Peak resident set (VmHWM) of a process, in kB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _proc_cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds of a process and all its threads;
    0 if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> tuple[float, float]:
    """CPU seconds used so far by this Python process and by its Spark
    JVM, each summed over all threads."""
    t = os.times()
    pid = jvm_pid()
    return t.user + t.system, _proc_cpu_s(pid) if pid is not None else 0.0


def start_spark(extra_conf: dict[str, str] | None = None):
    """The product's default session (``session.get_spark``). Only
    sandboxing conf is added: the JVM's temp dir follows TMPDIR, so a
    run writes nothing outside its work directory."""
    from java_iceberg_table_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    conf.update(extra_conf or {})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak RSS of this Python process plus its Spark JVM, in MB."""
    kb = _hwm_kb("self")
    pid = jvm_pid()
    if pid is not None:
        kb += _hwm_kb(pid)
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Tracer:
    """In-memory spans around calls into the program's layers.

    ``wrap`` replaces a function on its module or class with a timing
    wrapper; ``restore`` puts every original back. A span records its
    name, thread, start, end, parent span (the span open on the same
    thread when it began), whether it raised, and any counts the
    ``on_result`` hook attaches. Spans stay in memory; the caller writes
    them out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = itertools.count(1)

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def within(self, name: str) -> dict | None:
        """The innermost open span on this thread called ``name``."""
        for s in reversed(self._stack()):
            if s["name"] == name:
                return s
        return None

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            span = {
                "id": next(tracer._next_id),
                "name": name,
                "thread": threading.get_ident(),
                "parent": stack[-1]["id"] if stack else None,
                "start": time.perf_counter(),
            }
            stack.append(span)
            try:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(span, result, args, kwargs)
                return result
            except BaseException as e:
                span["error"] = type(e).__name__
                raise
            finally:
                span["end"] = time.perf_counter()
                stack.pop()
                tracer.spans.append(span)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def of(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]

    def ms(self, name: str, since: float = 0.0) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.of(name, since)]
