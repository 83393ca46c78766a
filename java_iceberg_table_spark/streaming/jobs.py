"""Streaming building blocks.

The reference's whole architecture is a micro-batched file-ingestion
stream (poll loops over a moniker directory / storage queue —
Main.java:11-16, FileBasedBookkeeper.java:152-180,
StorageQueueBasedBookkeeper.java:214-291). Structured Streaming's file
source + foreachBatch is the idiomatic Spark form:

- file source with ``maxFilesPerTrigger`` == the 500-moniker batch cap
- ``foreachBatch(append_to_table)`` == the bookkeeper's one-commit-
  per-batch, with a batch-id high-watermark for exactly-once across
  restarts (the moniker-uuid idempotence analogue of Writer.java:160-170)
- watermarks + windows express the event-time semantics the reference
  delegates to its 5-minute partition transform.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import load_table
from ..session import conf_scope
from ..table.table import Table


def _usable_dir(path: str | None) -> bool:
    return bool(path) and os.path.isdir(path) and os.access(path, os.W_OK)


def scratch_ckpt(prefix: str = "ckpt_") -> str:
    """A SCRATCH checkpoint dir, preferring tmpfs when that is SAFE.
    Every availableNow run in this module recovers via commit
    watermarks stamped in the sink table (or not at all — the memory
    sink), never via these checkpoints, so they are pure per-run
    scratch. On disk the checkpoint's offset/commit/state files cost
    ~0.5-0.65 s of rename+fsync chatter per short run (A/B at sf0.1,
    i3: 1.93 s /tmp vs 1.28 s tmpfs — OPTIMIZATION_r14.md §i3); on
    tmpfs they cost memory the size of the state, which for these
    bounded runs is kilobytes.

    Cluster gate (round 15, VERDICT r14 #1): the HDFS-backed state
    store reads and writes per-partition state through this path ON
    THE EXECUTORS, so a node-local tmpfs path only resolves to the
    same files because local[k] colocates driver and executors. The
    tmpfs default therefore applies ONLY under a local master; on any
    other master the scratch checkpoint falls through to the session's
    configured checkpoint root (spark.sql.streaming.checkpointLocation
    — a shared filesystem on a real cluster), else the conventional
    tempdir. SPARK_GRAFT_SCRATCH overrides both branches explicitly —
    the operator setting it asserts the path is visible wherever state
    is read."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    master = spark.sparkContext.master if spark is not None else ""
    conf_root = (
        spark.conf.get("spark.sql.streaming.checkpointLocation", None)
        if spark is not None
        else None
    )
    root, mkdir_local = _scratch_root(
        master, os.environ.get("SPARK_GRAFT_SCRATCH"), conf_root
    )
    if not mkdir_local:
        # shared-FS URI: hand Spark a unique child path, no local mkdir
        return root.rstrip("/") + "/" + prefix + uuid.uuid4().hex
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def _scratch_root(
    master: str, override: str | None, conf_root: str | None
) -> tuple[str, bool]:
    """Resolve the scratch-checkpoint root for ``scratch_ckpt``.

    Returns ``(root, mkdir_local)``: when ``mkdir_local`` is False the
    root is a shared-FS URI to take a unique child of, not a local
    directory to mkdtemp under. Pure so the cluster branches are
    testable without a cluster."""
    if override is not None:
        return (
            override if _usable_dir(override) else tempfile.gettempdir()
        ), True
    if master.startswith("local"):
        return (
            "/dev/shm" if _usable_dir("/dev/shm") else tempfile.gettempdir()
        ), True
    if conf_root:
        return conf_root, False
    return tempfile.gettempdir(), True


def stage_events_files(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> tuple[str, DataFrame]:
    """Write the (µs-normalized) events fixture as n parquet files in a
    temp dir — the 'arriving files' feed for file-source streams.
    Returns (dir, batch_df_for_equivalence_checks)."""
    out = tempfile.mkdtemp(prefix="stream_src_")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(n_files).write.mode("overwrite").parquet(os.path.join(out, "events"))
    src = os.path.join(out, "events")
    return src, spark.read.parquet(src)


# Staged source dirs shared across the registered I-group queries: the
# stream source is read-only (each run uses its own fresh checkpoint),
# so one staging per (sf_dir, variant) serves every query in the
# correctness driver's window instead of one Spark write job each.
# Reclaimed at interpreter exit, not per query.
_SHARED_STAGED: dict[tuple, str] = {}


def _shared_cleanup() -> None:  # pragma: no cover - exit hook
    import shutil

    tmp_root = tempfile.gettempdir()
    for path in _SHARED_STAGED.values():
        parent = os.path.dirname(path)
        # staged dirs live one level under a private mkdtemp; never
        # sweep the system temp root itself
        shutil.rmtree(path if parent == tmp_root else parent, ignore_errors=True)
    _SHARED_STAGED.clear()


def shared_staged(key: tuple, builder) -> str:
    """Generic shared-staging cache: ``builder()`` stages files into a
    fresh dir and returns its path; subsequent calls with the same key
    reuse it. Callers MUST NOT delete the returned dir."""
    import atexit

    if key not in _SHARED_STAGED:
        if not _SHARED_STAGED:
            atexit.register(_shared_cleanup)
        _SHARED_STAGED[key] = builder()
    return _SHARED_STAGED[key]


def shared_events_src(
    spark: SparkSession, sf_dir: str, n_files: int = 4, variant: str = "plain"
) -> tuple[str, DataFrame]:
    """Cached stage_events_files / stage_events_with_flush: returns the
    same staged dir for every caller with the same key. Callers MUST
    NOT delete the returned dir."""
    if variant == "plain":
        builder = lambda: stage_events_files(spark, sf_dir, n_files)[0]
    elif variant == "flush":
        builder = lambda: stage_events_with_flush(spark, sf_dir, n_files)
    else:
        raise ValueError(f"unknown staging variant {variant!r}")
    src = shared_staged((sf_dir, n_files, variant), builder)
    return src, spark.read.parquet(src)


def file_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 2
) -> DataFrame:
    """I1: micro-batch file ingestion (R15's cap semantics)."""
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    # Event-time operators (withWatermark, window, session_window)
    # require TIMESTAMP (LTZ); parquet written without the UTC flag
    # reads as TIMESTAMP_NTZ. Session tz is UTC, so the cast is a pure
    # type relabel — same instant, watermark-compatible.
    for f in schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            stream = stream.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return stream


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    state_partitions: int | None = 4,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink; return the final result as a batch DataFrame.

    ``state_partitions`` sizes the stateful-operator shuffle for THIS
    query (restored afterwards). Streaming state partitioning is fixed
    at first checkpoint and every micro-batch pays a task per state
    partition, so it must be sized to the event RATE, not the batch
    default: at fixture scale 32 state partitions is pure per-batch
    overhead (i3 A/B on the sf0.1 bench: 200-default ~2.4 s, 8 →
    1.14 s, 4 → 0.95 s, 2 → 0.87 s — 4 keeps headroom near the
    floor), while a real deployment sizes it to executors x cores for
    its rate. Pass None to inherit the session's shuffle partitioning
    unchanged."""
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    # The memory sink can't recover from a checkpoint anyway, so the
    # checkpoint is pure scratch — always reclaimed, even on failure.
    ckpt = scratch_ckpt()
    width = None
    if state_partitions is not None:
        prev = int(spark.conf.get("spark.sql.shuffle.partitions"))
        width = min(prev, state_partitions)
    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def sorted_result(df: DataFrame, *cols: str) -> DataFrame:
    """Total-order a MEMORY-SINK result without a range exchange
    (round 15; the c3e/d1 tiny-group convention). The memory sink has
    already materialized every row on the driver, so a global sort's
    sample job + range shuffle buy nothing — coalesce(1) sorts the
    (driver-sized) result in one task with the identical total order.
    Only for memory-sink outputs; table-scan results keep orderBy."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def _live_lineage(md) -> set:
    """Snapshot ids reachable from the current head — watermark /
    crash-marker detection must count ONLY these: a commit rolled past
    by an external repair is not applied (counting it skips the replay
    and loses the batch — the round-8 ingest-dedup bug), and a
    rolled-past marker is not a half-applied state to repair."""
    by_id = {s.snapshot_id: s for s in md.snapshots}
    anc: set = set()
    cur = md.current_snapshot_id
    while cur is not None and cur in by_id and cur not in anc:
        anc.add(cur)
        cur = by_id[cur].parent_id
    return anc


def foreach_batch_append(table: Table):
    """I2: exactly-once foreachBatch committer. The batch id is
    recorded in the snapshot summary; on restart-replay a batch whose
    id is <= the high watermark is skipped, so commits are idempotent
    even though foreachBatch is at-least-once."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        last = -1
        md = table.metadata
        live = _live_lineage(md)
        for s in md.snapshots:
            if s.snapshot_id not in live:
                continue
            bid = s.summary.get("streaming-batch-id")
            if bid is not None:
                last = max(last, int(bid))
        if batch_id <= last:
            return  # replayed batch — already durably committed
        if batch_df.isEmpty():
            return
        # batch id stamped IN the append commit (extra_summary): a
        # second metadata edit would leave a crash window where the
        # data is durable but unstamped, and restart-replay would
        # double-append the batch.
        table.append(batch_df, extra_summary={"streaming-batch-id": int(batch_id)})

    return commit


def stream_append_to_table(
    spark: SparkSession, src_dir: str, table: Table, max_files_per_trigger: int = 2
) -> None:
    """Run the full decoupled-ingestion stream: file source ->
    foreachBatch -> engine-table snapshots (the Spark-idiomatic
    bookkeeper, R12/R15).

    The checkpoint is scratch for this one availableNow run and is
    reclaimed afterwards — restart exactly-once doesn't depend on it:
    the batch-id high watermark stamped into each snapshot's summary
    (foreach_batch_append) is what makes replays idempotent."""
    ckpt = scratch_ckpt()
    try:
        q = (
            file_stream(spark, src_dir, max_files_per_trigger)
            .writeStream.foreachBatch(foreach_batch_append(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)


def tumbling_counts(stream_df: DataFrame, ts_col: str = "ts", width: str = "5 minutes") -> DataFrame:
    """I3: tumbling event-time window — the streaming form of the
    reference's 5-minute partition bucketing (Constants.java:25)."""
    return (
        stream_df.groupBy(F.window(ts_col, width).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "cnt")
    )


def sliding_counts(
    stream_df: DataFrame, ts_col: str = "ts", width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """I4: sliding window (each event lands in width/slide windows)."""
    return (
        stream_df.groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "cnt")
    )


def session_counts(
    stream_df: DataFrame, key_col: str = "user_id", ts_col: str = "ts", gap: str = "30 minutes"
) -> DataFrame:
    """I5: session window (gap-based)."""
    return (
        stream_df.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            key_col,
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "cnt",
        )
    )


def stage_events_with_flush(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    """Events as n parquet files + one FLUSH-sentinel file (one row per
    user, is_flush=true) whose mtime is bumped so the oldest-first file
    source is guaranteed to deliver it last. The sentinel is how a
    finite availableNow run drains stateful-operator state: real
    deployments would use event-time timeouts instead."""
    out = tempfile.mkdtemp(prefix="stream_state_src_")
    src = os.path.join(out, "events")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.lit(False).alias("is_flush"),
    )
    ev.repartition(n_files).write.mode("overwrite").parquet(src)
    sentinel_dir = tempfile.mkdtemp(prefix="stream_state_sentinel_")
    ev.select("user_id").distinct().select(
        "user_id",
        F.lit("2100-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(True).alias("is_flush"),
    ).coalesce(1).write.mode("overwrite").parquet(sentinel_dir)
    import shutil as _sh
    import time as _time

    part = next(
        f for f in os.listdir(sentinel_dir) if f.endswith(".parquet") and not f.startswith("_")
    )
    dest = os.path.join(src, "zz_flush_sentinel.parquet")
    _sh.copyfile(os.path.join(sentinel_dir, part), dest)
    _sh.rmtree(sentinel_dir, ignore_errors=True)
    future = _time.time() + 3600
    os.utime(dest, (future, future))
    return src


def stateful_sessions(stream_df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user gap sessionization with ORDER-INVARIANT mergeable state.

    Spark's built-in session_window covers the common case; this is the
    extension seam for session logic it can't express (here: exact
    event counts per session with arbitrary-order arrival and a
    deterministic flush protocol).

    State per user = the set of gap-merged intervals (starts, ends,
    counts) seen so far. Merging new points into intervals is
    order-invariant: a point inside an interval's span is always within
    `gap` of some member (largest internal gap <= gap), and two
    intervals merge iff start2 - end1 <= gap — so any arrival order
    yields the unique gap-partition of the event set, micro-batch
    boundaries included. Sessions are emitted (and state dropped) only
    when the user's flush sentinel arrives.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("starts", ArrayType(LongType())),
            StructField("ends", ArrayType(LongType())),
            StructField("counts", ArrayType(LongType())),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        starts, ends, counts = state.get if state.exists else ([], [], [])
        flush = False
        new_ts: list[int] = []
        for pdf in pdfs:
            flush = flush or bool(pdf["is_flush"].any())
            new_ts.extend(int(t) for t in pdf.loc[~pdf["is_flush"], "ts_us"])
        items = sorted(
            [list(t) for t in zip(starts, ends, counts)]
            + [[t, t, 1] for t in new_ts]
        )
        merged: list[list[int]] = []
        for s, e, c in items:
            if merged and s - merged[-1][1] <= gap_us:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += c
            else:
                merged.append([s, e, c])
        if flush:
            state.remove()
            if merged:
                yield pd.DataFrame(
                    {
                        "user_id": [int(key[0])] * len(merged),
                        "start_us": [m[0] for m in merged],
                        "end_us": [m[1] for m in merged],
                        "n_events": [m[2] for m in merged],
                    }
                )
        else:
            state.update(
                ([m[0] for m in merged], [m[1] for m in merged], [m[2] for m in merged])
            )

    prepared = stream_df.select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "is_flush"
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def running_user_totals_tws(stream_df: DataFrame) -> DataFrame:
    """Per-user running totals via Spark 4's transformWithStateInPandas
    (the successor to applyInPandasWithState: typed state primitives +
    timers over the RocksDB state store). A ValueState holds
    (cnt, sum_event_id, max_event_id) per user; every micro-batch the
    key appears in emits the NEW cumulative row, so the final row per
    user (the one with the largest cnt) is independent of how the
    stream was split into batches — integer aggregates make it exact.

    Scale: state is one fixed-size row per user key, partitioned by
    the stream's groupBy hash — memory tracks distinct keys, not
    events; RocksDB spills cold keys to disk.

    ENVIRONMENT GATE: Spark's transformWithState Python worker speaks
    a protobuf-based state protocol, so running this requires the
    ``google.protobuf`` package (and the RocksDB state-store provider,
    bundled with Spark). The offline test container has no protobuf,
    so this operator is exercised by
    tests/test_streaming.py::test_transform_with_state_running_totals,
    which skips where protobuf is unavailable; the registered
    stateful-streaming surface (i9) runs applyInPandasWithState, which
    has no such dependency."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("cnt", LongType()),
            StructField("sum_event_id", LongType()),
            StructField("max_event_id", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("cnt", LongType()),
            StructField("sum_event_id", LongType()),
            StructField("max_event_id", LongType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            cnt, s, mx = (
                tuple(self._totals.get())
                if self._totals.exists()
                else (0, 0, -1)
            )
            for pdf in rows:
                cnt += int(len(pdf))
                s += int(pdf["event_id"].sum())
                mx = max(mx, int(pdf["event_id"].max()))
            self._totals.update((cnt, s, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "cnt": [cnt],
                    "sum_event_id": [s],
                    "max_event_id": [mx],
                }
            )

        def close(self) -> None:
            pass

    return (
        stream_df.select("user_id", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="none",
        )
    )


def stage_events_mod_files(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Stage the events fixture as n files with a DETERMINISTIC,
    SQL-expressible assignment (file i = rows with event_id % n == i,
    names f0..f{n-1} so the file source's path-ordered listing fixes
    the batch order). Lets batch oracles reproduce per-batch state —
    e.g. which rows a watermark had passed when a file arrived."""
    out = tempfile.mkdtemp(prefix="stream_mod_")
    ev = load_table(spark, sf_dir, "events")
    for i in range(n_files):
        part = os.path.join(out, f"_stage_{i}")
        ev.filter(F.col("event_id") % n_files == i).coalesce(1).write.parquet(part)
        pq = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert len(pq) == 1
        os.replace(os.path.join(part, pq[0]), os.path.join(out, f"f{i}.parquet"))
        import shutil as _sh

        _sh.rmtree(part)
    return out


def late_data_dead_letter(
    spark: SparkSession,
    src_dir: str,
    delay_minutes: int = 60,
    max_files_per_trigger: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Watermark with a SIDE OUTPUT: rows that arrive behind the
    watermark are routed to a dead-letter set instead of silently
    dropped (withWatermark discards them with no way to observe what
    was lost — unacceptable for a training-data pipeline where late
    data must be audited or backfilled).

    foreachBatch maintains the event-time watermark explicitly
    (monotone max event time seen across batches, minus the delay) and
    splits each micro-batch against the watermark AS OF THE PREVIOUS
    batch — the same contract Spark's built-in watermark applies to
    stateful operators. Both outputs accumulate executor-side (parquet
    sinks); only the per-batch max timestamp (one scalar) crosses to
    the driver. Returns (on_time_df, late_df) after an availableNow
    run."""
    out_ok = tempfile.mkdtemp(prefix="wm_ok_")
    out_late = tempfile.mkdtemp(prefix="wm_late_")
    ckpt = scratch_ckpt("wm_ckpt_")
    delay_us = delay_minutes * 60 * 1_000_000
    wm_us = [None]  # event-time watermark in µs, None until first batch

    def route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.withColumn("ts_us", F.unix_micros("ts"))
        if wm_us[0] is None:
            ok, late = batch_df, batch_df.filter(F.lit(False))
        else:
            ok = batch_df.filter(F.col("ts_us") >= F.lit(wm_us[0]))
            late = batch_df.filter(F.col("ts_us") < F.lit(wm_us[0]))
        ok.drop("ts_us").write.mode("append").parquet(out_ok)
        late.drop("ts_us").write.mode("append").parquet(out_late)
        mx = batch_df.agg(F.max("ts_us")).collect()[0][0]
        if mx is not None:
            cand = mx - delay_us
            wm_us[0] = cand if wm_us[0] is None else max(wm_us[0], cand)

    stream = file_stream(spark, src_dir, max_files_per_trigger)
    q = (
        stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import shutil as _sh

    _sh.rmtree(ckpt, ignore_errors=True)
    schema = spark.read.parquet(src_dir).schema
    return (
        spark.read.schema(schema).parquet(out_ok),
        spark.read.schema(schema).parquet(out_late),
    )


def maintained_view_merge(view_root: str, key_col: str = "user_id",
                          value_col: str = "value",
                          stream_id: str = "default"):
    """I21's maintained-view fold as an idempotent foreachBatch: CDC
    rows (+_change_type) fold into a count/sum view table keyed by
    ``key_col``, replacing only touched keys via equality-delete +
    append.

    foreachBatch is at-least-once, and the fold is NOT naturally
    idempotent (re-applying a delta double-counts), so each batch's id
    is stamped commit-atomically: the delete commit carries
    ``mv-batch-del`` and the append commit ``mv-batch-id``. A replayed
    batch at or below the append high-watermark is skipped outright; a
    replay that finds its OWN delete stamp without the matching append
    stamp hit the crash window between the two commits — the view
    rolls back to the delete's parent (metadata-only) and the fold
    reruns against intact state. Either way the maintained view equals
    the recompute after any sequence of replays.

    ``stream_id`` namespaces the watermark (Delta's txnAppId
    contract): batch ids restart at 0 whenever a checkpoint is
    recreated, so a view fed again through a FRESH checkpoint must
    pass a new stream_id — under the old one every new batch would
    sit below the historical watermark and be silently skipped. One
    logical stream (one checkpoint) = one stable stream_id."""
    from pyspark.sql import functions as F

    from ..operators.topk_view import refuse_null_keys
    from ..table import load_table as _open

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vt = _open(view_root)
        applied = -1
        partial_del = None
        live = _live_lineage(vt.metadata)
        for s in vt.metadata.snapshots:
            if s.summary.get("mv-stream-id", "default") != stream_id:
                continue  # another logical stream's watermark
            if s.snapshot_id not in live:
                continue  # rolled past: neither applied nor half-applied
            bid = s.summary.get("mv-batch-id")
            if bid is not None:
                applied = max(applied, int(bid))
            if s.summary.get("mv-batch-del") == int(batch_id):
                partial_del = s
        if batch_id <= applied:
            return  # replayed epoch: already fully folded
        # every action below re-plans its inputs, and batch_df is a
        # Python-source CDC read — without a persist each of the
        # isEmpty / delete / append actions re-reads the CDC window.
        # The fold's joins/aggregates work on ONE batch's delta, so its
        # shuffles are sized to the batch (max(cores, CDC partitions)),
        # not the session's global width — under a plain 200-partition
        # session each per-batch join would otherwise materialize 200
        # near-empty tasks (and the persisted frames are exempt from
        # AQE coalescing).
        batch_df.persist()
        merged = None
        delta = None
        width = max(
            spark.sparkContext.defaultParallelism,
            batch_df.rdd.getNumPartitions(),
        )
        try:
            with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
                if batch_df.isEmpty():
                    # zero-change window (e.g. the source compacted — content-
                    # preserving rewrites emit no CDC rows): folding would
                    # commit a no-op delete+append pair per idle trigger. Skip
                    # without stamping; a replay of this batch is empty again,
                    # and any later non-empty batch advances the watermark.
                    return
                if partial_del is not None:
                    # crash window of a previous attempt: its delete committed
                    # but its append did not — undo the half-applied delete so
                    # this attempt folds against intact state
                    vt.rollback_to(partial_del.parent_id)
                    vt = _open(view_root)
                # fold in the VIEW's sv dtype (long measures stay exact
                # past 2^53; double views keep folding as double)
                sv_t = {f.name: f.dataType for f in vt.schema().fields}["sv"]
                sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
                delta = batch_df.groupBy(key_col).agg(
                    F.sum(sign).alias("d_cnt"),
                    F.sum(sign * F.col(value_col).cast(sv_t)).cast(sv_t).alias("d_sv"),
                ).persist()
                refuse_null_keys(delta, [key_col], "maintained_view_merge")
                # runtime-filtered view read (same rationale as
                # topk_view_sink): only files whose stats admit a touched
                # key are read — the right join restricts to delta keys
                # anyway, so pruning the scan changes cost, not content
                cur, _info = vt.scan_runtime_filtered(spark, delta, key_col)
                merged = cur.join(delta, key_col, "right").select(
                    key_col,
                    (F.coalesce("cnt", F.lit(0)) + F.col("d_cnt")).alias("cnt"),
                    (F.coalesce("sv", F.lit(0).cast(sv_t)) + F.col("d_sv"))
                    .cast(sv_t)
                    .alias("sv"),
                ).persist()
                touched = merged.select(key_col)
                survivors = merged.filter(F.col("cnt") > 0)
                # replace touched keys: eq-delete then append (the later
                # sequence wins at read — exact replacement, two tiny commits)
                vt.delete_eq_mor(
                    spark, touched, [key_col],
                    extra_summary={"mv-batch-del": int(batch_id), "mv-stream-id": stream_id},
                )
                vt.append(
                    survivors,
                    extra_summary={"mv-batch-id": int(batch_id), "mv-stream-id": stream_id},
                )
        finally:
            batch_df.unpersist()
            if merged is not None:
                merged.unpersist()
            if delta is not None:
                delta.unpersist()

    return merge


def topk_view_sink(
    view_root: str,
    part_key: str,
    order_cols: list[str],
    k: int,
    stream_id: str = "topk",
    source_root: str | None = None,
):
    """Streaming maintenance of a TOP-K view (the batch operator
    ``operators/topk_view.py`` under ``maintained_view_merge``'s
    idempotence protocol): each micro-batch of source APPENDS folds
    into a view table holding ≤ k rows per key with the rank
    materialized — candidates are (old top-k of touched keys) ∪
    (batch rows), so fold work is sized by the batch, never the view.

    Idempotence, exactly the mv fold's discipline: the delete commit
    stamps ``mv-batch-del`` and the append ``mv-batch-id``
    commit-atomically; watermark and crash markers are read from the
    LIVE lineage only (_live_lineage — rolled-past commits are
    neither applied nor half-applied); a replay at/below the
    watermark skips; a replay finding its own delete stamp without
    the append rolls the view back to the delete's parent and reruns
    against intact state. ``stream_id`` namespaces the watermark (one
    logical stream/checkpoint = one stable id).

    Deletes (round 12): a delete can PROMOTE a row the view no longer
    holds, which needs source access. With ``source_root`` set, a
    delete-bearing CDC batch folds with the bounded rebuild shape
    read_realtime's top-k delete path uses: delete-touched KEYS
    recompute their exact top-k from the source table (scan
    runtime-filter-pruned to the files whose stats admit a touched
    key; a key with no surviving rows leaves the view), while
    untouched keys' inserts take the usual (old top-k ∪ batch)
    merge — O(batch) + O(touched keys' files), never O(source). The
    rebuild reads the source HEAD, which may run ahead of the
    stream's cursor; that converges: re-applied inserts are idempotent
    under top-k, and a later delete triggers its own rebuild. Without
    ``source_root`` the INSERT-ONLY contract stays and a
    delete-bearing batch refuses loudly; unknown ``_change_type``
    values always refuse."""
    from pyspark.sql import functions as F

    from ..operators.topk_view import refuse_null_keys, topk_frame
    from ..table import load_table as _open

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vt = _open(view_root)
        applied = -1
        partial_del = None
        live = _live_lineage(vt.metadata)
        for s in vt.metadata.snapshots:
            if s.summary.get("mv-stream-id", "default") != stream_id:
                continue
            if s.snapshot_id not in live:
                continue
            bid = s.summary.get("mv-batch-id")
            if bid is not None:
                applied = max(applied, int(bid))
            if s.summary.get("mv-batch-del") == int(batch_id):
                partial_del = s
        if batch_id <= applied:
            return  # replayed epoch: already fully folded
        batch_df = batch_df.persist()
        new_top = del_keys = None
        width = max(
            spark.sparkContext.defaultParallelism,
            batch_df.rdd.getNumPartitions(),
        )
        try:
            with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
                if batch_df.isEmpty():
                    return  # idle trigger: skip without stamping
                if "_change_type" in batch_df.columns:
                    kinds = {
                        r["_change_type"]
                        for r in batch_df.select("_change_type")
                        .distinct()
                        .collect()
                    }
                    if kinds - {"insert", "delete"}:
                        raise ValueError(
                            f"topk_view_sink: unknown _change_type values "
                            f"{sorted(kinds - {'insert', 'delete'})}"
                        )
                    if "delete" in kinds:
                        if source_root is None:
                            raise ValueError(
                                "topk_view_sink is insert-only unless "
                                "source_root is set: a delete can promote "
                                "rows the view no longer holds, which needs "
                                "a touched-key rebuild against source — "
                                "pass source_root=<source table> or route "
                                "affected keys through "
                                "topk_view.rebuild_keys"
                            )
                        del_keys = (
                            batch_df.filter(F.col("_change_type") == "delete")
                            .select(part_key)
                            .distinct()
                            .persist()
                        )
                        refuse_null_keys(del_keys, [part_key], "topk_view_sink")
                    # filter into a NEW name: rebinding batch_df would make
                    # the finally-unpersist target the derived plan and leak
                    # the cached micro-batch (one per epoch, session-lived)
                    data = batch_df.filter(
                        F.col("_change_type") == "insert"
                    ).drop("_change_type")
                else:
                    data = batch_df
                if partial_del is not None:
                    vt.rollback_to(partial_del.parent_id)
                    vt = _open(view_root)
                # NULL check on the PERSISTED batch (not the unpersisted
                # distinct, which would rescan the source — round-10 review)
                refuse_null_keys(data, [part_key], "topk_view_sink")
                touched = data.select(part_key).distinct()
                if del_keys is not None:
                    # delete-touched keys rebuild from source below — their
                    # batch inserts are already IN the source head
                    touched = touched.join(
                        F.broadcast(del_keys), part_key, "left_anti"
                    )
                # runtime-filtered view read (operators/topk_view.py has
                # the rationale): file stats prune the view to the files
                # that can hold a touched key; the broadcast semi join
                # keeps the view side shuffle-free per micro-batch
                scanned, _info = vt.scan_runtime_filtered(
                    spark, touched, part_key
                )
                old = (
                    scanned
                    .join(F.broadcast(touched), part_key, "left_semi")
                    .drop("rn")
                )
                ins = data.select(old.columns)
                if del_keys is not None:
                    ins = ins.join(F.broadcast(del_keys), part_key, "left_anti")
                cand = old.unionByName(ins)
                new_top = topk_frame(cand, part_key, order_cols, k).select(
                    *old.columns, "rn"
                )
                if del_keys is not None:
                    src_t = _open(source_root)
                    s_scan, _sinfo = src_t.scan_runtime_filtered(
                        spark, del_keys, part_key
                    )
                    rebuilt = topk_frame(
                        s_scan.join(F.broadcast(del_keys), part_key, "left_semi")
                        .select(old.columns),
                        part_key, order_cols, k,
                    ).select(*old.columns, "rn")
                    new_top = new_top.unionByName(rebuilt)
                new_top = new_top.persist()
                new_top.count()
                del_touched = touched
                if del_keys is not None:
                    # a fully-deleted key has no rebuilt row but must
                    # still leave the view
                    del_touched = touched.unionByName(del_keys).distinct()
                vt.delete_eq_mor(
                    spark, del_touched, [part_key],
                    extra_summary={
                        "mv-batch-del": int(batch_id),
                        "mv-stream-id": stream_id,
                    },
                )
                vt.append(
                    new_top,
                    extra_summary={
                        "mv-batch-id": int(batch_id),
                        "mv-stream-id": stream_id,
                    },
                )
        finally:
            batch_df.unpersist()
            for df in (new_top, del_keys):
                if df is not None:
                    df.unpersist()

    return fold


def ann_index_sink(
    index_root: str,
    cents: list[list[float]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stream_id: str = "ann",
):
    """Streaming maintenance of a deployed IVF-PQ index table
    (``operators/similarity.ivfpq_table_append`` under the mv fold's
    idempotence protocol): each micro-batch of the embedding stream
    encodes against the FROZEN model (nearest frozen coarse cell + PQ
    codes from the frozen codebooks) and lands as one partition-
    aligned fast-append; CDC DELETE rows drop their vectors from the
    index via one MOR equality delete on the id — both directions are
    delta-sized, the index is never rebuilt, and probe pruning stays
    exact because appended files are single-cell. Retraining against
    drift stays a periodic offline decision.

    Idempotence: the delete commit stamps ``mv-batch-del`` and the
    append ``mv-batch-id`` commit-atomically; watermark and crash
    markers read the LIVE lineage only; replay at/below the watermark
    skips; a replay finding its own delete stamp without the append
    rolls back to the delete's parent and reruns against intact
    state."""
    from pyspark.sql import functions as F

    from ..operators.similarity import ivfpq_encode
    from ..table import load_table as _open

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        it = _open(index_root)
        applied = -1
        partial_del = None
        live = _live_lineage(it.metadata)
        for s in it.metadata.snapshots:
            if s.summary.get("mv-stream-id", "default") != stream_id:
                continue
            if s.snapshot_id not in live:
                continue
            bid = s.summary.get("mv-batch-id")
            if bid is not None:
                applied = max(applied, int(bid))
            if s.summary.get("mv-batch-del") == int(batch_id):
                partial_del = s
        if batch_id <= applied:
            return  # replayed epoch: already fully folded
        if "_change_type" in batch_df.columns:
            unknown = batch_df.filter(
                ~F.col("_change_type").isin("insert", "delete")
            )
            if not unknown.isEmpty():
                raise ValueError(
                    "ann_index_sink folds insert/delete change feeds; "
                    "got an unknown _change_type"
                )
        else:
            batch_df = batch_df.withColumn("_change_type", F.lit("insert"))
        batch_df = batch_df.persist()
        width = max(
            spark.sparkContext.defaultParallelism,
            batch_df.rdd.getNumPartitions(),
        )
        new_rows = None
        net = None
        try:
            with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
                if batch_df.isEmpty():
                    return  # idle trigger: skip without stamping
                if partial_del is not None:
                    it.rollback_to(partial_del.parent_id)
                    it = _open(index_root)
                # within-batch netting on (id, VECTOR), not id alone: a
                # batch can carry delete(X, old) + insert(X, new) — the
                # REPLACE pattern — which must keep the new vector, while
                # insert(X, v) + delete(X, v) with the SAME vector nets to
                # a no-op whichever order it happened in (delete-then-
                # reinsert of a standing row keeps it; insert-then-delete
                # of a new one never lands). Signed per-(id, vec) counts
                # resolve all three (an id-only anti-join cancelled
                # replaces and silently lost the id): net > 0 vectors
                # append; ids with any net < 0 vector get their standing
                # row masked FIRST (the replace's new vector appends
                # after, in commit order). Ids are unique in the source by
                # contract.
                sign = F.when(F.col("_change_type") == "delete", -1).otherwise(1)
                net = (
                    batch_df.groupBy(
                        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
                    )
                    .agg(F.sum(sign).alias("net"))
                    .persist()
                )
                dels = net.filter(F.col("net") < 0).select("id").distinct()
                stamp = {"mv-batch-id": int(batch_id), "mv-stream-id": stream_id}
                del_stamp = {
                    "mv-batch-del": int(batch_id), "mv-stream-id": stream_id,
                }
                surviving = net.filter(F.col("net") > 0).select(
                    F.col("id").alias(id_col), F.col("vec").alias(vec_col)
                )
                new_rows = ivfpq_encode(
                    surviving, cents, books, id_col, vec_col
                ).persist()
                has_dels = not dels.isEmpty()
                if has_dels:
                    it.delete_eq_mor(
                        spark, dels, ["id"], extra_summary=del_stamp
                    )
                it.append(
                    new_rows.repartition(len(cents), "cluster"),
                    extra_summary=stamp,
                )
        finally:
            batch_df.unpersist()
            if net is not None:
                net.unpersist()
            if new_rows is not None:
                new_rows.unpersist()

    return fold


def agg_view_sink(
    view_root: str,
    keys: list[str],
    value_col: str | list[str],
    stream_id: str = "agg",
):
    """Streaming maintenance of an ADDITIVE per-key ``(cnt, sv)`` view
    (the batch operator ``operators/agg_view.py`` under the mv fold's
    idempotence protocol). Unlike the top-k sink, DELETES fold without
    ever touching the source: count and sum are self-inverse, so the
    change feed's delete rows simply enter the per-batch aggregate
    with sign −1 — one signed groupBy turns any insert/delete mix into
    a net per-key delta, ``additive_refresh`` folds it with work sized
    by the delta's key set, and keys whose count reaches zero leave
    the view (``drop_when_zero``). Per-batch cost is O(batch) + O(one
    view row per touched key) at any corpus size. A single
    ``value_col`` keeps the (cnt, sv) shape; a LIST folds one
    ``sv_<col>`` measure per entry in the same signed delta (matching
    ``create_maintained_agg``'s multi-measure views).

    Idempotence, exactly the other sinks' discipline: the fold's
    delete commit stamps ``mv-batch-del`` and its append
    ``mv-batch-id`` commit-atomically; watermark and crash markers
    read the LIVE lineage only (_live_lineage); a replay at/below the
    watermark skips; a replay finding its own delete stamp without the
    append rolls back to the delete's parent and reruns against intact
    state. ``stream_id`` namespaces the watermark."""
    from pyspark.sql import functions as F

    from ..operators.agg_view import additive_refresh
    from ..table import load_table as _open

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vt = _open(view_root)
        applied = -1
        partial_del = None
        live = _live_lineage(vt.metadata)
        for s in vt.metadata.snapshots:
            if s.summary.get("mv-stream-id", "default") != stream_id:
                continue
            if s.snapshot_id not in live:
                continue  # rolled past: neither applied nor half-applied
            bid = s.summary.get("mv-batch-id")
            if bid is not None:
                applied = max(applied, int(bid))
            if s.summary.get("mv-batch-del") == int(batch_id):
                partial_del = s
        if batch_id <= applied:
            return  # replayed epoch: already fully folded
        if "_change_type" in batch_df.columns:
            known = batch_df.filter(
                ~F.col("_change_type").isin("insert", "delete")
            )
            if not known.isEmpty():
                raise ValueError(
                    "agg_view_sink folds insert/delete change feeds; "
                    "got an unknown _change_type"
                )
            sign = F.when(F.col("_change_type") == "delete", -1).otherwise(1)
        else:
            sign = F.lit(1)
        batch_df = batch_df.persist()
        width = max(
            spark.sparkContext.defaultParallelism,
            batch_df.rdd.getNumPartitions(),
        )
        try:
            with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
                if batch_df.isEmpty():
                    return  # idle trigger: skip without stamping
                if partial_del is not None:
                    vt.rollback_to(partial_del.parent_id)
                    vt = _open(view_root)
                values = (
                    [value_col] if isinstance(value_col, str) else list(value_col)
                )
                measures = (
                    ["sv"]
                    if isinstance(value_col, str)
                    else [f"sv_{c}" for c in values]
                )
                # fold type follows the VIEW table's measure dtype (long
                # for integral measures — exact past 2^53; double views
                # keep folding as double): table/maintained.py _sum_cast
                from ..table.maintained import _view_measure_casts

                casts = _view_measure_casts(vt.schema(), measures)
                delta = batch_df.groupBy(*keys).agg(
                    F.sum(sign).alias("cnt"),
                    *[
                        F.sum(sign * F.col(v).cast(c)).cast(c).alias(m)
                        for v, m, c in zip(values, measures, casts)
                    ],
                )
                additive_refresh(
                    spark, vt, delta, keys,
                    extra_summary={
                        "mv-batch-id": int(batch_id),
                        "mv-stream-id": stream_id,
                    },
                    extra_summary_delete={
                        "mv-batch-del": int(batch_id),
                        "mv-stream-id": stream_id,
                    },
                    drop_when_zero="cnt",
                )
        finally:
            batch_df.unpersist()

    return fold


def extrema_view_sink(
    view_root: str,
    key_col: str,
    value_col: str,
    stream_id: str = "extrema",
    source_root: str | None = None,
):
    """Streaming maintenance of a per-key MIN/MAX view ``(key, mn,
    mx)`` (round 11 — the streaming face of
    ``table/maintained.py create_maintained_extrema``): each
    micro-batch of source APPENDS folds with a least/greatest merge
    against the touched keys' view rows, work sized by the batch.

    Deletes (round 12): extrema are not self-inverse — a delete can
    remove the current min/max, which needs a touched-key rebuild
    against SOURCE data. With ``source_root`` set, a delete-bearing
    CDC batch takes exactly the a4z refresh shape, still bounded:
    delete-touched KEYS rebuild their (mn, mx) from the source table
    (scan runtime-filter-pruned to the files whose stats admit a
    touched key; a key with no surviving rows leaves the view),
    untouched keys' inserts fold as the usual least/greatest merge —
    O(batch) + O(touched keys' files), never O(source). The rebuild
    reads the source HEAD, which may run AHEAD of the stream's cursor;
    that is safe for this fold: min/max merges are idempotent under
    re-applied inserts, and any not-yet-seen delete triggers its own
    rebuild when its batch arrives — the view converges to the source
    extrema once the stream drains. Without ``source_root`` the
    INSERT-ONLY contract stays and a delete-bearing batch refuses
    LOUDLY (a sink with no source reference cannot rebuild; route the
    feed through refresh_maintained). Idempotence is the mv fold's
    discipline: delete commit stamps ``mv-batch-del``, append stamps
    ``mv-batch-id``, watermark/crash markers read the LIVE lineage
    only, replays at/below the watermark skip, a half-applied delete
    rolls back."""
    from pyspark.sql import functions as F

    from ..operators.topk_view import refuse_null_keys
    from ..table import load_table as _open

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vt = _open(view_root)
        applied = -1
        partial_del = None
        live = _live_lineage(vt.metadata)
        for s in vt.metadata.snapshots:
            if s.summary.get("mv-stream-id", "default") != stream_id:
                continue
            if s.snapshot_id not in live:
                continue
            bid = s.summary.get("mv-batch-id")
            if bid is not None:
                applied = max(applied, int(bid))
            if s.summary.get("mv-batch-del") == int(batch_id):
                partial_del = s
        if batch_id <= applied:
            return  # replayed epoch: already fully folded
        batch_df = batch_df.persist()
        width = max(
            spark.sparkContext.defaultParallelism,
            batch_df.rdd.getNumPartitions(),
        )
        del_keys = None
        delta = merged = None
        try:
            with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
                if batch_df.isEmpty():
                    return  # idle trigger: skip without stamping
                data = batch_df
                if "_change_type" in batch_df.columns:
                    kinds = {
                        r["_change_type"]
                        for r in batch_df.select("_change_type")
                        .distinct()
                        .collect()
                    }
                    if kinds - {"insert", "delete"}:
                        raise ValueError(
                            f"extrema_view_sink: unknown _change_type "
                            f"values {sorted(kinds - {'insert', 'delete'})}"
                        )
                    if "delete" in kinds:
                        if source_root is None:
                            raise ValueError(
                                "extrema_view_sink folds INSERT-ONLY feeds "
                                "unless source_root is set: a delete can "
                                "remove the current min/max, which needs a "
                                "touched-key rebuild against source — pass "
                                "source_root=<source table> or run "
                                "refresh_maintained for delete-bearing feeds"
                            )
                        del_keys = (
                            batch_df.filter(F.col("_change_type") == "delete")
                            .select(key_col)
                            .distinct()
                            .persist()
                        )
                        refuse_null_keys(del_keys, [key_col], "extrema_view_sink")
                    data = batch_df.filter(F.col("_change_type") == "insert")
                if partial_del is not None:
                    vt.rollback_to(partial_del.parent_id)
                    vt = _open(view_root)
                delta = data.groupBy(key_col).agg(
                    F.min(value_col).alias("mn"),
                    F.max(value_col).alias("mx"),
                )
                if del_keys is not None:
                    # delete-touched keys rebuild from source below —
                    # their batch inserts are already IN the source head
                    delta = delta.join(F.broadcast(del_keys), key_col, "left_anti")
                delta = delta.persist()
                refuse_null_keys(delta, [key_col], "extrema_view_sink")
                cur, _info = vt.scan_runtime_filtered(spark, delta, key_col)
                old = cur.join(
                    F.broadcast(delta.select(key_col)), key_col, "left_semi"
                )
                merged = (
                    old.unionByName(delta.select(old.columns))
                    .groupBy(key_col)
                    .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
                    .select(old.columns)
                )
                if del_keys is not None:
                    src_t = _open(source_root)
                    s_scan, _sinfo = src_t.scan_runtime_filtered(
                        spark, del_keys, key_col
                    )
                    rebuilt = (
                        s_scan.join(F.broadcast(del_keys), key_col, "left_semi")
                        .groupBy(key_col)
                        .agg(
                            F.min(value_col).alias("mn"),
                            F.max(value_col).alias("mx"),
                        )
                        .select(old.columns)
                    )
                    merged = merged.unionByName(rebuilt)
                merged = merged.persist()
                touched = merged.select(key_col)
                if del_keys is not None:
                    # a fully-deleted key has no rebuilt row but must
                    # still leave the view
                    touched = touched.unionByName(del_keys).distinct()
                vt.delete_eq_mor(
                    spark, touched, [key_col],
                    extra_summary={
                        "mv-batch-del": int(batch_id),
                        "mv-stream-id": stream_id,
                    },
                )
                vt.append(
                    merged,
                    extra_summary={
                        "mv-batch-id": int(batch_id),
                        "mv-stream-id": stream_id,
                    },
                )
        finally:
            for df in (merged, delta, del_keys):
                if df is not None:
                    df.unpersist()
            batch_df.unpersist()

    return fold


SCD2_OPEN = 1 << 62  # sentinel valid_to of the OPEN (current) version


def scd2_merge(
    hist_root: str,
    key_col: str = "user_id",
    value_col: str = "value",
    stream_id: str = "scd2",
):
    """CDC stream -> foreachBatch maintaining a TYPE-2 slowly-changing-
    dimension history table ``(key, value, valid_from, valid_to)``:
    exactly one OPEN row (``valid_to == SCD2_OPEN``) per live key,
    superseded versions CLOSED by stamping ``valid_to`` with the
    closing batch id — the training-data lineage primitive ("what was
    this feature worth when the model trained"). Versions are
    micro-batch granular: a value that appears and disappears inside
    one batch window never materializes (the CDC delta cancels).

    Per batch, entirely declarative: the batch's net (key, value)
    delta picks each touched key's new current version, the open rows
    of touched keys close via equality-delete on
    ``(key, valid_to=OPEN)`` + re-append with the closing stamp, and
    the new versions append OPEN — cost O(touched keys), never a
    history rewrite. Idempotent under foreachBatch replay with the
    same commit-atomic batch-watermark + partial-crash rollback
    contract as maintained_view_merge (scd-* summary keys;
    ``stream_id`` namespaces the watermark per logical stream)."""
    from pyspark.sql import functions as F

    from ..table import load_table as _open

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ht = _open(hist_root)
        applied = -1
        partial_del = None
        live = _live_lineage(ht.metadata)
        for s in ht.metadata.snapshots:
            if s.summary.get("scd-stream-id", "default") != stream_id:
                continue
            if s.snapshot_id not in live:
                continue  # rolled past: neither applied nor half-applied
            bid = s.summary.get("scd-batch-id")
            if bid is not None:
                applied = max(applied, int(bid))
            if s.summary.get("scd-batch-del") == int(batch_id):
                partial_del = s
        if batch_id <= applied:
            return  # replayed epoch: already fully folded
        # persist the per-batch frames: batch_df is a Python-source CDC
        # read and to_close re-scans the history table — each is used
        # by several downstream actions (isEmpty probes, the close
        # delete, the append), and without caching every action would
        # replay the CDC window / table scan from scratch. Shuffles are
        # sized to the batch, same rationale as maintained_view_merge.
        batch_df.persist()
        to_close = None
        width = max(
            spark.sparkContext.defaultParallelism,
            batch_df.rdd.getNumPartitions(),
        )
        try:
            with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
                if batch_df.isEmpty():
                    return  # zero-change window: no no-op close/append commits
                if partial_del is not None:
                    # crash window: the close-delete committed, the append did
                    # not — roll back to intact state and refold
                    ht.rollback_to(partial_del.parent_id)
                    ht = _open(hist_root)
                sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
                delta = batch_df.groupBy(key_col, value_col).agg(
                    F.sum(sign).alias("net")
                )
                new_cur = delta.filter(F.col("net") > 0).select(key_col, value_col)
                touched = batch_df.select(key_col).distinct()
                to_close = (
                    ht.scan(spark)
                    .filter(F.col("valid_to") == SCD2_OPEN)
                    .join(touched, key_col, "inner")
                    .persist()
                )
                closed = to_close.select(
                    key_col,
                    value_col,
                    "valid_from",
                    F.lit(int(batch_id)).alias("valid_to"),
                )
                new_open = new_cur.select(
                    key_col,
                    value_col,
                    F.lit(int(batch_id)).alias("valid_from"),
                    F.lit(SCD2_OPEN).alias("valid_to"),
                )
                rows = closed.unionByName(new_open)
                if rows.isEmpty():
                    return  # nothing changed in this window: no commits
                del_keys = to_close.select(
                    key_col, F.lit(SCD2_OPEN).alias("valid_to")
                )
                if not del_keys.isEmpty():
                    ht.delete_eq_mor(
                        spark,
                        del_keys,
                        [key_col, "valid_to"],
                        extra_summary={
                            "scd-batch-del": int(batch_id),
                            "scd-stream-id": stream_id,
                        },
                    )
                ht.append(
                    rows,
                    extra_summary={
                        "scd-batch-id": int(batch_id),
                        "scd-stream-id": stream_id,
                    },
                )
        finally:
            batch_df.unpersist()
            if to_close is not None:
                to_close.unpersist()

    return merge


def ingest_dedup_sink(
    curated_root: str,
    log_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_id: str = "ingest-dedup",
):
    """Streaming content dedup at ingest, first-seen-wins (FIFO): each
    micro-batch's documents are fingerprinted (md5 of the sorted
    distinct token set — stored as a ``fp`` column on the curated
    table, the content-hash column every curation pipeline carries),
    deduped within the batch (min id per fingerprint) and against the
    STANDING curated table, then split: winners append to curated,
    losers append to a dup-log table as ``(doc_id, kept_doc)``. The
    dedup state is the curated table itself — disk-backed, unbounded,
    shared with every other reader — not the stream's state store,
    which is what makes the operator restartable and 100 TB-sized: the
    per-batch cost is one fingerprint equi-join against curated.

    Exactly-once under foreachBatch's at-least-once contract, same
    two-table protocol as catalog_fanout_sink: curated appends stamp
    ``idd-batch-cur`` (the crash-window marker), the log commit stamps
    ``idd-batch-id`` (the watermark; a data-less ``append_entries([])``
    when the batch had no duplicates). A replay at/below the watermark
    skips; a replay that finds its own curated stamp without the log
    watermark rolls curated back to the stamped snapshot's parent and
    refolds against intact state."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..table import load_table as _open

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ct, lt = _open(curated_root), _open(log_root)
        applied = -1
        partial_cur = None
        # LIVE-lineage only (same discipline as catalog_fanout_sink): a
        # watermark commit rolled past by an external repair must not
        # count as applied — it would skip the replay and lose the
        # batch forever; likewise a rolled-past curated marker is not a
        # half-applied state to repair.
        log_live = _live_lineage(lt.metadata)
        cur_live = _live_lineage(ct.metadata)
        for s in lt.metadata.snapshots:
            if s.summary.get("idd-stream-id") != stream_id:
                continue
            if s.snapshot_id not in log_live:
                continue
            b = s.summary.get("idd-batch-id")
            if b is not None:
                applied = max(applied, int(b))
        for s in ct.metadata.snapshots:
            if s.summary.get("idd-stream-id") != stream_id:
                continue
            if s.snapshot_id not in cur_live:
                continue
            if s.summary.get("idd-batch-cur") == int(batch_id):
                partial_cur = s
        if batch_id <= applied:
            return  # replayed epoch: fully folded
        batch_df.persist()
        joined = None
        width = max(
            spark.sparkContext.defaultParallelism,
            batch_df.rdd.getNumPartitions(),
        )
        try:
            with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
                if batch_df.isEmpty():
                    return
                if partial_cur is not None:
                    # a prior attempt may have crashed AFTER its own
                    # rollback committed but before re-applying: the head
                    # then already sits at parent_id, and rolling back
                    # again would raise ('already at the requested
                    # snapshot'), permanently wedging every retry
                    if ct.metadata.current_snapshot_id != partial_cur.parent_id:
                        ct.rollback_to(partial_cur.parent_id)
                    ct = _open(curated_root)
                fp = F.md5(
                    F.concat_ws(
                        "\x1f",
                        F.array_sort(
                            F.array_distinct(F.split(F.col(text_col), " "))
                        ),
                    )
                )
                wfp = batch_df.withColumn("fp", fp)
                cur = ct.scan(spark).select(
                    "fp", F.col(id_col).alias("_kept")
                )
                joined = (
                    wfp.join(cur, "fp", "left")
                    .withColumn(
                        "_wmin", F.min(id_col).over(Window.partitionBy("fp"))
                    )
                    .persist()
                )
                new_rows = joined.filter(
                    F.col("_kept").isNull() & (F.col(id_col) == F.col("_wmin"))
                ).select(*batch_df.columns, "fp")
                dup_rows = joined.filter(
                    F.col("_kept").isNotNull() | (F.col(id_col) != F.col("_wmin"))
                ).select(
                    F.col(id_col).alias(id_col),
                    F.coalesce("_kept", "_wmin").alias("kept_doc"),
                )
                if not new_rows.isEmpty():
                    ct.append(
                        new_rows,
                        extra_summary={
                            "idd-batch-cur": int(batch_id),
                            "idd-stream-id": stream_id,
                        },
                    )
                if dup_rows.isEmpty():
                    # watermark must advance even with no duplicates: a
                    # data-less stamped commit, never a second crash window
                    lt.append_entries(
                        [],
                        extra_summary={
                            "idd-batch-id": int(batch_id),
                            "idd-stream-id": stream_id,
                        },
                    )
                else:
                    lt.append(
                        dup_rows,
                        extra_summary={
                            "idd-batch-id": int(batch_id),
                            "idd-stream-id": stream_id,
                        },
                    )
        finally:
            batch_df.unpersist()
            if joined is not None:
                joined.unpersist()

    return fold


def catalog_fanout_sink(cat_root: str, routes, stream_id: str = "fanout"):
    """Exactly-once streaming fan-out into MULTIPLE engine tables with
    cross-table atomicity through the catalog: each micro-batch splits
    by the route predicates, appends to every route's table (each
    append stamps the batch id commit-atomically), then publishes ALL
    touched pins in ONE catalog version — catalog readers never see a
    batch half-landed across tables.

    ``routes`` = [(table_name, predicate_fn)], predicate_fn(df) -> df.

    Idempotence (foreachBatch is at-least-once), per table via the
    ``fo-batch-id`` snapshot watermark over the table's LIVE lineage
    (ancestors of the current head — a snapshot rolled past by an
    external rollback no longer counts as applied):
    - table already carries the batch on its lineage -> keep that
      commit, no re-append (foreachBatch replays deliver the same
      rows for the same batch id, so the durable commit is the batch);
    - a LATER batch is on the lineage but this one's snapshot has been
      expired from the log -> also applied (single writer commits
      batches in order), no re-append;
    - otherwise append.
    The pins of ALL routed tables then publish in ONE catalog version
    — including on full replays, because a crash between the last
    table commit and the catalog publish would otherwise leave the
    batch catalog-invisible forever. ``_commit_pins`` folds forward
    via ``_later_of``, so re-publishing is idempotent.
    Empty route splits still append (an empty commit carries the
    watermark, keeping the per-table cursors aligned)."""
    from ..table.catalog import Catalog

    def write(batch_df: DataFrame, batch_id: int) -> None:
        cat = Catalog(cat_root)
        touched: dict[str, int] = {}
        for name, flt in routes:
            tbl = Table(cat._table_root(name))
            md = tbl.metadata
            by_id = {s.snapshot_id: s for s in md.snapshots}
            anc: set[int] = set()
            cur = md.current_snapshot_id
            while cur is not None and cur in by_id and cur not in anc:
                anc.add(cur)
                cur = by_id[cur].parent_id
            live = [
                s
                for s in md.snapshots
                if s.snapshot_id in anc
                and s.summary.get("fo-stream-id") == stream_id
                and s.summary.get("fo-batch-id") is not None
            ]
            this = next(
                (
                    s
                    for s in live
                    if int(s.summary["fo-batch-id"]) == int(batch_id)
                ),
                None,
            )
            if this is not None:
                touched[name] = this.snapshot_id
                continue
            applied = max(
                (int(s.summary["fo-batch-id"]) for s in live), default=-1
            )
            if applied >= batch_id:
                # this batch's snapshot expired from the log but a later
                # one is live: the batch is durably folded in — pin the
                # latest live fanout snapshot (forward-only merge keeps
                # a fresher pin untouched)
                touched[name] = max(
                    live, key=lambda s: (s.sequence, s.timestamp_ms)
                ).snapshot_id
                continue
            snap = tbl.append(
                flt(batch_df),
                extra_summary={
                    "fo-batch-id": int(batch_id),
                    "fo-stream-id": stream_id,
                },
            )
            touched[name] = snap.snapshot_id
        if touched:
            cat._commit_pins(touched)

    return write
