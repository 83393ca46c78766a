"""Group I — streaming surface as oracle-checked queries.

Each query stages the events fixture as arriving files, runs a real
Structured Streaming job to completion (availableNow trigger), and
returns the final state as a batch DataFrame — which must equal the
batch/SQL formulation in DuckDB. Streaming-only semantics that can't
be oracled this way (watermark drops, streaming dedup, restart
exactly-once) are covered in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import conf_scope
from ..streaming.jobs import (
    file_stream,
    run_to_memory,
    scratch_ckpt,
    shared_events_src,
    shared_staged,
    sorted_result,
    stream_append_to_table,
    tumbling_counts,
)
from . import register


@register(
    "i1_file_stream_ingest",
    oracle="SELECT COUNT(*) AS cnt, COUNT(DISTINCT event_id) AS dcnt FROM events",
    group="I",
)
def i1_file_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch file ingestion (maxFilesPerTrigger cap): the stream
    must deliver every staged row exactly once."""
    src, _ = shared_events_src(spark, sf_dir, n_files=4)
    result = run_to_memory(file_stream(spark, src, max_files_per_trigger=2))
    row = result.agg(
        F.count(F.lit(1)).alias("cnt"), F.countDistinct("event_id").alias("dcnt")
    ).collect()[0]
    return spark.createDataFrame([(row["cnt"], row["dcnt"])], "cnt bigint, dcnt bigint")


@register(
    "i2_stream_commit_to_engine_table",
    oracle="SELECT COUNT(*) AS cnt, SUM(event_id)::BIGINT AS sum_id FROM events",
    group="I",
)
def i2_stream_commit_to_engine_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch -> engine-table snapshot commits (the Spark-
    idiomatic bookkeeper): the final table content equals the source."""
    from ..table import create_table

    src, batch_df = shared_events_src(spark, sf_dir, n_files=4)
    root = tempfile.mkdtemp(prefix="stream_tbl_") + "/t"
    try:
        tbl = create_table(root, batch_df.schema)
        stream_append_to_table(spark, src, tbl, max_files_per_trigger=2)
        row = (
            tbl.scan(spark)
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("event_id").alias("sum_id"))
            .collect()[0]
        )
        return spark.createDataFrame([(row["cnt"], row["sum_id"])], "cnt bigint, sum_id bigint")
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "i3_tumbling_window_stream",
    oracle="""
SELECT (epoch_us(ts) - epoch_us(ts) % 300000000) AS window_start_us,
       COUNT(*) AS cnt
FROM events GROUP BY 1 ORDER BY 1
""",
    group="I",
)
def i3_tumbling_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling 5-minute window == batch epoch bucketing
    (G5 semantics — the reference's partition width)."""
    src, _ = shared_events_src(spark, sf_dir, n_files=4)
    agg = tumbling_counts(file_stream(spark, src, 2), "ts", "5 minutes")
    result = run_to_memory(agg, output_mode="complete")
    return sorted_result(result, "window_start_us")


@register(
    "i4_sliding_window_stream",
    oracle="""
WITH e AS (SELECT ts::TIMESTAMP AS ts FROM events),
buckets AS (
  SELECT (epoch_us(ts) - epoch_us(ts) % 300000000) AS s FROM e
  UNION ALL
  SELECT (epoch_us(ts) - epoch_us(ts) % 300000000) - 300000000 AS s FROM e
)
SELECT s AS window_start_us, COUNT(*) AS cnt
FROM buckets GROUP BY s ORDER BY s
""",
    group="I",
)
def i4_sliding_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding window (10 min / 5 min): each event lands in
    exactly two windows — the batch-SQL oracle materializes both."""
    from ..streaming.jobs import sliding_counts

    src, _ = shared_events_src(spark, sf_dir, n_files=4)
    agg = sliding_counts(file_stream(spark, src, 2), "ts", "10 minutes", "5 minutes")
    return sorted_result(run_to_memory(agg, output_mode="complete"), "window_start_us")


@register(
    "i5_session_window_stream",
    oracle="""
WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (SELECT user_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
       COUNT(*) AS cnt
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start_us
""",
    group="I",
)
def i5_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session window (30-min gap) == batch lag-gap
    sessionization (E3 pattern) expressed in the SQL oracle. Session
    end = last event + gap, [start, end) — a gap of exactly 30 min
    starts a new session in both formulations."""
    from ..streaming.jobs import session_counts

    src, _ = shared_events_src(spark, sf_dir, n_files=4)
    agg = session_counts(file_stream(spark, src, 2), "user_id", "ts", "30 minutes")
    return sorted_result(
        run_to_memory(agg, output_mode="complete"), "user_id", "session_start_us"
    )


@register(
    "i6_watermark_late_drop",
    oracle="""
SELECT CAST(1704067200000000 AS BIGINT) AS window_start_us,
       CAST(2 AS BIGINT) AS cnt, TRUE AS late_dropped
""",
    group="I",
)
def i6_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: two-phase run against a parquet sink — batch 1 advances the
    watermark ~110 min past window 0, batch 2 delivers a too-late row
    into that finalized window. The input is hand-constructed (fixed
    t0 = 2024-01-01 UTC), so the finalized-window output is a
    reproducible constant the oracle pins exactly: window 0 with the
    two on-time rows and ``late_dropped`` true iff the late row was
    dropped, not merged. Watermark finalization itself isn't
    SQL-expressible — the constant-oracle form is what makes the
    semantics hash-gradable."""
    import datetime as dt

    base = tempfile.mkdtemp(prefix="i6_")
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(rows: list[tuple[int, dt.datetime]], name: str) -> None:
        spark.createDataFrame(rows, "event_id long, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run_once() -> None:
        schema = spark.read.parquet(src).schema
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "cnt")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    state_parts = min(int(spark.conf.get("spark.sql.shuffle.partitions")), 8)
    try:
        # 5-row input: state partitioning must track the data, not the
        # session default (a plain driver session's 200 state
        # partitions cost a task each per micro-batch — measured 15 s
        # for this two-phase run vs ~4 s at 8)
        with conf_scope(spark, {"spark.sql.shuffle.partitions": state_parts}):
            m = dt.timedelta
            write_batch([(1, t0), (2, t0 + m(minutes=1)), (3, t0 + m(minutes=120))], "b1")
            run_once()
            # row 4 lands 110 min behind the watermark — must be dropped
            write_batch([(4, t0 + m(minutes=2)), (5, t0 + m(minutes=121))], "b2")
            run_once()
            w0_us = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
            # materialize before the temp dir vanishes — the returned frame
            # must not lazily re-read deleted files
            rows = sorted(
                (r["window_start_us"], r["cnt"])
                for r in spark.read.parquet(out).collect()
            )
            late_dropped = (w0_us, 2) in rows
            return spark.createDataFrame(
                [(ws, cnt, late_dropped) for ws, cnt in rows],
                "window_start_us bigint, cnt bigint, late_dropped boolean",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i7_stream_dedup_watermark",
    oracle="""
SELECT DISTINCT event_id FROM events WHERE event_id % 10 < 3
ORDER BY event_id
""",
    group="I",
)
def i7_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7: dropDuplicatesWithinWatermark over a stream that delivers
    every row TWICE (two staged copies of the same slice) must equal
    batch DISTINCT over the slice — the streaming form of exact dedup
    (H1). The watermark delay exceeds the slice's full time span, so
    no duplicate can outrun the dedup state."""
    from ..fixtures import load_table

    def build() -> str:
        src = tempfile.mkdtemp(prefix="i7_") + "/src"
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 10 < 3)
            .select("event_id", "ts")
        )
        ev.coalesce(1).write.parquet(src)
        ev.coalesce(1).write.mode("append").parquet(src)  # the duplicate copy
        return src

    src = shared_staged(("i7_dup_slice", sf_dir), build)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # NTZ-staged sources can't carry a watermark; relabel to LTZ
        # (session tz is UTC — same instant).
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return sorted_result(
        run_to_memory(stream, output_mode="append").select("event_id"), "event_id"
    )


@register(
    "i8_retention_during_stream",
    oracle="""
WITH e AS (
  SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS tp FROM events
)
SELECT COUNT(*) AS cnt, MIN(tp) AS min_tp
FROM e WHERE tp >= (SELECT MIN(tp) + 86400000000 FROM e)
""",
    group="I",
)
def i8_retention_during_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8: stream-ingest into a time-partitioned engine table
    (foreachBatch snapshot commits), then a bookkeeper-style
    metadata-only retention delete of the oldest 5-minute bucket. The
    surviving table must equal the batch filter ``tp >= min+width`` —
    proving retention between streaming commits drops exactly whole
    aligned buckets and nothing else.

    Bucket width MUST track event rate: the reference's 5-minute width
    (Constants.java:25) assumes its high-rate writer fleet; on this
    fixture's ~330 events/day, 5-minute buckets degenerate to one
    ~1-row file per bucket (8,639 partition dirs for 10k rows — a
    measured 111 s of pure small-file overhead), so the demo
    partitions by DAY. The semantics under test — aligned retention
    drops exactly whole buckets between commits — are
    width-independent; small-file pathology at mismatched widths is
    exactly what compaction (Table.compact_files) exists for."""
    from ..streaming.jobs import stream_append_to_table
    from ..table import create_table, truncate

    WIDTH = 86_400_000_000  # 1 day in µs (see docstring: width ~ rate)
    src, batch_df = shared_events_src(spark, sf_dir, n_files=4)
    root = tempfile.mkdtemp(prefix="i8_tbl_") + "/t"
    try:
        with_tp = batch_df.withColumn(
            "tp", F.unix_micros("ts") - F.pmod(F.unix_micros("ts"), F.lit(WIDTH))
        )
        tbl = create_table(root, with_tp.schema, partition=truncate("tp", WIDTH))

        def build() -> str:
            # re-stage with tp so the stream carries the partition column
            s = tempfile.mkdtemp(prefix="i8_src_") + "/src"
            with_tp.repartition(4).write.parquet(s, mode="overwrite")
            return s

        src2 = shared_staged(("i8_tp", sf_dir), build)
        stream_append_to_table(spark, src2, tbl, max_files_per_trigger=2)

        cutoff = tbl.scan(spark).agg(F.min("tp")).first()[0] + WIDTH
        tbl.delete_where("tp", "<", cutoff)
        row = (
            tbl.scan(spark)
            .agg(F.count(F.lit(1)).alias("cnt"), F.min("tp").alias("min_tp"))
            .collect()[0]
        )
        return spark.createDataFrame(
            [(row["cnt"], row["min_tp"])], "cnt bigint, min_tp bigint"
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "i9_stateful_sessionization",
    oracle="""
WITH d AS (
  SELECT user_id, epoch_us(ts) AS t,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, t,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM d)
SELECT user_id, MIN(t) AS start_us, MAX(t) AS end_us, COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
ORDER BY user_id, start_us
""",
    group="I",
)
def i9_stateful_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    30-minute-gap sessions with exact event counts, built from
    order-invariant mergeable interval state + a flush sentinel. The
    oracle is the batch islands formulation (LAG + running break-sum);
    the streaming run over arbitrary micro-batch splits must produce
    the identical session set."""
    from ..streaming.jobs import stateful_sessions

    src, _ = shared_events_src(spark, sf_dir, n_files=4, variant="flush")
    stream = file_stream(spark, src, max_files_per_trigger=2)
    sess = stateful_sessions(stream, gap_minutes=30)
    return sorted_result(run_to_memory(sess, output_mode="append"), "user_id", "start_us")


@register(
    "i10_streaming_upsert_latest",
    oracle="""
SELECT user_id, epoch_us(ts) AS last_ts_us, event_type AS last_event_type,
       value AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id
""",
    group="I",
)
def i10_streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I10 (beyond survey): CDC-style streaming MERGE — maintain a
    latest-state-per-key table from an event stream via foreachBatch
    conditional upsert. Micro-batches arrive in FILE order, not event
    order, so an unconditional last-writer-wins upsert would be wrong;
    each batch (a) reduces to its per-key latest, (b) left-joins the
    current state table to keep only strictly-newer rows (the
    WHEN MATCHED AND s.ts > t.ts THEN UPDATE arm of a MERGE), then
    (c) upserts. The state table is one row per key — the scan in (b)
    reads the compacted state, never the event history; the upsert's
    key-stats pruning bounds the rewrite set. Final table must equal
    the batch per-key-latest query."""
    from pyspark.sql.window import Window

    from ..table import create_table

    src, batch_df = shared_events_src(spark, sf_dir, n_files=4)
    state_schema = (
        batch_df.select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    ).schema
    root = tempfile.mkdtemp(prefix="i10_tbl_") + "/t"
    try:
        tbl = create_table(root, state_schema)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )

        def commit(bdf: DataFrame, batch_id: int) -> None:
            latest = (
                bdf.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(
                    "user_id",
                    F.col("ts").alias("last_ts"),
                    F.col("event_id").alias("last_event_id"),
                    F.col("event_type").alias("last_event_type"),
                    F.col("value").alias("last_value"),
                )
            )
            cur = tbl.scan(spark).select(
                F.col("user_id").alias("__k"),
                F.col("last_ts").alias("__ts"),
                F.col("last_event_id").alias("__eid"),
            )
            newer = (
                latest.join(F.broadcast(cur), latest.user_id == F.col("__k"), "left")
                .filter(
                    F.col("__k").isNull()
                    | (F.col("last_ts") > F.col("__ts"))
                    | (
                        (F.col("last_ts") == F.col("__ts"))
                        & (F.col("last_event_id") > F.col("__eid"))
                    )
                )
                .drop("__k", "__ts", "__eid")
            )
            if not newer.isEmpty():
                tbl.upsert(spark, newer, ["user_id"])

        ckpt = scratch_ckpt()
        try:
            q = (
                file_stream(spark, src, max_files_per_trigger=2)
                .writeStream.foreachBatch(commit)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        # materialize before the table dir is reclaimed (the returned
        # DataFrame must not reference the temp table's files)
        rows = (
            tbl.scan(spark)
            .select(
                "user_id",
                F.unix_micros("last_ts").alias("last_ts_us"),
                "last_event_type",
                "last_value",
            )
            .orderBy("user_id")
            .collect()
        )
        return spark.createDataFrame(
            rows,
            "user_id bigint, last_ts_us bigint, last_event_type string, last_value double",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "i11_stream_stream_join",
    oracle="""
SELECT a.user_id,
       COUNT(*)::BIGINT AS n_pairs,
       SUM(epoch_us(b.ts) - epoch_us(a.ts))::BIGINT AS sum_lag_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
GROUP BY a.user_id ORDER BY a.user_id
""",
    group="I",
)
def i11_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks joined to purchases by the
    same user within 60 minutes, both sides real file streams with
    event-time watermarks. The time-bound condition is what makes the
    join state finite — each side's state is evicted once the other
    side's watermark passes the interval, so state size is
    rate x interval, not the whole history. The watermark delay here
    exceeds the fixture's full span, so no state is evicted before its
    match arrives and the result equals the batch interval join the
    oracle computes."""
    src, _ = shared_events_src(spark, sf_dir, n_files=4)
    clicks = (
        file_stream(spark, src, 2)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "90 days")
    )
    purchases = (
        file_stream(spark, src, 2)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "90 days")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 60 MINUTES")),
    )
    pairs = run_to_memory(joined.select("user_id", "click_ts", "purchase_ts"))
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
            ).alias("sum_lag_us"),
        )
        .orderBy("user_id")
    )


@register(
    "i12_stream_static_join",
    oracle="""
SELECT c.c_mktsegment AS segment,
       COUNT(*)::BIGINT AS n_events,
       SUM(e.value)::DOUBLE AS sum_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
GROUP BY c.c_mktsegment ORDER BY segment
""",
    group="I",
)
def i12_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriches against a static
    dimension table per micro-batch. The static side is broadcast, so
    the stream never shuffles for the join and no join state is kept
    at all (unlike stream-stream joins) — the canonical shape for
    dimension enrichment at any scale. Result equals the batch join."""
    from ..fixtures import load_table as _lt

    src, _ = shared_events_src(spark, sf_dir, n_files=4)
    dim = F.broadcast(
        _lt(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    stream = file_stream(spark, src, 2)
    enriched = stream.join(dim, dim.c_custkey == stream.user_id + 1).select(
        F.col("c_mktsegment").alias("segment"), "value"
    )
    out = run_to_memory(enriched)
    return (
        out.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("double").alias("sum_value"),
        )
        .orderBy("segment")
    )


@register(
    "i13_chained_stateful_dedup_window",
    oracle="""
WITH d AS (
  SELECT DISTINCT event_id, ts FROM events WHERE event_id % 10 < 3
)
SELECT epoch_us(ts) - epoch_us(ts) % 300000000 AS window_start_us,
       COUNT(*) AS cnt
FROM d GROUP BY 1 ORDER BY 1
""",
    group="I",
)
def i13_chained_stateful_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming (Spark 3.4+ multiple-stateful-
    operator support): dropDuplicatesWithinWatermark feeding a tumbling
    window aggregation in ONE streaming query — the shape of a real
    ingest pipeline (dedupe at-least-once deliveries, then aggregate)
    without materializing an intermediate topic/table between the two
    stateful operators.

    The staged source delivers every row twice (two copies, separate
    micro-batches) plus a far-future sentinel row staged LAST whose
    event time pushes the final watermark past every real window end,
    so append mode finalizes all real windows; the sentinel's own
    window stays open and never emits. Result == batch DISTINCT then
    5-minute bucketing (the oracle). State is bounded by the watermark
    on both operators: dedup keys and open windows older than
    (max event time - 10 min) are evicted every batch."""
    import datetime as dt
    import glob as _glob

    from ..fixtures import load_table as _lt

    def build() -> str:
        base = tempfile.mkdtemp(prefix="i13_")
        src = base + "/src"
        ev = (
            _lt(spark, sf_dir, "events")
            .filter(F.col("event_id") % 10 < 3)
            .select("event_id", "ts")
        )
        ev.coalesce(1).write.parquet(src)
        ev.coalesce(1).write.mode("append").parquet(src)  # duplicate copy
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        sentinel = spark.createDataFrame(
            [(-1, max_ts + dt.timedelta(days=365))], ev.schema
        )
        before = set(_glob.glob(os.path.join(src, "*.parquet")))
        sentinel.coalesce(1).write.mode("append").parquet(src)
        # the file source orders batches by modification time: the
        # sentinel must be the LAST batch so both real copies pass
        # through the dedup state before the watermark jumps
        import time as _time

        future = _time.time() + 1000
        for p in set(_glob.glob(os.path.join(src, "*.parquet"))) - before:
            os.utime(p, (future, future))
        return src

    src = shared_staged(("i13_dup_sentinel", sf_dir), build)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "cnt")
    )
    return sorted_result(run_to_memory(stream, output_mode="append"), "window_start_us")


@register(
    "i14_streaming_incremental_topk",
    oracle="""
SELECT event_id, ROUND(value, 4) AS value
FROM events
ORDER BY value DESC, event_id
LIMIT 10
""",
    group="I",
)
def i14_streaming_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k over a stream: foreachBatch folds each
    micro-batch's LOCAL top-10 into a running top-10 (union of two
    k-row sets, re-ranked). State is k rows — independent of stream
    length — and each batch's work is one TakeOrdered over the batch
    plus a k+k merge, the streaming analogue of map-side partial
    top-k. Equal to the batch top-10 oracle because top-k is a
    mergeable aggregate: topk(A ∪ B) == topk(topk(A) ∪ topk(B))."""
    K = 10
    src, _ = shared_events_src(spark, sf_dir, n_files=4)
    schema = spark.read.parquet(src).schema
    running: list[tuple] = []  # k rows on the driver: bounded state

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_top = (
            batch_df.select("event_id", "value")
            .orderBy(F.col("value").desc(), F.col("event_id"))
            .limit(K)
            .collect()
        )
        merged = running + [(r["event_id"], r["value"]) for r in batch_top]
        merged.sort(key=lambda t: (-t[1], t[0]))
        running[:] = merged[:K]

    ckpt = scratch_ckpt("ckpt_i14_")
    try:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        [(e, round(v, 4)) for e, v in running], "event_id bigint, value double"
    )


@register(
    "i15_streaming_ingest_pipeline",
    oracle="""
WITH base AS (
  SELECT text,
         len(str_split(text, ' ')) AS n_tokens,
         length(text)::DOUBLE / len(str_split(text, ' ')) AS mwl,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
           / length(text) AS alpha
  FROM documents
),
kept AS (
  SELECT text FROM base
  WHERE n_tokens BETWEEN 5 AND 1000 AND mwl BETWEEN 2 AND 12 AND alpha >= 0.6
),
norm AS (
  SELECT DISTINCT regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS ntext
  FROM kept
)
SELECT COUNT(*) AS n_docs, SUM(length(ntext))::BIGINT AS total_norm_chars
FROM norm
""",
    group="I",
)
def i15_streaming_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming training-data ingestion — h37's pipeline as a live
    stream: each micro-batch is quality-filtered and normalized, then
    exact-deduplicated BOTH within the batch and against everything
    already committed (broadcast anti-join on the normalized-text
    hash against the state table's hash column — one small column,
    not the corpus), and the survivors append as one snapshot. The
    staged source delivers every document twice across batches, so
    cross-batch dedup is load-bearing: the final table must equal the
    batch DISTINCT of the filtered corpus regardless of arrival
    order. At scale the state side is a hash-only projection of the
    table (8 bytes/doc) — the anti-join's broadcast/shuffle cost
    tracks corpus COUNT, never corpus bytes."""
    from ..fixtures import load_table as _lt
    from ..table import create_table

    def build() -> str:
        src = tempfile.mkdtemp(prefix="i15_") + "/src"
        docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
        docs.coalesce(2).write.parquet(src)
        docs.coalesce(2).write.mode("append").parquet(src)  # duplicate copy
        return src

    src = shared_staged(("i15_docs_dup", sf_dir), build)
    schema = spark.read.parquet(src).schema
    t = F.split("text", " ")
    n_tok = F.size(t)
    mwl = F.length("text") / n_tok
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")) / F.length(
        "text"
    )
    keep = n_tok.between(5, 1000) & mwl.between(2, 12) & (alpha >= 0.6)
    ntext = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    state_schema = StructType(
        [
            StructField("nhash", LongType(), False),
            StructField("ntext", StringType(), True),
        ]
    )
    root = tempfile.mkdtemp(prefix="i15_tbl_") + "/t"
    try:
        tbl = create_table(root, state_schema)

        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            fresh = (
                batch_df.filter(keep)
                .select(ntext.alias("ntext"))
                .select(F.xxhash64("ntext").alias("nhash"), "ntext")
                .dropDuplicates(["nhash"])
            )
            seen = tbl.scan(spark).select("nhash")
            fresh = fresh.join(F.broadcast(seen), "nhash", "left_anti")
            if not fresh.isEmpty():
                tbl.append(fresh)

        ckpt = scratch_ckpt("ckpt_i15_")
        try:
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(ingest)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        row = (
            tbl.scan(spark)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("ntext")).alias("total_norm_chars"),
            )
            .collect()[0]
        )
        return spark.createDataFrame(
            [(row["n_docs"], row["total_norm_chars"])],
            "n_docs bigint, total_norm_chars bigint",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "i17_late_data_dead_letter",
    oracle="""
WITH b1 AS (SELECT MAX(ts) AS m FROM events WHERE event_id % 4 IN (0, 1))
SELECT
  ((SELECT COUNT(*) FROM events WHERE event_id % 4 IN (0, 1))
   + (SELECT COUNT(*) FROM events e, b1
      WHERE e.event_id % 4 IN (2, 3)
        AND e.ts >= b1.m - INTERVAL 60 MINUTE))::BIGINT AS n_on_time,
  (SELECT COUNT(*) FROM events e, b1
   WHERE e.event_id % 4 IN (2, 3)
     AND e.ts < b1.m - INTERVAL 60 MINUTE)::BIGINT AS n_late
""",
    group="I",
)
def i17_late_data_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I17 (beyond survey): watermark with a dead-letter side output.
    Spark's withWatermark silently DISCARDS late rows — a training-data
    pipeline must capture them for audit/backfill instead. foreachBatch
    maintains the event-time watermark explicitly (monotone max event
    time minus delay, applied as of the previous batch) and routes each
    micro-batch's late rows to a second sink; both sinks accumulate
    executor-side, only the per-batch max timestamp (one scalar)
    crosses to the driver. The staged file->batch assignment is
    deterministic and SQL-expressible (file i = event_id % 4 == i,
    two files per trigger in path order), so the oracle reproduces the
    exact watermark the stream had when each file arrived."""
    from ..streaming.jobs import late_data_dead_letter, stage_events_mod_files

    src = shared_staged(
        (sf_dir, 4, "mod"), lambda: stage_events_mod_files(spark, sf_dir, 4)
    )
    ok, late = late_data_dead_letter(
        spark, src, delay_minutes=60, max_files_per_trigger=2
    )
    return spark.createDataFrame(
        [(ok.count(), late.count())], "n_on_time bigint, n_late bigint"
    )


@register(
    "i18_stream_stream_left_outer",
    oracle="""
WITH c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
j AS (SELECT c.user_id, c.cts, p.pts
      FROM c LEFT JOIN p ON p.user_id = c.user_id
                        AND p.pts >= c.cts
                        AND p.pts <= c.cts + INTERVAL 60 MINUTE)
SELECT user_id, COUNT(*)::BIGINT AS n_rows, COUNT(pts)::BIGINT AS n_matched,
       (COUNT(*) - COUNT(pts))::BIGINT AS n_unmatched
FROM j GROUP BY user_id ORDER BY user_id
""",
    group="I",
)
def i18_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: clicks that never see a purchase
    within 60 minutes must still emit (with a NULL purchase side) —
    but only once the right-hand watermark PASSES the click's join
    window, because until then a match could still arrive. That
    watermark-driven NULL-side emission is the semantics under test:
    a far-future sentinel row on each stream (filtered from the
    output) advances both watermarks past all real data so the finite
    availableNow run flushes every pending outer row, the same
    flush-sentinel technique as i13. State stays finite in a live
    deployment because each side evicts once the other side's
    watermark clears the 60-minute bound (rate x interval, never the
    history)."""
    import time as _time

    def build() -> str:
        out = tempfile.mkdtemp(prefix="stream_outer_src_")
        src = os.path.join(out, "events")
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
        ev.repartition(4).write.mode("overwrite").parquet(src)
        sent = spark.createDataFrame(
            [(-1, "2100-01-01 00:00:00", "click"), (-2, "2100-01-01 00:00:00", "purchase")],
            "user_id long, ts string, event_type string",
        ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
        sdir = tempfile.mkdtemp(prefix="outer_sentinel_")
        sent.coalesce(1).write.mode("overwrite").parquet(sdir)
        part = next(
            f for f in os.listdir(sdir) if f.endswith(".parquet") and not f.startswith("_")
        )
        dest = os.path.join(src, "zz_outer_sentinel.parquet")
        shutil.copyfile(os.path.join(sdir, part), dest)
        shutil.rmtree(sdir, ignore_errors=True)
        future = _time.time() + 3600
        os.utime(dest, (future, future))
        return src

    from ..fixtures import load_table

    src = shared_staged((sf_dir, 4, "outer"), build)
    clicks = (
        file_stream(spark, src, 2)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "90 days")
    )
    purchases = (
        file_stream(spark, src, 2)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "90 days")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 60 MINUTES")),
        "leftOuter",
    )
    rows = run_to_memory(joined.select("user_id", "click_ts", "purchase_ts"))
    return (
        rows.filter(F.col("user_id") >= 0)  # drop the sentinel's own row
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("purchase_ts").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("purchase_ts")).alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


@register(
    "i19_checkpoint_restart_recovery",
    oracle="""
SELECT COUNT(*)::BIGINT AS cnt, COUNT(DISTINCT event_id)::BIGINT AS dcnt,
       SUM(event_id)::BIGINT AS sum_id
FROM events
""",
    group="I",
)
def i19_checkpoint_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a restart: the stream ingests HALF the
    source files to a parquet sink and terminates; more files then
    arrive and a NEW query starts from the SAME checkpoint. The
    restarted query must resume from the recorded offsets — no row
    lost, none doubled — so the sink equals the batch totals over the
    full fixture. This is the recovery contract the whole decoupled
    ingestion design rests on (a bookkeeper crash never loses or
    replays a committed batch); the same guarantee for engine-table
    sinks is pinned by the batch-id high-watermark tests."""
    from ..fixtures import load_table

    base = tempfile.mkdtemp(prefix="i19_")
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select("event_id")

    def stage(mod: int) -> None:
        ev.filter(F.col("event_id") % 2 == mod).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once() -> None:
        schema = spark.read.parquet(src).schema
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        stage(0)
        run_once()  # phase 1: half the data, then 'crash'
        stage(1)
        run_once()  # phase 2: restart from the same checkpoint
        got = spark.read.parquet(out)
        row = got.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("event_id").alias("dcnt"),
            F.sum("event_id").alias("sum_id"),
        ).collect()[0]
        return spark.createDataFrame(
            [(row["cnt"], row["dcnt"], row["sum_id"])],
            "cnt bigint, dcnt bigint, sum_id bigint",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i20_connector_cdc_stream",
    oracle="""
SELECT
  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 1 AND event_id % 5 <> 0)
    AS n_insert,
  (SELECT CAST(SUM(event_id) AS BIGINT) FROM events
   WHERE event_id % 2 = 1 AND event_id % 5 <> 0)
    AS sum_insert,
  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0 AND event_id % 5 = 0)
    AS n_delete,
  (SELECT CAST(SUM(event_id) AS BIGINT) FROM events
   WHERE event_id % 2 = 0 AND event_id % 5 = 0)
    AS sum_delete
""",
    group="I",
)
def i20_connector_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC as a STREAM through the connector:
    ``readStream.format("engine_table").option("cdc","true")`` tails
    the change feed in micro-batches — same scenario as the batch a3k
    (evens committed, cursor, then odds append + %5 equality delete in
    one window), same oracle. Planning per batch is a manifest diff;
    each partition is one data file read executor-side with its small
    delete payload, so the stream's cost is O(changed files) per
    batch, not O(table) — the property that lets a 100 TB table feed a
    downstream sink continuously. Dead-on-arrival rows (odd %5) never
    surface; common-file rows hit by the new delete arrive as
    _change_type='delete'."""
    from ..fixtures import load_table
    from ..sources import register_engine_datasource

    register_engine_datasource(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    base = tempfile.mkdtemp(prefix="cdc_stream_")
    root, ckpt, sink = base + "/t", base + "/ckpt", base + "/out"

    def drain():
        q = (
            spark.readStream.format("engine_table")
            .option("root", root)
            .option("cdc", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        from ..table import create_table as _ct

        tbl = _ct(root, ev.schema)
        tbl.append(ev.filter(F.col("event_id") % 2 == 0))
        drain()  # phase 1: initial state drains as inserts
        tbl.append(ev.filter(F.col("event_id") % 2 == 1))
        tbl.delete_eq_mor(
            spark,
            ev.filter(F.col("event_id") % 5 == 0).select("event_id"),
            ["event_id"],
        )
        drain()  # phase 2: the graded window
        schema = "event_id long, user_id long, _change_type string"
        got = spark.read.schema(schema).parquet(sink)
        # phase 2 delta = everything beyond the phase-1 even inserts
        delta = got.filter(
            (F.col("_change_type") == "delete")
            | (F.col("event_id") % 2 == 1)
        )
        agg = delta.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
        ).collect()
        by = {r["_change_type"]: (r["n"], r["s"]) for r in agg}
        ins = by.get("insert", (0, 0))
        dl = by.get("delete", (0, 0))
        return spark.createDataFrame(
            [(ins[0], ins[1], dl[0], dl[1])],
            "n_insert bigint, sum_insert bigint, n_delete bigint, sum_delete bigint",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i21_streaming_materialized_view",
    oracle="""
WITH final AS (
  SELECT event_id, user_id, value FROM events
  WHERE (event_id % 3 IN (0, 1) AND event_id % 4 <> 0)
     OR event_id % 3 = 2
),
mv AS (
  SELECT user_id, COUNT(*) AS cnt, SUM(value) AS sv
  FROM final GROUP BY user_id
)
SELECT COUNT(*) AS n_users, CAST(SUM(cnt) AS BIGINT) AS total_rows,
       ROUND(SUM(sv), 4) AS total_value, true AS mv_equals_recompute
FROM mv
""",
    group="I",
)
def i21_streaming_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained materialized view: the CDC STREAM (i20's
    connector source) drives a foreachBatch that folds each batch's
    delta into a downstream ENGINE TABLE — count/sum are
    self-maintainable, so inserts add and deletes subtract, and only
    TOUCHED view keys are replaced per batch (equality delete + append
    — MOR sequence semantics make the replacement exact). Same source
    scenario and oracle as the batch a3l (append, MOR equality delete,
    append-after-delete), but the view is brought current by the
    stream, never by recompute. At 100 TB this is the standing
    aggregation pattern: per-batch cost is O(batch) + O(touched keys),
    while the view table stays queryable between batches.
    mv_equals_recompute grades the maintained view against a
    from-scratch recompute of the source."""
    from ..fixtures import load_table
    from ..sources import register_engine_datasource
    from ..table import create_table as _ct
    from ..table import load_table as _open

    register_engine_datasource(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = tempfile.mkdtemp(prefix="stream_mv_")
    src_root, view_root, ckpt = base + "/src", base + "/view", base + "/ckpt"

    src = _ct(src_root, ev.schema)
    view_schema = (
        spark.createDataFrame([], "user_id long, cnt long, sv double").schema
    )
    view = _ct(view_root, view_schema)

    # the idempotent fold: batch ids stamped commit-atomically, replays
    # skipped, the delete/append crash window rolled back (foreachBatch
    # is at-least-once; a re-applied delta would double-count)
    from ..streaming.jobs import maintained_view_merge

    merge_batch = maintained_view_merge(view_root)

    def drain():
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .option("cdc", "true")
            .load()
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # fixture-scale shuffle clamp for the scenario's own queries (the
    # fold clamps itself per batch); same rationale as i24's
    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            src.append(ev.filter(F.col("event_id") % 3 == 0))
            drain()  # view now holds the base state
            src.append(ev.filter(F.col("event_id") % 3 == 1))
            src.delete_eq_mor(
                spark,
                ev.filter(F.col("event_id") % 4 == 0).select("event_id"),
                ["event_id"],
            )
            src.append(ev.filter(F.col("event_id") % 3 == 2))
            drain()  # deltas fold in; no recompute
            vt = _open(view_root)
            mv = vt.scan(spark).persist()
            recompute = (
                src.scan(spark)
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
            )
            a = mv.select("user_id", "cnt", F.round("sv", 6).alias("sv"))
            b = recompute.select("user_id", "cnt", F.round("sv", 6).alias("sv")).persist()
            equal = a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
            row = mv.agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("cnt").alias("total_rows"),
                F.round(F.sum("sv"), 4).alias("total_value"),
            ).collect()[0]
            return spark.createDataFrame(
                [(row["n_users"], row["total_rows"], float(row["total_value"]), equal)],
                "n_users bigint, total_rows bigint, total_value double, "
                "mv_equals_recompute boolean",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i22_paced_stream_tail",
    oracle="""
SELECT CAST(3 AS BIGINT) AS n_batches,
       CAST(2 AS BIGINT) AS max_files_per_batch,
       COUNT(*) AS rows_delivered,
       true AS no_gap_no_overlap
FROM customer
""",
    group="I",
)
def i22_paced_stream_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited streaming catch-up (option("maxFilesPerTrigger"),
    Iceberg/Delta's per-trigger file cap): a stream starting against
    committed history advances its end offset only ~N files per
    micro-batch, so deep backlogs drain in bounded batches instead of
    one giant one — at 100 TB the difference between a resumable
    catch-up and an executor-OOM first batch. This drives the
    connector's EngineStreamReader offset protocol directly
    (initialOffset -> latestOffset -> partitions per trigger); the
    full Spark micro-batch loop over the same reader (including the
    documented first-batch-after-restart-uncapped contract) is pinned
    in tests/test_datasource.py::test_stream_max_files_per_trigger.
    Grades: the batch count and per-batch file cap for 6 single-file
    commits at N=2, and that the batches partition the commit history
    exactly (no gap, no overlap: union of batch windows == table)."""
    from ..fixtures import load_table as load_fixture
    from ..sources.engine_datasource import EngineStreamReader
    from ..table import create_table as _ct

    cust = load_fixture(spark, sf_dir, "customer").select("c_custkey")
    base = tempfile.mkdtemp(prefix="paced_tail_")
    root = base + "/t"
    try:
        tbl = _ct(root, cust.schema)
        for i in range(6):
            tbl.append(cust.filter(F.col("c_custkey") % 6 == i).coalesce(1))
        reader = EngineStreamReader(root, tbl.schema(), {"maxFilesPerTrigger": "2"})
        start = reader.initialOffset()
        windows: list[tuple] = []
        sizes: list[int] = []
        for _ in range(20):
            end = reader.latestOffset()
            if end == start:
                break
            parts = reader.partitions(start, end)
            sizes.append(len(parts))
            windows.append((start["snapshot_id"], end["snapshot_id"]))
            start = end
        # no gap / no overlap: windows chain exactly through the log
        chained = all(
            windows[i][1] == windows[i + 1][0] for i in range(len(windows) - 1)
        )
        contiguous = (
            chained
            and windows[0][0] is None
            and windows[-1][1] == tbl.metadata.current_snapshot().snapshot_id
        )
        # rows graded via a scan: a contiguous window chain covering
        # the whole log delivers exactly the table's content
        delivered = tbl.scan(spark).count() if contiguous else -1
        return spark.createDataFrame(
            [(len(sizes), max(sizes), delivered, contiguous)],
            "n_batches bigint, max_files_per_batch bigint, "
            "rows_delivered bigint, no_gap_no_overlap boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i23_stream_dedup_watermark",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       COUNT(DISTINCT user_id) AS n_users
FROM events
""",
    group="I",
)
def i23_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per event_id and
    expires its dedup state once the watermark passes — the
    exactly-once ingestion shape for at-least-once upstream feeds
    (every real queue redelivers). The staged source duplicates EVERY
    event (two copies across different files, arriving in different
    micro-batches); the deduped stream must equal the original
    fixture exactly. State is keyed by event_id and sized by the
    watermark horizon, not the stream length — the property that lets
    this run forever at 100 TB/day where a global dropDuplicates
    would accumulate unbounded state."""
    from ..fixtures import load_table as _load

    def _stage() -> str:
        out = tempfile.mkdtemp(prefix="stream_dup_")
        ev = _load(spark, sf_dir, "events")
        src = os.path.join(out, "events")
        # two full copies, shuffled into 4 files -> each event_id
        # appears twice, usually in different micro-batches
        ev.unionByName(ev).repartition(4).write.mode("overwrite").parquet(src)
        return src

    src = shared_staged((sf_dir, "dup2"), _stage)
    stream = file_stream(spark, src, max_files_per_trigger=2)
    # 45-day delay >= the fixture's full span: no dedup state expires
    # mid-run, so the result is exactly DISTINCT (the oracle); a
    # production feed sizes the delay to its redelivery horizon
    deduped = stream.withWatermark("ts", "45 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    result = run_to_memory(deduped)
    return result.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_id"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "i24_scd2_history_stream",
    oracle="""
SELECT (SELECT COUNT(*) FROM customer WHERE c_custkey % 5 <> 0) AS n_open,
       (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))
                      + CASE WHEN c_custkey % 3 = 0 THEN 1000 ELSE 0 END)
               AS DOUBLE)
          FROM customer WHERE c_custkey % 5 <> 0) AS sum_open,
       (SELECT COUNT(*) FROM customer WHERE c_custkey % 3 = 0)
         + (SELECT COUNT(*) FROM customer WHERE c_custkey % 5 = 0) AS n_closed,
       true AS open_equals_source,
       true AS versions_correct
""",
    group="I",
)
def i24_scd2_history_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history maintained by the CDC
    STREAM (streaming/jobs.scd2_merge): every upstream change lands as
    a closed version row plus a new open row, so 'what was this value
    when the model trained' is one as-of filter over (valid_from,
    valid_to] — the feature-lineage primitive. The scenario seeds
    customer balances, updates one third (+1000), then deletes one
    fifth; the maintained history must show exactly the surviving
    open rows equal to a source recompute, one closed version per
    update or delete, and the closed versions carrying their ORIGINAL
    values. Per-batch cost is O(touched keys): closing is an equality
    delete + re-append of just those keys' open rows, never a history
    rewrite — the shape that stands at 100 TB of dimension churn."""
    from ..fixtures import load_table
    from ..sources import register_engine_datasource
    from ..streaming.jobs import SCD2_OPEN, scd2_merge
    from ..table import create_table as _ct
    from ..table import load_table as _open

    register_engine_datasource(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_acctbal").cast("double").alias("value"),
    )
    base = tempfile.mkdtemp(prefix="stream_scd2_")
    src_root, hist_root, ckpt = base + "/src", base + "/hist", base + "/ckpt"
    src = _ct(src_root, cust.schema)
    hist_schema = spark.createDataFrame(
        [], "user_id long, value double, valid_from long, valid_to long"
    ).schema
    _ct(hist_root, hist_schema)
    fold = scd2_merge(hist_root)

    def drain():
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .option("cdc", "true")
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # the fold's per-batch joins/groupBys run under the SESSION's
    # shuffle partitioning; at dimension-churn scale that is sized to
    # the cluster, here it is clamped to the fixture (same rationale
    # as run_to_memory's state_partitions)
    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            src.append(cust)
            drain()  # batch 0: every key opens
            upd = cust.filter(F.col("user_id") % 3 == 0)
            src.delete_eq_mor(spark, upd.select("user_id"), ["user_id"])
            src.append(upd.withColumn("value", F.col("value") + 1000))
            drain()  # batch: one third close v1, open v2
            src.delete_eq_mor(
                spark,
                cust.filter(F.col("user_id") % 5 == 0).select("user_id"),
                ["user_id"],
            )
            drain()  # batch: one fifth close with no successor
            # the assertions below run 6+ actions over the history and the
            # source; persist both scans so each is read once
            hs = _open(hist_root).scan(spark).persist()
            open_rows = hs.filter(F.col("valid_to") == SCD2_OPEN)
            closed_rows = hs.filter(F.col("valid_to") != SCD2_OPEN)
            source_now = src.scan(spark).persist()
            a = open_rows.select("user_id", F.round("value", 4).alias("value"))
            b = source_now.select("user_id", F.round("value", 4).alias("value"))
            open_eq = a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
            # closed versions carry their ORIGINAL (pre-update) values
            orig = cust.withColumnRenamed("value", "v0")
            mismatches = (
                closed_rows.filter(F.col("valid_from") == 0)
                .join(orig, "user_id")
                .filter(F.round(F.col("value"), 4) != F.round(F.col("v0"), 4))
                .count()
            )
            row = open_rows.agg(
                F.count(F.lit(1)).alias("n_open"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_open"),
            ).collect()[0]
            n_closed = closed_rows.count()
            return spark.createDataFrame(
                [
                    (
                        row["n_open"],
                        row["sum_open"],
                        n_closed,
                        open_eq,
                        mismatches == 0 and n_closed > 0,
                    )
                ],
                "n_open bigint, sum_open double, n_closed bigint, "
                "open_equals_source boolean, versions_correct boolean",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i25_gdpr_erasure_propagation",
    oracle="""
WITH kept AS (SELECT * FROM events WHERE user_id % 7 <> 3)
SELECT COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS total_rows,
       ROUND(SUM(value), 4) AS total_value,
       true AS erased_gone_upstream,
       true AS erased_gone_downstream,
       true AS survives_maintenance
FROM kept
""",
    group="I",
)
def i25_gdpr_erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure propagation: a user-keyed equality delete on
    the UPSTREAM table (one metadata-scale MOR commit — no rewrite at
    request time) rides the CDC stream into every DERIVED table; the
    maintained per-user view drops erased keys entirely (zero-count
    keys are removed, not zeroed); a subsequent maintenance pass
    physically purges the rows from storage (delete materialization +
    compaction) WITHOUT re-emitting changes — content-preserving
    rewrites contribute zero CDC rows, so downstream state is
    untouched by the purge. That is the full GDPR pipeline at 100 TB:
    request -> one eq-delete commit, propagation -> O(touched keys)
    per derived table, physical purge -> amortized into maintenance.
    Graded flags pin each stage; totals grade the surviving content."""
    from ..fixtures import load_table
    from ..sources import register_engine_datasource
    from ..streaming.jobs import maintained_view_merge
    from ..table import create_table as _ct
    from ..table import load_table as _open

    register_engine_datasource(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = tempfile.mkdtemp(prefix="stream_gdpr_")
    src_root, view_root, ckpt = base + "/src", base + "/view", base + "/ckpt"
    src = _ct(src_root, ev.schema)
    _ct(view_root, spark.createDataFrame([], "user_id long, cnt long, sv double").schema)
    merge_batch = maintained_view_merge(view_root)

    def drain():
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .option("cdc", "true")
            .load()
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    state_parts = min(int(spark.conf.get("spark.sql.shuffle.partitions")), 8)
    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": state_parts}):
            src.append(ev)
            drain()  # view = per-user profile of the full history
            # the erasure request: all rows of users user_id % 7 == 3, as
            # ONE equality-delete commit keyed on user_id
            erased_keys = (
                ev.filter(F.col("user_id") % 7 == 3).select("user_id").distinct()
            )
            src.delete_eq_mor(spark, erased_keys, ["user_id"])
            drain()  # CDC delete rows propagate; erased view keys vanish
            vt = _open(view_root)
            gone_up = (
                src.scan(spark).filter(F.col("user_id") % 7 == 3).count() == 0
            )
            gone_down = (
                vt.scan(spark).filter(F.col("user_id") % 7 == 3).count() == 0
            )
            # physical purge: fold the delete files + compact; the CDC
            # stream steps through the content-preserving rewrites with
            # zero emitted changes, so one more drain must not move the view
            src.maintain(spark, small_file_threshold=2, delete_file_threshold=1)
            before = vt.metadata.current_snapshot().snapshot_id
            drain()
            vt = _open(view_root)
            survives = (
                vt.metadata.current_snapshot().snapshot_id == before
                and src.scan(spark).filter(F.col("user_id") % 7 == 3).count() == 0
            )
            row = vt.scan(spark).agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("cnt").alias("total_rows"),
                F.round(F.sum("sv"), 4).alias("total_value"),
            ).collect()[0]
            return spark.createDataFrame(
                [
                    (
                        row["n_users"],
                        row["total_rows"],
                        float(row["total_value"]),
                        gone_up,
                        gone_down,
                        survives,
                    )
                ],
                "n_users bigint, total_rows bigint, total_value double, "
                "erased_gone_upstream boolean, erased_gone_downstream boolean, "
                "survives_maintenance boolean",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i26_catalog_fanout_stream",
    oracle="""
SELECT (SELECT COUNT(*) FROM events WHERE event_id % 5 <> 0) AS ok_rows,
       (SELECT COUNT(*) FROM events WHERE event_id % 5 = 0) AS flagged_rows,
       (SELECT COUNT(*) FROM events) AS total_conserved,
       true AS every_state_consistent,
       true AS replay_safe
""",
    group="I",
)
def i26_catalog_fanout_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming fan-out into TWO engine tables with
    cross-table atomicity: each micro-batch splits (quality routing —
    the quarantine/main shape every curation pipeline has), appends to
    both tables with commit-atomic batch stamps, and publishes both
    pins in ONE catalog version. Graded invariants: the final split
    matches the batch oracle; EVERY intermediate catalog state
    conserved ok+flagged == rows of fully-published batches (no state
    ever saw a batch half-landed); re-driving an applied batch changes
    nothing (at-least-once foreachBatch made exactly-once). At 100 TB
    this is the only way a reader of main never counts a row whose
    quarantine twin hasn't landed."""
    from ..fixtures import load_table
    from ..streaming.jobs import catalog_fanout_sink
    from ..table import Catalog

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = tempfile.mkdtemp(prefix="stream_fan_")
    state_parts = min(int(spark.conf.get("spark.sql.shuffle.partitions")), 8)
    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": state_parts}):
            cat = Catalog.create(base + "/cat")
            cat.create_table("ok", ev.schema)
            cat.create_table("flagged", ev.schema)
            src = base + "/src"
            ev.repartition(4).write.parquet(src)
            routes = [
                ("ok", lambda d: d.filter(F.col("event_id") % 5 != 0)),
                ("flagged", lambda d: d.filter(F.col("event_id") % 5 == 0)),
            ]
            states: list = []
            inner = catalog_fanout_sink(cat.root, routes, stream_id="i26")

            def sink(batch_df, batch_id):
                inner(batch_df, batch_id)
                states.append(cat.state())

            q = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", base + "/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            total = ev.count()
            consistent = True
            for st in states:
                ok_c = cat.read(spark, "ok", state=st).count()
                fl_c = cat.read(spark, "flagged", state=st).count()
                # per-state invariant: the two sides always sum to a
                # whole number of published batches' rows, never a split
                got_ids = (
                    cat.read(spark, "ok", state=st)
                    .select("event_id")
                    .union(cat.read(spark, "flagged", state=st).select("event_id"))
                )
                batch_whole = (
                    got_ids.count() == ok_c + fl_c
                    and got_ids.distinct().count() == ok_c + fl_c
                )
                consistent = consistent and batch_whole
            st_final = cat.state()
            ok_rows = cat.read(spark, "ok", state=st_final).count()
            flagged_rows = cat.read(spark, "flagged", state=st_final).count()
            # replay: re-drive the first batch; nothing may move
            inner(ev.limit(50), 0)
            replay_safe = (
                cat.read(spark, "ok").count() == ok_rows
                and cat.read(spark, "flagged").count() == flagged_rows
            )
            return spark.createDataFrame(
                [
                    (
                        ok_rows,
                        flagged_rows,
                        ok_rows + flagged_rows,
                        consistent and ok_rows + flagged_rows == total,
                        replay_safe,
                    )
                ],
                "ok_rows bigint, flagged_rows bigint, total_conserved bigint, "
                "every_state_consistent boolean, replay_safe boolean",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i27_streaming_ingest_dedup",
    oracle="""
WITH g AS (SELECT doc_id,
                  MIN(doc_id) OVER (
                    PARTITION BY array_to_string(
                      list_sort(list_distinct(str_split(text, ' '))), chr(31))
                  ) AS kept
           FROM documents)
SELECT doc_id, kept AS kept_doc, true AS curated_ok
FROM g WHERE doc_id <> kept ORDER BY doc_id
""",
    group="I",
)
def i27_streaming_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data ingestion with STREAMING content dedup: documents
    arrive as engine-table commits (two id-ordered slices — ingest
    order tracks id, so first-seen-wins equals keep-min-id and the SQL
    oracle is order-free); a foreachBatch sink
    (streaming/jobs.ingest_dedup_sink) fingerprints each batch,
    dedups it within-batch AND against the standing curated table, and
    routes losers to a dup-log table with their canonical id. The
    dedup state is the curated TABLE, not the state store — the only
    restartable form at 100 TB, and per-batch cost is one fingerprint
    equi-join. Graded output: the full dup log (every routed duplicate
    + the doc it lost to), with curated_ok asserting the curated table
    equals the batch min-id-per-fingerprint recompute exactly."""
    from pyspark.sql.window import Window

    from ..fixtures import load_table as load_fixture_table
    from ..sources import register_engine_datasource
    from ..streaming.jobs import ingest_dedup_sink
    from ..table import create_table as _ct
    from ..table import load_table as _open_tbl

    register_engine_datasource(spark)
    docs = load_fixture_table(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="stream_idd_")
    src_root, cur_root, log_root, ckpt = (
        base + "/src", base + "/cur", base + "/log", base + "/ckpt",
    )
    src = _ct(src_root, docs.schema)
    cur_schema = docs.withColumn("fp", F.lit("x")).schema
    _ct(cur_root, cur_schema)
    log_schema = spark.createDataFrame(
        [], "doc_id long, kept_doc long"
    ).schema
    _ct(log_root, log_schema)
    fold = ingest_dedup_sink(cur_root, log_root)

    def drain():
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
            src.append(docs.filter(F.col("doc_id") <= mid))
            drain()  # slice 1: within-batch dups resolve
            src.append(docs.filter(F.col("doc_id") > mid))
            drain()  # slice 2: cross-batch dups hit the standing curated set
            fpc = F.md5(
                F.concat_ws(
                    "\x1f", F.array_sort(F.array_distinct(F.split("text", " ")))
                )
            )
            curated = _open_tbl(cur_root).scan(spark).persist()
            recompute = (
                docs.withColumn("fp", fpc)
                .withColumn(
                    "_m", F.min("doc_id").over(Window.partitionBy("fp"))
                )
                .filter(F.col("doc_id") == F.col("_m"))
                .select(*docs.columns)
                .persist()
            )
            got = curated.select(*docs.columns)
            curated_ok = (
                got.exceptAll(recompute).isEmpty()
                and recompute.exceptAll(got).isEmpty()
            )
            # materialize before the finally removes the temp tables (the
            # caller collects AFTER this function returns)
            log_rows = (
                _open_tbl(log_root)
                .scan(spark)
                .select("doc_id", "kept_doc")
                .orderBy("doc_id")
                .collect()
            )
            return spark.createDataFrame(
                [(r["doc_id"], r["kept_doc"], bool(curated_ok)) for r in log_rows],
                "doc_id long, kept_doc long, curated_ok boolean",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i28_streaming_topk_view",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT COUNT(*)::BIGINT AS view_rows,
       COUNT(DISTINCT user_id)::BIGINT AS n_users,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       TRUE AS equals_recompute
FROM ranked WHERE rn <= 3
""",
    group="I",
)
def i28_streaming_topk_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained TOP-K view (round 9): the CDC stream
    drives ``streaming/jobs.py topk_view_sink``, folding each batch
    into an engine table that holds the first 3 events per user with
    the rank materialized — the streaming face of
    ``operators/topk_view.py`` (e1e's batch build), under the mv
    fold's idempotence protocol (commit-atomic batch stamps,
    live-lineage watermark, delete/append crash-window rollback;
    chaos-tested in tests/test_datasource.py). Per-batch cost is
    O(batch) + O(k x touched users); the view stays queryable between
    batches and reads are scan-only (no window). equals_recompute
    grades the maintained view against a from-scratch top-k of the
    source. This row folds an INSERT-ONLY feed; delete-bearing feeds
    take ``source_root=`` (round 12, graded as i33)."""
    from ..fixtures import load_table
    from ..operators.topk_view import topk_frame
    from ..sources import register_engine_datasource
    from ..streaming.jobs import topk_view_sink
    from ..table import create_table as _ct
    from ..table import load_table as _open

    register_engine_datasource(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    base = tempfile.mkdtemp(prefix="stream_topk_")
    src_root, view_root, ckpt = base + "/src", base + "/view", base + "/ckpt"
    src = _ct(src_root, ev.schema)
    view_schema = ev.withColumn("rn", F.lit(1).cast("int")).schema
    _ct(view_root, view_schema)
    fold = topk_view_sink(
        view_root, "user_id", ["ts", "event_id"], 3, stream_id="i28"
    )

    def drain():
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .option("cdc", "true")
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            src.append(ev.filter(F.col("event_id") % 3 == 0))
            drain()  # view holds the base top-k
            src.append(ev.filter(F.col("event_id") % 3 == 1))
            src.append(ev.filter(F.col("event_id") % 3 == 2))
            drain()  # two delta commits fold in; no recompute
            vt = _open(view_root)
            mv = vt.scan(spark).persist()
            rec = topk_frame(
                src.scan(spark), "user_id", ["ts", "event_id"], 3
            ).select(mv.columns).persist()
            equal = mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()
            row = mv.agg(
                F.count(F.lit(1)).alias("view_rows"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum("event_id").alias("sum_event_id"),
            ).collect()[0]
            mv.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["view_rows"], row["n_users"],
                        row["sum_event_id"], equal,
                    )
                ],
                "view_rows bigint, n_users bigint, sum_event_id bigint, "
                "equals_recompute boolean",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i29_streaming_agg_view",
    oracle="""
WITH final AS (
  -- equality-delete SEQUENCE semantics: the MOR delete commits before
  -- the %3==2 append, so %10==1 events arriving there survive
  SELECT * FROM events
  WHERE NOT (event_id % 10 = 1 AND event_id % 3 <> 2)
)
SELECT COUNT(DISTINCT user_id)::BIGINT AS n_users,
       COUNT(*)::BIGINT AS total_cnt,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       TRUE AS equals_recompute
FROM final
""",
    group="I",
)
def i29_streaming_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained ADDITIVE view (round 10): the CDC
    stream — inserts AND MOR deletes — drives ``streaming/jobs.py
    agg_view_sink``, folding each batch into an engine table holding
    one (cnt, sv) row per user (c3e's batch operator, streaming face).
    The additive fold's edge over the top-k sink: deletes fold with
    sign −1 straight from the change feed, NO source access — count
    and sum are self-inverse, so a mixed batch is one signed groupBy +
    one delta-sized fold, and users whose count reaches zero leave the
    view. Same idempotence protocol as the other sinks (commit-atomic
    batch stamps, live-lineage watermark, crash-window rollback;
    chaos-tested with deletes in tests/test_datasource.py).
    equals_recompute grades the view against a from-scratch aggregate
    of the surviving source rows."""
    from ..fixtures import load_table
    from ..sources import register_engine_datasource
    from ..streaming.jobs import agg_view_sink
    from ..table import create_table as _ct
    from ..table import load_table as _open

    register_engine_datasource(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    base = tempfile.mkdtemp(prefix="stream_agg_")
    src_root, view_root, ckpt = base + "/src", base + "/view", base + "/ckpt"
    src = _ct(src_root, ev.schema)
    _ct(
        view_root,
        spark.createDataFrame([], "user_id long, cnt long, sv double").schema,
    )
    fold = agg_view_sink(view_root, ["user_id"], "event_id", stream_id="i29")

    def drain():
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .option("cdc", "true")
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            src.append(ev.filter(F.col("event_id") % 3 == 0))
            drain()  # view holds the base aggregate
            src.append(ev.filter(F.col("event_id") % 3 == 1))
            src.delete_eq_mor(
                spark,
                ev.filter(F.col("event_id") % 10 == 1)
                .select("event_id").distinct(),
                ["event_id"],
            )
            drain()  # insert + DELETE feed folds with signs
            src.append(ev.filter(F.col("event_id") % 3 == 2))
            drain()
            vt = _open(view_root)
            mv = vt.scan(spark).persist()
            rec = (
                src.scan(spark)
                .groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum(F.col("event_id").cast("double")).alias("sv"),
                )
                .select(mv.columns)
                .persist()
            )
            equal = mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()
            row = mv.agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("cnt").alias("total_cnt"),
                F.sum("sv").cast("long").alias("sum_event_id"),
            ).collect()[0]
            mv.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["n_users"], row["total_cnt"],
                        row["sum_event_id"], equal,
                    )
                ],
                "n_users bigint, total_cnt bigint, sum_event_id bigint, "
                "equals_recompute boolean",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i30_streaming_ann_ingest",
    oracle="""
SELECT CAST(3000 AS BIGINT) AS n_base,
       CAST(1000 AS BIGINT) AS n_streamed,
       CAST(250 AS BIGINT) AS n_deleted,
       CAST(3750 AS BIGINT) AS index_rows,
       TRUE AS equals_encode,
       CAST(22 AS BIGINT) AS n_queries,
       TRUE AS recall_ok,
       TRUE AS pruned
""",
    group="I",
)
def i30_streaming_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous embedding ingestion into a DEPLOYED ANN index
    (round 10): the CDC stream drives ``streaming/jobs.py
    ann_index_sink`` — h56's frozen-model fold under the mv
    idempotence protocol. Inserts encode against the frozen model
    (nearest frozen cell + frozen PQ codebooks) and land partition-
    aligned; CDC DELETE rows drop their vectors via one MOR equality
    delete on the id; both directions are delta-sized and the index is
    never rebuilt (chaos-tested incl. same-batch insert+delete
    cancellation, tests/test_datasource.py). Corpus is the
    deterministic clustered mixture (h53r/h56 precedent; constants are
    sf-independent). Graded: exact row accounting through two streamed
    appends + one MOR delete, the final index byte-equal to a
    frozen-model encode of exactly the surviving vectors, probe
    pruning intact, and recall@5 vs brute force over the surviving
    corpus for a 22-query batch mixing base and streamed vectors."""
    from ..operators.similarity import (
        annotate_recall,
        brute_force_topk,
        ivfpq_encode,
        ivfpq_table_topk,
    )
    from .llm_ops import _write_base_index
    from ..sources import register_engine_datasource
    from ..streaming.jobs import ann_index_sink
    from ..table import create_table as _ct
    from ..table import load_table as _open

    register_engine_datasource(spark)
    base_dir = tempfile.mkdtemp(prefix="stream_ann_")
    idx_root = base_dir + "/idx"
    src_root, ckpt = base_dir + "/src", base_dir + "/ckpt"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            emb, tbl, cents, books = _write_base_index(spark, idx_root)
            delta = emb.filter(F.col("vec_id") % 4 == 0)
            n_base = tbl.scan(spark).count()
            src = _ct(src_root, delta.schema)
            fold = ann_index_sink(idx_root, cents, books, stream_id="i30")

            def drain():
                q = (
                    spark.readStream.format("engine_table")
                    .option("root", src_root)
                    .option("cdc", "true")
                    .load()
                    .writeStream.foreachBatch(fold)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

            src.append(delta.filter(F.col("vec_id") % 8 == 0).coalesce(2))
            drain()
            src.append(delta.filter(F.col("vec_id") % 8 == 4).coalesce(2))
            src.delete_eq_mor(
                spark,
                delta.filter(F.col("vec_id") % 16 == 0)
                .select("vec_id").distinct(),
                ["vec_id"],
            )
            drain()  # insert + DELETE feed folds in one pass
            survivors = emb.filter(
                (F.col("vec_id") % 4 != 0)
                | ((F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 16 != 0))
            ).persist()
            idx = _open(idx_root).scan(spark).persist()
            index_rows = idx.count()
            enc = ivfpq_encode(survivors, cents, books).select(
                "id", "cluster", "code"
            )
            got = idx.select("id", "cluster", "code")
            equals_encode = (
                got.exceptAll(enc).isEmpty() and enc.exceptAll(got).isEmpty()
            )
            q = survivors.filter(F.col("vec_id") < 24)
            n_queries = q.count()
            exact = brute_force_topk(survivors, q, k=5)
            it = _open(idx_root)
            approx, _ = ivfpq_table_topk(
                spark, it, cents, books, q, k=5, nprobe=6, rerank=20
            )
            recall_ok = bool(
                annotate_recall(approx, exact, k=5, min_recall=0.8)
                .agg(F.coalesce(F.bool_and("recall_ok"), F.lit(False)))
                .collect()[0][0]
            )
            one = q.orderBy("vec_id").limit(1)
            probed, info = ivfpq_table_topk(
                spark, it, cents, books, one, k=5, nprobe=2, rerank=20
            )
            probed.collect()
            idx.unpersist()
            survivors.unpersist()  # emb stays persisted: session-cached model
            return spark.createDataFrame(
                [
                    (
                        n_base, 1000, 250, index_rows, equals_encode,
                        n_queries, recall_ok,
                        0 < info["files_scanned"] < info["files_total"],
                    )
                ],
                "n_base bigint, n_streamed bigint, n_deleted bigint, "
                "index_rows bigint, equals_encode boolean, n_queries bigint, "
                "recall_ok boolean, pruned boolean",
            )
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@register(
    "i31_streaming_extrema_view",
    oracle="""
WITH final AS (SELECT user_id, event_id FROM events),
agg AS (
  SELECT user_id, MIN(event_id) AS mn, MAX(event_id) AS mx
  FROM final GROUP BY user_id
)
SELECT COUNT(*)::BIGINT AS n_users,
       CAST(SUM(mn) AS BIGINT) AS sum_mn,
       CAST(SUM(mx) AS BIGINT) AS sum_mx,
       TRUE AS equals_recompute,
       CAST(1 AS BIGINT) AS delete_refused
FROM agg
""",
    group="I",
)
def i31_streaming_extrema_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained MIN/MAX view (round 11): source appends
    drive ``streaming/jobs.py extrema_view_sink`` — each micro-batch
    folds a least/greatest merge against the touched keys' view rows,
    work sized by the batch, under the same idempotence protocol as
    the other sinks (commit-atomic batch stamps, live-lineage
    watermark, crash-window rollback). INSERT-ONLY contract like the
    top-k sink: extrema are not self-inverse, so a CDC batch carrying
    deletes REFUSES loudly (the query fails rather than silently
    serving a wrong min/max) — delete-bearing feeds route through the
    catalog refresh path, which rebuilds only the touched keys from
    source (a4z). equals_recompute grades the view against a
    from-scratch extrema aggregate after two append waves; a
    delete-bearing probe batch proves the loud refusal."""
    from ..fixtures import load_table
    from ..sources import register_engine_datasource
    from ..streaming.jobs import extrema_view_sink
    from ..table import create_table as _ct
    from ..table import load_table as _open

    register_engine_datasource(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    base = tempfile.mkdtemp(prefix="stream_ext_")
    src_root, view_root = base + "/src", base + "/view"
    src = _ct(src_root, ev.schema)
    _ct(
        view_root,
        spark.createDataFrame([], "user_id long, mn long, mx long").schema,
    )
    fold = extrema_view_sink(view_root, "user_id", "event_id", stream_id="i31")

    def drain(ckpt: str):
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .option("cdc", "true")
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            for i in range(2):
                src.append(ev.filter(F.col("event_id") % 2 == i))
                drain(base + "/ckpt")
            vt = _open(view_root)
            mv = vt.scan(spark).persist()
            rec = (
                src.scan(spark)
                .groupBy("user_id")
                .agg(F.min("event_id").alias("mn"), F.max("event_id").alias("mx"))
                .select(mv.columns)
                .persist()
            )
            equal = mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()
            row = mv.agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("mn").alias("sum_mn"),
                F.sum("mx").alias("sum_mx"),
            ).collect()[0]
            # a delete-bearing batch must REFUSE (insert-only contract:
            # extrema are not self-inverse). Probed by invoking the fold
            # directly with a CDC frame carrying a delete row — the same
            # call foreachBatch would make, without paying two more
            # availableNow triggers; in a live stream the ValueError
            # fails the query loudly.
            fold2 = extrema_view_sink(
                view_root, "user_id", "event_id", stream_id="i31b"
            )
            probe = ev.limit(2).withColumn(
                "_change_type",
                F.when(F.col("event_id") % 2 == 0, F.lit("delete")).otherwise(
                    F.lit("insert")
                ),
            )
            refused = 0
            try:
                fold2(probe, 0)
            except ValueError:
                refused = 1
            mv.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["n_users"], row["sum_mn"], row["sum_mx"],
                        equal, refused,
                    )
                ],
                "n_users bigint, sum_mn bigint, sum_mx bigint, "
                "equals_recompute boolean, delete_refused bigint",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i32_streaming_extrema_deletes",
    oracle="""
WITH mu AS (SELECT MIN(user_id) AS u FROM events),
surv AS (
  SELECT e.user_id, e.event_id FROM events e, mu
  WHERE e.event_id % 5 <> 0 AND e.user_id <> mu.u
),
agg AS (
  SELECT user_id, MIN(event_id) AS mn, MAX(event_id) AS mx
  FROM surv GROUP BY user_id
)
SELECT COUNT(*)::BIGINT AS n_users,
       CAST(SUM(mn) AS BIGINT) AS sum_mn,
       CAST(SUM(mx) AS BIGINT) AS sum_mx,
       TRUE AS equals_recompute,
       TRUE AS min_user_gone,
       CAST(1 AS BIGINT) AS refused_without_source
FROM agg
""",
    group="I",
)
def i32_streaming_extrema_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-capable streaming MIN/MAX view (round 12 — i31's
    INSERT-ONLY contract lifted): ``extrema_view_sink(source_root=)``
    folds a delete-bearing CDC batch with the BOUNDED a4z refresh
    shape — delete-touched keys rebuild their (mn, mx) from the source
    table with the scan runtime-filter-pruned to their files, while
    untouched keys' inserts take the ordinary least/greatest merge;
    a key whose rows are all deleted leaves the view. O(batch) +
    O(touched keys' files), never O(source) — the mid-stream MOR
    delete costs what it touched, at any corpus size. The scenario
    appends the events fixture, drains, MOR-deletes every
    ``event_id % 5 == 0`` row PLUS every row of the smallest user
    (total key removal), drains the delete batch through the sink,
    and grades: view == extrema recompute over the SURVIVING rows,
    the fully-deleted user is gone, and a sink WITHOUT source_root
    still refuses delete-bearing feeds loudly."""
    from ..fixtures import load_table
    from ..sources import register_engine_datasource
    from ..streaming.jobs import extrema_view_sink
    from ..table import create_table as _ct
    from ..table import load_table as _open

    register_engine_datasource(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    base = tempfile.mkdtemp(prefix="stream_extd_")
    src_root, view_root = base + "/src", base + "/view"
    src = _ct(src_root, ev.schema)
    _ct(
        view_root,
        spark.createDataFrame([], "user_id long, mn long, mx long").schema,
    )
    fold = extrema_view_sink(
        view_root, "user_id", "event_id",
        stream_id="i32", source_root=src_root,
    )

    def drain(ckpt: str):
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .option("cdc", "true")
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            src.append(ev)
            drain(base + "/ckpt")
            mu = ev.agg(F.min("user_id")).collect()[0][0]
            doomed = ev.filter(
                (F.col("event_id") % 5 == 0) | (F.col("user_id") == mu)
            ).select("event_id")
            src = _open(src_root)
            src.delete_eq_mor(spark, doomed, ["event_id"])
            drain(base + "/ckpt")
            vt = _open(view_root)
            mv = vt.scan(spark).persist()
            rec = (
                src.scan(spark)
                .groupBy("user_id")
                .agg(F.min("event_id").alias("mn"), F.max("event_id").alias("mx"))
                .select(mv.columns)
                .persist()
            )
            equal = mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()
            gone = mv.filter(F.col("user_id") == mu).isEmpty()
            row = mv.agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("mn").alias("sum_mn"),
                F.sum("mx").alias("sum_mx"),
            ).collect()[0]
            # without source_root the INSERT-ONLY refusal stands
            fold2 = extrema_view_sink(
                view_root, "user_id", "event_id", stream_id="i32b"
            )
            refused = 0
            try:
                fold2(
                    ev.limit(2).withColumn("_change_type", F.lit("delete")), 0
                )
            except ValueError:
                refused = 1
            mv.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["n_users"], row["sum_mn"], row["sum_mx"],
                        equal, gone, refused,
                    )
                ],
                "n_users bigint, sum_mn bigint, sum_mx bigint, "
                "equals_recompute boolean, min_user_gone boolean, "
                "refused_without_source bigint",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "i33_streaming_topk_deletes",
    oracle="""
WITH mu AS (SELECT MIN(user_id) AS u FROM events),
surv AS (
  SELECT e.user_id, e.event_id, e.ts FROM events e, mu
  WHERE e.event_id % 5 <> 0 AND e.user_id <> mu.u
),
ranked AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM surv
)
SELECT COUNT(*)::BIGINT AS view_rows,
       COUNT(DISTINCT user_id)::BIGINT AS n_users,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       TRUE AS equals_recompute,
       TRUE AS min_user_gone,
       CAST(1 AS BIGINT) AS refused_without_source
FROM ranked WHERE rn <= 3
""",
    group="I",
)
def i33_streaming_topk_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-capable streaming TOP-K view (round 12 — i28's
    INSERT-ONLY contract lifted, completing the set: the agg sink
    always folded deletes sign-wise, extrema lifted via i32, top-k is
    the last fold kind): ``topk_view_sink(source_root=)`` folds a
    delete-bearing CDC batch with the bounded rebuild shape
    read_realtime's top-k delete path uses — delete-touched keys
    recompute their EXACT top-k from the source table (scan
    runtime-filter-pruned to their files; a deleted top row PROMOTES
    a row the view never held, which is precisely what needs source
    access), untouched keys' inserts merge as (old top-k ∪ batch);
    fully-deleted keys leave the view. O(batch) + O(touched keys'
    files), never O(source). The scenario appends the events fixture,
    drains, MOR-deletes every ``event_id % 5 == 0`` row (guaranteed
    to hit current top rows) plus ALL rows of the smallest user,
    drains the delete batch, and grades: view == top-3 recompute over
    the SURVIVING rows, the fully-deleted user is gone, and a sink
    WITHOUT source_root still refuses delete-bearing feeds loudly."""
    from ..fixtures import load_table
    from ..operators.topk_view import topk_frame
    from ..sources import register_engine_datasource
    from ..streaming.jobs import topk_view_sink
    from ..table import create_table as _ct
    from ..table import load_table as _open

    register_engine_datasource(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    base = tempfile.mkdtemp(prefix="stream_tkd_")
    src_root, view_root = base + "/src", base + "/view"
    src = _ct(src_root, ev.schema)
    _ct(view_root, ev.withColumn("rn", F.lit(1).cast("int")).schema)
    fold = topk_view_sink(
        view_root, "user_id", ["ts", "event_id"], 3,
        stream_id="i33", source_root=src_root,
    )

    def drain(ckpt: str):
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .option("cdc", "true")
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            src.append(ev)
            drain(base + "/ckpt")
            mu = ev.agg(F.min("user_id")).collect()[0][0]
            doomed = ev.filter(
                (F.col("event_id") % 5 == 0) | (F.col("user_id") == mu)
            ).select("event_id")
            src = _open(src_root)
            src.delete_eq_mor(spark, doomed, ["event_id"])
            drain(base + "/ckpt")
            vt = _open(view_root)
            mv = vt.scan(spark).persist()
            rec = (
                topk_frame(src.scan(spark), "user_id", ["ts", "event_id"], 3)
                .select(mv.columns)
                .persist()
            )
            equal = mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()
            gone = mv.filter(F.col("user_id") == mu).isEmpty()
            row = mv.agg(
                F.count(F.lit(1)).alias("view_rows"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum("event_id").alias("sum_event_id"),
            ).collect()[0]
            fold2 = topk_view_sink(
                view_root, "user_id", ["ts", "event_id"], 3, stream_id="i33b"
            )
            refused = 0
            try:
                fold2(
                    ev.limit(2).withColumn("_change_type", F.lit("delete")), 0
                )
            except ValueError:
                refused = 1
            mv.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["view_rows"], row["n_users"], row["sum_event_id"],
                        equal, gone, refused,
                    )
                ],
                "view_rows bigint, n_users bigint, sum_event_id bigint, "
                "equals_recompute boolean, min_user_gone boolean, "
                "refused_without_source bigint",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
