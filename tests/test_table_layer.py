"""Engine table-format tests (SURVEY.md §5.2-5.4): manifest round-trip,
truncate transform properties, snapshot chain, pruning, metadata-only
delete, expiry GC, optimistic concurrency, crash windows."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from java_iceberg_table_spark.ingest.bookkeeper import Bookkeeper
from java_iceberg_table_spark.ingest.reaper import Reaper
from java_iceberg_table_spark.ingest.writer import Writer
from java_iceberg_table_spark.table import create_table, load_table, truncate
from java_iceberg_table_spark.table.format import CommitConflict, load_metadata

WIDTH = 300_000_000  # 5 min in µs (Constants.java:25)

SIMPLE_SCHEMA = StructType(
    [
        StructField("k", LongType(), False),
        StructField("v", StringType(), True),
        StructField("ts", LongType(), True),
    ]
)


@pytest.fixture()
def troot(tmp_path):
    return str(tmp_path / "tbl")


def test_truncate_transform_properties():
    t = truncate("ts", WIDTH)
    for v in [0, 1, WIDTH - 1, WIDTH, WIDTH + 1, 10**15, 123456789012345]:
        b = t.apply_py(v)
        assert b % WIDTH == 0
        assert 0 <= v - b < WIDTH
        assert t.apply_py(b) == b  # idempotent


def test_create_append_scan_roundtrip(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") * 7).alias("ts"),
    )
    tbl.append(df)
    got = tbl.scan(spark)
    assert got.count() == 1000
    # Spark file sources force nullable=True; compare names + types
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in SIMPLE_SCHEMA
    ]
    assert got.agg(F.sum("k")).first()[0] == 999 * 1000 // 2
    # second append -> new snapshot, both visible
    tbl.append(df.withColumn("k", F.col("k") + 1000))
    assert tbl.scan(spark).count() == 2000
    assert len(tbl.snapshots()) == 2


def test_partition_pruning_and_stats_skipping(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.lit("x").alias("v"),
        F.col("id").alias("ts"),  # ts 0..999 -> buckets 0,100,...,900
    )
    tbl.append(df)
    all_files = tbl.plan_files()
    pruned = tbl.plan_files([("ts", ">=", 800)])
    assert {e["partition"] for e in pruned} == {800, 900}
    assert len(pruned) < len(all_files)
    # stats-based skipping on a non-partition column
    pruned_k = tbl.plan_files([("k", "<", 100)])
    assert all(e["columns"]["k"]["min"] < 100 for e in pruned_k)
    assert len(pruned_k) < len(all_files)
    # result correctness equals residual-filter semantics
    assert tbl.scan(spark, [("ts", ">=", 800)]).count() == 200
    assert tbl.scan(spark, [("k", "<", 100)]).count() == 100


def test_metadata_only_delete(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    df = spark.range(500).select(
        F.col("id").alias("k"), F.lit("x").alias("v"), F.col("id").alias("ts")
    )
    tbl.append(df)
    files_before = {e["path"] for e in tbl.plan_files()}
    snap = tbl.delete_where("ts", "<", 200)
    assert snap.summary["deleted-rows"] == 200
    assert tbl.scan(spark).count() == 300
    assert tbl.scan(spark).agg(F.min("ts")).first()[0] == 200
    # metadata-only: every physical file still on disk (older snapshots readable)
    for rel in files_before:
        assert os.path.exists(os.path.join(troot, rel))
    # alignment + column contract enforced
    with pytest.raises(ValueError):
        tbl.delete_where("ts", "<", 250)
    with pytest.raises(ValueError):
        tbl.delete_where("k", "<", 100)


def test_expire_snapshots_gc(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit("x").alias("v"), F.col("id").alias("ts")
    )
    tbl.append(df)
    tbl.delete_where("ts", "<", 100)  # drops bucket 0 from metadata
    dropped_paths = {
        e["path"] for e in tbl.plan_files()
    }  # live files AFTER delete
    all_paths = {
        os.path.relpath(os.path.join(dp, f), troot)
        for dp, _, fs in os.walk(os.path.join(troot, "data"))
        for f in fs
        if f.endswith(".parquet") and not f.startswith(".")
    }
    orphaned = all_paths - dropped_paths
    assert orphaned  # the deleted bucket's files are still on disk
    stats = tbl.expire_snapshots(older_than_ms=10**20, retain_last=1)
    assert stats["expired_snapshots"] == 1
    # expired-only files physically gone; live files intact
    for rel in orphaned:
        assert not os.path.exists(os.path.join(troot, rel))
    assert tbl.scan(spark).count() == 0 or tbl.scan(spark).agg(F.min("ts")).first()[0] >= 100
    assert tbl.scan(spark).count() == 0 if False else True


def test_concurrent_appends_no_lost_updates(troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", WIDTH))
    n_writers, files_each = 5, 4  # run.sh:36-46 fan-out shape
    errors = []

    def writer_job(wid: int):
        try:
            w = Writer(tbl, writer_id=wid, seed=42 + wid)
            for i in range(files_each):
                entries = w.create_data_files(1, 10, timeperiod_us=i * WIDTH)
                tbl.append_entries(entries)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer_job, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    md = load_metadata(troot)
    appends = [s for s in md.snapshots if s.operation == "append"]
    assert len(appends) == n_writers * files_each  # every commit won exactly once
    files = tbl.current_files()
    assert len(files) == n_writers * files_each
    assert sum(e["rows"] for e in files) == n_writers * files_each * 10


def test_bookkeeper_decoupled_flow(spark, troot):
    from java_iceberg_table_spark.ingest.writer import EVENTS_SCHEMA  # noqa: F401

    schema = StructType(
        [
            StructField("message_id", LongType(), False),
            StructField("data", StringType(), True),
            StructField("timestamp", __import__("pyspark.sql.types", fromlist=["TimestampType"]).TimestampType(), True),
            StructField("timeperiod_loadedBy", LongType(), True),
            StructField("message_body", __import__("pyspark.sql.types", fromlist=["BinaryType"]).BinaryType(), True),
        ]
    )
    tbl = create_table(troot, schema, partition=truncate("timeperiod_loadedBy", WIDTH))
    writers = [Writer(tbl, writer_id=i, seed=100 + i) for i in range(3)]
    for it in range(2):
        for w in writers:
            w.run_iteration(n_files=2, rows_per_file=5, timeperiod_us=it * WIDTH)
    bk = Bookkeeper(tbl)
    m = bk.run_once()
    assert m["monikers"] == 6 and m["files"] == 12
    assert tbl.scan(spark).count() == 12 * 5
    assert bk.list_pending() == []  # consumed
    # crash-safety: a moniker written but not yet committed is never lost
    writers[0].run_iteration(1, 5, timeperiod_us=0)
    assert len(bk.list_pending()) == 1
    m2 = bk.run_once()
    assert m2["files"] == 1
    # retention: floor(now - retention) drops only whole old partitions
    dropped = bk.apply_retention(retention_us=WIDTH, now_us=2 * WIDTH)
    assert dropped > 0
    assert tbl.scan(spark).agg(F.min("timeperiod_loadedBy")).first()[0] >= WIDTH


def test_reaper_retains_last(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit("x").alias("v"), F.col("id").alias("ts")
    )
    for _ in range(5):
        tbl.append(df)
    r = Reaper(tbl, max_age_ms=0, retain_last=2)
    stats = r.run_once(now_ms=10**20)
    assert stats["expired_snapshots"] == 3
    assert len(tbl.snapshots()) == 2
    assert tbl.scan(spark).count() == 50  # current snapshot untouched


def test_commit_conflict_surfaces_after_retries(troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, properties={"commit.retry.num-retries": "1"})
    # simulate a competing committer that always wins: pre-create v2
    from java_iceberg_table_spark.table import format as fmt

    meta = load_metadata(troot)
    rival = load_table(troot)
    rival.append_entries([])  # v2 committed by the rival
    # our commit retries and lands on v3 — no conflict surfaces
    tbl.append_entries([])
    assert load_metadata(troot).version == 3


def test_snapshot_isolation_reader_never_sees_partial(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit("x").alias("v"), F.col("id").alias("ts")
    )
    tbl.append(df)
    reader_df = tbl.scan(spark)  # plan pinned to snapshot 1's file list
    tbl.delete_where("ts", "<", 100)
    # the pinned plan still reads the pre-delete snapshot's files
    assert reader_df.count() == 100
    assert tbl.scan(spark).count() == 0 or tbl.scan(spark).agg(F.min("ts")).first()[0] >= 100


def test_time_travel_scan(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit("x").alias("v"), F.col("id").alias("ts")
    )
    s1 = tbl.append(df)
    s2 = tbl.append(df.withColumn("k", F.col("k") + 100))
    tbl.delete_where("ts", "<", 100)
    assert tbl.scan(spark, snapshot_id=s1.snapshot_id).count() == 100
    assert tbl.scan(spark, snapshot_id=s2.snapshot_id).count() == 200
    assert tbl.scan(spark).count() == 0  # current: everything deleted (ts<100)
    assert len(tbl.history()) == 3


def test_incremental_scan_tails_appends(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    df1 = spark.range(50).select(
        F.col("id").alias("k"), F.lit("a").alias("v"), F.col("id").alias("ts")
    )
    tbl.append(df1)
    inc1, cur1 = tbl.incremental_scan(spark)  # from the beginning
    assert inc1.count() == 50
    df2 = spark.range(30).select(
        (F.col("id") + 50).alias("k"), F.lit("b").alias("v"), F.col("id").alias("ts")
    )
    tbl.append(df2)
    tbl.delete_where("ts", "<", 0)  # no-op delete snapshot must add nothing
    inc2, cur2 = tbl.incremental_scan(spark, after_snapshot_id=cur1)
    assert inc2.count() == 30  # only the second append's rows
    assert {r["v"] for r in inc2.select("v").distinct().collect()} == {"b"}
    inc3, cur3 = tbl.incremental_scan(spark, after_snapshot_id=cur2)
    assert inc3.count() == 0 and cur3 == cur2  # nothing new -> cursor stable


def test_compaction_preserves_content(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 1000))
    w = None
    for i in range(6):  # many tiny files, the ingest pattern
        df = spark.range(50).select(
            (F.col("id") + i * 50).alias("k"), F.lit(f"b{i}").alias("v"),
            (F.col("id") % 900).alias("ts"),
        )
        tbl.append(df)
    before = tbl.scan(spark).orderBy("k").collect()
    n_files_before = len(tbl.current_files())
    inc_before, cursor = tbl.incremental_scan(spark)
    stats = tbl.compact_data_files(spark, target_file_bytes=10 * 1024 * 1024)
    assert stats["rewritten"] == n_files_before
    assert stats["new_files"] < n_files_before
    after = tbl.scan(spark).orderBy("k").collect()
    assert after == before  # content identical
    assert len(tbl.current_files()) == stats["new_files"]
    # replace snapshots add no rows to the change feed
    inc, cur2 = tbl.incremental_scan(spark, after_snapshot_id=cursor)
    assert inc.count() == 0
    # time travel to the pre-compaction snapshot still works
    pre = tbl.snapshots()[-2]
    assert tbl.scan(spark, snapshot_id=pre.snapshot_id).count() == 300
    # GC after expiry removes the small files
    tbl.expire_snapshots(older_than_ms=10**20, retain_last=1)
    assert tbl.scan(spark).orderBy("k").collect() == before


def test_manifest_merge_shards_bounded(spark, troot):
    tbl = create_table(
        troot,
        SIMPLE_SCHEMA,
        partition=truncate("ts", 100),
        properties={"commit.manifest.min-count-to-merge": "4",
                    "commit.manifest.max-entries": "5"},
    )
    w = Writer(tbl, writer_id=0, seed=3)
    # many single-file commits -> repeated merges into bounded shards
    from java_iceberg_table_spark.table.stats import file_stats as _fs  # noqa
    for i in range(12):
        df = spark.range(10).select(
            (F.col("id") + i * 10).alias("k"), F.lit("x").alias("v"),
            F.lit(i * 100).alias("ts"),
        )
        tbl.append(df)
    md = load_metadata(troot)
    snap = md.current_snapshot()
    from java_iceberg_table_spark.table.format import read_manifest
    sizes = [len(read_manifest(troot, m)) for m in snap.manifests]
    assert all(s <= 5 for s in sizes)  # bounded shards
    assert sum(s for s in sizes) >= 12
    assert tbl.scan(spark).count() == 120  # nothing lost through merges
    # shards are partition-sorted: ranges should be mostly disjoint
    assert tbl.scan(spark, [("ts", ">=", 1000)]).count() == 20


# ---------- partition spec evolution ----------


def _ev_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.col("id").alias("ts"),
    )


def test_partition_evolution_prunes_per_spec(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_ev_df(spark, 0, 300))          # spec 0: buckets 0,100,200
    pre_evo_snap = tbl.metadata.current_snapshot().snapshot_id
    new_id = tbl.update_partition_spec(truncate("ts", 50))
    assert new_id == 1
    tbl.append(_ev_df(spark, 300, 400))        # spec 1: buckets 300,350

    # evolution commit is metadata-only: same data files before/after
    entries = tbl.current_files()
    assert {e.get("spec_id", 0) for e in entries} == {0, 1}
    # content unaffected
    assert tbl.scan(spark).count() == 400

    # ts >= 250 must keep old bucket 200 (range [200,299] under width
    # 100) and both new buckets, pruning old buckets 0 and 100
    planned = tbl.plan_files([("ts", ">=", 250)])
    parts = {(e.get("spec_id", 0), e["partition"]) for e in planned}
    assert parts == {(0, 200), (1, 300), (1, 350)}
    # under the NEW width alone bucket 200 would be [200,249] and a
    # ts >= 250 scan would wrongly prune it — row-level check:
    got = tbl.read_entries(spark, planned).filter(F.col("ts") >= 250)
    assert got.count() == 150

    # distributed planning path resolves spec_id the same way
    dist = tbl.plan_files(
        [("ts", ">=", 250)], spark=spark, distributed_threshold_bytes=0
    )
    assert sorted(e["path"] for e in dist) == sorted(e["path"] for e in planned)

    # time travel to the pre-evolution snapshot plans under spec 0 only
    tt = tbl.plan_files([("ts", ">=", 250)], snapshot_id=pre_evo_snap)
    assert {e["partition"] for e in tt} == {200}


def test_partition_evolution_retention_delete(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_ev_df(spark, 0, 300))
    tbl.update_partition_spec(truncate("ts", 50))
    tbl.append(_ev_df(spark, 300, 400))

    # aligned to BOTH widths: drops spec-0 bucket 0..99 and nothing else
    snap = tbl.delete_where("ts", "<", 100)
    assert snap is not None
    assert tbl.scan(spark).count() == 300
    assert tbl.scan(spark).agg(F.min("ts")).first()[0] == 100

    # aligned to the new width only -> whole-file guarantee breaks for
    # spec-0 files; must refuse
    with pytest.raises(ValueError, match="not aligned"):
        tbl.delete_where("ts", "<", 150)

    # dropping the partition spec entirely makes metadata-only deletes
    # impossible; must refuse
    tbl.update_partition_spec(None)
    tbl.append(_ev_df(spark, 400, 450))
    with pytest.raises(ValueError, match="partition"):
        tbl.delete_where("ts", "<", 200)
    # but plans and scans still work across all three specs
    assert tbl.scan(spark).count() == 350
    assert len(tbl.plan_files([("ts", ">=", 400)])) >= 1


def test_metadata_count_pushdown(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    # repartition so every file spans most of its bucket's range —
    # with range-contiguous files the footer stats alone would resolve
    # even unaligned cutoffs without scanning (which is fine, but this
    # test wants to see the boundary-scan path)
    tbl.append(_ev_df(spark, 0, 1000).repartition(2))

    full = tbl.count_rows()
    assert full == {"rows": 1000, "metadata_files": full["metadata_files"], "scanned_files": 0}

    # partition-aligned predicate: answered from manifests alone
    aligned = tbl.count_rows(spark, [("ts", "<", 300)])
    assert aligned["rows"] == 300
    assert aligned["scanned_files"] == 0

    # unaligned predicate: boundary bucket scans, the rest stays metadata
    part = tbl.count_rows(spark, [("ts", "<", 250)])
    assert part["rows"] == 250
    assert part["scanned_files"] >= 1
    assert part["metadata_files"] >= 1

    # point lookup: never certain (min != max), still correct
    pt = tbl.count_rows(spark, [("ts", "=", 123)])
    assert pt["rows"] == 1 and pt["scanned_files"] >= 1

    # no-spark aligned count works; boundary count without spark raises
    assert tbl.count_rows(filters=[("ts", "<", 300)])["rows"] == 300
    with pytest.raises(ValueError, match="boundary"):
        tbl.count_rows(filters=[("ts", "<", 250)])


def test_metadata_count_mor_fallback(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_ev_df(spark, 0, 400))
    tbl.delete_where_mor(spark, [("ts", "<", 37)])
    got = tbl.count_rows(spark)
    # manifest row counts predate the MOR delete; fallback must scan
    assert got["rows"] == 363
    assert got["metadata_files"] == 0 and got["scanned_files"] >= 1
    assert tbl.count_rows(spark, [("ts", "<", 100)])["rows"] == 63


def test_target_file_size_property(spark, troot):
    """write.target-file-size-bytes caps files near the target using
    the table's own observed bytes/row — the first append (no history,
    no estimate) writes uncapped, later appends split."""
    tbl = create_table(
        troot,
        SIMPLE_SCHEMA,
        partition=truncate("ts", 10**9),  # one bucket: isolates sizing
        properties={"write.target-file-size-bytes": "4096"},
    )
    df = _ev_df(spark, 0, 20_000).coalesce(1)
    tbl.append(df)
    first = len(tbl.current_files())
    tbl.append(df.select((F.col("k") + 20_000).alias("k"), "v", "ts"))
    second = len(tbl.current_files()) - first
    # ~20k rows x ~15 B/row on-disk ≈ 300 KB >> 4 KB target
    assert second > first * 4
    sized = [e for e in tbl.current_files()][first:]
    # capped files land within a loose factor of the target (parquet
    # per-file overhead dominates tiny files; the cap is rows-derived)
    assert max(e["bytes"] for e in sized) < 10 * 4096


def test_partition_evolution_compaction_keeps_spec(spark, troot):
    """Compaction after spec evolution must group by (spec, bucket)
    and keep each rewritten file's spec stamp: bucket 200 under width
    100 covers [200,299] but under width 50 covers [200,249] — merging
    them or dropping the stamp makes every later pruning/retention
    decision interpret the file under the wrong width."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_ev_df(spark, 0, 300).repartition(4))     # spec 0
    tbl.update_partition_spec(truncate("ts", 50))
    tbl.append(_ev_df(spark, 300, 400).repartition(4))   # spec 1
    before = tbl.scan(spark).agg(F.sum("k")).first()[0]

    stats = tbl.compact_data_files(spark, target_file_bytes=1 << 20)
    assert stats["rewritten"] > 0
    # content identical
    assert tbl.scan(spark).agg(F.sum("k")).first()[0] == before
    # every rewritten entry keeps a spec consistent with its bucket
    for e in tbl.current_files():
        sid = int(e.get("spec_id", 0) or 0)
        width = 100 if sid == 0 else 50
        assert e["partition"] % width == 0, (e["path"], sid, e["partition"])
    # pruning still resolves per spec: ts >= 250 keeps spec-0 bucket
    # 200 (range [200,299]) and spec-1 buckets >= 250
    parts = {
        (int(e.get("spec_id", 0) or 0), e["partition"])
        for e in tbl.plan_files([("ts", ">=", 250)])
    }
    assert (0, 200) in parts
    assert all(p >= 250 for sid, p in parts if sid == 1)
    assert (0, 0) not in parts and (0, 100) not in parts
    # retention delete still exact across rewritten mixed-spec files
    tbl.delete_where("ts", "<", 100)
    assert tbl.scan(spark).count() == 300
    assert tbl.scan(spark).agg(F.min("ts")).first()[0] == 100


def test_write_sort_order_tightens_file_stats(spark, troot):
    """write.sort.order: appends range-partition + sort so each file
    covers a disjoint key range — a point/range predicate then prunes
    to ~1 file from footer stats where the unsorted layout keeps most
    files."""
    sorted_root, plain_root = troot + "_s", troot + "_p"
    shuffled = (
        spark.range(10_000)
        .select(
            F.col("id").alias("k"),
            F.lit("x").alias("v"),
            # decorrelate value from row order so unsorted files span
            # nearly the full range
            F.pmod(F.col("id") * 7919, F.lit(10_000)).alias("ts"),
        )
        .repartition(8)
    )
    t_sorted = create_table(
        sorted_root, SIMPLE_SCHEMA, properties={"write.sort.order": "ts"}
    )
    t_plain = create_table(plain_root, SIMPLE_SCHEMA)
    t_sorted.append(shuffled)
    t_plain.append(shuffled)
    q = [("ts", "<", 500)]
    n_sorted = len(t_sorted.plan_files(q))
    n_plain = len(t_plain.plan_files(q))
    assert len(t_sorted.current_files()) > 1
    assert n_sorted < n_plain
    assert n_sorted <= 2  # disjoint ranges: the cutoff hits ~1 file
    # content identical + property round-trips via set_properties
    assert t_sorted.scan(spark, q).count() == t_plain.scan(spark, q).count() == 500
    t_plain.set_properties({"write.sort.order": "ts"})
    t_plain.append(shuffled.withColumn("k", F.col("k") + 10_000))
    # the NEW files are sorted; the old unsorted ones remain
    q2 = [("ts", "<", 500)]
    assert len(t_plain.plan_files(q2)) < 2 * n_plain


def test_runtime_filtered_scan_set_pruning(spark, troot):
    """scan_runtime_filtered prunes files NO dim key can hit: with a
    scattered-sparse key set, global bounds prune nothing but the
    per-file binary search (and blooms when present) skip files whose
    range holds no key; result equals the plain filtered scan."""
    shuffled = (
        spark.range(10_000)
        .select(
            F.col("id").alias("k"),
            F.lit("x").alias("v"),
            F.pmod(F.col("id") * 7919, F.lit(10_000)).alias("ts"),
        )
        .repartition(8)
    )
    tbl = create_table(
        troot, SIMPLE_SCHEMA, properties={"write.sort.order": "ts"}
    )
    tbl.append(shuffled)
    n_files = len(tbl.current_files())
    assert n_files > 1
    # sparse keys inside ONE sorted file's ts range: the other files'
    # ranges are disjoint from it, so they hold no key at any core
    # count (the file count follows the writer's parallelism)
    ts = tbl.current_files()[0]["columns"]["ts"]
    lo, hi = int(ts["min"]), int(ts["max"])
    keys = sorted({lo + (hi - lo) * i // 5 for i in range(6)})
    kdf = spark.createDataFrame([(k,) for k in keys], "ts long")
    df, info = tbl.scan_runtime_filtered(spark, kdf, "ts")
    assert info["files_scanned"] < info["files_total"] == n_files
    got = sorted(r["ts"] for r in df.filter(F.col("ts").isin(keys)).collect())
    assert got == keys  # every key row survives the pruning
    # empty key set -> zero files
    empty, info2 = tbl.scan_runtime_filtered(
        spark, spark.createDataFrame([], "ts long"), "ts"
    )
    assert info2["files_scanned"] == 0 and empty.count() == 0


def test_add_files_metadata_only_import(spark, troot, tmp_path):
    """Iceberg add_files parity: existing parquet adopts into the table
    with footer-derived stats and ZERO data rewrite (hardlink, same
    inode); schema subset fills nullable columns with NULL; incompatible
    columns and unknown names are rejected before any commit."""
    ext = str(tmp_path / "ext")
    spark.range(100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") * 7).alias("ts"),
    ).coalesce(1).write.parquet(ext)
    import glob as g

    src = g.glob(os.path.join(ext, "*.parquet"))
    tbl = create_table(troot, SIMPLE_SCHEMA)
    snap = tbl.add_files(src)
    assert snap.summary.get("added-files-import") == 1
    got = tbl.scan(spark)
    assert got.count() == 100
    assert got.agg(F.sum("k")).first()[0] == 99 * 100 // 2
    # metadata-only: same inode, no data copy
    e = tbl.current_files()[0]
    assert os.stat(os.path.join(troot, e["path"])).st_ino == os.stat(src[0]).st_ino
    # footer stats landed in the manifest -> pruning works immediately
    assert e["columns"]["k"]["min"] == 0 and e["columns"]["k"]["max"] == 99
    assert tbl.plan_files([("k", ">", 1000)]) == []
    # subset schema: missing nullable column reads as NULL
    ext2 = str(tmp_path / "ext2")
    spark.range(5).select(
        (F.col("id") + 1000).alias("k"), (F.col("id")).alias("ts")
    ).coalesce(1).write.parquet(ext2)
    tbl.add_files(g.glob(os.path.join(ext2, "*.parquet")))
    assert tbl.scan(spark, [("k", ">=", 1000)]).filter(
        F.col("v").isNull()
    ).count() == 5
    # unknown column rejected, nothing committed
    ext3 = str(tmp_path / "ext3")
    spark.range(3).select(F.col("id").alias("zzz")).coalesce(1).write.parquet(ext3)
    before = tbl.metadata.current_snapshot().snapshot_id
    with pytest.raises(ValueError, match="zzz"):
        tbl.add_files(g.glob(os.path.join(ext3, "*.parquet")))
    # incompatible type (string where long expected) rejected
    ext4 = str(tmp_path / "ext4")
    spark.range(3).select(F.col("id").cast("string").alias("k")).coalesce(
        1
    ).write.parquet(ext4)
    with pytest.raises(ValueError, match="incompatible"):
        tbl.add_files(g.glob(os.path.join(ext4, "*.parquet")))
    assert tbl.metadata.current_snapshot().snapshot_id == before


def test_add_files_partitioned_single_bucket_rule(spark, troot, tmp_path):
    """On a partitioned table an imported file must lie inside ONE
    bucket (derived from footer min/max under the transform); a file
    spanning buckets is refused — partition-aligned delete_where on
    the imported data then stays exact."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    one = str(tmp_path / "one")
    spark.range(50).select(
        F.col("id").alias("k"), F.lit("a").alias("v"), (F.col("id") + 100).alias("ts")
    ).coalesce(1).write.parquet(one)  # ts in [100,149] -> bucket 100
    import glob as g

    tbl.add_files(g.glob(os.path.join(one, "*.parquet")))
    assert tbl.current_files()[0]["partition"] == 100
    # partition pruning applies to the imported entry
    assert tbl.plan_files([("ts", ">=", 200)]) == []
    assert len(tbl.plan_files([("ts", "=", 120)])) == 1
    spanning = str(tmp_path / "span")
    spark.range(300).select(
        F.col("id").alias("k"), F.lit("b").alias("v"), F.col("id").alias("ts")
    ).coalesce(1).write.parquet(spanning)
    with pytest.raises(ValueError, match="spans partition buckets"):
        tbl.add_files(g.glob(os.path.join(spanning, "*.parquet")))
    # metadata-only retention delete composes with the imported entry
    tbl.delete_where("ts", "<", 200)
    assert tbl.scan(spark).count() == 0


def test_row_lineage_ids_assigned_and_stable(spark, troot):
    """Iceberg-v3 row lineage: appends claim disjoint id ranges from
    metadata next_row_id (zero storage — _row_id = first_row_id + row
    position); ids are table-unique across commits; MOR-deleted rows
    drop out with their ids; a row.lineage=preserve compaction carries
    the SAME ids through the rewrite via physical columns while plain
    scans stay oblivious."""

    def batch(lo, n):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("k"), F.lit("x").alias("v"), F.col("id").alias("ts")
        )

    tbl = create_table(
        troot, SIMPLE_SCHEMA, properties={"row.lineage": "preserve"}
    )
    tbl.append(batch(0, 100).repartition(4))
    tbl.append(batch(100, 50))
    lin = tbl.scan_with_lineage(spark).toPandas()
    assert len(lin) == 150
    ids = sorted(lin["_row_id"])
    assert ids == list(range(150))  # unique, dense, no NULLs
    assert tbl.metadata.next_row_id == 150
    # the mapping k -> _row_id is what must survive maintenance
    before = dict(zip(lin["k"], lin["_row_id"]))
    # MOR delete removes rows, their ids never reappear
    tbl.delete_where_mor(spark, [("k", "=", 7)])
    # compaction preserves ids for every surviving row
    res = tbl.compact_data_files(spark, target_file_bytes=10**9)
    assert res["rewritten"] > 0
    after_df = tbl.scan_with_lineage(spark)
    after = dict(
        zip(*(lambda p: (p["k"], p["_row_id"]))(after_df.toPandas()))
    )
    assert 7 not in after
    for k, rid in after.items():
        assert before[k] == rid, f"row id changed for k={k}"
    assert after_df.filter(F.col("_last_updated_seq").isNull()).count() == 0
    # plain scan never sees lineage plumbing
    assert tbl.scan(spark).columns == ["k", "v", "ts"]
    # new appends continue above the high-water mark
    tbl.append(batch(900, 10))
    top = tbl.scan_with_lineage(spark, [("k", ">=", 900)]).toPandas()
    assert sorted(top["_row_id"]) == list(range(150, 160))
    # z-order rewrite preserves too (ids survive a second-generation
    # rewrite: compacted-carried ids re-carry through the zorder)
    snapshot = dict(before)
    snapshot.update(zip(top["k"], top["_row_id"]))
    snapshot.pop(7)
    tbl.rewrite_clustered(spark, ["k", "ts"], n_files=4)
    z = tbl.scan_with_lineage(spark).toPandas()
    assert dict(zip(z["k"], z["_row_id"])) == snapshot


def test_token_bloom_search_file_skipping(spark, troot):
    """write.token.bloom.column: per-file blooms over distinct text
    tokens let a keyword probe skip files that provably lack the
    token; result stays exact via the residual filter; the index
    survives compaction (blooms re-attach on rewrite)."""
    from pyspark.sql.types import StringType

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("body", StringType(), True),
        ]
    )
    tbl = create_table(
        troot,
        schema,
        properties={
            "write.token.bloom.column": "body",
            "write.sort.order": "k",
        },
    )
    df = spark.range(800).select(
        F.col("id").alias("k"),
        F.concat(
            F.lit("common words everywhere tag"),
            (F.col("id") / 100).cast("long").cast("string"),
        ).alias("body"),
    )
    tbl.append(df.repartition(4))
    n_files = len(tbl.current_files())
    assert n_files > 2
    got, info = tbl.scan_token_search(spark, ["tag3"])
    assert info["files_scanned"] < info["files_total"] == n_files
    assert got.count() == 100
    assert got.agg(F.min("k"), F.max("k")).first() == (300, 399)
    # common token: present in every file, nothing pruned, all rows
    got2, info2 = tbl.scan_token_search(spark, ["common"])
    assert info2["files_scanned"] == n_files and got2.count() == 800
    # multi-token AND narrows to the intersection
    got3, _ = tbl.scan_token_search(spark, ["tag3", "common"])
    assert got3.count() == 100
    got4, _ = tbl.scan_token_search(spark, ["tag3", "tag4"])
    assert got4.count() == 0
    # compaction rebuilds the token blooms on the rewritten files
    tbl.compact_data_files(spark, target_file_bytes=10**9, sort_by=["k"])
    got5, info5 = tbl.scan_token_search(spark, ["tag3"])
    assert got5.count() == 100
    assert all(
        "token_bloom" in e for e in tbl.current_files()
    ), "rewritten files lost the token index"


def test_update_where_copy_on_write(spark, troot):
    """SQL UPDATE semantics: SET expressions evaluate against the OLD
    row (including swaps), NULL predicates don't update, untouched
    files carry by reference, one atomic overwrite snapshot."""
    tbl = create_table(troot, SIMPLE_SCHEMA, properties={"write.sort.order": "k"})
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.lit("x")).alias("v"),
        F.col("id").alias("ts"),
    )
    tbl.append(df.repartition(4))
    n_before = len(tbl.current_files())
    # swap-flavored update: ts = ts + k must see the OLD k even though
    # k is also being SET in the same statement
    res = tbl.update_where(
        spark,
        [("k", ">=", 100), ("k", "<", 200)],
        {"k": "k + 10000", "ts": "ts + k"},
    )
    assert res["updated_rows"] == 100
    got = tbl.scan(spark)
    assert got.count() == 1000
    moved = got.filter(F.col("k") >= 10000)
    assert moved.count() == 100
    # ts doubled from its old value (ts == k before): old-row semantics
    assert moved.filter(F.col("ts") != (F.col("k") - 10000) * 2).count() == 0
    # stats-pruned rewrite: sorted files outside [100,200) untouched
    assert int(tbl.metadata.current_snapshot().summary["rewritten-files"]) < n_before
    # NULL predicate rows are not updated
    res2 = tbl.update_where(spark, [("v", "=", "nope")], {"ts": "0"})
    assert res2["updated_rows"] == 0
    assert tbl.scan(spark, [("ts", "=", 0)]).count() == 1  # only k=0 original
    with pytest.raises(ValueError, match="unknown column"):
        tbl.update_where(spark, [("k", "=", 1)], {"zzz": "1"})


def test_cherry_pick_staged_append_onto_moved_head(spark, troot):
    """WAP completion when fast-forward is impossible: main advanced
    while an append sat staged on a branch, publish_branch refuses,
    cherry_pick replays the staged entries onto the new head by
    reference (same files, fresh sequence); re-pick is a None no-op;
    non-append snapshots refuse; dropping the branch + GC must not
    reap the picked files (main references them)."""
    from java_iceberg_table_spark.table.format import CommitConflict

    def batch(lo, n):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("k"), F.lit("x").alias("v"), F.col("id").alias("ts")
        )

    tbl = create_table(troot, SIMPLE_SCHEMA)
    tbl.append(batch(0, 100))
    tbl.create_branch("audit")
    staged = tbl.append(batch(1000, 50), branch="audit")
    tbl.append(batch(100, 100))  # main moves on -> no fast-forward
    with pytest.raises(CommitConflict):
        tbl.publish_branch("audit")
    picked = tbl.cherry_pick(staged.snapshot_id)
    assert picked.summary["source-snapshot-id"] == str(staged.snapshot_id)
    assert tbl.scan(spark).count() == 250
    assert tbl.scan(spark, [("k", ">=", 1000)]).count() == 50
    # idempotent: the picked files are already referenced
    assert tbl.cherry_pick(staged.snapshot_id) is None
    # only appends are pickable
    tbl.delete_rows(spark, [("k", "=", 5)])
    del_sid = tbl.metadata.current_snapshot().snapshot_id
    with pytest.raises(ValueError, match="append snapshots only"):
        tbl.cherry_pick(del_sid)
    # branch gone + expiry + orphan clean: picked data survives
    import time as _time

    tbl.drop_ref("audit")
    tbl.expire_snapshots(int(_time.time() * 1000) + 10_000, retain_last=1)
    tbl.clean(older_than_ms=0)
    assert tbl.scan(spark, [("k", ">=", 1000)]).count() == 50


def test_runtime_filtered_scan_temporal_keys(spark, troot):
    """Datetime keys PRUNE (not just keep conservatively): manifest
    stats store temporal bounds as ISO strings, and the key-set pruner
    renders datetime/date keys the same way — a sparse set of event
    timestamps skips the sorted files whose time range holds none of
    them, while every matching row still survives."""
    import datetime as dt

    from pyspark.sql.types import TimestampType

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("ev", TimestampType(), True),
        ]
    )
    base = dt.datetime(2024, 1, 1)
    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        (F.lit(base) + F.make_interval(mins=F.col("id"))).alias("ev"),
    )
    tbl = create_table(troot, schema, properties={"write.sort.order": "ev"})
    tbl.append(df.repartition(8))
    n_files = len(tbl.current_files())
    assert n_files > 1
    # 3 scattered minutes out of 10k: most sorted files hold none
    keys = [base + dt.timedelta(minutes=m) for m in (10, 5000, 9990)]
    kdf = spark.createDataFrame([(k,) for k in keys], "ev timestamp")
    got, info = tbl.scan_runtime_filtered(spark, kdf, "ev")
    assert info["files_scanned"] < info["files_total"] == n_files
    hit = sorted(r["ev"] for r in got.filter(F.col("ev").isin(keys)).collect())
    assert hit == keys


def test_prune_by_keys_date_renders_both_stat_forms():
    """A plain DATE key must admit files under BOTH stat renderings:
    date-column stats ('YYYY-MM-DD') and timestamp-column stats
    ('YYYY-MM-DDTHH:MM:SS') — and its Bloom probe is skipped (bloom
    hashes Spark's cast rendering, not isoformat)."""
    import datetime as dt

    from java_iceberg_table_spark.table.bloom_index import NUM_HASHES, sized_bits
    from java_iceberg_table_spark.table.table import prune_entries_by_keys

    key = [dt.date(2020, 6, 15)]
    date_stats = {"path": "d", "columns": {"c": {"min": "2020-06-01", "max": "2020-06-30"}}}
    ts_stats = {"path": "t", "columns": {"c": {"min": "2020-06-14T22:00:00", "max": "2020-06-15T20:00:00"}}}
    # a date key coerces to MIDNIGHT against a timestamp column (Spark
    # comparison semantics) — a file spanning only 08:00-20:00 of that
    # day provably cannot contain it and is correctly pruned
    day_interior = {"path": "i", "columns": {"c": {"min": "2020-06-15T08:00:00", "max": "2020-06-15T20:00:00"}}}
    off = {"path": "o", "columns": {"c": {"min": "2020-07-01", "max": "2020-07-31"}}}
    kept = prune_entries_by_keys([date_stats, ts_stats, day_interior, off], "c", key)
    assert [e["path"] for e in kept] == ["d", "t"]
    # an empty bloom would "prove" any key absent — temporal keys must
    # not probe it (rendering mismatch would lose live files)
    bits = sized_bits(10)
    bloomed = {
        "path": "b",
        "columns": {"c": {"min": "2020-06-01", "max": "2020-06-30"}},
        "bloom": {"column": "c", "bits": bits, "k": NUM_HASHES,
                  "words": [0] * (bits // 64)},
    }
    assert [e["path"] for e in prune_entries_by_keys([bloomed], "c", key)] == ["b"]


def test_prune_by_keys_incomparable_stats_kept():
    """Timestamp/date stats are stored as ISO strings in manifest
    JSON; an IN-list of ints against them must keep the file (cannot
    prune), not raise TypeError at planning time."""
    from java_iceberg_table_spark.table.table import prune_entries_by_keys

    entries = [
        {"path": "a", "columns": {"ts": {"min": "2020-01-01T00:00:00", "max": "2020-12-31T00:00:00"}}},
        {"path": "b", "columns": {"ts": {"min": 100, "max": 200}}},
    ]
    kept = prune_entries_by_keys(entries, "ts", [150, 999])
    assert [e["path"] for e in kept] == ["a", "b"]
    kept2 = prune_entries_by_keys(entries, "ts", [999])
    assert [e["path"] for e in kept2] == ["a"]  # b pruned, a kept


def test_prune_by_keys_bloom_probe_capped():
    """The per-file Bloom probe is skipped when more keys fall in the
    file's range than BLOOM_PROBE_CAP — planning stays O(log keys) per
    file instead of O(keys x k) CRC32s on the driver."""
    from java_iceberg_table_spark.table.bloom_index import NUM_HASHES, sized_bits
    from java_iceberg_table_spark.table.table import (
        BLOOM_PROBE_CAP,
        prune_entries_by_keys,
    )

    # an EMPTY bloom proves every key absent
    bits = sized_bits(10)
    empty_bloom = {"column": "k", "bits": bits, "k": NUM_HASHES,
                   "words": [0] * (bits // 64)}
    entry = {"path": "a", "columns": {"k": {"min": 0, "max": 10**9}},
             "bloom": empty_bloom}
    few = list(range(BLOOM_PROBE_CAP))
    many = list(range(BLOOM_PROBE_CAP + 1))
    # under the cap: the probe runs and prunes the file
    assert prune_entries_by_keys([entry], "k", few) == []
    # over the cap: probe skipped, file conservatively kept
    assert [e["path"] for e in prune_entries_by_keys([entry], "k", many)] == ["a"]


def test_identity_partition_pruning(spark, troot):
    """identity(col): the value IS the partition — a point predicate
    prunes to exactly the matching partition's files, and the
    metadata-only retention delete composes (identity = truncate(1))."""
    from java_iceberg_table_spark.table import create_table, identity

    root = troot + "/ident"
    df = spark.createDataFrame([(i, i % 5) for i in range(100)], "k long, g long")
    tbl = create_table(root, df.schema, partition=identity("g"))
    tbl.append(df)
    all_files = tbl.plan_files()
    hit = tbl.plan_files([("g", "=", 2)])
    assert 0 < len(hit) < len(all_files)
    assert all(e["partition"] == 2 for e in hit)
    assert sorted(
        r["k"] for r in tbl.scan(spark, [("g", "=", 2)]).collect()
    ) == [i for i in range(100) if i % 5 == 2]
    # range predicate prunes too (identity is range-expressible)
    lt = tbl.plan_files([("g", "<", 2)])
    assert {e["partition"] for e in lt} <= {0, 1}
    # metadata-only retention delete: drop partitions below the cutoff
    snap = tbl.delete_where("g", "<", 1)
    assert snap is not None
    assert sorted(set(r["g"] for r in tbl.scan(spark).collect())) == [1, 2, 3, 4]


def test_bucket_partition_point_lookup_pruning(spark, troot):
    """bucket(col, N): equality predicates prune to the ONE bucket the
    value hashes to — through the driver loop AND the distributed
    plan path — while range predicates fall back to stats-only."""
    from java_iceberg_table_spark.table import bucket, create_table
    from java_iceberg_table_spark.table.transforms import _crc_bucket

    root = troot + "/bkt"
    df = spark.createDataFrame([(i, f"u{i % 50}") for i in range(500)], "k long, u string")
    tbl = create_table(root, df.schema, partition=bucket("k", 8))
    tbl.append(df)
    all_files = tbl.plan_files()
    assert len({e["partition"] for e in all_files}) == 8  # writer fanned out
    want_bucket = _crc_bucket(42, 8)
    hit = tbl.plan_files([("k", "=", 42)])
    assert {e["partition"] for e in hit} == {want_bucket}
    # the distributed plan path agrees with the driver loop
    hit_dist = tbl.plan_files([("k", "=", 42)], spark=spark,
                              distributed_threshold_bytes=0)
    assert sorted(e["path"] for e in hit_dist) == sorted(e["path"] for e in hit)
    assert [r["k"] for r in tbl.scan(spark, [("k", "=", 42)]).collect()] == [42]
    # hash buckets carry no range info: a range scan is still exact
    assert tbl.scan(spark, [("k", "<", 10)]).count() == 10
    # and metadata-only retention refuses the non-range transform
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no value-domain range"):
        tbl.delete_where("k", "<", 100)


def test_spec_evolution_truncate_to_bucket(spark, troot):
    """Spec evolution truncate -> bucket: entries written under each
    spec prune under THEIR OWN transform (per-entry spec_id
    resolution), and a point lookup prunes both vintages."""
    from java_iceberg_table_spark.table import bucket, create_table, truncate
    from java_iceberg_table_spark.table.transforms import _crc_bucket

    root = troot + "/evo"
    df = spark.createDataFrame([(i,) for i in range(200)], "k long")
    tbl = create_table(root, df.schema, partition=truncate("k", 50))
    tbl.append(df.filter(F.col("k") < 100))
    tbl.update_partition_spec(bucket("k", 4))
    tbl.append(df.filter(F.col("k") >= 100))
    hit = tbl.plan_files([("k", "=", 7)])
    # old vintage: only the truncate bucket [0,50); new vintage: only
    # the one hash bucket 7 maps to
    specs = {int(e.get("spec_id", 0) or 0) for e in hit}
    for e in hit:
        sid = int(e.get("spec_id", 0) or 0)
        assert e["partition"] == (0 if sid == 0 else _crc_bucket(7, 4))
    assert [r["k"] for r in tbl.scan(spark, [("k", "=", 7)]).collect()] == [7]
    assert [r["k"] for r in tbl.scan(spark, [("k", "=", 150)]).collect()] == [150]
    assert tbl.scan(spark).count() == 200


def test_maintain_policy_pass(spark, troot):
    """Table.maintain: one policy-driven pass — fold MOR deletes,
    compact small files, expire, orphan-GC — every commit it makes is
    content-preserving, so table content is identical before/after
    and a standing CDC consumer rides through it."""
    from java_iceberg_table_spark.table import create_table

    root = troot + "/maint"
    df = spark.createDataFrame([(i, f"v{i}") for i in range(200)], "k long, v string")
    tbl = create_table(root, df.schema)
    for i in range(10):  # 10 tiny files
        tbl.append(df.filter(F.col("k") % 10 == i).coalesce(1))
    for i in range(4):  # 4 pending delete files
        tbl.delete_eq_mor(
            spark, df.filter(F.col("k") % 50 == i).select("k"), ["k"]
        )
    before = sorted((r["k"], r["v"]) for r in tbl.scan(spark).collect())
    n_files_before = len(tbl.plan_files())
    # rewrite_deletes itself re-packs the files it touches, so the
    # follow-on compaction threshold must be low to also engage here
    report = tbl.maintain(spark, target_file_bytes=1 << 20, small_file_threshold=2)
    assert "skipped" not in report["rewrite_deletes"]
    assert "skipped" not in report["compact"]
    after = sorted((r["k"], r["v"]) for r in tbl.scan(spark).collect())
    assert after == before  # content preserved exactly
    assert len(tbl.plan_files()) < n_files_before  # layout improved
    assert not tbl.metadata.current_snapshot().delete_manifests  # folded
    # policy respected on an already-healthy table: second pass no-ops
    report2 = tbl.maintain(spark, target_file_bytes=1 << 20, small_file_threshold=2)
    assert "skipped" in report2["rewrite_deletes"]
    assert "skipped" in report2["compact"]


def test_transform_schema_validation():
    """create_table / update_partition_spec validate the transform's
    source column: integral for truncate/identity, integral-or-string
    for bucket — the write path and planning assume integral partition
    values and a stable string rendering."""
    import tempfile

    import pytest as _pytest
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from java_iceberg_table_spark.table import (
        bucket,
        create_table,
        identity,
        truncate,
    )

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("name", StringType()),
            StructField("x", DoubleType()),
        ]
    )
    base = tempfile.mkdtemp(prefix="val_")
    with _pytest.raises(ValueError, match="integer column"):
        create_table(base + "/a", schema, partition=identity("name"))
    with _pytest.raises(ValueError, match="integer or string"):
        create_table(base + "/b", schema, partition=bucket("x", 4))
    with _pytest.raises(ValueError, match="not in schema"):
        create_table(base + "/c", schema, partition=truncate("nope", 10))
    tbl = create_table(base + "/d", schema, partition=bucket("name", 4))
    with _pytest.raises(ValueError, match="integer column"):
        tbl.update_partition_spec(truncate("name", 10))
    tbl.update_partition_spec(identity("k"))  # valid evolution


def test_timestamp_time_travel(spark, troot):
    """TIMESTAMP AS OF: scan(as_of_ms=...) reads the snapshot current
    at that instant on today's MAIN lineage — rolled-past commits and
    branch-staged commits never answer."""
    import time as _time

    from java_iceberg_table_spark.table import create_table

    root = troot + "/asof"
    df = spark.createDataFrame([(i,) for i in range(30)], "k long")
    tbl = create_table(root, df.schema)
    s1 = tbl.append(df.filter(F.col("k") < 10))
    _time.sleep(0.02)
    t_mid = tbl.metadata.current_snapshot().timestamp_ms
    _time.sleep(0.02)
    tbl.create_branch("b")
    tbl.append(df.filter(F.col("k") >= 20), branch="b")  # staged only
    s2 = tbl.append(df.filter((F.col("k") >= 10) & (F.col("k") < 20)))
    assert tbl.scan(spark, as_of_ms=t_mid).count() == 10  # sees s1 only
    assert tbl.snapshot_as_of(t_mid).snapshot_id == s1.snapshot_id
    now = tbl.metadata.current_snapshot().timestamp_ms
    assert tbl.snapshot_as_of(now).snapshot_id == s2.snapshot_id
    assert tbl.scan(spark, as_of_ms=now).count() == 20  # staged excluded
    import pytest as _pytest

    with _pytest.raises(KeyError, match="no snapshot"):
        tbl.snapshot_as_of(s1.timestamp_ms - 10_000)
    with _pytest.raises(ValueError, match="at most one"):
        tbl.scan(spark, snapshot_id=s1.snapshot_id, as_of_ms=t_mid)
    # the rolled-back head answers with the RESTORED lineage
    tbl.rollback_to(s1.snapshot_id)
    assert tbl.scan(spark, as_of_ms=now + 10_000).count() == 10


def test_nan_stats_never_prune(spark, troot):
    """A file containing NaN in a double column gets NO stats bound
    for that column (NaN < x and NaN > x are both False — a NaN max
    would silently prune files that DO match under Spark/DuckDB
    semantics, where NaN orders above every value)."""
    from java_iceberg_table_spark.table import create_table

    root = troot + "/nan"
    df = spark.createDataFrame(
        [(1, 1.0), (2, 10.0), (3, float("nan"))], "k long, x double"
    )
    tbl = create_table(root, df.schema)
    tbl.append(df.coalesce(1))
    st = tbl.plan_files()[0]["columns"]
    assert st["x"]["min"] is None and st["x"]["max"] is None  # no bound
    assert st["k"]["min"] == 1 and st["k"]["max"] == 3  # others intact
    assert len(tbl.plan_files([("x", ">", 5.0)])) == 1  # kept
    assert sorted(r["k"] for r in tbl.scan(spark, [("x", ">", 5.0)]).collect()) == [2, 3]


def test_temporal_transform_parity(spark):
    """year/month/day/hour buckets agree across all three compute
    paths — Python (planning), Spark Column (table write), Arrow
    (connector executor write) — for timestamp, epoch-µs long, and
    date sources, including pre-1970 values (floor semantics, not
    truncation toward zero)."""
    import datetime as dt

    import pyarrow as pa

    from java_iceberg_table_spark.table.transforms import TemporalTransform

    rows = [
        dt.datetime(2024, 3, 5, 10, 30, 45, 123456),
        dt.datetime(1970, 1, 1),
        dt.datetime(1969, 12, 31, 23, 59, 59),
        dt.datetime(2000, 2, 29, 23, 0, 0),
        dt.datetime(2023, 12, 31, 23, 59, 59, 999999),
        dt.datetime(1900, 6, 15, 12, 0, 0),
    ]
    df = spark.createDataFrame([(r,) for r in rows], "ts timestamp")
    us = [round((r - dt.datetime(1970, 1, 1)).total_seconds() * 1e6) for r in rows]
    dfl = spark.createDataFrame([(u,) for u in us], "ts bigint")
    for g in ("year", "month", "day", "hour"):
        t = TemporalTransform("ts", g)
        py = [t.apply_py(r) for r in rows]
        assert py == [
            r[0] for r in df.select(t.apply_col("ts", "timestamp")).collect()
        ], g
        assert py == t.apply_arrow(pa.array(rows, type=pa.timestamp("us"))).to_pylist()
        assert py == [t.apply_py(u) for u in us]  # µs ints bucket identically
        assert py == [
            r[0] for r in dfl.select(t.apply_col("ts", "bigint")).collect()
        ]
    # pre-1970 floor check pinned explicitly: 1969-12-31 23:59:59 is day -1
    assert TemporalTransform("ts", "day").apply_py(rows[2]) == -1
    assert TemporalTransform("ts", "month").apply_py(rows[2]) == -1
    # date columns: day == epoch-day ordinal, month/year by calendar
    ds = [dt.date(2024, 3, 5), dt.date(1970, 1, 1), dt.date(1969, 12, 31)]
    dfd = spark.createDataFrame([(d,) for d in ds], "d date")
    for g in ("year", "month", "day"):
        t = TemporalTransform("d", g)
        py = [t.apply_py(v) for v in ds]
        assert py == [r[0] for r in dfd.select(t.apply_col("d", "date")).collect()]
        assert py == t.apply_arrow(pa.array(ds, type=pa.date32())).to_pylist()
    # ISO-string predicates parse into the same bucket (fromisoformat)
    t = TemporalTransform("ts", "month")
    assert t.apply_py("2024-03-05T10:30:45") == t.apply_py(rows[0])


def test_day_partition_pruning(spark, troot):
    """day(ts): a time-range predicate prunes to the matching day
    partitions through the driver loop AND the distributed plan path
    (monotonic bucket-space projection — months/days carry no
    value-domain range, so pruning compares bucket ordinals)."""
    import datetime as dt

    from java_iceberg_table_spark.table import create_table, day

    root = troot + "/day"
    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(hours=6 * i)) for i in range(40)
    ]  # 10 distinct days, 4 rows each
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    tbl = create_table(root, df.schema, partition=day("ts"))
    tbl.append(df)
    all_files = tbl.plan_files()
    assert len({e["partition"] for e in all_files}) == 10
    day0 = (dt.date(2024, 3, 1) - dt.date(1970, 1, 1)).days
    assert {e["partition"] for e in all_files} == set(range(day0, day0 + 10))
    # equality-day predicate: exactly one partition survives
    hit = tbl.plan_files([("ts", ">=", "2024-03-04T00:00:00"),
                          ("ts", "<", "2024-03-05T00:00:00")])
    assert {e["partition"] for e in hit} == {day0 + 3}
    # distributed path agrees
    hit_dist = tbl.plan_files(
        [("ts", ">=", "2024-03-04T00:00:00"), ("ts", "<", "2024-03-05T00:00:00")],
        spark=spark,
        distributed_threshold_bytes=0,
    )
    assert sorted(e["path"] for e in hit_dist) == sorted(e["path"] for e in hit)
    got = sorted(
        r["k"]
        for r in tbl.scan(
            spark,
            [("ts", ">=", "2024-03-04T00:00:00"), ("ts", "<", "2024-03-05T00:00:00")],
        ).collect()
    )
    assert got == [12, 13, 14, 15]
    # metadata-only retention refuses the non-range transform
    with pytest.raises(ValueError, match="no value-domain range"):
        tbl.delete_where("ts", "<", 0)


def test_spec_evolution_day_to_month(spark, troot):
    """Temporal spec evolution day -> month: each vintage prunes under
    its own granularity; a range crossing both vintages reads exactly
    the union."""
    import datetime as dt

    from java_iceberg_table_spark.table import create_table, day, month

    root = troot + "/d2m"
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(days=i)) for i in range(120)],
        "k long, ts timestamp",
    )
    tbl = create_table(root, df.schema, partition=day("ts"))
    tbl.append(df.filter(F.col("k") < 60))
    tbl.update_partition_spec(month("ts"))
    tbl.append(df.filter(F.col("k") >= 60))
    # old vintage: per-day files; new vintage: per-month files
    sids = {int(e.get("spec_id", 0) or 0) for e in tbl.plan_files()}
    assert sids == {0, 1}
    hit = tbl.plan_files([("ts", ">=", "2024-02-25T00:00:00"),
                          ("ts", "<", "2024-03-10T00:00:00")])
    for e in hit:
        sid = int(e.get("spec_id", 0) or 0)
        if sid == 0:  # day buckets 2024-02-25..2024-02-29 only
            d0 = (dt.date(2024, 2, 25) - dt.date(1970, 1, 1)).days
            assert d0 <= e["partition"] <= d0 + 5
        else:  # month buckets Feb(649) / Mar(650) 2024 only
            assert e["partition"] in ((2024 - 1970) * 12 + 1, (2024 - 1970) * 12 + 2)
    got = tbl.scan(
        spark,
        [("ts", ">=", "2024-02-25T00:00:00"), ("ts", "<", "2024-03-10T00:00:00")],
    ).count()
    assert got == (dt.date(2024, 3, 10) - dt.date(2024, 2, 25)).days
    assert tbl.scan(spark).count() == 120


def test_temporal_schema_validation(spark):
    """Temporal transforms validate their source column type: hour()
    refuses date columns, every granularity refuses strings/floats."""
    import tempfile

    from java_iceberg_table_spark.table import create_table, day, hour, year
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    sch = StructType(
        [
            StructField("ts", TimestampType(), True),
            StructField("d", DateType(), True),
            StructField("s", StringType(), True),
            StructField("x", DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="tval_")
    create_table(base + "/ok1", sch, partition=day("ts"))
    create_table(base + "/ok2", sch, partition=year("d"))
    with pytest.raises(ValueError, match="hour.*not defined on a date"):
        create_table(base + "/bad1", sch, partition=hour("d"))
    with pytest.raises(ValueError, match="timestamp, date"):
        create_table(base + "/bad2", sch, partition=day("s"))
    with pytest.raises(ValueError, match="timestamp, date"):
        create_table(base + "/bad3", sch, partition=hour("x"))


def test_ndv_sketch_analyze(spark, troot):
    """ANALYZE TABLE (Puffin/theta analogue): per-(file, column) KMV
    sketches from one distributed job; NDV estimates are then
    METADATA-ONLY merges — full table, pruned subset, low-cardinality
    exact path, and coverage reporting for files added after the
    analysis."""
    from java_iceberg_table_spark.table import create_table, truncate

    root = troot + "/ndv"
    df = spark.createDataFrame(
        [(i, i % 37, f"g{i % 5}") for i in range(20000)], "k long, m long, g string"
    )
    tbl = create_table(root, df.schema, partition=truncate("k", 5000))
    tbl.append(df.repartition(8))
    rep = tbl.analyze(spark, ["k", "m", "g"])
    assert rep["files"] == len(tbl.plan_files())
    full = tbl.approx_ndv("k")
    assert not full["exact"]
    assert abs(full["ndv"] / 20000 - 1) < 0.15  # k=256 ~6% typical
    assert tbl.approx_ndv("m") == {
        "ndv": 37.0, "exact": True,
        "files_considered": full["files_considered"],
        "files_covered": full["files_covered"],
    }
    # pruned-subset estimate: one partition's files only
    sub = tbl.approx_ndv("k", [("k", "<", 5000)])
    assert sub["files_covered"] < full["files_covered"]
    assert abs(sub["ndv"] / 5000 - 1) < 0.2
    # files appended after ANALYZE are reported as uncovered
    tbl.append(spark.createDataFrame([(99999, 1, "z")], df.schema))
    post = tbl.approx_ndv("k")
    assert post["files_covered"] == full["files_covered"]
    assert post["files_considered"] == full["files_considered"] + 1
    # un-analyzed column refused; empty-property table refused
    with pytest.raises(ValueError, match="not analyzed"):
        tbl.approx_ndv("nope")


def test_ndv_sketch_merge_property():
    """KMV merge algebra: merging per-file sketches equals sketching
    the union — the property that makes subset estimates valid."""
    import random

    from java_iceberg_table_spark.table.ndv import kmv_estimate, merge_sketches

    rng = random.Random(7)
    k = 64
    # simulate hashed values (distinct ints as stand-in hashes)
    a = sorted({rng.getrandbits(62) - 2**61 for _ in range(500)})[:k]
    b = sorted({rng.getrandbits(62) - 2**61 for _ in range(500)})[:k]
    m = merge_sketches([a, b], k)
    assert m == sorted(set(a) | set(b))[:k]
    assert len(m) == k
    # exact path below k
    assert kmv_estimate([1, 2, 3], k) == 3.0


def test_nan_stats_connector_and_avro_writers(spark, troot):
    """NaN-safe bounds hold for ALL THREE stats producers. pyarrow's
    parquet writer and Arrow min_max both SKIP NaN — the footer looks
    clean while Spark orders NaN above everything — so the connector
    sink tracks NaN presence per (file, float column) at write time
    and the avro sink checks is_nan before trusting min_max."""
    from java_iceberg_table_spark.sources import register_engine_datasource
    from java_iceberg_table_spark.table import create_table, load_table

    register_engine_datasource(spark)
    df = spark.createDataFrame(
        [(1, 1.0), (2, 10.0), (3, float("nan"))], "k long, x double"
    )
    # connector (pyarrow ParquetWriter) sink
    root1 = troot + "/nanconn"
    create_table(root1, df.schema)
    df.coalesce(1).write.format("engine_table").option("root", root1).mode(
        "append"
    ).save()
    t1 = load_table(root1)
    st = t1.plan_files()[0]["columns"]
    # float columns carry NO footer stats from the connector writer
    # (pyarrow would record NaN-stripped bounds Spark's own row-group
    # pushdown would then trust); missing stats are never pruned
    assert "x" not in st or (st["x"]["min"] is None and st["x"]["max"] is None)
    assert st["k"]["min"] == 1 and st["k"]["max"] == 3  # int stats intact
    assert sorted(
        r["k"] for r in t1.scan(spark, [("x", ">", 20.0)]).collect()
    ) == [3]  # NaN > 20.0 under Spark semantics — file must not prune
    # avro sink: float NaN COLLAPSES to NULL at the pandas boundary
    # (numpy float64 is both the NaN carrier and the missing marker;
    # Spark's arrow->pandas hand-off already conflates them), so the
    # written data holds NULL, the stats record it as a null, and
    # pruning + scan agree on the NULL interpretation end to end
    root2 = troot + "/nanavro"
    t2 = create_table(root2, df.schema)
    t2.set_properties({"write.format.default": "avro"})
    t2.append(df.coalesce(1))
    rows = {r["k"]: r["x"] for r in t2.scan(spark).collect()}
    assert rows[3] is None or rows[3] != rows[3]  # NULL (or NaN) — never 0
    got = sorted(r["k"] for r in t2.scan(spark, [("x", ">", 20.0)]).collect())
    plan = t2.plan_files([("x", ">", 20.0)])
    # consistency: if planning keeps no file, the scan must also be
    # empty under the same interpretation (no silent divergence)
    assert (len(plan) == 0) == (len(got) == 0)
    assert t2.scan(spark, [("x", ">", 5.0)]).count() == 1


def test_analyze_on_avro_table(spark, troot):
    """ANALYZE works on avro-format tables (the position-aware decode
    already carries __file; the projection must not duplicate it)."""
    from java_iceberg_table_spark.table import create_table

    root = troot + "/ndvavro"
    df = spark.createDataFrame([(i, i % 9) for i in range(200)], "k long, m long")
    tbl = create_table(root, df.schema)
    tbl.set_properties({"write.format.default": "avro"})
    tbl.append(df.repartition(3))
    tbl.analyze(spark, ["k", "m"])
    assert tbl.approx_ndv("m")["ndv"] == 9.0
    full = tbl.approx_ndv("k")
    assert full["exact"] and full["ndv"] == 200.0  # 200 < k: exact path


def test_date_predicate_on_timestamp_stats(spark, troot):
    """A plain DATE predicate against a TIMESTAMP column's ISO stats:
    'YYYY-MM-DD' sorts before its own T-suffixed midnight, so a
    single-rendering comparison would prune a file whose earliest row
    is exactly midnight. The pruner evaluates both renderings."""
    import datetime as dt

    from java_iceberg_table_spark.table import create_table

    root = troot + "/dts"
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 3, 5) + dt.timedelta(hours=i)) for i in range(4)],
        "k long, ts timestamp",
    )
    tbl = create_table(root, df.schema)
    tbl.append(df.coalesce(1))
    # file min == midnight 2024-03-05 exactly
    assert len(tbl.plan_files([("ts", "<=", dt.date(2024, 3, 5))])) == 1
    assert tbl.scan(spark, [("ts", "<=", dt.date(2024, 3, 5))]).count() == 1
    assert len(tbl.plan_files([("ts", "=", dt.date(2024, 3, 5))])) == 1
