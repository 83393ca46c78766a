"""Merge-on-read row-level deletes (Iceberg v2 semantics).

Invariants pinned here:
- equality deletes hide matching rows from files with a SMALLER data
  sequence, and ONLY those — a key re-inserted after the delete
  survives (sequence-number semantics);
- position deletes hide exactly the matched (file, row) pairs with no
  data rewrite;
- time travel to a pre-delete snapshot still sees the rows;
- rewrite_deletes materializes copy-on-write, drops the delete files
  from metadata, and changes no query result;
- the CoW paths (upsert / compaction) read deletes-applied, so
  rewriting a file can never resurrect deleted rows;
- GC (expire/clean) treats referenced delete files as live.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from java_iceberg_table_spark.table import create_table

SCHEMA = StructType(
    [
        StructField("k", LongType(), False),
        StructField("v", StringType(), True),
    ]
)


@pytest.fixture()
def troot(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi, v="x"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(v).alias("v")
    )


def _ks(spark, tbl):
    return sorted(r["k"] for r in tbl.scan(spark).collect())


def test_eq_delete_hides_rows_and_respects_sequence(spark, troot):
    tbl = create_table(troot, SCHEMA)
    tbl.append(_df(spark, 0, 10))
    keys = spark.createDataFrame([(3,), (7,)], "k long")
    snap = tbl.delete_eq_mor(spark, keys, ["k"])
    assert snap is not None and snap.summary["added-equality-deletes"] == 2
    assert _ks(spark, tbl) == [0, 1, 2, 4, 5, 6, 8, 9]
    # re-insert k=3 AFTER the delete: new file has a larger sequence,
    # the equality delete must not touch it
    tbl.append(_df(spark, 3, 4, v="reborn"))
    assert _ks(spark, tbl) == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    reborn = tbl.scan(spark).filter(F.col("k") == 3).collect()
    assert [r["v"] for r in reborn] == ["reborn"]


def test_pos_delete_no_rewrite_and_time_travel(spark, troot):
    tbl = create_table(troot, SCHEMA)
    tbl.append(_df(spark, 0, 100))
    before = tbl.metadata.current_snapshot()
    data_files_before = sorted(e["path"] for e in tbl.files_of(before))
    snap = tbl.delete_where_mor(spark, [("k", ">=", 90)])
    assert snap is not None and snap.summary["added-position-deletes"] == 10
    # no data file was rewritten — manifests list the same files
    assert sorted(e["path"] for e in tbl.files_of(snap)) == data_files_before
    assert _ks(spark, tbl) == list(range(90))
    # time travel: the pre-delete snapshot still sees every row
    assert len(tbl.scan(spark, snapshot_id=before.snapshot_id).collect()) == 100


def test_rewrite_deletes_materializes_and_drops(spark, troot):
    tbl = create_table(troot, SCHEMA)
    tbl.append(_df(spark, 0, 50))
    tbl.delete_where_mor(spark, [("k", "<", 5)])
    tbl.delete_eq_mor(spark, spark.createDataFrame([(10,)], "k long"), ["k"])
    expect = [k for k in range(50) if k >= 5 and k != 10]
    assert _ks(spark, tbl) == expect
    stats = tbl.rewrite_deletes(spark)
    assert stats["dropped_delete_files"] == 2
    cur = tbl.metadata.current_snapshot()
    assert cur.delete_manifests == []
    assert _ks(spark, tbl) == expect  # same result, now materialized
    # idempotent: nothing left to rewrite
    assert tbl.rewrite_deletes(spark)["rewritten_files"] == 0


def test_upsert_with_pending_deletes_no_resurrection(spark, troot):
    tbl = create_table(troot, SCHEMA)
    tbl.append(_df(spark, 0, 20))
    tbl.delete_eq_mor(spark, spark.createDataFrame([(1,), (2,)], "k long"), ["k"])
    # upsert rewrites the file holding k=1/2 (same key range); the
    # rewrite must read deletes-applied or 1/2 would resurrect with a
    # fresh sequence number
    updates = spark.createDataFrame([(5, "up")], "k long, v string")
    tbl.upsert(spark, updates, ["k"])
    ks = _ks(spark, tbl)
    assert 1 not in ks and 2 not in ks
    assert [r["v"] for r in tbl.scan(spark).filter(F.col("k") == 5).collect()] == ["up"]


def test_compaction_with_pending_deletes(spark, troot):
    tbl = create_table(troot, SCHEMA)
    for i in range(4):
        tbl.append(_df(spark, i * 10, (i + 1) * 10))
    tbl.delete_eq_mor(spark, spark.createDataFrame([(15,), (35,)], "k long"), ["k"])
    expect = [k for k in range(40) if k not in (15, 35)]
    assert _ks(spark, tbl) == expect
    stats = tbl.compact_data_files(spark, target_file_bytes=1 << 30)
    assert stats["rewritten"] >= 2
    assert _ks(spark, tbl) == expect  # compacted rows stay deleted


def test_mor_on_partitioned_table_distinct_files_same_basename(spark, troot):
    # A partitioned append writes the SAME part-file basename into
    # every partition directory; the delete join key must be the
    # root-relative path or rows multiply / wrong rows vanish
    # (regression: a3g returned 13749 rows from a 6000-row table).
    from java_iceberg_table_spark.table import truncate

    tbl = create_table(troot, SCHEMA, partition=truncate("k", 10))
    tbl.append(_df(spark, 0, 30).coalesce(1))  # 1 task -> 3 partition dirs
    entries = tbl.files_of(tbl.metadata.current_snapshot())
    basenames = {os.path.basename(e["path"]) for e in entries}
    assert len(entries) == 3 and len(basenames) == 1  # the collision case
    assert _ks(spark, tbl) == list(range(30))
    tbl.delete_where_mor(spark, [("k", "=", 15)])
    assert _ks(spark, tbl) == [k for k in range(30) if k != 15]
    tbl.delete_eq_mor(spark, spark.createDataFrame([(25,)], "k long"), ["k"])
    assert _ks(spark, tbl) == [k for k in range(30) if k not in (15, 25)]
    # materialization must also key on full paths
    tbl.rewrite_deletes(spark)
    assert _ks(spark, tbl) == [k for k in range(30) if k not in (15, 25)]


def test_gc_keeps_referenced_delete_files(spark, troot):
    from java_iceberg_table_spark.table import table as table_mod

    tbl = create_table(troot, SCHEMA)
    tbl.append(_df(spark, 0, 10))
    # force the FILE-backed delete form (small deletes now inline as
    # DVs — the file-referencing GC invariant is what this test pins)
    orig = table_mod.DV_INLINE_MAX_POSITIONS
    table_mod.DV_INLINE_MAX_POSITIONS = 0
    try:
        snap = tbl.delete_where_mor(spark, [("k", "=", 4)])
    finally:
        table_mod.DV_INLINE_MAX_POSITIONS = orig
    del_manifest = snap.delete_manifests[-1]
    import java_iceberg_table_spark.table.format as fmt

    del_path = fmt.read_manifest(tbl.root, del_manifest)[0]["path"]
    assert os.path.exists(os.path.join(tbl.root, del_path))
    # clean() with zero grace must not touch the referenced delete file
    tbl.clean(older_than_ms=0, now_ms=int(time.time() * 1000) + 10_000)
    assert os.path.exists(os.path.join(tbl.root, del_path))
    assert _ks(spark, tbl) == [0, 1, 2, 3, 5, 6, 7, 8, 9]
    # after materialization + expiry of the old snapshots, the delete
    # file is unreferenced and must be collected
    tbl.rewrite_deletes(spark)
    tbl.expire_snapshots(older_than_ms=int(time.time() * 1000) + 10_000, retain_last=1)
    assert not os.path.exists(os.path.join(tbl.root, del_path))
    assert _ks(spark, tbl) == [0, 1, 2, 3, 5, 6, 7, 8, 9]


def test_inline_deletion_vector_writes_no_files(spark, troot):
    """A small position delete commits as an INLINE deletion vector:
    the manifest entry carries {file: positions} and NO delete parquet
    exists on disk; reads, time travel, rewrite, and GC all behave
    exactly like the file-backed form."""
    import glob as _glob

    from java_iceberg_table_spark.table.format import load_metadata

    tbl = create_table(troot, SCHEMA)
    tbl.append(_df(spark, 0, 100))
    files_before = set(
        _glob.glob(os.path.join(troot, "data", "**", "*.parquet"), recursive=True)
    )
    snap = tbl.delete_where_mor(spark, [("k", "<", 10)])
    assert snap is not None
    assert snap.summary.get("added-dvs", 0) >= 1
    assert snap.summary["added-delete-files"] == 0
    # zero new files on disk — the delete is pure metadata
    files_after = set(
        _glob.glob(os.path.join(troot, "data", "**", "*.parquet"), recursive=True)
    )
    assert files_after == files_before
    # read path applies the DV
    assert _ks(spark, tbl) == list(range(10, 100))
    # time travel behind the delete still sees the rows
    first = tbl.snapshots()[0].snapshot_id
    assert len(tbl.scan(spark, snapshot_id=first).collect()) == 100
    # materialize: DV dropped from metadata, result unchanged
    stats = tbl.rewrite_deletes(spark)
    assert stats["rewritten_files"] >= 1
    assert not tbl.metadata.current_snapshot().delete_manifests
    assert _ks(spark, tbl) == list(range(10, 100))
    # expiry + clean never trip over the path-less DV entry
    tbl.expire_snapshots(older_than_ms=10**20, retain_last=1)
    tbl.clean(older_than_ms=0)
    assert _ks(spark, tbl) == list(range(10, 100))


def test_retention_drops_the_inline_dvs_of_dropped_files(spark, troot):
    """A retention delete drops each dropped file from every inline DV:
    a DV left with no file goes with it, so counting is metadata-only
    again, and a DV that also targets a kept file keeps that file's
    positions alone."""
    from java_iceberg_table_spark.table import truncate

    df = spark.range(200).select(F.col("id").alias("k"), F.col("id").alias("ts")).coalesce(1)
    tbl = create_table(troot, df.schema, partition=truncate("ts", 100))
    tbl.append(df)
    tbl.delete_where_mor(spark, [("k", "=", 5)])
    tbl.delete_where("ts", "<", 100)
    head = tbl.metadata.current_snapshot()
    assert tbl.delete_files_of(head) == []
    assert tbl.count_rows() == {"rows": 100, "metadata_files": 1, "scanned_files": 0}

    tbl2 = create_table(troot + "2", df.schema, partition=truncate("ts", 100))
    tbl2.append(df)
    tbl2.delete_where_mor(spark, [("k", "in", (5, 150))])
    tbl2.delete_where("ts", "<", 100)
    (dv,) = tbl2.delete_files_of(tbl2.metadata.current_snapshot())
    assert list(dv["dv"]) == [e["path"] for e in tbl2.current_files()]
    assert dv["rows"] == 1
    assert _ks(spark, tbl2) == [k for k in range(100, 200) if k != 150]


def test_large_position_delete_falls_back_to_file(spark, troot):
    """Past DV_INLINE_MAX_POSITIONS the delete keeps the parquet
    delete-file form (same semantics, bounded manifest size)."""
    from java_iceberg_table_spark.table import table as table_mod

    tbl = create_table(troot, SCHEMA)
    tbl.append(_df(spark, 0, 200))
    orig = table_mod.DV_INLINE_MAX_POSITIONS
    table_mod.DV_INLINE_MAX_POSITIONS = 50
    try:
        snap = tbl.delete_where_mor(spark, [("k", "<", 100)])
    finally:
        table_mod.DV_INLINE_MAX_POSITIONS = orig
    assert snap is not None and snap.summary["added-delete-files"] == 1
    assert _ks(spark, tbl) == list(range(100, 200))


def test_inline_equality_delete_writes_no_files(spark, troot):
    """Small equality deletes also inline into the manifest: zero
    files written, sequence semantics intact (a key re-inserted after
    the delete survives), rewrite materializes identically."""
    import glob as _glob

    tbl = create_table(troot, SCHEMA)
    tbl.append(_df(spark, 0, 10))
    before = set(
        _glob.glob(os.path.join(troot, "data", "**", "*.parquet"), recursive=True)
    )
    keys = spark.createDataFrame([(3,), (7,)], "k long")
    snap = tbl.delete_eq_mor(spark, keys, ["k"])
    assert snap is not None and snap.summary["added-delete-files"] == 0
    assert snap.summary.get("added-dvs") == 1
    after = set(
        _glob.glob(os.path.join(troot, "data", "**", "*.parquet"), recursive=True)
    )
    assert after == before
    assert _ks(spark, tbl) == [0, 1, 2, 4, 5, 6, 8, 9]
    # sequence semantics survive inlining
    tbl.append(_df(spark, 3, 4, v="reborn"))
    assert _ks(spark, tbl) == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    stats = tbl.rewrite_deletes(spark)
    assert stats["rewritten_files"] >= 1
    assert not tbl.metadata.current_snapshot().delete_manifests
    assert _ks(spark, tbl) == [0, 1, 2, 3, 4, 5, 6, 8, 9]


def test_mor_deletes_compose_with_avro_format(spark, troot):
    """R5 (write.format.default=avro) composes with MOR row-level
    deletes: the avro scan reproduces the same (__file, __pos) join
    keys the parquet reader gets from _metadata, so position deletes,
    equality deletes (with sequence semantics), time travel, and
    rewrite_deletes all behave identically on an avro-format table."""
    tbl = create_table(
        troot, SCHEMA, properties={"write.format.default": "avro"}
    )
    tbl.append(_df(spark, 0, 100))
    import glob as _glob

    assert _glob.glob(os.path.join(troot, "data", "**", "*.avro"), recursive=True)
    pre = tbl.metadata.current_snapshot().snapshot_id
    # position delete (predicate -> avro scan with positions)
    snap = tbl.delete_where_mor(spark, [("k", "<", 10)])
    assert snap is not None
    assert _ks(spark, tbl) == list(range(10, 100))
    # time travel still sees the deleted rows
    assert len(tbl.scan(spark, snapshot_id=pre).collect()) == 100
    # equality delete + sequence semantics: re-insert survives
    keys = spark.createDataFrame([(50,), (60,)], "k long")
    tbl.delete_eq_mor(spark, keys, ["k"])
    expect = [k for k in range(10, 100) if k not in (50, 60)]
    assert _ks(spark, tbl) == expect
    tbl.append(_df(spark, 50, 51, v="reborn"))
    expect = sorted(expect + [50])
    assert _ks(spark, tbl) == expect
    # materialize: results invariant, delete manifests gone
    stats = tbl.rewrite_deletes(spark)
    assert stats["rewritten_files"] >= 1
    assert not tbl.metadata.current_snapshot().delete_manifests
    assert _ks(spark, tbl) == expect


def test_mor_deletes_on_mixed_format_table(spark, troot):
    """A table whose history spans the format toggle (parquet files,
    then avro files) takes one position delete touching BOTH formats;
    the read side unions the two scan branches under the same
    anti-join."""
    tbl = create_table(troot, SCHEMA)
    tbl.append(_df(spark, 0, 50))  # parquet
    tbl.set_properties({"write.format.default": "avro"})
    tbl.append(_df(spark, 50, 100))  # avro
    snap = tbl.delete_where_mor(spark, [("k", ">=", 40)])
    # predicate spans both formats: 40..49 parquet, 50..99 avro
    assert snap is not None
    assert _ks(spark, tbl) == list(range(0, 40))
    stats = tbl.rewrite_deletes(spark)
    assert stats["rewritten_files"] >= 1
    assert _ks(spark, tbl) == list(range(0, 40))
